package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Caches

/** Benchmark harness process: one workload, one closed-loop client.
  *
  *   perfbench.Main --workload <name> --data <dir> --seconds <s>
  *     --trace <0|1> --out <result.json> --local-dir <dir>
  *     [--cores N] [--corrupt-pass N]
  *   perfbench.Main --dump-sql <oracle_sql.json>
  *
  * Set-up is session start, input registration and one untimed
  * warm-up pass. The warm-up pass also measures the
  * live heap: a full collection after each library call (see
  * [[Tracer.liveProbe]]); the collections' time is left out of set-up.
  * With `--trace 0` passes then run back to back for
  * `--seconds`, untraced. With `--trace 1` one untraced pass is timed,
  * then one pass runs under the [[Tracer]], then the workload's traced
  * probe, if it has one. Every pass's
  * output digests go to the result file; run.py checks them against
  * the DuckDB oracle and the warm-up pass. `--corrupt-pass N` alters
  * one digest of timed pass N, to prove that the check counts a wrong
  * output as a failure. */
object Main {

  val workloads: Map[String, Workload] =
    Seq(TradeGraph, CurateBatch).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("dump-sql")) {
      // the declared oracle SQL of every workload, keyed workload -> query
      Files.write(Paths.get(args("dump-sql")), Json.obj(workloads.toSeq.sortBy(_._1).map {
        case (n, w) => n -> Json.obj(w.oracleKeys.map(k => k -> Json.str(SparkEntry.oracleSql(k))))
      }).getBytes(StandardCharsets.UTF_8))
    } else run(args)
  }

  def run(args: Map[String, String]): Unit = {
    val wl = workloads(args("workload"))
    val data = args("data")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args.getOrElse("cores", "4").toInt
    val corruptPass = args.getOrElse("corrupt-pass", "-1").toInt

    val calib0 = calibrate()
    val t0 = System.nanoTime()
    val spark = session(cores, args("local-dir"))
    wl.register(spark, data)
    val mem = new Tracer(spark)
    mem.liveProbe = true
    val reference = wl.pass(spark, mem)
    val setupS = (System.nanoTime() - t0 - mem.liveProbeNs) / 1e9
    val liveHeapMb = mem.liveHeapPeakBytes / Tracer.MB
    val nonHeapMb = Tracer.nonHeapPeakBytes() / Tracer.MB

    val tr = new Tracer(spark)
    val passes = mutable.ArrayBuffer[String]()
    def timedPass(i: Int, traced: Boolean): Double = {
      val t0 = System.nanoTime()
      val (digests, err) =
        try {
          val o = if (traced) tr.call("pass")(wl.pass(spark, tr)) else wl.pass(spark, tr)
          (o.digests, "")
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] pass $i failed: $e")
            e.printStackTrace()
            (mutable.LinkedHashMap[String, String](), e.toString)
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (i == corruptPass && digests.nonEmpty) {
        val k = digests.head._1
        digests(k) = "corrupted:" + digests(k)
      }
      passes += Json.obj(Seq("s" -> Json.num(dt), "error" -> Json.str(err),
        "digests" -> Json.obj(digests.toSeq.map { case (k, v) => k -> Json.str(v) })))
      dt
    }

    val layer = mutable.LinkedHashMap[String, Double]()
    if (!trace) {
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { timedPass(i, false); i += 1 }
    } else {
      val untraced = timedPass(0, false)
      tr.attach()
      val w0 = System.nanoTime()
      val traced = timedPass(1, true)
      val w1 = System.nanoTime()
      tr.drain()
      layer ++= passMetrics(tr, cores, w0, w1, Caches.trackedCount(spark))
      val p0 = System.nanoTime()
      val (probeLayer, probeErrors) =
        try wl.tracedProbe(spark, tr)
        catch { case e: Exception => e.printStackTrace(); (Map.empty[String, Double], Seq(e.toString)) }
      val p1 = System.nanoTime()
      tr.detach()
      probeErrors.foreach { e =>
        passes += Json.obj(Seq("kind" -> Json.str("probe"), "error" -> Json.str(e)))
      }
      layer ++= spanMetrics(tr) ++ probeLayer
      layer("trace.overhead_frac") = traced / untraced - 1.0
      layer("trace.unattributed_jobs") = tr.unattributedJobs.toDouble
      layer("trace.total_jobs") = tr.totalJobs.toDouble
      layer("trace.root_s") = tr.rootSeconds(None)
      // the traced stretches timed around the tracer, not by it
      layer("trace.wall_s") = (w1 - w0 + p1 - p0) / 1e9
      layer ++= wl.layerExtras(spark)
    }
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / Tracer.MB
    val calib1 = calibrate()
    layer("host.calib_s") = (calib0 + calib1) / 2
    spark.stop()

    val result = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "input_rows" -> Json.num(wl.inputRows.toDouble),
      "setup_s" -> Json.num(setupS),
      "passes" -> Json.arr(passes.toSeq),
      "reference" -> Json.obj(reference.digests.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "peak_mem_mb" -> Json.num(liveHeapMb + nonHeapMb),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "non_heap_mb" -> Json.num(nonHeapMb),
      "storage_memory_mb" -> Json.num(storageMb),
      "calib_s" -> Json.arr(Seq(Json.num(calib0), Json.num(calib1))),
      "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(args("out")), result.getBytes(StandardCharsets.UTF_8))
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Engine and cache metrics of the traced pass. */
  private def passMetrics(tr: Tracer, cores: Int, w0: Long, w1: Long,
      trackedAfter: Int): Seq[(String, Double)] = {
    val c = tr.totalsUnder("pass")
    val wall = tr.rootSeconds(Some("pass"))
    Seq(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "spark.no_job_s" -> tr.noJobSeconds(w0, w1),
      "spark.planning_s" -> tr.planningMs / 1e3,
      "spark.plan_nodes_max" -> tr.planNodesMax.toDouble,
      "spark.plan_chars_max" -> tr.planCharsMax.toDouble,
      "spark.exec_run_s" -> c.execRunMs / 1e3,
      "spark.exec_cpu_s" -> c.execCpuNs / 1e9,
      "spark.exec_busy_frac" -> (if (wall > 0) c.execRunMs / 1e3 / (wall * cores) else 0.0),
      "spark.shuffle_write_mb" -> c.shuffleWrite / Tracer.MB,
      "spark.spill_mb" -> c.spill / Tracer.MB,
      "spark.gc_s" -> c.gcMs / 1e3,
      "core.cache_peak_mb" -> tr.cachePeakBytes / Tracer.MB,
      "core.tracked_after_release" -> trackedAfter.toDouble,
      "trace.pass_s" -> wall)
  }

  /** Per-span metrics, and streaming progress per micro-batch, of
    * everything traced. */
  private def spanMetrics(tr: Tracer): Seq[(String, Double)] = {
    val n = math.max(1L, tr.streamProgress).toDouble
    val streaming = Seq(
      "streaming.trigger_s" -> tr.streamMs("triggerExecution") / 1e3 / n,
      "streaming.add_batch_s" -> tr.streamMs("addBatch") / 1e3 / n,
      "streaming.query_planning_s" -> tr.streamMs("queryPlanning") / 1e3 / n,
      "streaming.wal_commit_s" -> tr.streamMs("walCommit") / 1e3 / n)
    val spans = tr.byName.toSeq.sortBy(_._1).flatMap { case (name, s) =>
      Seq(s"$name.self_s" -> s.selfS, s"$name.jobs" -> s.jobs.toDouble,
        s"$name.exec_cpu_s" -> s.execCpuS, s"$name.shuffle_write_mb" -> s.shuffleWriteMb)
    }
    streaming ++ spans
  }

  /** A fixed pure-JVM loop: host speed context for the record. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
