package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Plan/timing inspector: `runMain graft.Explain <query> <sfDir>`
  * prints the formatted physical plan, then executes to the noop sink
  * with per-run timing, jobs, stages, generated classes compiled and
  * the formatted plan's length in characters.
  * Dev tool for the "is this the plan I'd want at 100 TB" iteration
  * loop. */
object Explain {
  def main(args: Array[String]): Unit = {
    // comma-separated list → one warm JVM measures them all (per-query
    // JVM startup would otherwise dominate an optimization loop)
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job/stage counters: a query that is fast per-stage but slow
    // end-to-end is usually JOB-COUNT-bound (driver actions + AQE
    // stages serializing) — surface that directly
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    })
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
      (1 to 3).foreach { i =>
        // build INSIDE the timer: queries with driver-side fixpoint loops
        // (connected components, k-means, localCheckpoint supersteps) do
        // real work at construction — Bench pays it, so Explain must too
        jobs.set(0); stages.set(0)
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        // a warm run reuses its generated classes: nonzero means the
        // codegen cache evicted them or the plan changed between runs
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        println(f"[explain] $name run$i: $secs%.2fs " +
          s"(${jobs.get()} jobs, ${stages.get()} stages, $compiled classes compiled, " +
          s"${formattedPlanChars(df)} plan chars)")
        // cold-cache, warm-JVM: drop what the query persisted so run2/3
        // time the real per-pass cost Bench pays, not a cache replay
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }

  /** Length of `df`'s formatted physical plan (`explain("formatted")`):
    * the text the driver renders for every execution and AQE update, so
    * a plan that carries its constants inline shows up here. */
  def formattedPlanChars(df: DataFrame): Int =
    df.queryExecution.explainString(FormattedMode).length
}
