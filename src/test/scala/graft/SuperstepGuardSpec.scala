package graft

import org.apache.spark.LiveConf
import org.apache.spark.sql.functions.{array, col, sin}

import graft.Probes.Job
import graft.graph.Ranks
import graft.operators.{Clustering, ScaleOps, Similarity}
import graft.streaming.EventsStreaming

/** Job-shape guard for the operators that finish a small input on the
  * driver (the rank series' supersteps, k-means / IVF-PQ training,
  * sequence packing) and for one micro-batch of the store-maintenance
  * streams: a per-round shuffle, materialization or job must fail
  * here, on a tiny input, long before it shows as wall time at scale. */
class SuperstepGuardSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Unit): Seq[Job] = Probes.jobsOf(spark.sparkContext)(body)

  private val Sf0001 = s"${SparkSpec.TestData}/sf0.001"

  test("rankStateTable driver-state path: iters + c jobs, each superstep one shuffle-free stage") {
    val edges = (0 until 40).flatMap(i => Seq((s"v$i", s"v${(i + 1) % 40}"),
      (s"v$i", s"v${(i * 7) % 40}"))).toDF("src", "dst").repartition(3).cache()
    edges.count()
    val iters = 12
    val jobs = jobsOf {
      Ranks.rankStateTable(edges, "src", "dst", iters = iters, localThreshold = 0)
        .collect()
    }
    val steps = jobs.filter(_.description == Ranks.SuperstepJob)
    // one job per propagation round (iters - 1 of them): fewer means the
    // guard no longer sees the loop
    assert(steps.size == iters - 1, s"superstep jobs: $jobs")
    steps.foreach { j =>
      assert(j.stages == 1,
        s"a superstep job must be one stage with no shuffle: $j")
    }
    // outside the loop: the gate count (a shuffle map job + a result
    // job under AQE), the vertex names and the edge-block build
    assert(jobs.size <= iters + 3, s"${jobs.size} jobs for $iters iterations: $jobs")
  }

  /** 1,000 distinct 64-d vectors in one scan partition, the shape of
    * the sf0.001 embeddings table (one parquet split). */
  private def embeddings = spark.range(0, 1000, 1, 1).select(col("id").as("vec_id"),
    array((1 to 64).map(j => sin(col("id") * (0.37 * j)).cast("float")): _*).as("embedding"))

  test("ivfPqIndex below the gate trains in at most 2 jobs") {
    val jobs = jobsOf {
      Similarity.ivfPqIndex(embeddings, "vec_id", "embedding", dims = 64, cells = 8,
        cellIters = 2, m = 4, codes = 16, pqIters = 2)
    }
    assert(jobs.size <= 2, s"${jobs.size} jobs: $jobs")
    assert(jobs.forall(_.description == Clustering.LocalTrainJob), s"$jobs")
  }

  test("kmeansFixedPoint below the gate reads its input in 2 jobs, final assignment included") {
    val jobs = jobsOf {
      Clustering.kmeansFixedPoint(embeddings, "vec_id", "embedding", k = 8, iters = 3).collect()
    }
    // the vector-length probe and the bounded collect; the assignment
    // runs on the rows that collect brought
    assert(jobs.size <= 2, s"${jobs.size} jobs: $jobs")
    assert(jobs.forall(_.description == Clustering.LocalTrainJob), s"$jobs")
  }

  test("packSequences below the gate over a cached input issues at most 1 job") {
    val docs = spark.range(0, 3000, 1, 1)
      .select(col("id").as("doc_id"), (col("id") % 700 + 1).as("nt"))
      .cache()
    try {
      docs.count()
      val jobs = jobsOf(ScaleOps.packSequences(docs, "doc_id", col("nt"), ctxLen = 512L))
      assert(jobs.size <= 1, s"${jobs.size} jobs: $jobs")
      assert(jobs.forall(_.description == ScaleOps.LocalPackJob), s"$jobs")
    } finally docs.unpersist()
  }

  test("a small spark.driver.maxResultSize takes the distributed k-means loop, same centroids") {
    def train() = Clustering.kmeansCentroidsFixed(embeddings, "vec_id", "embedding", k = 8,
      iters = 3).map { case (c, v) => (c, v.toSeq) }.toSeq
    def trainJobs(): (Seq[(Int, Seq[Long])], Seq[Job]) = {
      var got: Seq[(Int, Seq[Long])] = Nil
      val jobs = jobsOf { got = train() }
      (got, jobs)
    }
    val (driver, driverJobs) = trainJobs()
    assert(driverJobs.forall(_.stages == 1), s"driver training must not shuffle: $driverJobs")
    // 64 KB: ~1,000 rows of 64 fixed-point dims need ~520 KB
    val (small, jobs) = LiveConf.withSetting(spark.sparkContext,
      "spark.driver.maxResultSize", "64k")(trainJobs())
    assert(small == driver)
    // the distributed loop: one shuffling job per update round
    assert(jobs.count(_.stages > 1) >= 2, s"$jobs")
  }

  test("building nationTradeEdges again in a session starts no job before its action") {
    SparkEntry.nationTradeEdges(spark, Sf0001)
    val jobs = jobsOf(SparkEntry.nationTradeEdges(spark, Sf0001))
    assert(jobs.isEmpty, s"a second build resolves every input's schema again: $jobs")
  }

  test("q_kcore at sf0.001 runs at most 7 jobs once its inputs are resolved") {
    def run(): Unit = SparkEntry.queries("q_kcore")(spark, Sf0001).collect()
    run()
    // measured 7 once the session has resolved its five input tables'
    // schemas; a schema-inference job per load would add 5
    val jobs = jobsOf(run())
    assert(jobs.size <= 7, s"${jobs.size} jobs: $jobs")
  }

  /** Jobs of ONE micro-batch: `rows` land as one source file, a store
    * holds `boot` under its bootstrap partition, and `run` starts the
    * maintenance stream over the source and store directories. */
  private def oneBatchJobs(rows: org.apache.spark.sql.DataFrame,
      boot: org.apache.spark.sql.DataFrame)(
      run: (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Seq[Job] = {
    val base = java.nio.file.Files.createTempDirectory("graft-batch-guard").toString
    rows.coalesce(1).write.parquet(s"$base/src")
    boot.coalesce(1).write.parquet(s"$base/store/batch=-1")
    val src = spark.readStream.schema(rows.schema).parquet(s"$base/src")
    jobsOf {
      run(src, s"$base/store").option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
  }

  // Exact dedup's bound is the count measured before the store protocol
  // moved behind graft.streaming.Store (13 in every run). The soft-dedup
  // and canonical bounds are the largest counts since their maintenance
  // became one cluster delta per batch: soft dedup 34 in three runs of
  // this spec alone and 35 in a run of the whole suite (41 or 42
  // before), canonical 32 in each (52 before). A new probe, checkpoint
  // or write per batch raises them.

  test("one micro-batch of streaming exact dedup issues at most 13 jobs") {
    val jobs = oneBatchJobs(
      Seq((1L, "aaa bbb"), (2L, "ccc ddd"), (3L, "aaa bbb"), (4L, "eee fff"))
        .toDF("doc_id", "text"),
      Seq("x").toDF("fp")) { (src, store) =>
      EventsStreaming.streamingIncrementalExactDedup(src, store, "text", "doc_id") {
        (sv, _) => assert(sv.count() == 3L)
      }
    }
    assert(jobs.size <= 13, s"${jobs.size} jobs: $jobs")
  }

  test("one micro-batch of streaming soft-dedup maintenance issues at most 35 jobs") {
    val jobs = oneBatchJobs(Seq((2L, 10L), (30L, 30L)).toDF("id1", "id2"),
      Seq((1L, 1L, 2L, 5000L, true), (2L, 1L, 2L, 5000L, false))
        .toDF("id", "cluster_id", "cluster_size", "weight_bp", "keep")) { (src, store) =>
      EventsStreaming.streamingSoftDedupMaintenance(src, store) {
        (upd, _) => assert(upd.count() == 4L)
      }
    }
    assert(jobs.size <= 35, s"${jobs.size} jobs: $jobs")
  }

  test("one micro-batch of streaming canonical maintenance issues at most 32 jobs") {
    // the pick store's bootstrap sits beside the label store the helper
    // writes; the batch merges {1,2} with {10,11} and brings in 30
    val picks = java.nio.file.Files.createTempDirectory("graft-pick-guard").toString
    Seq((1L, 2L, 9L), (10L, 10L, 8L)).toDF("cluster_id", "canonical_id", "score")
      .coalesce(1).write.parquet(s"$picks/batch=-1")
    val scores = Seq((1L, 5L), (2L, 9L), (10L, 8L), (11L, 3L), (30L, 100L))
      .toDF("doc_id", "q")
    val jobs = oneBatchJobs(Seq((2L, 10L), (11L, 30L)).toDF("id1", "id2"),
      Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("id", "cluster_id")) {
      (src, store) =>
        EventsStreaming.streamingCanonicalMaintenance(src, store, picks, scores,
          "doc_id", "q") { (upd, _) => assert(upd.count() == 1L) }
    }
    // one contraction per batch feeds both snapshots (contracting once
    // per snapshot took 52 jobs)
    assert(jobs.size <= 32, s"${jobs.size} jobs: $jobs")
  }
}
