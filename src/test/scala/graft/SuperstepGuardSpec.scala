package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import org.apache.spark.LiveConf
import org.apache.spark.sql.functions.{array, col, sin}

import graft.graph.Ranks
import graft.operators.{Clustering, ScaleOps, Similarity}

/** Job-shape guard for the operators that finish a small input on the
  * driver (the rank series' supersteps, k-means / IVF-PQ training,
  * sequence packing): a per-round shuffle, materialization or job must
  * fail here, on a tiny input, long before it shows as wall time at
  * scale. */
class SuperstepGuardSpec extends SparkSpec {
  import spark.implicits._

  /** `stages` counts every stage of the job, skipped ones included: a
    * shuffle adds its map stage, so a one-stage job reads no shuffle. */
  private final case class Job(description: String, stages: Int)

  /** Jobs started while `body` runs, in order. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull, e.stageInfos.size)
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.synchronized(jobs.toList)
  }

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
}
