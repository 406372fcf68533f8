package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.graph.Ranks

/** Job-shape guard for the driver-state rank series: a per-round
  * shuffle or materialization must fail here, on a tiny graph, long
  * before it shows as wall time at scale. */
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
}
