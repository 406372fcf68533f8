package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** What a spec counts of the work a body or a plan does. */
object Probes {
  /** `stages` counts every stage of the job, skipped ones included: a
    * shuffle adds its map stage, so a one-stage job reads no shuffle. */
  final case class Job(description: String, stages: Int)

  /** Jobs started while `body` runs, in order. */
  def jobsOf(sc: SparkContext)(body: => Unit): Seq[Job] = {
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

  /** Hash exchanges on exactly `keys` that the executed plan of `df`
    * ran, cached subplans included; a reused exchange does not count. */
  def hashExchanges(df: DataFrame, keys: Seq[String]): Int = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name } == keys
        case _ => false
      }
      case _ => false
    }
  }
}
