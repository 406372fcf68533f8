package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

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
    * ran, cached subplans included; a reused exchange does not count.
    * Each plan node counts once by identity: a cached plan read by
    * several scans is one subtree, not one per scan. */
  def hashExchanges(df: DataFrame, keys: Seq[String]): Int =
    executedNodes(df).count {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => names(h.expressions) == keys
        case _ => false
      }
      case _ => false
    }

  /** Equi-joins on exactly `keys` (by the left side's key names) that
    * the executed plan of `df` ran, counted like [[hashExchanges]]. */
  def joinsOn(df: DataFrame, keys: Seq[String]): Int =
    executedNodes(df).count {
      case j: BaseJoinExec => names(j.leftKeys) == keys
      case _ => false
    }

  private def names(es: Seq[Expression]): Seq[String] =
    es.collect { case a: Attribute => a.name }

  /** Runs `df` and returns its executed plan's nodes, each once. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = if (!seen.add(p)) Nil else p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
