package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset

/** The size gate of the iterative operators that finish a small input
  * on the driver: `Ranks`' delta series, `Traversal.kCore` /
  * `shortestPath`, `Dedup.connectedComponents`, the k-means trainer
  * behind `Clustering` and `Similarity.ivfPqIndex` / `pqCodebooks`, and
  * `ScaleOps.packSequences`' prefix sum. Below the gate the input's
  * producing pipeline is still fully distributed; only the iteration
  * moves, so a small input pays one job instead of one or more
  * scheduler round-trips per superstep, Lloyd round or phase. */
object LocalGate {

  /** Input rows at or below which an iterative operator runs
    * driver-local. One value for every gated operator. */
  val Threshold: Long = 100000L

  /** Bytes one job may bring to the driver: half of
    * `spark.driver.maxResultSize` (0 there means no limit), so a gated
    * collect falls back to the distributed form long before the job
    * would abort on that limit. */
  def resultBudget(sc: SparkContext): Long = {
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult <= 0) Long.MaxValue else maxResult / 2
  }

  /** Most rows of `rowBytes` bytes each that one job may bring to the
    * driver: `gate`, and few enough to stay within [[resultBudget]]. */
  def rowsWithin(sc: SparkContext, rowBytes: Long, gate: Long): Long =
    math.min(gate, resultBudget(sc) / rowBytes)

  /** At most `bound` rows of `ds` on the driver, or None when it holds
    * more: one `limit(bound + 1).collect()` job, which stops early at
    * scale instead of counting the whole input first. */
  def collectAtMost[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val rows = ds.limit(math.min(math.max(bound, 0L), Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (rows.length <= bound) Some(rows) else None
  }

  /** Runs `body` with `desc` as the description of the jobs it starts,
    * so a job log names the operator step that issued each job. */
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }
}
