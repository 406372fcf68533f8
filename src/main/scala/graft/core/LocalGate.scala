package graft.core

import org.apache.spark.sql.Dataset

/** The size gate of the iterative operators that finish a small input
  * on the driver (`Ranks`' delta series, `Traversal.kCore` /
  * `shortestPath`, `Dedup.connectedComponents`). Below the gate the
  * input's producing pipeline is still fully distributed; only the
  * iteration moves, so a small rolled-up graph pays one job instead of
  * one or more scheduler round-trips per superstep. */
object LocalGate {

  /** Input rows at or below which an iterative operator runs
    * driver-local. One value for every gated operator. */
  val Threshold: Long = 100000L

  /** At most `bound` rows of `ds` on the driver, or None when it holds
    * more: one `limit(bound + 1).collect()` job, which stops early at
    * scale instead of counting the whole input first. */
  def collectAtMost[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val rows = ds.limit(math.min(math.max(bound, 0L), Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (rows.length <= bound) Some(rows) else None
  }
}
