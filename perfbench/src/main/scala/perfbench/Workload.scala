package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: inputs registered once per session, then
  * closed-loop passes. A pass is one complete composition over the
  * generated inputs and returns the digest of every output it
  * produced, keyed by the oracle (or determinism) check it answers. */
trait Workload {
  def name: String

  /** `SparkEntry.oracleSql` keys whose SQL checks this workload's
    * outputs. Digest keys of the form `<oracle key>@<variant>` are the
    * same SQL over a variant of the inputs (see oracle.py). */
  def oracleKeys: Seq[String]

  /** Rows the pass consumes (rows_per_s numerator). */
  def inputRows: Long

  def register(spark: SparkSession, dir: String): Unit

  def pass(spark: SparkSession, tr: Tracer): Outputs

  /** Traced work beyond the passes, run once after them under its own
    * root span: its layer metrics, and a message per failed check. */
  def tracedProbe(spark: SparkSession, tr: Tracer): (Map[String, Double], Seq[String]) =
    (Map.empty, Nil)

  /** Untraced layer metrics only this workload can measure, after the
    * traced passes (ratios, kernel timings). */
  def layerExtras(spark: SparkSession): Map[String, Double] = Map.empty
}

/** Output digests of one pass, in insertion order. */
final class Outputs {
  val digests = mutable.LinkedHashMap[String, String]()
  def add(key: String, df: DataFrame): Unit = digests(key) = Digest.of(df)
  def addRows(key: String, rows: Iterable[Seq[Any]]): Unit = digests(key) = Digest.ofRows(rows)
}
