package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a result table: every row becomes one
  * canonical string, and the digest is the row count plus the sum of
  * the rows' truncated SHA-256 values mod 2^64 — a multiset hash, so
  * row order and partitioning never matter. `oracle.py` implements the
  * same canonical form for DuckDB rows; the two must stay identical:
  *  - null -> \N, booleans -> true/false, integers -> decimal digits;
  *  - floating values and decimals -> exactly 6 decimals, half-even on
  *    the exact binary value, with negative zero printed as zero;
  *  - arrays -> [a,b,...]; structs -> {a,b,...};
  *  - fields joined by U+001F. */
object Digest {

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => num(b.doubleValue)
    case b: BigDecimal => num(b.toDouble)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case x => x.toString
  }

  private def num(d: Double): String = {
    val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).toPlainString
    if (s == "-0.000000") "0.000000" else s
  }

  def rowHash(fields: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val h = md.digest(fields.map(canon).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def ofRows(rows: Iterable[Seq[Any]]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(r); n += 1 }
    f"$n:${java.lang.Long.toUnsignedString(sum, 16)}%16s".replace(' ', '0')
  }

  def of(df: DataFrame): String = ofRows(df.collect().map(_.toSeq))
}
