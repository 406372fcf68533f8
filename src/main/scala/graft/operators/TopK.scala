package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed top-k aggregator (SURVEY §2.9 "top-k `Aggregator`"): keeps a
  * bounded per-partition heap of (score, id) and merges heaps, so the
  * shuffle carries k rows per (group × partition) instead of the whole
  * scored set. A window `row_number() <= k` filter gets a like cut
  * before its exchange on Spark ≥ 3.5 (a partial `WindowGroupLimit`,
  * as `Dedup.exactDedup`'s plan shows), but only by sorting each
  * partition's whole scored set; the heap holds O(k) per group and
  * sorts nothing. Deterministic: ordering is (score desc, id asc),
  * identical to the window form's tie-break, so results are
  * interchangeable with `Similarity.bruteForceTopK`.
  */
object TopK {

  type Entry = (Double, Long) // (score, id)

  /** "a beats b" == a.score > b.score || (equal && a.id < b.id) —
    * the (score desc, id asc) total order every consumer tie-breaks
    * by. */
  private def beatsE(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  /** Mutable bounded binary min-heap buffer: the WORST kept entry sits
    * at index 0 for O(log k) replacement. r21 (guide §1.2 step 2,
    * per-task work): the previous `List[Entry]` buffer paid three O(k)
    * list walks plus boxed-tuple allocations PER ROW and Kryo-encoded
    * a linked list of tuples at every partial-buffer shuffle; the
    * primitive arrays make the per-row cost O(log k) with zero
    * allocation and serialize as two flat arrays. Selection under a
    * total order is unique as a multiset, so results are identical to
    * the list form (TopKSpec pins window-equivalence). */
  final class TopKBuf(val scores: Array[Double], val ids: Array[Long],
      var n: Int) extends Serializable

  class TopKAgg(k: Int) extends Aggregator[Entry, TopKBuf, Seq[Entry]] {
    override def zero: TopKBuf =
      new TopKBuf(new Array[Double](k), new Array[Long](k), 0)

    // heap property: parent is beaten-or-tied by children (worst at
    // root). "i worse than j" == beatsE(j, i).
    private def siftUp(b: TopKBuf, i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) >> 1
        // parent must be worse-or-equal than child: swap while the
        // CHILD is worse than the parent (parent beats child)
        if (beatsE(b.scores(p), b.ids(p), b.scores(i), b.ids(i))) {
          val s = b.scores(p); b.scores(p) = b.scores(i); b.scores(i) = s
          val id = b.ids(p); b.ids(p) = b.ids(i); b.ids(i) = id
          i = p
        } else return
      }
    }

    private def siftDown(b: TopKBuf): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i // index of the worst among i and its children
        if (l < b.n && beatsE(b.scores(w), b.ids(w), b.scores(l), b.ids(l)))
          w = l
        if (r < b.n && beatsE(b.scores(w), b.ids(w), b.scores(r), b.ids(r)))
          w = r
        if (w == i) return
        val s = b.scores(i); b.scores(i) = b.scores(w); b.scores(w) = s
        val id = b.ids(i); b.ids(i) = b.ids(w); b.ids(w) = id
        i = w
      }
    }

    private def add(b: TopKBuf, score: Double, id: Long): TopKBuf = {
      if (b.n < k) {
        b.scores(b.n) = score; b.ids(b.n) = id; b.n += 1
        siftUp(b, b.n - 1)
      } else if (beatsE(score, id, b.scores(0), b.ids(0))) {
        b.scores(0) = score; b.ids(0) = id
        siftDown(b)
      }
      b
    }

    override def reduce(buf: TopKBuf, e: Entry): TopKBuf =
      add(buf, e._1, e._2)

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var i = 0
      while (i < b.n) { add(a, b.scores(i), b.ids(i)); i += 1 }
      a
    }

    override def finish(buf: TopKBuf): Seq[Entry] =
      (0 until buf.n).map(i => (buf.scores(i), buf.ids(i)))
        .sortWith((x, y) => beatsE(x._1, x._2, y._1, y._2))

    override def bufferEncoder: Encoder[TopKBuf] =
      Encoders.kryo[TopKBuf]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Top-k rows per group from a scored DataFrame(groupCol, idCol,
    * scoreCol) — aggregator path: one partial-aggregating shuffle of
    * ≤k entries per group per partition. Output matches
    * `row_number over (partition by group order by score desc, id)`
    * ≤ k exactly. */
  def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col(groupCol).cast("long").as("_g"),
        col(scoreCol).cast("double").as("_s"), col(idCol).cast("long").as("_i"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new TopKAgg(k).toColumn)
      .toDF("_g", "topk")
      .select(col("_g").as(groupCol),
        posexplode(col("topk")).as(Seq("_pos", "_e")))
      .select(col(groupCol), col("_e._2").as(idCol),
        col("_e._1").as(scoreCol), (col("_pos") + 1).cast("int").as("rank"))
  }

  /** [[topKPerGroup]] for STRING group keys (strata like lang/source);
    * same bounded-heap partial aggregation, same tie semantics. */
  def topKPerGroupStr(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col(groupCol).cast("string").as("_g"),
        col(scoreCol).cast("double").as("_s"), col(idCol).cast("long").as("_i"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new TopKAgg(k).toColumn)
      .toDF("_g", "topk")
      .select(col("_g").as(groupCol),
        posexplode(col("topk")).as(Seq("_pos", "_e")))
      .select(col(groupCol), col("_e._2").as(idCol),
        col("_e._1").as(scoreCol), (col("_pos") + 1).cast("int").as("rank"))
  }
}
