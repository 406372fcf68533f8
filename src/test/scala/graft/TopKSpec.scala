package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TopK}

/** The typed top-k Aggregator must produce exactly the window-based
  * top-k (same scores, ids, and ranks), while shuffling only bounded
  * per-partition heaps. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup == window row_number top-k on real embeddings") {
    val corpus = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = corpus.join(broadcast(queries))
      .withColumn("score", Similarity.cosineAuto(col("embedding"), col("q_vec")))
      .select("q_id", "vec_id", "score")

    // independent window reference (bruteForceTopK itself now uses the
    // aggregator, so the reference must be built here)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val windowed = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .as[(Long, Long, Double, Int)].collect().toSet

    val agged = TopK.topKPerGroup(scored, "q_id", "vec_id", "score", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet

    assert(agged == windowed)
    assert(windowed.nonEmpty)

    // and bruteForceTopK (the aggregator path) agrees too
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(brute == windowed)
  }

  test("ties broken by id ascending, identical to RANK semantics") {
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 3L, 0.5), (1L, 7L, 0.9), (1L, 8L, 0.1))
      .toDF("g", "id", "s")
    val got = TopK.topKPerGroup(scored, "g", "id", "s", k = 3)
      .select("id", "rank").as[(Long, Int)].collect().toSet
    assert(got == Set((7L, 1), (3L, 2), (10L, 3)))
  }

  test("aggregator is split-invariant: any partial grouping == sorted reference") {
    // partial aggregation may reduce/merge in ANY grouping — the result
    // must always equal the plain sort-based top-k
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val entryGen = Gen.listOfN(40, for {
      score <- Gen.oneOf(0.1, 0.25, 0.25, 0.5, 0.9) // forced ties + dups
      id <- Gen.chooseNum(1L, 12L)                   // forced (score,id) dups
    } yield (score, id))
    val splitGen = Gen.chooseNum(1, 39)
    for (seed <- 0 until 12) {
      val entries = entryGen(Gen.Parameters.default, Seed(seed.toLong)).get
      val cut = splitGen(Gen.Parameters.default, Seed(seed + 100L)).get
      val k = 1 + seed % 7
      val agg = new TopK.TopKAgg(k)
      val (l, r) = entries.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val got = agg.finish(merged)
      val want = entries.sortWith((a, b) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)
      assert(got == want, s"seed=$seed cut=$cut k=$k")
    }
  }

  test("duplicated (score, id) entries evict one copy, not all") {
    // regression: filterNot-based eviction removed EVERY copy of a
    // duplicated worst entry, shrinking the heap below k
    val agg = new TopK.TopKAgg(3)
    val buf = Seq((0.5, 5L), (0.5, 5L), (0.4, 6L), (0.9, 7L), (0.95, 8L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf).map(_._2) == Seq(8L, 7L, 5L))
  }
}
