package graft

import graft.operators.Dedup

/** Cross-operator consistency on real data: the MinHash-LSH path must
  * recover every high-similarity pair the exact inverted-index join
  * finds (recall check at a threshold where LSH banding is near-certain:
  * P[candidate] = 1-(1-s^3)^4 ≈ 0.996 at s=0.9). */
class LshRecallSpec extends SparkSpec {
  import spark.implicits._

  test("minhash pairs cover all exact ngram-jaccard pairs at 0.9") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(exact.subsetOf(lsh) || (exact -- lsh).size <= exact.size / 10,
      s"LSH missed ${(exact -- lsh).size} of ${exact.size} exact pairs")
    // and LSH never invents pairs the exact measure rejects
    assert(lsh.subsetOf(exact))
  }

  test("multi-band LSH top-k: bands=1 == single-table, OR-over-bands only adds recall") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // one band over B bits IS the single-table probe: same candidates
    // (full-signature equality), same exact-cosine scores, same ranks
    val single = asSet(graft.operators.Similarity.lshTopK(
      emb, queries, k = 10, bits = 8))
    val multi1 = asSet(graft.operators.Similarity.lshTopKMultiBand(
      emb, queries, k = 10, bands = 1, bits = 8))
    assert(multi1 == single)
    // OR-over-bands: band 0 of the 4×8 signature uses planes 0..7 —
    // the same planes as the single 8-bit table — so every single-table
    // candidate is also a multi-band candidate and per-query recall
    // vs brute force can only improve (k=10 both sides, exact rerank)
    val bf = graft.core.Caches.persistTracked(
      graft.operators.Similarity.bruteForceTopK(emb, queries, k = 10))
    def recallOf(ann: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      graft.operators.Similarity.recallAtK(bf, ann)
        .select("q_id", "recall").as[(Long, Double)].collect().toMap
    val rSingle = recallOf(graft.operators.Similarity.lshTopK(
      emb, queries, k = 10, bits = 8))
    val rMulti = recallOf(graft.operators.Similarity.lshTopKMultiBand(
      emb, queries, k = 10, bands = 4, bits = 8))
    assert(rMulti.keySet == rSingle.keySet && rSingle.nonEmpty)
    rSingle.foreach { case (q, r) =>
      assert(rMulti(q) >= r, s"query $q: multi-band recall ${rMulti(q)} < single $r")
    }
    assert(rMulti.values.sum > rSingle.values.sum,
      "4-band OR should strictly improve aggregate recall on this corpus")
  }

  test("multi-probe LSH: nprobe=1 == single-table, probes only add recall") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // nprobe=1 probes only the query's own bucket — exactly lshTopK
    val single = asSet(graft.operators.Similarity.lshTopK(
      emb, queries, k = 10, bits = 8))
    val probe1 = asSet(graft.operators.Similarity.lshMultiProbeTopK(
      emb, queries, k = 10, bits = 8, dims = 64, nprobe = 1))
    assert(probe1 == single)
    // every probe set at nprobe=N is a superset of the nprobe=1 set,
    // so per-query recall vs brute force is monotone in nprobe
    val bf = graft.core.Caches.persistTracked(
      graft.operators.Similarity.bruteForceTopK(emb, queries, k = 10))
    def recallOf(ann: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      graft.operators.Similarity.recallAtK(bf, ann)
        .select("q_id", "recall").as[(Long, Double)].collect().toMap
    val r1 = recallOf(graft.operators.Similarity.lshMultiProbeTopK(
      emb, queries, k = 10, bits = 8, dims = 64, nprobe = 1))
    val r16 = recallOf(graft.operators.Similarity.lshMultiProbeTopK(
      emb, queries, k = 10, bits = 8, dims = 64, nprobe = 16))
    val r32 = recallOf(graft.operators.Similarity.lshMultiProbeTopK(
      emb, queries, k = 10, bits = 8, dims = 64, nprobe = 32))
    r1.keys.foreach { q =>
      assert(r16(q) >= r1(q) && r32(q) >= r16(q),
        s"query $q: recall must be monotone in nprobe (${r1(q)}, ${r16(q)}, ${r32(q)})")
    }
    assert(r32.values.sum > r1.values.sum,
      "32 probes should strictly improve aggregate recall on this corpus")
    // parameter guards fail loud
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.lshMultiProbeTopK(
        emb, queries, k = 10, bits = 8, dims = 64, nprobe = 100,
        poolSize = 3, maxFlips = 2)
    }
  }
}
