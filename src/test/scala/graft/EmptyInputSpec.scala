package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ScaleOps, Warehouse}

/** Degenerate-input sweep for the warehouse/sampling operators: every
  * op must return an EMPTY (or correctly-degenerate) result on an
  * empty input — never throw. At 100 TB an empty partition, an empty
  * date slice, or a filter that matches nothing is routine; an
  * operator that NPEs or divides by zero on it takes down the whole
  * job. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyEvents: DataFrame =
    Seq.empty[(Long, Long, Timestamp, String, Double)]
      .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("warehouse operators return empty on empty input") {
    val ev = emptyEvents
    assert(Warehouse.scd2(ev, "user_id", "event_type", "ts", "event_id")
      .count() == 0)
    assert(Warehouse.intervalCoverage(ev, "user_id",
      unix_timestamp(col("ts")), unix_timestamp(col("ts")) + 60).count() == 0)
    assert(Warehouse.cohortRetention(ev, "user_id", "ts").count() == 0)
    assert(Warehouse.movingAgg(ev, "user_id", "ts", "event_id",
      col("value")).count() == 0)
    assert(Warehouse.timeWeightedAvg(ev, "event_type", "ts", "event_id",
      col("value")).count() == 0)
    assert(Warehouse.eventHistory(ev, "user_id", "ts", "event_id",
      col("event_type")).count() == 0)
    assert(Warehouse.skyline2D(ev, col("value"),
      unix_timestamp(col("ts"))).count() == 0)
    assert(Warehouse.funnelStage(ev, "user_id", "event_type", "ts",
      Seq("view", "click")).count() == 0)
  }

  test("funnelCounts on empty input reports zero users per stage") {
    val got = Warehouse.funnelCounts(emptyEvents, "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().toSet
    assert(got == Set((1, "view", 0L), (2, "click", 0L), (3, "purchase", 0L)))
  }

  test("cdcApply: empty changelog is identity, empty base keeps inserts") {
    val base = Seq((1L, 10.0, "s")).toDF("k", "price", "st")
    val noChanges = Seq.empty[(Long, Long, String, Option[Double], Option[String])]
      .toDF("k", "seq", "op", "price", "st")
    val identity = Warehouse.cdcApply(base, noChanges, "k", "seq", "op",
      Seq("price", "st")).as[(Long, Double, String, String)].collect().toSet
    assert(identity == Set((1L, 10.0, "s", "base")))
    val noBase = Seq.empty[(Long, Double, String)].toDF("k", "price", "st")
    val ins = Seq((5L, 1L, "I", Some(9.0), Some("n")))
      .toDF("k", "seq", "op", "price", "st")
    val inserted = Warehouse.cdcApply(noBase, ins, "k", "seq", "op",
      Seq("price", "st")).as[(Long, Double, String, String)].collect().toSet
    assert(inserted == Set((5L, 9.0, "n", "I")))
  }

  test("sampling operators handle empty input") {
    val docs = Seq.empty[(Long, String, Long)].toDF("doc_id", "source", "n_chars")
    assert(ScaleOps.weightedSystematicSample(docs, "doc_id", col("n_chars"), 10)
      .count() == 0)
    assert(ScaleOps.domainMix(docs, "doc_id", "source", col("n_chars"), 100L)
      .count() == 0)
  }

  test("round-5 operators handle empty / degenerate input") {
    assert(Warehouse.groupedOls(emptyEvents, "event_type",
      unix_timestamp(col("ts")), col("value"), 0L).count() == 0)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Corpus.bpeMerges(noDocs, "doc_id", "text", 2)
      .count() == 0)
    val noMedia = Seq.empty[(Long, Array[Byte], String)]
      .toDF("media_id", "payload", "format")
    assert(graft.operators.Multimodal.decodeFeatures(noMedia).count() == 0)
    assert(graft.operators.Multimodal.decodeAudioFeatures(noMedia).count() == 0)
    // null payload takes the stub path with sentinel features, no NPE
    val nullPayload = Seq((1L, null.asInstanceOf[Array[Byte]], "x"))
      .toDF("media_id", "payload", "format")
    val f = graft.operators.Multimodal.decodeFeatures(nullPayload).collect()(0)
    assert(!f.decoded && f.pixel_sum == 0L)
  }

  test("substring dedup (fixed and var) returns empty on an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.exactSubstringDedup(empty, "doc_id", "text",
      L = 5).count() == 0)
    assert(graft.operators.Dedup.exactSubstringDedupVar(empty, "doc_id", "text",
      L = 5).count() == 0)
    // a corpus with no duplicated window: var pass reports zero spans
    val clean = Seq((1L, "entirely unique words right here")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstringDedupVar(clean, "doc_id", "text",
      L = 3).as[(Long, Int, Long, Long, Long, String, String)].collect()(0)
    assert(got._4 == 0L && got._5 == 0L && got._3 == got._2.toLong)
  }

  test("ngramPerplexity scores an empty doc set to empty, short docs keep") {
    val seed = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Corpus.ngramPerplexity(empty, seed, "doc_id", "text")
      .count() == 0)
    // empty-TEXT doc (zero tokens): no bigrams, keeps by definition
    val blank = Seq((1L, "")).toDF("doc_id", "text")
    val got = graft.operators.Corpus.ngramPerplexity(blank, seed, "doc_id", "text")
      .as[(Long, Long, Double, Boolean)].collect()(0)
    assert(got == ((1L, 0L, 0.0, true)))
  }

  test("incrementalExactDedup returns empty on an empty batch") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val prior = Seq((1L, "seen")).toDF("doc_id", "text")
      .select(graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fp"))
    assert(graft.operators.Dedup.incrementalExactDedup(empty, prior,
      "text", "doc_id").count() == 0)
  }

  test("dsirResample returns empty on an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val w = Seq((0L, 100L), (1L, -100L)).toDF("bucket", "w")
    assert(graft.operators.ScaleOps.dsirResample(empty, "doc_id", "text",
      w, k = 5, buckets = 2).count() == 0)
  }

  test("imageFeatureVectors returns empty on an empty media table") {
    val empty = Seq.empty[(Long, Array[Byte], String, Int, Int)]
      .toDF("media_id", "payload", "kind", "width", "height")
    assert(graft.operators.Multimodal.imageFeatureVectors(empty).count() == 0)
  }

  test("linearQualityScore returns empty on an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Corpus.linearQualityScore(empty, "doc_id", "text",
      Seq(("good", 1000000L)), threshold = 0.0).count() == 0)
  }

  test("topKPerGroup returns empty on an empty scored set") {
    val empty = Seq.empty[(Long, Long, Double)].toDF("g", "id", "s")
    assert(graft.operators.TopK.topKPerGroup(empty, "g", "id", "s", 3)
      .count() == 0)
  }

  test("incrementalNearDup handles empty batch, empty store, and all-empty texts") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val store = graft.operators.Dedup.nearDupStoreRecords(
      Seq((100L, "stored alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(graft.operators.Dedup.incrementalNearDup(empty, store,
      "text", "doc_id", 0.7).count() == 0)
    // empty store: only the within-batch pairwise rule applies
    val emptyStore = graft.operators.Dedup.nearDupStoreRecords(
      empty, "doc_id", "text")
    val batch = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalNearDup(batch, emptyStore,
      "text", "doc_id", 0.7).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
    // a batch of only zero-shingle docs: nothing bands, everything survives
    val blanks = Seq((1L, ""), (2L, " "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup.incrementalNearDup(blanks, store,
      "text", "doc_id", 0.7).count() == 3)
  }

  test("boilerplateRemoval, tokenBudgetFilter, sessionWindowAgg on empty input") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.boilerplateRemoval(
      emptyDocs, "doc_id", "text", minDocFreq = 3L).count() == 0)
    assert(graft.operators.ScaleOps.tokenBudgetFilter(emptyDocs, "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")),
      lit(1L), budget = 100L).count() == 0)
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    assert(graft.streaming.EventsStreaming.sessionWindowAgg(emptyEv, 30)
      .count() == 0)
    assert(graft.operators.ScaleOps.calibratedQualityFilter(
      emptyDocs.withColumn("source", lit("x")), "doc_id", "source",
      length(col("text")), 3000).count() == 0)
    assert(graft.operators.ScaleOps.contentDigest(
      emptyDocs.withColumn("source", lit("x")), "source",
      Seq("doc_id", "text")).count() == 0)
  }

  test("kCore, hits, and intervalOverlapJoin return empty on empty input") {
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.graph.Traversal.kCore(noEdges, "src", "dst", 2).count() == 0)
    val h = graft.graph.Traversal.hits(noEdges, "src", "dst", iters = 2)
    assert(h.columns.toSeq == Seq("name", "authority", "hub") && h.count() == 0)
    val noIv = Seq.empty[(Long, Long, Long)].toDF("aid", "sa", "ea")
    val noIv2 = Seq.empty[(Long, Long, Long)].toDF("bid", "sb", "eb")
    assert(graft.operators.ScaleOps.intervalOverlapJoin(
      noIv, "sa", "ea", noIv2, "sb", "eb", 10L).count() == 0)
  }

  test("incrementalSemanticDedup handles empty batch and empty store") {
    val cents = Array(
      (0, Array(1000000L, 0L)), (1, Array(0L, 1000000L)))
    val emptyBatch = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val store = graft.operators.Similarity.semanticStoreRecords(
      Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
    assert(graft.operators.Similarity.incrementalSemanticDedup(
      emptyBatch, store, cents, 0.9).count() == 0)
    // empty store (valid schema, zero rows): only the within-batch
    // pairwise lowest-id rule applies
    val emptyStore = graft.operators.Similarity.semanticStoreRecords(
      emptyBatch, "vec_id", "embedding", cents)
    val batch = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.001f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.incrementalSemanticDedup(
      batch, emptyStore, cents, 0.9)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("audioFeatureVectors and recallAtK return empty on empty input") {
    val emptyMedia = Seq.empty[(Long, Array[Byte], String, Int, Int)]
      .toDF("media_id", "payload", "kind", "width", "height")
    assert(graft.operators.Multimodal.imagePerceptualHash(emptyMedia)
      .count() == 0)
    assert(graft.operators.Multimodal.audioPerceptualHash(emptyMedia)
      .count() == 0)
    assert(graft.operators.Multimodal.audioFeatureVectors(emptyMedia).count() == 0)
    val emptyTopK = Seq.empty[(Long, Long)].toDF("q_id", "vec_id")
    assert(graft.operators.Similarity.recallAtK(emptyTopK, emptyTopK).count() == 0)
  }

  test("shortestPath with zero rounds returns only the seeds") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val got = graph.Traversal.shortestPath(edges, "src", "dst", "w",
      Seq("a"), rounds = 0).as[(String, Long)].collect().toSet
    assert(got == Set(("a", 0L)))
  }

  test("incrementalSubstringDedup handles empty batch and empty store") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val records = graft.operators.Dedup.substringStoreRecords(
      someDocs, "doc_id", "text", L = 3)
    assert(graft.operators.Dedup.incrementalSubstringDedup(
      noDocs, records, "doc_id", "text", L = 3).count() == 0)
    val emptyRecords = graft.operators.Dedup.substringStoreRecords(
      noDocs, "doc_id", "text", L = 3)
    // empty store: every doc keeps everything (no within-batch dups)
    val got = graft.operators.Dedup.incrementalSubstringDedup(
      someDocs, emptyRecords, "doc_id", "text", L = 3)
      .as[(Long, Int, Long, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((1L, 6, 6L)))
  }

  test("ivfDriftReport handles an empty batch and an empty store") {
    val cents = Array((0, Array(1000000L, 0L)), (1, Array(0L, 1000000L)))
    val some = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // empty batch: the store's cells report with batch_n = 0, share 0
    val eb = graft.operators.Similarity.ivfDriftReport(some, none, cents)
      .select("cell", "store_n", "batch_n", "batch_share_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(eb.toSeq == Seq((0L, 1L, 0L, 0L)))
    // empty store: batch cells report as pure additions, share drift
    // = the batch share (everything new), no division blowups
    val es = graft.operators.Similarity.ivfDriftReport(none, some, cents)
      .select("cell", "store_n", "batch_n", "share_drift_bp")
      .as[(Long, Long, Long, Long)].collect()
    assert(es.toSeq == Seq((0L, 0L, 1L, 10000L)))
  }

  test("lshTopKMultiBand handles empty corpus and empty query set") {
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noQ = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_vec")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((10L, Array(1.0f, 0.1f))).toDF("q_id", "q_vec")
    assert(graft.operators.Similarity.lshTopKMultiBand(
      noVecs, qs, k = 5, bands = 2, bits = 3).count() == 0)
    assert(graft.operators.Similarity.lshTopKMultiBand(
      vecs, noQ, k = 5, bands = 2, bits = 3).count() == 0)
    assert(graft.operators.Similarity.lshMultiProbeTopK(
      noVecs, qs, k = 5, bits = 3, dims = 2, nprobe = 2,
      poolSize = 2, maxFlips = 1).count() == 0)
    assert(graft.operators.Similarity.lshMultiProbeTopK(
      vecs, noQ, k = 5, bits = 3, dims = 2, nprobe = 2,
      poolSize = 2, maxFlips = 1).count() == 0)
  }

  test("PQ family handles empty corpus / query set; retraction of nothing is identity") {
    import graft.operators.Similarity
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noQ = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_vec")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((10L, Array(1.0f, 0.1f))).toDF("q_id", "q_vec")
    // codebooks trained on the tiny corpus serve empty frames on
    // either side (an empty TRAINING corpus is a config error the
    // k-means guards reject — not a degenerate input to tolerate)
    val books = Similarity.pqCodebooks(vecs, "vec_id", "embedding",
      dims = 2, m = 2, codes = 2, iters = 2)
    assert(Similarity.pqTopK(noVecs, qs, k = 2, books, coarseK = 2)
      .count() == 0)
    assert(Similarity.pqTopK(vecs, noQ, k = 2, books, coarseK = 2)
      .count() == 0)
    val (coarse, rbooks) = Similarity.ivfPqIndex(vecs, "vec_id",
      "embedding", dims = 2, cells = 2, cellIters = 2, m = 2, codes = 2,
      pqIters = 2)
    assert(Similarity.ivfPqTopK(noVecs, qs, k = 2, coarse, rbooks,
      nprobe = 1, coarseK = 2).count() == 0)
    assert(Similarity.ivfPqTopK(vecs, noQ, k = 2, coarse, rbooks,
      nprobe = 1, coarseK = 2).count() == 0)
    // retracting an empty id set returns the stored labels verbatim
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val noIds = Seq.empty[Long].toDF("id")
    assert(graft.operators.Dedup.retractClusterLabels(
      labels, pairs, noIds).as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L)))
  }

  test("rpTopK, mmrTopK, mergeManifests on empty input") {
    import graft.operators.Similarity
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noQ = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_vec")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((10L, Array(1.0f, 0.1f))).toDF("q_id", "q_vec")
    assert(Similarity.rpTopK(noVecs, qs, k = 2, outDims = 2, dims = 2,
      coarseK = 2).count() == 0)
    assert(Similarity.rpTopK(vecs, noQ, k = 2, outDims = 2, dims = 2,
      coarseK = 2).count() == 0)
    assert(Similarity.mmrTopK(noVecs, qs, k = 2, fetchK = 3,
      lambdaPct = 70).count() == 0)
    assert(Similarity.mmrTopK(vecs, noQ, k = 2, fetchK = 3,
      lambdaPct = 70).count() == 0)
    assert(Similarity.binaryRerankTopK(noVecs, qs, coarseK = 2, k = 2,
      dims = 2).count() == 0)
    assert(Similarity.binaryRerankTopK(vecs, noQ, coarseK = 2, k = 2,
      dims = 2).count() == 0)
    // a corpus SMALLER than k: the fold stops when candidates run out
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.mmrTopK(one, qs, k = 2, fetchK = 3, lambdaPct = 70)
      .count() == 1)
    // merging zero manifests is an empty manifest; retracting an empty
    // batch manifest is the identity
    val noMan = graft.operators.ScaleOps.contentDigest(
      Seq.empty[(Long, String, String)].toDF("id", "grp", "p"),
      "grp", Seq("id", "p"))
    assert(graft.operators.ScaleOps.mergeManifests(noMan, "grp").count() == 0)
    val man = graft.operators.ScaleOps.contentDigest(
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "grp", "p"),
      "grp", Seq("id", "p"))
    assert(graft.operators.ScaleOps.retractManifest(man, noMan, "grp")
      .as[(String, Long, Long, Long)].collect().toSet ==
      man.as[(String, Long, Long, Long)].collect().toSet)
    assert(graft.operators.ScaleOps.retractManifest(noMan, noMan, "grp")
      .count() == 0)
  }
}
