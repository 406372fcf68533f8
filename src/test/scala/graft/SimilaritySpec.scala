package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.LocalGate
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private type Book = Array[(Int, Array[Long])]

  private def sameBook(a: Book, b: Book): Boolean =
    a.length == b.length && a.zip(b).forall { case ((c1, v1), (c2, v2)) =>
      c1 == c2 && v1.sameElements(v2) }

  /** ivfPqIndex over `vec_id` / `embedding` on both sides of the k-means
    * gate: the driver training's index, required identical to the
    * distributed one. */
  private def ivfPqBoth(emb: DataFrame, dims: Int, cells: Int, cellIters: Int,
      m: Int, codes: Int, pqIters: Int): (Book, Array[Book]) = {
    def run(gate: Long) = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
      dims, cells, cellIters, m, codes, pqIters, 1e6, gate)
    val (coarse, books) = run(LocalGate.Threshold)
    val (dCoarse, dBooks) = run(0L)
    assert(sameBook(coarse, dCoarse) && books.length == dBooks.length &&
      books.zip(dBooks).forall { case (a, b) => sameBook(a, b) },
      "driver and distributed IVF-PQ training disagree")
    (coarse, books)
  }

  /** pqCodebooks on both sides of the gate, required identical. */
  private def pqBooksBoth(emb: DataFrame, dims: Int, m: Int, codes: Int,
      iters: Int): Array[Book] = {
    def run(gate: Long) = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dims, m, codes, iters, 1e6, gate)
    val books = run(LocalGate.Threshold)
    val dBooks = run(0L)
    assert(books.length == dBooks.length &&
      books.zip(dBooks).forall { case (a, b) => sameBook(a, b) },
      "driver and distributed PQ training disagree")
    books
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 1.0f), Seq(1.0f, 0.0f), 0.707107))
      .toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (c, want) => assert(c == want) }
  }

  test("quantizeInt8: max maps to ±127, dequantization error ≤ scale/2") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .join(emb, "vec_id")
      .select(col("vec_id"), col("scale6"), col("qvec"), col("embedding"))
      .as[(Long, Double, String, Seq[Float])].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, scale6, qvec, orig) =>
      val q = qvec.split(",").map(_.toInt)
      assert(q.length == orig.length)
      assert(q.forall(v => v >= -127 && v <= 127))
      val maxAbs = orig.map(v => math.abs(v.toDouble)).max
      if (maxAbs > 0) {
        val scale = maxAbs / 127.0
        assert(q.map(math.abs).max == 127) // the max element saturates
        q.zip(orig).foreach { case (qi, vi) =>
          assert(math.abs(qi * scale - vi) <= scale / 2 + 1e-9,
            s"dequant error beyond half a step: q=$qi v=$vi scale=$scale")
        }
        assert(math.abs(scale6 - BigDecimal(scale).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      }
    }
  }

  test("quantizedTopK matches a local integer recomputation exactly") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Similarity.quantizedTopK(emb, queries, k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet

    def quant(v: Seq[Float]): Array[Long] = {
      val d = v.map(_.toDouble)
      val ma = d.map(math.abs).max
      if (ma == 0) Array.fill(d.length)(0L)
      else d.map(x => math.floor(x / (ma / 127.0) + 0.5).toLong).toArray
    }
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val codes = vecs.map { case (id, v) => id -> quant(v) }.toMap
    val want = codes.keys.filter(_ % 50 == 0).flatMap { qid =>
      val qq = codes(qid)
      codes.toSeq.map { case (cid, cq) =>
        (cid, cq.zip(qq).map { case (a, b) => a * b }.sum)
      }.sortBy { case (cid, s) => (-s, cid) }.take(5).zipWithIndex
        .map { case ((cid, s), i) => (qid, cid, s, i + 1) }
    }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("quantizeInt8 zero vector quantizes to zeros with scale 0") {
    val df = Seq((1L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .as[(Long, Double, String)].collect().head
    assert(got == ((1L, 0.0, "0,0,0")))
  }

  test("bruteForceTopK returns k nearest with deterministic ranks") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val got = Similarity.bruteForceTopK(corpus, queries, k = 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((1L, 1), (2L, 2)))
  }

  test("lshTopK agrees with brute force for bucket-mates") {
    // vectors on the same side of every hyperplane share a signature;
    // a vector and its tiny perturbation must bucket together
    val base = (0 until 64).map(i => (i % 7).toFloat - 3.0f)
    val perturbed = base.updated(0, base(0) + 0.001f)
    val corpus = Seq((1L, base), (2L, perturbed)).toDF("vec_id", "embedding")
    val queries = Seq((9L, base)).toDF("q_id", "q_vec")
    val got = Similarity.lshTopK(corpus, queries, k = 2, bits = 8, dims = 64)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("embeddingNearDupPairs finds the planted duplicate") {
    val base = (0 until 64).map(i => math.sin(i.toDouble).toFloat)
    val dup = base.updated(3, base(3) + 0.0001f)
    val other = (0 until 64).map(i => math.cos(i * 2.0).toFloat)
    val df = Seq((1L, base), (2L, dup), (3L, other)).toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDupPairs(df, threshold = 0.99, bits = 8, dims = 64)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("banded near-dup blocking still finds the planted duplicate") {
    val base = (0 until 64).map(i => math.sin(i.toDouble).toFloat)
    val dup = base.updated(3, base(3) + 0.0001f)
    val other = (0 until 64).map(i => math.cos(i * 2.0).toFloat)
    val df = Seq((1L, base), (2L, dup), (3L, other)).toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDupPairs(df, threshold = 0.99,
      bits = 10, dims = 64, bands = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
    // hot-bucket guard: a cap of 1 skips every ≥2 bucket -> no pairs
    val guarded = Similarity.embeddingNearDupPairs(df, threshold = 0.99,
      bits = 10, dims = 64, bands = 6, maxBucketSize = 1L)
      .count()
    assert(guarded == 0L)
  }

  test("banded 10-bit buckets are smaller than the single 8-bit signature's") {
    // the quadratic within-bucket pairing term at scale is governed by
    // the LARGEST bucket; banding must shrink it
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def maxBucket(keys: org.apache.spark.sql.DataFrame): Long =
      keys.groupBy("band", "bucket").count()
        .agg(max("count")).as[Long].collect()(0)
    val single = emb.select(lit(0).as("band"),
      Similarity.signSignatureAuto(emb, col("embedding"), 8, 64).as("bucket"))
    val sig60 = emb.select(
      Similarity.signSignatureAuto(emb, col("embedding"), 60, 64).as("sig"))
    val banded = sig60.select(posexplode(array((0 until 6).map(b =>
      shiftrightunsigned(col("sig"), b * 10).bitwiseAND(lit(1023L))): _*))
      .as(Seq("band", "bucket")))
    val (m8, mBand) = (maxBucket(single), maxBucket(banded))
    info(s"max bucket: single-8-bit=$m8 banded-6x10=$mBand")
    assert(mBand < m8, s"banded max bucket $mBand !< single-signature $m8")
  }

  test("ivfTopK assigns cells map-side: no window, one hash exchange") {
    val corpus = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val df = Similarity.ivfTopK(corpus, queries, k = 5,
      centroidEvery = 100, nprobe = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"cell assignment must not window-shuffle:\n$plan")
    // the ONLY hash-partitioned exchange is the final top-k partial agg
    val nHash = plan.sliding("hashpartitioning".length).count(_ == "hashpartitioning")
    assert(nHash <= 1, s"expected ≤1 hash exchange, got $nHash:\n$plan")
    assert(df.count() > 0)
  }

  test("quantizedRerankTopK: coarseK >= corpus recovers exact brute-force top-k") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = emb.count().toInt
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val exact = norm(Similarity.bruteForceTopK(emb, queries, k = 5))
    val reranked = norm(Similarity.quantizedRerankTopK(emb, queries,
      coarseK = n, k = 5))
    assert(reranked == exact && exact.nonEmpty)
    // at serving-shaped coarseK the refined set is a subset of the
    // coarse candidates by construction; spot-check it still returns
    // a full top-10 per query
    val served = Similarity.quantizedRerankTopK(emb, queries, coarseK = 50, k = 10)
      .groupBy("q_id").count().as[(Long, Long)].collect()
    assert(served.nonEmpty && served.forall(_._2 == 10L))
  }

  test("semanticDedup matches a brute-force within-cluster drop rule") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 4; val iters = 2; val t = 0.35
    val surv = Similarity.semanticDedup(emb, k, iters, t)
      .as[(Long, Long)].collect().toMap
    // brute force: same assignment, all within-cluster pairs, drop any
    // id with a lower-id sibling at rounded-6 cosine >= t
    val cluster = graft.operators.Clustering
      .kmeansFixedPoint(emb, "vec_id", "embedding", k, iters)
      .select(col("vec_id"), col("cluster")).as[(Long, Long)].collect().toMap
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      BigDecimal(ab / (math.sqrt(aa) * math.sqrt(bb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = vecs.keys.toSeq.sorted
    val dropped = (for {
      j <- ids; i <- ids if i < j && cluster(i) == cluster(j)
      if cos6(vecs(i), vecs(j)) >= t
    } yield j).toSet
    assert(dropped.nonEmpty, "threshold must actually drop something")
    assert(surv.keySet == ids.toSet -- dropped)
    surv.foreach { case (id, c) => assert(c == cluster(id)) }
  }

  test("incrementalSemanticDedup matches the brute-force within-cell rule") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 4; val iters = 2; val t = 0.35
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val cents = graft.operators.Clustering.kmeansCentroidsFixed(
      storeSlice, "vec_id", "embedding", k, iters)
    val store = Similarity.semanticStoreRecords(storeSlice, "vec_id", "embedding", cents)
    val batch = emb.filter(col("vec_id") % 3 =!= 0)
    val surv = Similarity.incrementalSemanticDedup(batch, store, cents, t)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toMap

    // brute force: frozen-centroid assignment on both sides, batch id
    // drops iff a store cell-sibling or a lower-id batch cell-sibling
    // scores rounded-6 cosine >= t
    val storeCells = store.select(col("id"), col("cell"))
      .as[(Long, Long)].collect().toMap
    val batchCells = graft.operators.Clustering
      .assignCells(batch, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      BigDecimal(ab / (math.sqrt(aa) * math.sqrt(bb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val dropped = batchCells.keySet.filter { j =>
      storeCells.exists { case (s, c) =>
        c == batchCells(j) && cos6(vecs(s), vecs(j)) >= t } ||
      batchCells.exists { case (i, c) =>
        i < j && c == batchCells(j) && cos6(vecs(i), vecs(j)) >= t }
    }
    assert(dropped.nonEmpty, "threshold must actually drop something")
    assert(surv.keySet == batchCells.keySet -- dropped)
    surv.foreach { case (id, c) => assert(c == batchCells(id)) }
  }

  test("incrementalSemanticDedup: store append round-trips and guards fail loud") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val cents = graft.operators.Clustering.kmeansCentroidsFixed(
      storeSlice, "vec_id", "embedding", k = 4, iters = 2)
    val store = Similarity.semanticStoreRecords(storeSlice, "vec_id", "embedding", cents)
    val surv = Similarity.incrementalSemanticDedup(
      emb.filter(col("vec_id") % 3 =!= 0), store, cents, threshold = 0.35)
    // next increment sees survivors: re-sending a survivor (shifted id,
    // identical vector -> cosine 1.0) is dropped by the grown store
    val store2 = store.unionByName(surv)
    val one = surv.orderBy(col("id")).limit(1)
      .select((col("id") + 1000000L).as("vec_id"), col("embedding"))
    val got2 = Similarity.incrementalSemanticDedup(one, store2, cents, threshold = 0.35)
    assert(got2.count() == 0L)
    intercept[IllegalArgumentException] {
      Similarity.incrementalSemanticDedup(one, store.drop("cell"), cents, 0.35)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Clustering.assignCells(one, "vec_id", "embedding",
        Array.empty[(Int, Array[Long])])
    }
  }

  test("maxSimTopK: a query identical to a doc ranks it first at score subs*1.0") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Similarity.maxSimTopK(emb, queries, k = 3, subs = 4, dims = 64)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      val top = rows.minBy(_._4)
      // every sub-cosine of a vector with itself is 1.0 -> maxsim = 4.0,
      // and no score can exceed it; tie-break is by vec_id so the query
      // vector itself (lowest id among perfect matches) wins
      assert(top._3 == 4.0, s"query $q top score ${top._3}")
      assert(rows.forall(_._3 <= 4.0))
    }
  }

  test("semanticDedupAuto: derived k bounds mean cell size at two SFs and matches the explicit-k API") {
    // the invariant the auto variant exists to hold: n / k <= targetCellSize,
    // i.e. the within-cell quadratic pass sees bounded MEAN cells by
    // construction, at any corpus size. Pin the derivation at both test
    // corpus sizes (500 and 2000 rows) plus the boundary shapes.
    for ((n, target) <- Seq((500L, 128), (2000L, 256), (500L, 1), (1L, 1024), (1000L, 1000), (1001L, 1000))) {
      val k = Similarity.semanticDedupAutoK(n, target, maxK = Int.MaxValue)
      assert(n.toDouble / k <= target, s"n=$n target=$target derived k=$k breaks n/k<=target")
      assert(k == 1 || n.toDouble / (k - 1) > target,
        s"n=$n target=$target derived k=$k is not minimal")
    }

    // end-to-end at SF .001 (n=500): auto with targetCellSize=128 must run
    // the exact same plan as the explicit-k API with k=ceil(500/128)=4
    val emb1 = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val auto1 = Similarity.semanticDedupAuto(emb1, iters = 2, threshold = 0.35,
      targetCellSize = 128).as[(Long, Long)].collect().toMap
    val explicit1 = Similarity.semanticDedup(emb1, k = 4, iters = 2, threshold = 0.35)
      .as[(Long, Long)].collect().toMap
    assert(auto1 == explicit1)

    // second SF (sf0.1, n=2000): derivation scales k with the corpus —
    // same targetCellSize, 4x the rows, 4x the cells; verify the actual
    // k-means assignment keeps MEAN occupied-cell size within target
    // (cells can only merge below k, never exceed n/1 of a cell count)
    val emb2 = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val k2 = Similarity.semanticDedupAutoK(2000L, 128, maxK = 65536)
    assert(k2 == 16)
    val cells = graft.operators.Clustering
      .kmeansFixedPoint(emb2, "vec_id", "embedding", k2, 2)
      .groupBy("cluster").count().as[(Long, Long)].collect()
    val mean = cells.map(_._2).sum.toDouble / cells.length
    assert(cells.map(_._2).sum == 2000L)
    assert(mean <= 128 * 2,
      s"mean occupied-cell size $mean far above target — derivation not bounding cells")

    // the clamp fails loud instead of silently re-admitting the blowup
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupAuto(emb1, iters = 1, threshold = 0.35,
        targetCellSize = 10, maxK = 3)
    }
    assert(e.getMessage.contains("exceeds maxK"))
    // and the empty-corpus guard
    val empty = emb1.filter(col("vec_id") < 0)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semanticDedupAuto(empty, iters = 1, threshold = 0.35)
    }
    assert(e2.getMessage.contains("empty corpus"))
  }

  test("recallAtK: per-query hit counts with per-query denominators") {
    val bf = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("q_id", "vec_id")
    val ann = Seq((1L, 10L), (1L, 99L), (2L, 20L), (3L, 7L))
      .toDF("q_id", "vec_id")
    val got = Similarity.recallAtK(bf, ann)
      .as[(Long, Long, Long, Double)].collect().toSet
    // q1: 1 of 3 ground-truth rows retrieved; q2: 1 of 1; the ANN-only
    // q3 contributes nothing (no ground truth to recall against)
    assert(got == Set((1L, 1L, 3L, 0.333333), (2L, 1L, 1L, 1.0)))
  }

  test("maxSimTopK: all-zero sub-slices score 0, not NaN (ANSI would throw on the cast)") {
    import spark.implicits._
    // query: first 16-dim slice zeroed (that query sub must contribute
    // cos 0 against every doc sub); doc 2: all zeros (every doc-side
    // inv is 0, so every max is over zeros)
    val ones = Array.fill(64)(1.0f)
    val halfZero = Array.fill(16)(0.0f) ++ Array.fill(48)(1.0f)
    val zeros = Array.fill(64)(0.0f)
    val emb = Seq((1L, ones), (2L, zeros)).toDF("vec_id", "embedding")
    val queries = Seq((10L, halfZero)).toDF("q_id", "q_vec")
    val got = Similarity.maxSimTopK(emb, queries, k = 3, subs = 4, dims = 64)
      .as[(Long, Long, Double, Int)].collect().map(r => r._2 -> r._3).toMap
    assert(got(1L) == 3.0, s"zeroed query sub must contribute 0: ${got(1L)}")
    assert(got(2L) == 0.0, s"all-zero doc must score 0, got ${got(2L)}")
  }

  test("ivfDriftReport: identical distribution is clean, share shift and distance growth flag") {
    val cents = Array((0, Array(1000000L, 0L)), (1, Array(0L, 1000000L)))
    def emb(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    val c0 = Array(1.0f, 0.0f); val c1 = Array(0.0f, 1.0f)
    val store = emb((1L, c0), (2L, c0), (3L, c1), (4L, c1))
    // identical composition: zero share drift, zero distances -> clean
    val same = Similarity.ivfDriftReport(store,
      emb((10L, c0), (11L, c0), (12L, c1), (13L, c1)), cents)
      .as[(Long, Long, Long, Long, Long, Long, Option[Long], Option[Long], Option[Long], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(same.keySet == Set(0L, 1L))
    assert(same.values.forall(r => r._6 == 0L && !r._10),
      s"identical distributions must not drift: ${same.values}")
    // batch collapses into cell 0: share drift 5000bp on both cells
    val shifted = Similarity.ivfDriftReport(store,
      emb((10L, c0), (11L, c0), (12L, c0), (13L, c0)), cents)
      .select("cell", "share_drift_bp", "drifted")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(shifted(0L)._2 == 5000L && shifted(0L)._3)
    assert(shifted(1L)._2 == 5000L && shifted(1L)._3)
    // same shares but batch sits far from its centroid: distance growth
    // flags while share drift stays 0. store (0.9, 0): qdist
    // (1e5)^2 div 2^20 = 9536; batch (0.5, 0.5): 5e11 div 2^20 = 476837
    val grew = Similarity.ivfDriftReport(
      emb((1L, Array(0.9f, 0.0f))), emb((10L, Array(0.5f, 0.5f))), cents)
      .select("cell", "share_drift_bp", "store_mean_qdist",
        "batch_mean_qdist", "dist_growth_bp", "drifted")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Boolean)]
      .collect()
    assert(grew.length == 1)
    val g = grew.head
    assert(g._1 == 0L && g._2 == 0L && g._3.contains(9536L) &&
      g._4.contains(476837L) && g._6,
      s"distance growth must flag: $g")
    // store exactly ON its centroid: relative growth is undefined
    // (store mean 0) precisely when drift is most extreme — the
    // zero-mean rule must flag any nonzero batch mean
    val zero = Similarity.ivfDriftReport(
      emb((1L, c0)), emb((10L, Array(0.5f, 0.5f))), cents)
      .select("cell", "share_drift_bp", "store_mean_qdist",
        "batch_mean_qdist", "dist_growth_bp", "drifted")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Boolean)]
      .collect().head
    assert(zero._3.contains(0L) && zero._4.exists(_ > 0) &&
      zero._5.isEmpty && zero._6,
      s"zero store mean with nonzero batch mean must flag: $zero")
  }

  test("pqTopK: coarseK >= corpus recovers exact brute-force top-k; guards fail loud") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = emb.count().toInt
    val books = pqBooksBoth(emb,
      dims = 64, m = 4, codes = 8, iters = 2)
    assert(books.length == 4 && books.forall(_.length == 8) &&
      books.forall(_.forall(_._2.length == 16)))
    // with every corpus vector a candidate, the rerank stage IS brute
    // force — PQ's approximation surface is confined to the cut
    val got = Similarity.pqTopK(emb, q, k = 10, books, coarseK = n)
      .select("q_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("q_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == bf)
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, q, k = 10, books, coarseK = 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, "vec_id", "embedding",
        dims = 64, m = 5, codes = 8, iters = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, q, k = 10,
        Array.empty[Array[(Int, Array[Long])]], coarseK = 50)
    }
  }

  test("ivfPqIndex / pqCodebooks: vectors off dims fall back; residual overflow fails on both sides") {
    // 4-long vectors under dims = 2: the distributed training slices the
    // residuals to the first 2 dims; the driver side falls back to it
    val long4 = (1 to 12).map(i => (i.toLong, Seq(i % 3, i % 5, i * 0.5, -i).map(_.toDouble)))
      .toDF("vec_id", "embedding")
    assert(graft.operators.Clustering.driverCorpus(long4, "vec_id", "embedding", 1e6,
      Some(2), _ => 6L, LocalGate.Threshold).isEmpty)
    val (coarse, books) = ivfPqBoth(long4, dims = 2, cells = 3, cellIters = 3, m = 2,
      codes = 2, pqIters = 2)
    assert(coarse.forall(_._2.length == 4) && books.forall(_.forall(_._2.length == 1)))
    assert(pqBooksBoth(long4, dims = 2, m = 1, codes = 3, iters = 3).head.forall(_._2.length == 2))
    // one cell seeded at -9e18: the residual of 9e18 leaves the Long range
    val far = Seq((1L, Seq(-9e18)), (2L, Seq(9e18))).toDF("vec_id", "embedding")
    Seq(LocalGate.Threshold, 0L).foreach { gate =>
      val e = intercept[Exception] {
        Similarity.ivfPqIndex(far, "vec_id", "embedding", 1, 1, 1, 1, 1, 1, 1.0, gate)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
        t.isInstanceOf[ArithmeticException] ||
          String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")), s"gate $gate: $e")
    }
  }

  test("ivfPqTopK: nprobe=cells + coarseK>=corpus recovers brute force; probe is an equi-join") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = emb.count().toInt
    val (coarse, books) = ivfPqBoth(emb,
      dims = 64, cells = 4, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    assert(coarse.length == 4 && books.length == 4 &&
      books.forall(_.forall(_._2.length == 16)))
    // probing EVERY cell with an uncut candidate list makes the rerank
    // stage brute force — the approximation surface is confined to the
    // (nprobe, coarseK) cut
    val got = Similarity.ivfPqTopK(emb, q, k = 10, coarse, books,
      nprobe = 4, coarseK = n)
      .select("q_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, q, 10)
      .select("q_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == bf)
    // the probe must be a keyed join — an IVF-PQ that cross-joins the
    // corpus has lost its structural reason to exist
    val plan = Similarity.ivfPqTopK(emb, q, k = 10, coarse, books,
      nprobe = 2, coarseK = 50).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.linesIterator.take(5).mkString("\n"))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, q, k = 10, coarse, books,
        nprobe = 5, coarseK = 50)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, q, k = 60, coarse, books,
        nprobe = 2, coarseK = 50)
    }
  }

  test("refreshQuantizer: migration == fresh bootstrap, post-refresh increment identical") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val oldCents = graft.operators.Clustering.kmeansCentroidsFixed(
      storeSlice, "vec_id", "embedding", k = 4, iters = 2)
    val newCents = graft.operators.Clustering.kmeansCentroidsFixed(
      emb, "vec_id", "embedding", k = 5, iters = 2)
    val oldStore = Similarity.semanticStoreRecords(
      storeSlice, "vec_id", "embedding", oldCents)
    // the swap must actually MOVE cells, or the test proves nothing
    val refreshed = Similarity.refreshQuantizer(oldStore, newCents)
    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("id"), col("cell")).as[(Long, Long)].collect().toMap
    val fresh = Similarity.semanticStoreRecords(
      storeSlice, "vec_id", "embedding", newCents)
    assert(cellsOf(refreshed) == cellsOf(fresh),
      "refresh(store, newCents) must equal a fresh bootstrap under newCents")
    assert(cellsOf(refreshed) != cellsOf(oldStore),
      "the new quantizer must actually re-shard at least one vector")
    // a post-refresh increment behaves as if ingested under the new
    // quantizer from day one
    val batch = emb.filter(col("vec_id") % 3 =!= 0)
    def survOf(store: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      cellsOf(Similarity.incrementalSemanticDedup(batch, store, newCents,
        threshold = 0.35))
    assert(survOf(refreshed) == survOf(fresh))
    intercept[IllegalArgumentException] {
      Similarity.refreshQuantizer(oldStore.drop("cell"), newCents)
    }
  }

  test("normalizeFixedPoint: output on the scale-sphere, direction preserved, zeros pass through") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(3.0f, 4.0f, 0.0f)),        // norm 5 -> renormalized
      (2L, Array(0.6f, 0.8f, 0.0f)),        // already unit-norm
      (3L, Array(0.0f, 0.0f, 0.0f)),        // zero vector: no direction
      (4L, Array(-1.0f, 2.0f, -2.0f)))      // norm 3, negatives
      .toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
      Similarity.normalizeFixedPoint(col("embedding")).as("nv"))
      .as[(Long, Array[Long])].collect().toMap
    // every nonzero vector lands on the 1e6 sphere (±1 ulp of rounding
    // per element: |‖n‖ - 1e6| ≤ dims)
    for (id <- Seq(1L, 2L, 4L)) {
      val n = math.sqrt(out(id).map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1e6) < 3.0, s"vec $id norm $n not ~1e6")
    }
    // direction preserved exactly for the 3-4-5 vector
    assert(out(1L).sameElements(Array(600000L, 800000L, 0L)))
    // an already-unit vector is (near-)fixed: quantize-then-renormalize
    // moves each element by at most 1
    assert(out(2L).zip(Array(600000L, 800000L, 0L))
      .forall { case (a, b) => math.abs(a - b) <= 1 })
    // zero vector passes through as zeros (no NaN/div-by-zero under ANSI)
    assert(out(3L).sameElements(Array(0L, 0L, 0L)))
    // sign survives
    assert(out(4L)(0) < 0 && out(4L)(2) < 0 && out(4L)(1) > 0)
  }

  test("normalizeFixedPoint: exactness contract is fail-loud, not silently approximate") {
    import spark.implicits._
    // |q| = 1e5 * 1e6 = 1e11 > floor(sqrt(2^53)): q^2 leaves the
    // exact-BIGINT window — the documented bit-identity contract is
    // broken, so the op must raise instead of emitting approximate
    // integers
    val big = Seq((1L, Array(1.0e5f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      big.select(Similarity.normalizeFixedPoint(col("embedding")).as("nv"))
        .collect()
    }
    assert(e.getMessage.contains("exact-integer contract"),
      s"expected the contract guard, got: ${e.getMessage}")
    // a vector safely inside the |q| bound but with sum(q^2) >= 2^53
    // across elements trips the sum guard
    val sumBig = Seq((1L, Array.fill(16)(80.0f))).toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      sumBig.select(Similarity.normalizeFixedPoint(col("embedding")).as("nv"))
        .collect()
    }
    assert(e2.getMessage.contains("exact-integer contract"),
      s"expected the sum guard, got: ${e2.getMessage}")
    // valid vectors still pass through the guard unchanged
    val ok = Seq((1L, Array(3.0f, 4.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.normalizeFixedPoint(col("embedding")).as("nv"))
      .as[Array[Long]].collect().head
    assert(ok.sameElements(Array(600000L, 800000L, 0L)))
  }

  test("rpProject: exact integer projection under the deterministic sign matrix") {
    import spark.implicits._
    val v = Array(0.5f, -0.25f, 1.0f, 0.0f)
    val got = Seq((1L, v)).toDF("vec_id", "embedding")
      .select(Similarity.rpProject(col("embedding"), outDims = 3, dims = 4)
        .as("rv")).as[Array[Long]].collect().head
    // reference: the same fixed-point quantization and ±1 signs in
    // plain Scala — the projection must be exactly this, elementwise
    val q = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val want = (0 until 3).map(j =>
      (0 until 4).map(d => q(d) * Similarity.rpSign(j, d)).sum)
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
  }

  test("pcaComponents: recovers the dominant direction of an anisotropic cloud") {
    import spark.implicits._
    // points spread along (3, 1)/sqrt(10) with small orthogonal noise:
    // the first principal component must align with (3, 1)
    val emb = (0 until 60).map { i =>
      val t = (i - 30) * 0.02
      val eps = math.sin(i * 2.17) * 0.03
      (i.toLong, Array((3 * t - eps).toFloat, (t + 3 * eps).toFloat))
    }.toDF("vec_id", "embedding")
    val comps = Similarity.pcaComponents(emb, "vec_id", "embedding",
      outDims = 2, dims = 2, iters = 8)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val c0 = comps(0).map(_.toDouble)
    val c1 = comps(1).map(_.toDouble)
    assert(math.abs(cos(c0, Array(3.0, 1.0))) > 0.999,
      s"first component must align with (3,1): ${c0.toSeq}")
    assert(math.abs(cos(c0, c1)) < 0.05,
      s"deflated second component must be near-orthogonal: ${c1.toSeq}")
    // L-inf normalization: the largest entry is exactly vScale
    assert(comps(0).map(math.abs).max == 1000000L)
    // determinism: bit-identical across runs
    val again = Similarity.pcaComponents(emb, "vec_id", "embedding",
      outDims = 2, dims = 2, iters = 8)
    assert(comps.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pcaProject: exact trunc-division projection under a literal matrix") {
    import spark.implicits._
    val v = Array(0.5f, -0.25f, 1.0f, 0.0f)
    val comps = Array(Array(1000000L, -500000L, 250000L, 1L),
      Array(-3L, 7L, 1000000L, -999999L))
    val got = Seq((1L, v)).toDF("vec_id", "embedding")
      .select(Similarity.pcaProject(col("embedding"), comps).as("rv"))
      .as[Array[Long]].collect().head
    val q = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val want = comps.map { row =>
      val s = row.zip(q).map { case (c, x) => c * x }.sum
      BigInt(s) / BigInt(1000000L) // trunc toward zero, the div contract
    }.map(_.toLong).toSeq
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
  }

  test("pcaMoments: merge/retract algebra makes incremental training BIT-equal to retrain") {
    import spark.implicits._
    val emb = (0 until 45).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (math.sin(i * 0.9 + d * 1.7) * 0.8).toFloat))
    }.toDF("vec_id", "embedding")
    def slice(k: Int) = emb.filter(col("vec_id") % 3 === k)
    val m0 = Similarity.pcaMomentRecords(slice(0), "embedding", 4)
    val m1 = Similarity.pcaMomentRecords(slice(1), "embedding", 4)
    val m2 = Similarity.pcaMomentRecords(slice(2), "embedding", 4)
    val merged = Similarity.pcaMergeMoments(Similarity.pcaMergeMoments(m0, m1), m2)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("i"), col("j"), col("s").cast("string"))
        .as[(Int, Int, String)].collect().toSet
    // merge law: moments(A ∪ B ∪ C) == fold of tranche moments, cell-exact
    assert(cells(merged) ==
      cells(Similarity.pcaMomentRecords(emb, "embedding", 4)))
    // trained components from the fold are BIT-equal to a full retrain
    val viaFold = Similarity.pcaComponentsFromMoments(merged, 2, 4, iters = 6)
    val direct = Similarity.pcaComponents(emb, "vec_id", "embedding",
      outDims = 2, dims = 4, iters = 6)
    assert(viaFold.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    // retract law: retract(merge(m, b), b) == m, and retraining equals
    // training on the remainder
    val retr = Similarity.pcaRetractMoments(merged, m1)
    assert(cells(retr) == cells(Similarity.pcaMergeMoments(m0, m2)))
    val viaRetr = Similarity.pcaComponentsFromMoments(retr, 2, 4, iters = 6)
    val remainder = Similarity.pcaComponents(
      emb.filter(col("vec_id") % 3 =!= 1), "vec_id", "embedding",
      outDims = 2, dims = 4, iters = 6)
    assert(viaRetr.map(_.toSeq).toSeq == remainder.map(_.toSeq).toSeq)
    // retracting a batch that was never merged fails loud (diagonal
    // row count goes negative)
    val ex = intercept[Exception] {
      Similarity.pcaRetractMoments(m0, Similarity.pcaMergeMoments(m0, m1))
        .collect()
    }
    assert(ex.getMessage.contains("never merged"))
  }

  test("pcaMomentRecords: vector-length/dims mismatch fails loud at moment time") {
    import spark.implicits._
    // Before the guard, a wrong-dims moment table could be merged into
    // a store and only surface later in pcaComponentsFromMoments as a
    // misleading 'empty corpus' / 'outside the moment matrix' error.
    val emb = Seq(
      (1L, Array(0.1f, 0.2f, 0.3f, 0.4f)),
      (2L, Array(0.5f, 0.6f, 0.7f))) // 3-dim row in a dims=4 corpus
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pcaMomentRecords(emb, "embedding", 4).collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("pcaMomentRecords"),
      s"expected the dims guard, got: ${ex.getMessage}")
  }

  test("filteredPcaTopK: pre-filter equals the unfiltered operator over the slice") {
    import spark.implicits._
    val n = 40
    val dims = 8
    val emb = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d =>
        (math.sin(i * 0.7 + d * 1.3) * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // comps stay FULL-corpus trained — the shared-index rule
    val comps = Similarity.pcaComponents(emb, "vec_id", "embedding",
      outDims = 4, dims = dims)
    val pred = col("vec_id") % 2 === 0
    val filtered = Similarity.filteredPcaTopK(emb, qs, k = 5, comps,
      coarseK = 10, pred)
      .select("q_id", "vec_id", "score").as[(Long, Long, Double)]
      .collect().toSet
    val overSlice = Similarity.pcaTopK(emb.filter(pred), qs, k = 5, comps,
      coarseK = 10)
      .select("q_id", "vec_id", "score").as[(Long, Long, Double)]
      .collect().toSet
    assert(filtered == overSlice)
    assert(filtered.forall(_._2 % 2 == 0), "every hit satisfies the predicate")
  }

  test("pcaIndexRecords: lossless round trip; malformed tables fail loud") {
    import spark.implicits._
    val comps = Array(Array(1000000L, -7L, 42L), Array(-999999L, 3L, 0L))
    val table = Similarity.pcaIndexRecords(spark, comps)
    val back = Similarity.pcaIndexFromRecords(table)
    assert(back.map(_.toSeq).toSeq == comps.map(_.toSeq).toSeq)
    // duplicate cell (written twice / versions mixed)
    intercept[IllegalArgumentException] {
      Similarity.pcaIndexFromRecords(table.unionAll(
        Seq((0, 0, 5L)).toDF("c", "d", "x")))
    }
    // ragged component (dimension gap)
    intercept[IllegalArgumentException] {
      Similarity.pcaIndexFromRecords(table.filter(
        !(col("c") === 1 && col("d") === 2)))
    }
    // component-id gap
    intercept[IllegalArgumentException] {
      Similarity.pcaIndexFromRecords(table.filter(col("c") =!= 0))
    }
  }

  test("pcaTopK: coarseK covering the corpus degrades to exact brute force") {
    import spark.implicits._
    val n = 40
    val dims = 8
    val emb = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d =>
        (math.sin(i * 0.7 + d * 1.3) * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val comps = Similarity.pcaComponents(emb, "vec_id", "embedding",
      outDims = 4, dims = dims)
    val pca = Similarity.pcaTopK(emb, qs, k = 5, comps, coarseK = n)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pca == bf)
    val narrow = Similarity.pcaTopK(emb, qs, k = 5, comps, coarseK = 10)
    assert(narrow.groupBy(col("q_id")).count()
      .select(col("count")).as[Long].collect().forall(_ == 5L))
    intercept[IllegalArgumentException] {
      Similarity.pcaTopK(emb, qs, k = 5, comps, coarseK = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.pcaComponents(emb, "vec_id", "embedding",
        outDims = dims + 1, dims = dims)
    }
  }

  test("rpTopK: coarseK covering the corpus degrades to exact brute force") {
    import spark.implicits._
    val n = 40
    val dims = 8
    val emb = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d =>
        (math.sin(i * 0.7 + d * 1.3) * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // with every corpus row a candidate, the rerank IS brute force —
    // the RP stage may only change WHICH candidates are scanned
    val rp = Similarity.rpTopK(emb, qs, k = 5, outDims = 4, dims = dims,
      coarseK = n)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(rp == bf)
    // and a REDUCED coarse budget still returns k rows per query with
    // deterministic ranks (the recall trade is measured in PLANS.md)
    val narrow = Similarity.rpTopK(emb, qs, k = 5, outDims = 4, dims = dims,
      coarseK = 10)
    assert(narrow.groupBy(col("q_id")).count()
      .select(col("count")).as[Long].collect().forall(_ == 5L))
    intercept[IllegalArgumentException] {
      Similarity.rpTopK(emb, qs, k = 5, outDims = 4, dims = dims, coarseK = 3)
    }
  }

  test("mmrTopK: diversity beats redundancy, lambda=100 is pure relevance, trajectory exact") {
    import spark.implicits._
    // A and A' are near-identical and most relevant to q; B is diverse
    // and slightly less relevant. Pure relevance top-2 = {A, A'}; MMR
    // at lambda=70 must pick A then B (A' pays its ~1.0 sim to A).
    // q deliberately differs from A: with q == A, rel(c) == sim(c, A)
    // for every candidate and all step-2 MMR scores degenerate to
    // (lambda-50)-scaled rel — a tie-break test, not a diversity test.
    val emb = Seq(
      (1L, Array(0.95f, 0.05f, 0.3f)),   // A   rel ~0.952
      (2L, Array(0.949f, 0.055f, 0.3f)), // A'  rel ~0.952, sim(A)~1.0
      (3L, Array(0.9f, -0.4f, 0.0f)),    // B   rel ~0.914, sim(A)~0.85
      (4L, Array(0.0f, 0.0f, -1.0f)))    // far rel ~-0.3
      .toDF("vec_id", "embedding")
    val qs = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("q_id", "q_vec")
    val got = Similarity.mmrTopK(emb, qs, k = 3, fetchK = 4, lambdaPct = 70)
      .orderBy(col("step"))
      .select("vec_id", "step").as[(Long, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 3L, 2L),
      s"expected A, then diverse B, then A' — got $got")
    // lambda=100: no diversity term — selection order IS relevance
    // order (rel desc, id asc)
    val pure = Similarity.mmrTopK(emb, qs, k = 3, fetchK = 4, lambdaPct = 100)
      .orderBy(col("step")).select("vec_id").as[Long].collect().toSeq
    assert(pure == Seq(1L, 2L, 3L))
    // trajectory is exactly the integer greedy: replay it in Scala
    // over the same 1e-6-quantized cosines
    def cos6(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val c = BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(c * 1e6 + 0.5).toLong
    }
    val vecs = Map(
      1L -> Array(0.95f, 0.05f, 0.3f), 2L -> Array(0.949f, 0.055f, 0.3f),
      3L -> Array(0.9f, -0.4f, 0.0f), 4L -> Array(0.0f, 0.0f, -1.0f))
    val qv = Array(1.0f, 0.0f, 0.0f)
    val rel = vecs.map { case (id, v) => id -> cos6(v, qv) }
    var selected = Vector.empty[Long]
    val wantMmr = (1 to 3).map { _ =>
      val best = vecs.keys.filterNot(selected.contains).maxBy { c =>
        val maxSim = if (selected.isEmpty) 0L
          else selected.map(s => cos6(vecs(c), vecs(s))).max
        (70L * rel(c) - 30L * maxSim, -c)
      }
      val ms = if (selected.isEmpty) 0L
        else selected.map(s => cos6(vecs(best), vecs(s))).max
      selected :+= best
      (best, 70L * rel(best) - 30L * ms)
    }
    val gotMmr = Similarity.mmrTopK(emb, qs, k = 3, fetchK = 4, lambdaPct = 70)
      .orderBy(col("step")).select("vec_id", "mmr")
      .as[(Long, Long)].collect().toSeq
    assert(gotMmr == wantMmr, s"got $gotMmr, want $wantMmr")
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, qs, k = 5, fetchK = 4, lambdaPct = 50)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(emb, qs, k = 2, fetchK = 4, lambdaPct = 101)
    }
  }

  test("mmrRerank: over brute-force candidates == mmrTopK; accepts any ANN tier") {
    import spark.implicits._
    // deterministic 12-vector corpus, 2 queries
    val emb = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(6)(d =>
        (math.sin(i * 7 + d * 3) * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = Seq(
      (100L, Array.tabulate(6)(d => (math.cos(d) * 0.8).toFloat)),
      (101L, Array.tabulate(6)(d => (math.sin(d * 2) * 0.8).toFloat)))
      .toDF("q_id", "q_vec")
    val direct = Similarity.mmrTopK(emb, qs, k = 3, fetchK = 6, lambdaPct = 70)
      .select("q_id", "vec_id", "rel", "mmr", "step")
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    // externally-built brute-force candidate table → mmrRerank must
    // reproduce mmrTopK exactly (the delegation contract)
    val cand = Similarity.bruteForceTopK(emb, qs, k = 6)
      .select(col("q_id"), col("vec_id"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("rel"))
    val viaRerank = Similarity.mmrRerank(emb, cand, k = 3, lambdaPct = 70)
      .select("q_id", "vec_id", "rel", "mmr", "step")
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(viaRerank == direct)
    // a different candidate tier (binary) feeds the same pass: results
    // are a valid greedy selection FROM that candidate set
    val binCand = Similarity.binaryRerankTopK(emb, qs, coarseK = 10, k = 6,
      dims = 6)
      .select(col("q_id"), col("vec_id"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("rel"))
    val binIds = binCand.select("q_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    val viaBin = Similarity.mmrRerank(emb, binCand, k = 3, lambdaPct = 70)
      .select("q_id", "vec_id", "step").as[(Long, Long, Int)].collect()
    assert(viaBin.length == 6 &&
      viaBin.forall(r => binIds((r._1, r._2))))
    // missing rel column fails loud
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(emb, cand.drop("rel"), k = 3, lambdaPct = 70)
    }
  }

  test("binaryCode packs sign bits exactly; matchBits == dims - Hamming") {
    // 70 dims forces two words: word 0 full, word 1 holds 6 bits
    val dims = 70
    val v1 = Array.tabulate(dims)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val v2 = Array.tabulate(dims)(i => if (i % 2 == 0) -0.5f else 0.0f)
    val df = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    def pack(v: Array[Float]): Seq[Long] =
      (0 until (dims + 63) / 64).map { w =>
        (w * 64 until math.min((w + 1) * 64, dims)).foldLeft(0L) { (acc, d) =>
          if (v(d) >= 0) acc | (1L << (d - w * 64)) else acc
        }
      }
    val got = df.select(col("vec_id"),
        Similarity.binaryCode(col("embedding"), dims).as("c"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == pack(v1) && got(2L) == pack(v2))
    val hamming = (0 until dims).count(d => (v1(d) >= 0) != (v2(d) >= 0))
    val mb = df.filter(col("vec_id") === 1L)
      .select(Similarity.binaryMatchBits(
        typedLit(pack(v1)), typedLit(pack(v2)), dims))
      .as[Long].head()
    assert(mb == dims - hamming)
  }

  test("binaryRerankTopK: coarseK >= corpus recovers exact brute-force top-k") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val n = emb.count().toInt
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val exact = norm(Similarity.bruteForceTopK(emb, queries, k = 5))
    val reranked = norm(Similarity.binaryRerankTopK(emb, queries,
      coarseK = n, k = 5, dims = 64))
    assert(reranked == exact && exact.nonEmpty)
    val served = Similarity.binaryRerankTopK(emb, queries,
      coarseK = 50, k = 10, dims = 64)
      .groupBy("q_id").count().as[(Long, Long)].collect()
    assert(served.nonEmpty && served.forall(_._2 == 10L))
    intercept[IllegalArgumentException] {
      Similarity.binaryRerankTopK(emb, queries, coarseK = 5, k = 10, dims = 64)
    }
  }

  test("retrievalMetrics: perfect ranking, reversed ranking, partial, missed query") {
    val k = 3
    // ground truth for q1: docs 10 (rank 1), 11 (2), 12 (3)
    val gt = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2))
      .toDF("q_id", "vec_id", "rank")
    def metrics(rows: Seq[(Long, Long, Int)]) =
      Similarity.retrievalMetrics(gt, rows.toDF("q_id", "vec_id", "rank"), k)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // perfect ranking: dcg == idcg -> ndcg 10000, mrr 1e6
    val perfect = metrics(Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)))
    assert(perfect(1L)._1 == 3L && perfect(1L)._2 == 1000000L)
    assert(perfect(1L)._3 == perfect(1L)._4 && perfect(1L)._5 == 10000L)
    // reversed ranking: full recall, mrr still 1e6 (a relevant doc at
    // position 1), but nDCG strictly below perfect
    val reversed = metrics(Seq((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3)))
    assert(reversed(1L)._1 == 3L && reversed(1L)._2 == 1000000L)
    assert(reversed(1L)._5 < 10000L,
      s"reversed order must lose nDCG: ${reversed(1L)}")
    // the ndcg value is the exact integer fold of the driver tables
    val wantDcg = Similarity.dcgTermMicro(1, 1) +
      Similarity.dcgTermMicro(2, 2) + Similarity.dcgTermMicro(3, 3)
    assert(reversed(1L)._3 == wantDcg &&
      reversed(1L)._4 == Similarity.idcgMicro(3, 3))
    // first relevant at position 2 -> mrr = floor(1e6/2 + .5) = 500000
    val partial = metrics(Seq((1L, 99L, 1), (1L, 10L, 2), (1L, 98L, 3)))
    assert(partial(1L)._1 == 1L && partial(1L)._2 == 500000L)
    // a query the tier never answered scores zeros, not NULLs; its
    // idcg reflects its own ground-truth size (2 rows at k=3)
    assert(partial(2L) == ((0L, 0L, 0L, Similarity.idcgMicro(2, 3), 0L)))
    intercept[IllegalArgumentException] {
      Similarity.retrievalMetrics(gt, gt, k = 0)
    }
  }

  test("filtered PQ/RP/LSH-probe tiers == unfiltered over the slice") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val pred = col("label") % 2 === 0
    val slice = emb.filter(pred)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // PQ: books trained on the FULL corpus, scan filtered
    val books = pqBooksBoth(emb,
      dims = 64, m = 4, codes = 8, iters = 2)
    assert(rows(Similarity.filteredPqTopK(emb, q, k = 10, books,
        coarseK = 50, pred)) ==
      rows(Similarity.pqTopK(slice, q, k = 10, books, coarseK = 50)))
    assert(rows(Similarity.filteredRpTopK(emb, q, k = 10, outDims = 16,
        dims = 64, coarseK = 50, pred)) ==
      rows(Similarity.rpTopK(slice, q, k = 10, outDims = 16, dims = 64,
        coarseK = 50)))
    assert(rows(Similarity.filteredLshMultiProbeTopK(emb, q, k = 10,
        bits = 8, dims = 64, nprobe = 8, pred)) ==
      rows(Similarity.lshMultiProbeTopK(slice, q, k = 10, bits = 8,
        dims = 64, nprobe = 8)))
  }

  test("adaptiveNprobe: derived budget arithmetic, caps, and guards") {
    val codes = Seq.tabulate(80)(i => (i.toLong, i % 8))
      .toDF("vec_id", "label")
    // 1/2 selective at base 2 -> 4; 1/8 selective -> 16, capped at 8;
    // non-selective predicate keeps the base
    assert(Similarity.adaptiveNprobe(codes, col("label") % 2 === 0,
      baseNprobe = 2, cells = 8) == 4)
    assert(Similarity.adaptiveNprobe(codes, col("label") === 3,
      baseNprobe = 2, cells = 8) == 8)
    assert(Similarity.adaptiveNprobe(codes, col("label") >= 0,
      baseNprobe = 2, cells = 8) == 2)
    // non-divisible selectivity rounds UP (ceil): 80/30 -> ceil(16/3)=6
    assert(Similarity.adaptiveNprobe(codes, col("label") < 3,
      baseNprobe = 2, cells = 8) == 6)
    intercept[IllegalArgumentException] {
      Similarity.adaptiveNprobe(codes, col("label") === 99, 2, 8)
    }
    intercept[IllegalArgumentException] {
      Similarity.adaptiveNprobe(codes.limit(0), col("label") === 0, 2, 8)
    }
  }

  test("adaptiveLshProbeGeometry: widening ladder, saturation cap, guards") {
    // probeCapacity == the operator's subset enumeration size
    assert(Similarity.probeCapacity(6, 3) == 41)
    assert(Similarity.probeCapacity(7, 6) == 126)
    assert(Similarity.probeCapacity(8, 8) == 255)
    val corpus = Seq.tabulate(80)(i => (i.toLong, i % 8))
      .toDF("vec_id", "label")
    // non-selective predicate keeps the base budget and geometry
    assert(Similarity.adaptiveLshProbeGeometry(corpus, col("label") >= 0,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3) == ((32, 6, 3)))
    // exactly-1/2 selective at base 32 -> 64 probes = base + 63 alts;
    // flips widen 3 -> 6 (capacity 63, first >= 63) with the pool kept
    assert(Similarity.adaptiveLshProbeGeometry(corpus, col("label") % 2 === 0,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3) == ((64, 6, 6)))
    // one row past half (39/80) needs 66 probes -> the pool widens to 7
    assert(Similarity.adaptiveLshProbeGeometry(corpus,
      col("label") % 2 === 0 && col("vec_id") =!= 0,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3) == ((66, 7, 6)))
    // 1/8 selective -> 256, saturating the 2^8-bucket table with the
    // full (8, 8) enumeration — the honest brute-scan degradation
    assert(Similarity.adaptiveLshProbeGeometry(corpus, col("label") === 3,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3) == ((256, 8, 8)))
    intercept[IllegalArgumentException] {
      Similarity.adaptiveLshProbeGeometry(corpus, col("label") === 99,
        bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.adaptiveLshProbeGeometry(corpus.limit(0), col("label") === 0,
        bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3)
    }
  }

  test("filteredLshMultiProbeTopKAdaptive: == fixed operator at the derived params; saturated == brute over slice") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val predE = col("label") % 2 === 0
    val (np, p, f) = Similarity.adaptiveLshProbeGeometry(emb, predE,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3)
    assert(rows(Similarity.filteredLshMultiProbeTopKAdaptive(emb, q, k = 10,
        bits = 8, dims = 64, baseNprobe = 32, predE)) ==
      rows(Similarity.filteredLshMultiProbeTopK(emb, q, k = 10,
        bits = 8, dims = 64, nprobe = np, predE, poolSize = p, maxFlips = f)))
    // the saturated geometry probes every bucket == brute force over
    // the filtered slice (recall 1.0 by construction)
    val pred3 = col("label") === 3
    val (np3, p3, f3) = Similarity.adaptiveLshProbeGeometry(emb, pred3,
      bits = 8, baseNprobe = 32, poolSize = 6, maxFlips = 3)
    assert(np3 == 256 && p3 == 8 && f3 == 8)
    assert(rows(Similarity.filteredLshMultiProbeTopKAdaptive(emb, q, k = 10,
        bits = 8, dims = 64, baseNprobe = 32, pred3)) ==
      rows(Similarity.bruteForceTopK(emb.filter(pred3), q, k = 10)))
  }

  test("filtered ANN: pre-filter == unfiltered over the slice, metaCols ride the store") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val pred = col("label") % 2 === 0
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    // binary tier: filtered search provably equals the unfiltered
    // operator run over the pre-filtered slice (same code path)
    val fb = Similarity.filteredBinaryRerankTopK(emb, q, pred,
      coarseK = 50, k = 10, dims = 64)
    assert(rows(fb) == rows(Similarity.binaryRerankTopK(
      emb.filter(pred), q, coarseK = 50, k = 10, dims = 64)))
    // every returned candidate satisfies the predicate (pre-filter
    // semantics — no post-hoc leakage through the rerank join)
    val even = emb.filter(pred).select("vec_id").as[Long].collect().toSet
    assert(rows(fb).forall { case (_, v, _) => even.contains(v) })
    // IVF-PQ tier: metaCols denormalize into the codes store without
    // touching (vec_id, cell, codes)...
    val (coarse, books) = ivfPqBoth(emb,
      dims = 64, cells = 4, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    val codesMeta = Similarity.ivfPqCodes(emb, "vec_id", "embedding",
      coarse, books, metaCols = Seq("label"))
    assert(codesMeta.columns.toSet ==
      Set("vec_id", "label", "cell", "codes"))
    val bare = Similarity.ivfPqCodes(emb, "vec_id", "embedding", coarse, books)
    assert(codesMeta.select("vec_id", "cell", "codes")
      .exceptAll(bare).isEmpty &&
      bare.exceptAll(codesMeta.select("vec_id", "cell", "codes")).isEmpty,
      "metaCols must not perturb the encoded store")
    // ...and filter-then-probe equals the unfiltered probe over the
    // filtered store slice
    val fp = Similarity.filteredIvfPqTopKFromCodes(codesMeta, emb, q,
      k = 10, coarse, books, nprobe = 2, coarseK = 50, pred)
    val manual = Similarity.ivfPqTopKFromCodes(
      codesMeta.filter(pred).select("vec_id", "cell", "codes"),
      emb, q, k = 10, coarse, books, nprobe = 2, coarseK = 50)
    assert(rows(fp) == rows(manual))
    assert(rows(fp).forall { case (_, v, _) => even.contains(v) })
    // probing every cell + uncut coarseK recovers brute force over the
    // slice — the approximation surface stays confined to the cut
    val exhaustive = Similarity.filteredIvfPqTopKFromCodes(codesMeta, emb,
      q, k = 10, coarse, books, nprobe = 4,
      coarseK = emb.count().toInt, pred)
    assert(rows(exhaustive) ==
      rows(Similarity.bruteForceTopK(emb.filter(pred), q, 10)))
    // reserved-name collision fails loud — including the internal
    // residual-slice names _r0.._r{m-1}, which would otherwise die
    // later with an opaque ambiguous-column error
    intercept[IllegalArgumentException] {
      Similarity.ivfPqCodes(emb.withColumnRenamed("label", "cell"),
        "vec_id", "embedding", coarse, books, metaCols = Seq("cell"))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqCodes(emb.withColumnRenamed("label", "_r0"),
        "vec_id", "embedding", coarse, books, metaCols = Seq("_r0"))
    }
  }

  test("incremental IVF-PQ store: increment == rebuild, retract, refresh, guards") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val (coarse, books) = ivfPqBoth(emb,
      dims = 64, cells = 4, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    val sliceA = emb.filter(col("vec_id") % 3 === 0)
    val sliceB = emb.filter(col("vec_id") % 3 =!= 0)
    def codeRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Seq[Long])] =
      df.select("vec_id", "cell", "codes")
        .as[(Long, Long, Seq[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // arrival-time invariance: bootstrap(A) + increment(B) == rebuild(A∪B)
    val boot = Similarity.ivfPqCodes(sliceA, "vec_id", "embedding",
      coarse, books)
    val merged = Similarity.incrementalIvfPqCodes(boot, sliceB,
      "vec_id", "embedding", coarse, books)
    val rebuild = Similarity.ivfPqCodes(emb, "vec_id", "embedding",
      coarse, books)
    assert(codeRows(merged) == codeRows(rebuild))
    // ...and the merged-store probe equals the rebuild's probe
    def probe(codes: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      Similarity.ivfPqTopKFromCodes(codes, emb, q, k = 10, coarse, books,
          nprobe = 2, coarseK = 50)
        .select("q_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(probe(merged) == probe(rebuild))
    // a re-arriving id fails loud (serving stores are id-keyed)
    val e = intercept[Exception] {
      Similarity.incrementalIvfPqCodes(boot, sliceA.limit(1),
        "vec_id", "embedding", coarse, books).count()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("already in the codes store"), e.getMessage)
    // ...and so does a duplicated id WITHIN the batch (it would
    // silently double the store's probe candidates)
    val oneB = sliceB.limit(1)
    val eDup = intercept[Exception] {
      Similarity.incrementalIvfPqCodes(boot, oneB.unionByName(oneB),
        "vec_id", "embedding", coarse, books).count()
    }
    assert(eDup.getMessage != null &&
      eDup.getMessage.contains("more than once in the batch"),
      eDup.getMessage)
    // retraction: forget slice B -> back to the bootstrap store
    val shrunk = Similarity.retractIvfPqCodes(merged,
      sliceB.select("vec_id"))
    assert(codeRows(shrunk) == codeRows(boot))
    val e2 = intercept[Exception] {
      Similarity.retractIvfPqCodes(boot,
        Seq(999999L).toDF("vec_id")).count()
    }
    assert(e2.getMessage != null &&
      e2.getMessage.contains("not in the codes store"), e2.getMessage)
    // refresh: retrained index migrates the store's id slice by
    // re-encoding from the vector table == fresh bootstrap under the
    // new index; post-refresh probes and increments see one world
    val (c2, b2) = ivfPqBoth(emb,
      dims = 64, cells = 5, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    val migrated = Similarity.refreshIvfPqStore(boot, emb,
      "vec_id", "embedding", c2, b2)
    assert(codeRows(migrated) == codeRows(
      Similarity.ivfPqCodes(sliceA, "vec_id", "embedding", c2, b2)))
    // a store id missing from the vector table fails loud
    val e3 = intercept[Exception] {
      Similarity.refreshIvfPqStore(boot,
        emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
        c2, b2).count()
    }
    assert(e3.getMessage != null &&
      e3.getMessage.contains("no vector row"), e3.getMessage)
    intercept[IllegalArgumentException] {
      Similarity.incrementalIvfPqCodes(boot.drop("cell"), sliceB,
        "vec_id", "embedding", coarse, books)
    }
  }

  test("semanticContaminationFlags: celled cosine flags, probe-width recall, clean spine") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val train = emb.filter(col("vec_id") % 37 =!= 0)
    val evalSet = emb.filter(col("vec_id") % 37 === 0)
    val cents = graft.operators.Clustering.kmeansCentroidsFixed(
      train, "vec_id", "embedding", k = 5, iters = 2)
    def flags(threshold: Double, nprobe: Int): Map[Long, (Boolean, Long, Double)] =
      Similarity.semanticContaminationFlags(train, evalSet, cents,
        threshold, nprobe)
        .as[(Long, Boolean, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = flags(0.3, 2)
    // one verdict row per train doc — clean docs keep the spine with
    // zeroed metrics, never disappear
    assert(got.size == train.count())
    assert(got.values.filterNot(_._1).forall(v => v._2 == 0L && v._3 == 0.0))
    // the flags replay the celled rule exactly: local recomputation
    // over (train cell, eval nprobe cells) with 6dp cosine
    val cellsOf = graft.operators.Clustering.assignCells(
      train, "vec_id", "embedding", cents, 1e6)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    def cos6(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // eval-side probe cells via the same integer argmin
    def q(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
    val cl = cents.sortBy(_._1)
    def probeCells(v: Seq[Float], nprobe: Int): Seq[Long] = {
      val qv = q(v)
      cl.map { case (cid, cv) =>
        (cv.zip(qv).map { case (c, x) => (x - c) * (x - c) }.sum, cid.toLong)
      }.sortBy(identity).take(nprobe).map(_._2).toSeq
    }
    val evalIds = evalSet.select("vec_id").as[Long].collect()
    for ((tid, (cont, n, mx)) <- got) {
      val sims = evalIds.filter(e =>
        probeCells(vecs(e), 2).contains(cellsOf(tid)))
        .map(e => cos6(vecs(tid), vecs(e))).filter(_ >= 0.3)
      assert(cont == sims.nonEmpty && n == sims.length,
        s"doc $tid: got ($cont, $n), want ${sims.length} matches")
      if (sims.nonEmpty) assert(mx == sims.max, s"doc $tid max_sim")
    }
    // recall knob: widening the probe can only add matches
    val wide = flags(0.3, cents.length)
    assert(got.keys.forall(tid => wide(tid)._2 >= got(tid)._2))
    assert(wide.values.count(_._1) >= got.values.count(_._1))
    intercept[IllegalArgumentException] {
      Similarity.semanticContaminationFlags(train, evalSet, cents, 0.3,
        nprobe = cents.length + 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.semanticContaminationFlags(train, evalSet, cents, 0.0)
    }
    // the merge algebra: for disjoint eval sets (benchmarks), flags
    // over the union == merge of the per-benchmark flags — the law
    // that makes a new benchmark a delta pass, never a full re-flag
    val e1 = evalSet.filter(col("vec_id") % 2 === 0)
    val e2 = evalSet.filter(col("vec_id") % 2 =!= 0)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Boolean, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val merged = asMap(Similarity.mergeContaminationFlags(
      Similarity.semanticContaminationFlags(train, e1, cents, 0.3, 2),
      Similarity.semanticContaminationFlags(train, e2, cents, 0.3, 2)))
    assert(merged == got, "merge of disjoint-benchmark flags must equal" +
      " the union flags")
    // drifted train snapshots fail loud
    val eDrift = intercept[Exception] {
      Similarity.mergeContaminationFlags(
        Similarity.semanticContaminationFlags(train, e1, cents, 0.3, 2),
        Similarity.semanticContaminationFlags(
          train.filter(col("vec_id") =!= 1L), e2, cents, 0.3, 2)).count()
    }
    assert(eDrift.getMessage != null &&
      eDrift.getMessage.contains("one side only"), eDrift.getMessage)
  }

  test("ivfPqIndexRecords: save/load round-trip is lossless, probes identically") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val (coarse, books) = ivfPqBoth(emb,
      dims = 64, cells = 4, cellIters = 2, m = 4, codes = 8, pqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    Similarity.ivfPqIndexRecords(spark, coarse, books)
      .write.mode("overwrite").parquet(dir)
    val (c2, b2) = Similarity.ivfPqIndexFromRecords(spark.read.parquet(dir))
    assert(c2.map(x => (x._1, x._2.toSeq)).toSeq ==
      coarse.map(x => (x._1, x._2.toSeq)).toSeq)
    assert(b2.map(_.map(x => (x._1, x._2.toSeq)).toSeq).toSeq ==
      books.map(_.map(x => (x._1, x._2.toSeq)).toSeq).toSeq)
    def probe(c: Array[(Int, Array[Long])],
        b: Array[Array[(Int, Array[Long])]]): Set[(Long, Long, Int)] =
      Similarity.ivfPqTopK(emb, q, k = 10, c, b, nprobe = 2, coarseK = 50)
        .select("q_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(probe(c2, b2) == probe(coarse, books))
    // malformed stores fail loud, never probe wrong
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexFromRecords(
        spark.read.parquet(dir).filter(col("part") =!= -1))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexFromRecords(
        spark.read.parquet(dir).filter(col("part") =!= 2))
    }
    // a double-written / version-mixed table has duplicate (part, cid)
    // rows — repeated entries would silently change probe tie-breaking
    val once = spark.read.parquet(dir)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexFromRecords(once.unionByName(once))
    }
  }

  test("retrievalMetrics: ground truth deeper than k fails loud, not silent NULLs") {
    val ann = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("q_id", "vec_id", "rank")
    // rank 4 at k=3: _rel would be <= 0 (a dcgMap miss) — must raise
    val deepRank = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4))
      .toDF("q_id", "vec_id", "rank")
    val e1 = intercept[Exception] {
      Similarity.retrievalMetrics(deepRank, ann, k = 3).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("exceeds k"),
      s"expected the depth guard, got: ${e1.getMessage}")
    // 4 rows per query with ranks <= k (a duplicated rank): _ngt
    // beyond the idcgMap — must raise, not NULL idcg/ndcg
    val deepCount = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 3))
      .toDF("q_id", "vec_id", "rank")
    val e2 = intercept[Exception] {
      Similarity.retrievalMetrics(deepCount, ann, k = 3).collect()
    }
    assert(e2.getMessage != null &&
      e2.getMessage.contains("more than k"),
      s"expected the count guard, got: ${e2.getMessage}")
  }
}
