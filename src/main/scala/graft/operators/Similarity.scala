package graft.operators

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate
import graft.functions.Native

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), on the
  * driver's `embeddings(vec_id, embedding, label)` table.
  *
  * Scale design:
  *  - Brute force is the correctness baseline: queries are broadcast
  *    (a query set is always "small"); the corpus is never shuffled —
  *    each corpus partition scores its rows against every query and
  *    pre-reduces to a bounded per-partition top-k heap
  *    (`TopK.topKPerGroup`), so the one shuffle carries ≤k entries per
  *    (query × partition) instead of every scored row.
  *  - The scale path buckets the corpus by an LSH sign-signature
  *    (random-hyperplane cosine sketch); queries probe only their own
  *    bucket (+ optional multi-probe). Corpus-side work drops by the
  *    bucket fanout; recall is tunable by signature width/probes.
  *  - IVF cell assignment is a pure map-side argmax against the
  *    (bounded, driver-collected) centroid set folded into the plan as
  *    literals — zero shuffle between the scan and the cell id.
  *  - Dot products run in the native codegen kernel
  *    ([[graft.functions.Native.dot]]): a sequential left fold after
  *    the float→double widening, so float summation order is
  *    deterministic and matches any engine that folds left (DuckDB
  *    `list_dot_product`).
  */
object Similarity {

  /** Dot product of two array<float|double> columns in double
    * precision, folded left to right (null on a length mismatch), via
    * the native codegen kernel. `df` is not read. */
  def dotAuto(df: DataFrame, a: Column, b: Column): Column = Native.dot(a, b)

  /** Cosine similarity over [[dotAuto]], rounded to 6 decimals for
    * cross-engine float stability (fold order is fixed; the rounding
    * absorbs the last-ulp noise from double formatting). */
  def cosineAuto(a: Column, b: Column): Column =
    round(Native.dot(a, b) / (sqrt(Native.dot(a, a)) * sqrt(Native.dot(b, b))), 6)

  /** Symmetric int8 quantization per vector (the storage/bandwidth
    * lever for billion-vector ANN: 4× smaller than float32, dot
    * products stay SIMD-able): scale = max|v| / 127, q_i = round(v_i /
    * scale) with half-up-toward-+∞ expressed as floor(x + 0.5) — the
    * one rounding form every engine computes identically (no
    * banker's-rounding ambiguity). All-zero vectors quantize to zeros
    * with scale 0. Embarrassingly parallel map, no shuffle.
    *
    * Elements widen float→double FIRST so the divisions are exact IEEE
    * double ops in every engine. The quantized vector is emitted as a
    * comma-joined string (engine-neutral rendering). */
  /** Per-vector int8 code array (long-typed elements for exact integer
    * arithmetic downstream). */
  def quantizeInt8Vec(vec: Column): Column = {
    val vd = transform(vec, v => v.cast("double"))
    val maxAbs = array_max(transform(vd, v => abs(v)))
    when(maxAbs > 0,
      transform(vd, v => floor(v / (maxAbs / 127.0) + 0.5)))
      .otherwise(transform(vd, v => lit(0L)))
  }

  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = transform(col(vecCol), v => v.cast("double"))
    val maxAbs = array_max(transform(vd, v => abs(v)))
    emb.select(col(idCol),
      round(maxAbs / 127.0, 6).as("scale6"),
      array_join(transform(quantizeInt8Vec(col(vecCol)), _.cast("string")), ",")
        .as("qvec"))
  }

  /** Integer dot product of two quantized code arrays — EXACT in every
    * engine (no float summation-order concerns at all), the rescoring
    * arithmetic of a quantized ANN index. */
  def quantizedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Brute-force top-k over int8-quantized vectors: corpus codes stay
    * partition-local (4× smaller than float32 — the reason quantized
    * rescoring wins at billions of vectors), queries broadcast, scores
    * are exact integers, and the one shuffle carries ≤k entries per
    * (query × partition) through the bounded-heap aggregator. Ties
    * break (score desc, vec_id asc), deterministically — integer
    * scores make ties common, so exact tie semantics matter here. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spread(corpus)
      .select(col("vec_id"), quantizeInt8Vec(col("embedding")).as("cq"))
    val q = queries.select(col("q_id"), quantizeInt8Vec(col("q_vec")).as("qq"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        quantizedDot(col("cq"), col("qq")).as("score"))
    TopK.topKPerGroup(scored, "q_id", "vec_id", "score", k)
      .select(col("q_id"), col("vec_id"),
        col("score").cast("long").as("score"), col("rank"))
  }

  /** Two-stage quantized-coarse → exact-refine top-k — the standard
    * billion-vector serving shape: stage 1 scores int8 codes (exact
    * integer dots over 4×-smaller data) and keeps `coarseK` candidates
    * per query; stage 2 re-scores ONLY those candidates with exact
    * float cosine and keeps `k`. The candidate set is (queries ×
    * coarseK) rows — broadcast back into the corpus by id, so the
    * expensive float pass reads coarseK vectors per query instead of
    * the corpus. Determinism is exact at both stages: integer scores +
    * id tie-break coarse, 6dp-rounded cosine + id tie-break fine.
    * Recall is the coarse stage's to lose — int8 symmetric
    * quantization preserves dot-product ORDER except near-ties, which
    * is why coarseK ≫ k is the serving convention. */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame,
      coarseK: Int, k: Int): DataFrame = {
    require(k <= coarseK, s"k=$k must be <= coarseK=$coarseK")
    val cand = quantizedTopK(corpus, queries, coarseK)
      .select(col("q_id"), col("vec_id"))
    val rescored = corpus
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score", cosineAuto(col("embedding"), col("q_vec")))
    finishTopK(rescored, "q_id", "vec_id", k)
  }

  /** BINARY (sign-bit) quantization code: bit d is set iff vec[d] ≥ 0,
    * packed into ⌈dims/64⌉ BIGINT words — 32× smaller than float32
    * (64-dim float32 = 256 bytes → 8 bytes). A sign COMPARISON, not
    * arithmetic, so the code is trivially bit-identical on any engine
    * (no rounding contract needed at all — the simplest member of the
    * quantization family). */
  def binaryCode(vec: Column, dims: Int): Column = {
    val words = (dims + 63) / 64
    array((0 until words).map { w =>
      (w * 64 until math.min((w + 1) * 64, dims)).map { d =>
        when(vec.getItem(d) >= 0, lit(1L << (d - w * 64))).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
  }

  /** Number of AGREEING sign bits between two packed codes
    * (= dims − Hamming distance): per-word `bit_count(xor)` summed,
    * subtracted from dims. Pure integer ops — xor + popcount per
    * word replaces dims multiply-adds, the asymptotic win of binary
    * quantization scoring. */
  def binaryMatchBits(a: Column, b: Column, dims: Int): Column =
    lit(dims.toLong) - aggregate(
      zip_with(a, b, (x, y) => call_function("bit_count", x.bitwiseXOR(y))
        .cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Two-stage BINARY-quantization top-k — the 1-bit rung of the
    * quantization ladder (int8 [[quantizedRerankTopK]] → PQ →
    * binary): stage 1 scores packed sign codes by agreeing-bit count
    * (integer xor+popcount over 32×-smaller data, ties broken by
    * vec_id) and keeps `coarseK` per query; stage 2 re-scores only
    * those candidates with exact float cosine. At 10⁹ vectors the
    * coarse pass reads 8 bytes/vector instead of 256 and does
    * words popcounts instead of dims multiplies — the cheapest
    * full-scan filter that still correlates with cosine (sign
    * agreement is a monotone proxy for angular similarity; Charikar
    * 2002 sim-hash collision bound). Corpus codes stay map-side
    * (codes computed in the scan projection, never shuffled at
    * width); queries broadcast; the one shuffle is the bounded-heap
    * coarse top-k. */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame,
      coarseK: Int, k: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(k <= coarseK, s"k=$k must be <= coarseK=$coarseK")
    val c = spread(corpus)
      .select(col(idCol), binaryCode(col(vecCol), dims).as("_cc"))
    val q = queries.select(col(qIdCol), binaryCode(col(qVecCol), dims).as("_qc"))
    val coarse = c.crossJoin(broadcast(q))
      .select(col(qIdCol), col(idCol),
        binaryMatchBits(col("_cc"), col("_qc"), dims).as("score"))
    val cand = TopK.topKPerGroup(coarse, qIdCol, idCol, "score", coarseK)
      .select(col(qIdCol), col(idCol))
    val rescored = corpus
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries), Seq(qIdCol))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(rescored, qIdCol, idCol, k)
  }

  /** Train PRODUCT-QUANTIZATION codebooks (X150; Jégou et al. 2011,
    * "Product quantization for nearest neighbor search"): the
    * `dims`-dim space splits into `m` contiguous sub-spaces of
    * dims/m each, and each sub-space gets its own k-means codebook
    * ([[Clustering.kmeansCentroidsFixed]] — the exact fixed-point
    * Lloyd loop, so codebooks and therefore codes and LUT scores are
    * bit-identical on any engine). Memory is the point: a vector
    * stores as m sub-codes (m·log₂(codes) bits — 64-dim float32 at
    * m=4, 16 codes is 256 bytes → 2 bytes, 128×) while brute scoring
    * drops from dims multiplies to m table lookups per pair.
    *
    * Scale shape: a corpus within the k-means gate (at most
    * `LocalGate.Threshold` `dims`-long vectors that fit within half of
    * `spark.driver.maxResultSize`, each sub-space round within
    * [[Clustering.LocalRoundWork]] multiply-adds) comes to the driver
    * in ONE bounded collect that trains all m codebooks; above it each
    * sub-space runs the distributed Lloyd loop (one job per round). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, codes: Int, iters: Int,
      scale: Double = 1e6): Array[Array[(Int, Array[Long])]] =
    pqCodebooks(corpus, idCol, vecCol, dims, m, codes, iters, scale, LocalGate.Threshold)

  /** [[pqCodebooks]] with its gate at `localThreshold` rows (0 forces
    * the distributed loops). */
  private[graft] def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, codes: Int, iters: Int, scale: Double,
      localThreshold: Long): Array[Array[(Int, Array[Long])]] = {
    require(m > 0 && dims > 0 && dims % m == 0,
      s"pqCodebooks: dims=$dims must split evenly into m=$m sub-vectors")
    val subDim = dims / m
    Clustering.driverCorpus(corpus, idCol, vecCol, scale, Some(dims),
        _ => codes.toLong * subDim, localThreshold) match {
      case Some(rows) =>
        // quantizing then slicing == slicing then quantizing: fixedPoint
        // is element-wise
        return (0 until m).map { i =>
          Clustering.lloyd(rows.map { case (id, v) =>
            (id, v.slice(i * subDim, (i + 1) * subDim)) }, codes, iters)
        }.toArray
      case None =>
    }
    (0 until m).map { i =>
      Clustering.kmeansCentroidsFixed(
        corpus.select(col(idCol),
          slice(col(vecCol), i * subDim + 1, subDim).as(vecCol)),
        idCol, vecCol, codes, iters, scale, localThreshold = 0L)
    }.toArray
  }

  /** PQ-coarse → exact-rerank top-k — the memory-tier ANN serving
    * shape (X150), completing the repo's compression ladder (float32
    * brute → int8 [[quantizedRerankTopK]] 4× → PQ 32-128×): corpus
    * vectors ENCODE once to m sub-codes (map-side argmin per sub-space,
    * the k-means assignment rule, in one native loop over the codebooks
    * held as a plan constant — [[Native.pqEncode]], zero shuffles);
    * each query builds its asymmetric distance LUT (exact integer dot
    * of its fixed-point sub-vector with every codebook entry — m·codes
    * values, computed once per query, [[Native.adcLut]]);
    * scoring a pair is then m array lookups + an integer sum
    * (`lut[i][code[i]]` — the ADC trick that makes PQ fast,
    * [[Native.adcScore]]), top
    * `coarseK` per query via the bounded-heap aggregator, and the
    * float-cosine rerank joins ONLY those candidates back by id
    * (X7c's shape). Integer LUT scores + id tie-breaks keep both
    * stages hash-deterministic. The corpus never shuffles; queries
    * and their LUTs broadcast. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebooks: Array[Array[(Int, Array[Long])]], coarseK: Int,
      scale: Double = 1e6): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqTopK: empty codebooks")
    require(k <= coarseK, s"k=$k must be <= coarseK=$coarseK")
    // encode: per sub-space, the nearest codeword (min dist, ties to
    // the lowest code id), exactly the k-means assignment rule
    val codesDf = spread(corpus).select(col("vec_id"),
      Native.pqEncode(Clustering.fixedPoint(col("embedding"), scale), codebooks)
        .as("_codes"))
    // per-query ADC lookup table: lut[i][c] = <query sub i, codebook
    // entry c> as an exact integer dot (fixed-point both sides; |x| ≤
    // scale ⇒ per-product ≤ scale², sub-sums ≪ Long.Max)
    val qLut = queries.select(col("q_id"),
      Native.adcLut(Clustering.fixedPoint(col("q_vec"), scale), codebooks, dot = true)
        .as("_lut"))
    val scored = codesDf.crossJoin(broadcast(qLut))
      .select(col("q_id"), col("vec_id"),
        Native.adcScore(col("_codes"), col("_lut")).as("score"))
    val cand = finishTopK(scored, "q_id", "vec_id", coarseK)
      .select(col("q_id"), col("vec_id"))
    val rescored = corpus
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score", cosineAuto(col("embedding"), col("q_vec")))
    finishTopK(rescored, "q_id", "vec_id", k)
  }

  /** Fixed-point L2 NORMALIZATION with a fully documented rounding
    * contract (the ingest-time option that closes IVF-PQ's metric
    * gap): v quantizes to exact integers q = floor(v·scale + 0.5),
    * then each element renormalizes to n_i = floor(q_i·scale/‖q‖ +
    * 0.5) where ‖q‖ = sqrt(Σq_i²). Every intermediate is exactly
    * representable — Σq_i² is an exact BIGINT ≪ 2⁵³, sqrt of an
    * exactly-representable double is IEEE-correctly-rounded in any
    * engine, q_i·scale stays under 2⁵³, and the divide is one more
    * correctly-rounded op — so the OUTPUT integers are bit-identical
    * on any engine (the same argument that makes [[quantizeInt8Vec]]
    * portable). Normalized vectors all sit on the ‖·‖ ≈ scale sphere,
    * where squared L2 order EQUALS cosine order (‖a−b‖² = 2·scale² −
    * 2·a·b up to rounding) — which is exactly what lets an L2
    * residual quantizer ([[ivfPqIndex]] at scale 1.0 over these
    * integers) serve a cosine ground truth without a metric mismatch.
    * All-zero vectors pass through unscaled (no direction to keep).
    *
    * The contract is ENFORCED, not assumed (the substringToks /
    * cdcChunks fail-loud convention): a vector whose quantized
    * magnitude would overflow the exact-BIGINT window — any |q_i| >
    * floor(sqrt(2⁵³)) (q_i² no longer exactly representable, and past
    * ~3·10⁹ the BIGINT square itself wraps), Σq_i² ≥ 2⁵³ (the sum
    * leaves the exact-double window; a wrapped-negative sum is the
    * same failure observed later), or |q_i|·scale ≥ 2⁵³ (the
    * renormalization numerator loses exactness) — raises instead of
    * silently emitting approximately-normalized integers that would
    * break the cross-engine bit-identity downstream indexes rely on. */
  def normalizeFixedPoint(vec: Column, scale: Double = 1e6): Column = {
    val qv = Clustering.fixedPoint(vec, scale)
    val exactBound = 9007199254740992L // 2^53
    val maxSafeQ = 94906265L // floor(sqrt(2^53))
    // ONE sum-of-squares aggregate serves both the guard and the
    // normalization (on valid input they are the same value), and the
    // squares go through try_multiply so an element past ~3·10⁹ shows
    // up as a NULL sum for the guard instead of an ANSI overflow with
    // the wrong message. Keeping the expression tree flat matters:
    // HOF aggregates are interpreted, and an earlier guard draft that
    // chained when(...)-wrapped copies of qv re-evaluated the
    // quantization ~6× per row — a measured 2.7× slowdown on the
    // ivfpq_norm gate query.
    val maxAbs = array_max(transform(qv, q => abs(q)))
    val s2 = aggregate(transform(qv, q => try_multiply(q, q)),
      lit(0L), (acc, v) => acc + v)
    val bad = maxAbs > maxSafeQ ||
      maxAbs.cast("double") * scale >= exactBound.toDouble ||
      (maxAbs.isNotNull && s2.isNull) || s2 < 0L || s2 >= exactBound
    when(bad,
      raise_error(concat(
        lit("normalizeFixedPoint: vector breaks the exact-integer contract " +
          s"(need every |q| <= $maxSafeQ, |q|*scale < 2^53 at scale=$scale, " +
          "and sum(q^2) < 2^53) — max|q|="),
        coalesce(maxAbs.cast("string"), lit("NULL")),
        lit(", sum_q2="), coalesce(s2.cast("string"), lit("NULL")))))
      .otherwise(
        when(s2 > 0,
          transform(qv, q =>
            floor(q.cast("double") * scale / sqrt(s2.cast("double")) + 0.5)
              .cast("long")))
          .otherwise(qv))
  }

  /** (id, cell, rv) — each vector's coarse cell plus its EXACT integer
    * residual (fixed-point vector minus the assigned centroid,
    * element-wise BIGINT subtraction — no re-quantization round
    * trip, [[Native.residual]]), the shared front half of IVF-PQ
    * training and encoding. */
  private def residualFrame(df: DataFrame, idCol: String, vecCol: String,
      coarseCents: Array[(Int, Array[Long])], scale: Double,
      metaCols: Seq[String] = Nil): DataFrame = {
    val q = df.select(
      (col(idCol) +: metaCols.map(col)) :+
        Clustering.fixedPoint(col(vecCol), scale).as("qv"): _*)
    Clustering.assignTo(coarseCents)(q)
      .select(
        (col(idCol) +: metaCols.map(col)) :+ col("cluster").as("cell") :+
          Native.residual(col("qv"), col("cluster"), coarseCents).as("rv"): _*)
  }

  /** Train an IVF-PQ index (X151; Jégou et al. 2011 §IV) — the
    * composed billion-vector serving shape: a coarse quantizer shards
    * the corpus into cells, and PQ codebooks quantize the RESIDUAL
    * (vector − cell centroid), which is far more compressible than
    * the raw vector because the coarse step already removed the
    * between-cell variance. Both stages are the exact fixed-point
    * k-means; residuals live in the integer domain (scale 1.0 pass
    * through [[Clustering.fixedPoint]] is the identity on integers),
    * so the whole index — cells, residuals, codewords, codes — is
    * bit-identical on any engine. Returns (coarse centroids,
    * per-sub-space residual codebooks).
    *
    * Scale shape: a corpus within the k-means gate (at most
    * `LocalGate.Threshold` `dims`-long vectors that fit within half of
    * `spark.driver.maxResultSize`, the coarse and each sub-space round
    * within [[Clustering.LocalRoundWork]] multiply-adds) comes to the
    * driver in ONE bounded collect, which feeds the coarse training,
    * the exact residuals and all m codebooks; nothing is persisted.
    * Above it the coarse and sub-space trainings run the distributed
    * Lloyd loop (one job per round) over a persisted residual frame. */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, cells: Int, cellIters: Int,
      m: Int, codes: Int, pqIters: Int,
      scale: Double = 1e6): (Array[(Int, Array[Long])], Array[Array[(Int, Array[Long])]]) =
    ivfPqIndex(corpus, idCol, vecCol, dims, cells, cellIters, m, codes, pqIters, scale,
      LocalGate.Threshold)

  /** [[ivfPqIndex]] with its gate at `localThreshold` rows (0 forces the
    * distributed loops). */
  private[graft] def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, cells: Int, cellIters: Int, m: Int, codes: Int, pqIters: Int,
      scale: Double, localThreshold: Long)
      : (Array[(Int, Array[Long])], Array[Array[(Int, Array[Long])]]) = {
    require(m > 0 && dims > 0 && dims % m == 0,
      s"ivfPqIndex: dims=$dims must split evenly into m=$m sub-vectors")
    val subDim = dims / m
    Clustering.driverCorpus(corpus, idCol, vecCol, scale, Some(dims),
        _ => math.max(cells.toLong * dims, codes.toLong * subDim), localThreshold) match {
      case Some(rows) =>
        val coarse = Clustering.lloyd(rows, cells, cellIters)
        val cents = coarse.map(_._2)
        // the residual frame's subtraction, which raises on overflow
        val res = rows.map { case (id, v) =>
          val c = cents(Clustering.nearest(cents, v))
          (id, Array.tabulate(v.length)(j => Math.subtractExact(v(j), c(j))))
        }
        // each sub-space re-quantizes its residual slice at scale 1.0,
        // as the distributed form's array<double> cast does
        val books = (0 until m).map { i =>
          Clustering.lloyd(res.map { case (id, r) =>
            (id, r.slice(i * subDim, (i + 1) * subDim)
              .map(x => Clustering.fixedPointLocal(x.toDouble, 1.0)))
          }, codes, pqIters)
        }.toArray
        return (coarse, books)
      case None =>
    }
    val coarse = Clustering.kmeansCentroidsFixed(
      corpus, idCol, vecCol, cells, cellIters, scale, localThreshold = 0L)
    val res = graft.core.Caches.persistTracked(
      residualFrame(corpus, idCol, vecCol, coarse, scale))
    val books = (0 until m).map { i =>
      Clustering.kmeansCentroidsFixed(
        res.select(col(idCol),
          slice(col("rv"), i * subDim + 1, subDim)
            .cast("array<double>").as("rv")),
        idCol, "rv", codes, pqIters, scale = 1.0, localThreshold = 0L)
    }.toArray
    (coarse, books)
  }

  /** IVF-PQ search — coarse-probe + residual-ADC + exact rerank, the
    * plan every 10⁹⁺-vector serving stack runs: the corpus is stored
    * as (cell, m sub-codes) — 16 bits/vector at the gate config — and
    * a query probes only its `nprobe` nearest cells, so the scored
    * row count drops by ~cells/nprobe AND each scored row costs m
    * table lookups instead of dims multiplies. Concretely: corpus
    * rows encode map-side (native kernels over the centroids and
    * codebooks held as plan constants, zero shuffles); each query
    * explodes to its nprobe (cell, LUT) rows
    * where LUT[i][c] = exact integer sqdist of the query's residual
    * sub-vector to codeword c (ADC in the residual domain —
    * approximates ‖q − x‖²); the probe is a broadcast EQUI-join on
    * cell (never a corpus scan per query — the structural win over
    * flat PQ's cross join); coarse top-`coarseK` per query by
    * ascending approximate distance (integer ties break to lowest
    * id), float-cosine rerank to top-k. All-integer coarse scores
    * keep the whole pipeline hash-deterministic. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      nprobe: Int, coarseK: Int, scale: Double = 1e6): DataFrame =
    ivfPqTopKFromCodes(
      ivfPqCodes(spread(corpus), "vec_id", "embedding",
        coarseCents, codebooks, scale),
      corpus, queries, k, coarseCents, codebooks, nprobe, coarseK, scale)

  /** Map-side IVF-PQ ENCODE under a FROZEN index (X157) — each vector
    * becomes its serving-store row (id, cell, codes): coarse cell by
    * the exact integer argmin, then per sub-space the nearest residual
    * codeword (k-means' tie rule), each one native loop over codebooks
    * held as plan constants ([[Native.nearestK]], [[Native.residual]],
    * [[Native.pqEncode]]). Pure projection, zero shuffles — the encode
    * is embarrassingly parallel
    * and ARRIVAL-TIME-INVARIANT (a vector gets identical codes whether
    * it was in the bootstrap corpus or lands in a later increment —
    * the same frozen-quantizer contract as [[semanticStoreRecords]]),
    * which is what makes an append-only codes store exact. Rows are
    * id-keyed and independent, so store maintenance is trivial by
    * construction: increment = encode + append (no store read),
    * retraction = anti-join by id — no recomputation, no sibling
    * invalidation. The store is what [[ivfPqTopKFromCodes]] probes;
    * re-encoding under a NEW index is a [[refreshQuantizer]]-style
    * store migration (one scan + rewrite). */
  def ivfPqCodes(vecs: DataFrame, idCol: String, vecCol: String,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      scale: Double = 1e6, metaCols: Seq[String] = Nil): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "ivfPqCodes: empty codebooks")
    require(coarseCents.nonEmpty, "ivfPqCodes: empty coarse centroids")
    require(!metaCols.exists(c =>
      Set("vec_id", "cell", "codes", "qv", "rv", "cluster", "dist",
        "_best")(c)),
      s"ivfPqCodes: metaCols collide with reserved store/internal names " +
        s"(vec_id, cell, codes, qv, rv, cluster, dist, _best): " +
        metaCols.mkString(", "))
    // cell + residual -> m codes (map-side argmin per sub-space;
    // k-means' tie rule). metaCols denormalize filterable attributes
    // INTO the store row (lang, source, license, ...) — still a pure
    // projection, and the one design that lets a later
    // predicate-constrained search run as a scan filter on the codes
    // store instead of an id join.
    val res = residualFrame(vecs, idCol, vecCol, coarseCents, scale, metaCols)
    res.select(
      (col(idCol).cast("long").as("vec_id") +: metaCols.map(col)) :+ col("cell") :+
        Native.pqEncode(col("rv"), codebooks).as("codes"): _*)
  }

  /** IVF-PQ probe against a PRE-ENCODED codes store (X157) — the
    * actual serving read path: the index trained once, the corpus
    * encoded once ([[ivfPqCodes]]), and every query afterwards touches
    * only (id, cell, codes) rows — 16 bits/vector at the gate config —
    * plus the float vectors of its coarseK rerank candidates, fetched
    * from `rerankVecs` by a candidate-bounded join (k·|queries| ids,
    * broadcast). [[ivfPqTopK]] is exactly this composed with an inline
    * encode; the split is what turns the per-query cost from
    * "re-encode the corpus" into "probe nprobe cells of the store". */
  def ivfPqTopKFromCodes(codes: DataFrame, rerankVecs: DataFrame,
      queries: DataFrame, k: Int,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      nprobe: Int, coarseK: Int, scale: Double = 1e6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "ivfPqTopK: empty codebooks")
    require(coarseCents.nonEmpty, "ivfPqTopK: empty coarse centroids")
    require(k <= coarseK, s"k=$k must be <= coarseK=$coarseK")
    require(nprobe >= 1 && nprobe <= coarseCents.length,
      s"nprobe=$nprobe must be in [1, ${coarseCents.length}]")
    require(Set("vec_id", "cell", "codes").subsetOf(codes.columns.toSet),
      s"ivfPqTopKFromCodes: codes store needs vec_id/cell/codes " +
        s"(ivfPqCodes' schema), got ${codes.columns.mkString(", ")}")
    // queries: nprobe nearest cells by the SAME integer argmin, then
    // per probed cell the query residual and its m x codes sqdist LUT
    val qq = queries.select(col("q_id"),
      Clustering.fixedPoint(col("q_vec"), scale).as("_qv"))
    val probed = qq
      .withColumn("_pc", explode(Native.nearestK(col("_qv"), coarseCents, nprobe)))
      .select(col("q_id"), col("_qv"), col("_pc").getField("c").as("cell"))
    val lut = probed.select(col("q_id"), col("cell"),
      Native.adcLut(Native.residual(col("_qv"), col("cell"), coarseCents), codebooks,
        dot = false).as("_lut"))
    // the probe: keyed equi-join on cell — approximate distance is the
    // LUT sum, negated so the shared desc-top-k ranks ascending dist
    val scored = codes.select(col("vec_id"), col("cell"), col("codes"))
      .join(broadcast(lut), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        (-Native.adcScore(col("codes"), col("_lut"))).as("score"))
    val cand = finishTopK(scored, "q_id", "vec_id", coarseK)
      .select(col("q_id"), col("vec_id"))
    val rescored = rerankVecs
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("embedding"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("score", cosineAuto(col("embedding"), col("q_vec")))
    finishTopK(rescored, "q_id", "vec_id", k)
  }

  /** FILTERED (predicate-constrained) binary-rerank top-k (X198) —
    * the most common real retrieval call: "top-k among lang='en' AND
    * source=X", not top-k over the whole corpus. This is PRE-filter
    * semantics (the only correct kind for a scan tier): the metadata
    * predicate is pushed INTO the corpus scan BEFORE coding, so
    *
    *  - the coarse xor+popcount pass reads only qualifying rows — on
    *    a selective predicate the scan cost drops by the selectivity,
    *    and when `pred` hits a partition/stats column the parquet
    *    reader prunes row groups before decoding anything;
    *  - every candidate satisfies `pred` by construction, so the
    *    exact-rerank contract is untouched and the result provably
    *    equals [[binaryRerankTopK]] over the filtered slice;
    *  - recall CANNOT collapse with selectivity — the coarse stage
    *    ranks coarseK candidates out of the qualifying rows only, so
    *    a 1%-selective predicate makes the coarse budget ~100× MORE
    *    generous relative to its slice, never less (the opposite of
    *    post-filtering a fixed top-k, which starves: top-50 overall
    *    may contain zero qualifying rows).
    *
    * POST-filter (search first, filter after) is the tempting wrong
    * plan and deliberately not offered: it reads the whole corpus AND
    * under-fills k on selective predicates. */
  def filteredBinaryRerankTopK(corpus: DataFrame, queries: DataFrame,
      pred: Column, coarseK: Int, k: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame =
    binaryRerankTopK(corpus.filter(pred), queries, coarseK, k, dims,
      idCol, vecCol, qIdCol, qVecCol)

  /** FILTERED IVF-PQ probe against a pre-encoded codes store (X198) —
    * filter-THEN-probe under a frozen index: the metadata predicate
    * evaluates on the codes-store row itself (attributes denormalized
    * at encode time via [[ivfPqCodes]]' `metaCols` — the production
    * store layout), so the filter is a SCAN predicate on 16-bit/vector
    * store rows, pushed to parquet like any other filter: zero joins,
    * and the probe's cell equi-join then touches only qualifying
    * codes. Candidates inherit `pred`, the exact float-cosine rerank
    * contract is untouched, and the result provably equals the
    * unfiltered probe over the filtered store slice.
    *
    * Recall under selective predicates: nprobe stays a CELL budget,
    * not a row budget — probing the query's nprobe nearest cells
    * scans whatever qualifying rows live there, so selectivity thins
    * each cell uniformly (in expectation) rather than starving the
    * candidate set the way post-filtering a fixed top-k would. The
    * failure mode that remains (a predicate CORRELATED with cell
    * geometry empties the probed cells) is the caller's signal to
    * raise nprobe — measured in the q_filtered_ann_recall gate rather
    * than hidden. The centroids/codebooks stay trained on the FULL
    * corpus: retraining per predicate would make results
    * filter-dependent and the store unshareable. */
  def filteredIvfPqTopKFromCodes(codes: DataFrame, rerankVecs: DataFrame,
      queries: DataFrame, k: Int,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      nprobe: Int, coarseK: Int, pred: Column, scale: Double = 1e6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqTopKFromCodes(
      codes.filter(pred).select(col("vec_id"), col("cell"), col("codes")),
      rerankVecs, queries, k, coarseCents, codebooks, nprobe, coarseK,
      scale, idCol, vecCol)

  /** FILTERED PQ top-k (X198 extended to the PQ tier): pre-filter
    * semantics — the predicate pushes into the corpus scan BEFORE
    * encoding, so candidates inherit it and the result provably
    * equals [[pqTopK]] over the filtered slice (encoding is per-row
    * independent, so filter-then-encode ≡ encode-then-filter).
    * Codebooks stay trained on the FULL corpus — a shared quantizer
    * must serve every predicate; retraining per filter would make
    * results filter-dependent. */
  def filteredPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebooks: Array[Array[(Int, Array[Long])]], coarseK: Int,
      pred: Column, scale: Double = 1e6): DataFrame =
    pqTopK(corpus.filter(pred), queries, k, codebooks, coarseK, scale)

  /** FILTERED random-projection top-k (X198 extended to the RP tier):
    * the predicate pushes into the corpus scan before the projection
    * — the RP matrix is a deterministic function of (plane, dim), so
    * there is no trained state to share and pre-filtering is exactly
    * [[rpTopK]] over the slice; the scan-cost and recall arguments
    * are [[filteredBinaryRerankTopK]]'s verbatim (coarseK candidates
    * out of fewer qualifying rows — recall RISES with selectivity). */
  def filteredRpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      outDims: Int, dims: Int, coarseK: Int, pred: Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      scale: Double = 1e6): DataFrame =
    rpTopK(corpus.filter(pred), queries, k, outDims, dims, coarseK,
      idCol, vecCol, qIdCol, qVecCol, scale)

  /** FILTERED trained-PCA top-k (X198 extended to the sixth serving
    * tier): the predicate pushes into the corpus scan before the
    * projection; the component matrix stays FULL-CORPUS-trained (a
    * shared projection must serve every predicate — the X198
    * shared-index rule, and the X220 moment store is predicate-blind
    * by construction), so pre-filtering is exactly [[pcaTopK]] over
    * the slice with the same comps literal; scan-cost and recall
    * arguments are [[filteredBinaryRerankTopK]]'s verbatim. */
  def filteredPcaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      comps: Array[Array[Long]], coarseK: Int, pred: Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      scale: Double = 1e6): DataFrame =
    pcaTopK(corpus.filter(pred), queries, k, comps, coarseK,
      idCol, vecCol, qIdCol, qVecCol, scale)

  /** FILTERED multi-probe LSH top-k (X198 extended to the last
    * serving tier): the predicate pushes into the corpus scan before
    * signing, so only qualifying rows enter the bucket index and the
    * probe equi-join touches only them — ≡ [[lshMultiProbeTopK]] over
    * the slice. The recall caveat is the IVF-PQ one transposed to
    * buckets: a predicate correlated with bucket geometry empties the
    * probed buckets, and the probe count (nprobe) is the runtime
    * knob, not a rebuild. */
  def filteredLshMultiProbeTopK(corpus: DataFrame, queries: DataFrame,
      k: Int, bits: Int, dims: Int, nprobe: Int, pred: Column,
      poolSize: Int = 6, maxFlips: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame =
    lshMultiProbeTopK(corpus.filter(pred), queries, k, bits, dims,
      nprobe, poolSize, maxFlips, idCol, vecCol, qIdCol, qVecCol)

  /** Number of probe perturbations reachable with `poolSize`
    * lowest-margin bits and ≤`maxFlips` flips — the exact size of
    * [[lshMultiProbeTopK]]'s subset enumeration, so
    * `1 + probeCapacity` is that operator's hard nprobe ceiling. */
  def probeCapacity(poolSize: Int, maxFlips: Int): Int = {
    require(poolSize >= 1 && maxFlips >= 1 && maxFlips <= poolSize,
      s"need 1 <= maxFlips <= poolSize, got $maxFlips/$poolSize")
    var total = 0L
    for (r <- 1 to maxFlips) {
      var c = 1L
      for (i <- 0 until r) c = c * (poolSize - i) / (i + 1)
      total = math.min(total + c, Int.MaxValue.toLong)
    }
    total.toInt
  }

  /** SELECTIVITY-ADAPTIVE multi-probe geometry (the X210
    * [[adaptiveNprobe]] discipline applied to the ONE filtered tier
    * whose recall FALLS with selectivity — measured .35 → .27 on the
    * gate corpus, the r19 bucket-geometry caveat): a fixed flip-probe
    * count explores a fixed bucket neighborhood, so thinning the
    * buckets starves the candidate set. The cure is the same
    * candidate-mass parity rule: scale the probe budget by the
    * INVERSE of the predicate's measured selectivity —
    * `target = min(2^bits, ⌈base · total/qualifying⌉)` — and, because
    * multi-probe's reachable neighborhood is bounded by its
    * (poolSize, maxFlips) subset enumeration, WIDEN that geometry
    * deterministically (flips first, then pool, the cheapest-probe-
    * first order) until it can rank `target − 1` perturbations. At
    * the cap the tier degrades GRACEFULLY and HONESTLY: probing all
    * 2^bits buckets is exactly a brute-force scan of the filtered
    * slice — recall 1.0 by construction — which is the correct
    * serving answer when bucket geometry cannot carry the predicate
    * (an 8-bit table serving a ~10% slice saturates; the gate pins
    * that saturated row rather than hiding it). One two-counter
    * aggregate over the corpus per call (one bounded collect row, the
    * [[adaptiveNprobe]] cost shape); fail-loud on an empty corpus or
    * a predicate selecting nothing. */
  def adaptiveLshProbeGeometry(corpus: DataFrame, pred: Column, bits: Int,
      baseNprobe: Int, poolSize: Int, maxFlips: Int): (Int, Int, Int) = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    require(baseNprobe >= 1, s"baseNprobe must be >= 1, got $baseNprobe")
    val r = corpus.agg(count(lit(1)).as("n"),
      count(when(pred, lit(1))).as("q")).head()
    val (n, q) = (r.getLong(0), r.getLong(1))
    require(n > 0, "adaptiveLshProbeGeometry: empty corpus")
    require(q > 0,
      "adaptiveLshProbeGeometry: predicate selects zero corpus rows")
    val buckets = 1L << bits
    val target = math.min(buckets,
      math.max(baseNprobe.toLong, (baseNprobe * n + q - 1) / q)).toInt
    // clamp flips to the already-clamped pool: with poolSize > bits and
    // maxFlips > bits, f > p would trip probeCapacity's require instead
    // of computing a geometry (r20 advisor finding)
    var p = math.min(poolSize, bits)
    var f = math.min(maxFlips, p)
    while (1 + probeCapacity(p, f) < target && (f < p || p < bits)) {
      if (f < p) f += 1 else p += 1
    }
    (math.min(target, 1 + probeCapacity(p, f)), p, f)
  }

  /** [[filteredLshMultiProbeTopK]] with the probe budget AND the
    * perturbation geometry derived by [[adaptiveLshProbeGeometry]]
    * instead of hand-tuned — closing the r19 negative result: the
    * derived budget makes the selective predicate parity-or-better
    * vs the broad one (gate-measured, not asserted). */
  def filteredLshMultiProbeTopKAdaptive(corpus: DataFrame,
      queries: DataFrame, k: Int, bits: Int, dims: Int,
      baseNprobe: Int, pred: Column,
      poolSize: Int = 6, maxFlips: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val (np, p, f) = adaptiveLshProbeGeometry(corpus, pred, bits,
      baseNprobe, poolSize, maxFlips)
    filteredLshMultiProbeTopK(corpus, queries, k, bits, dims, np, pred,
      p, f, idCol, vecCol, qIdCol, qVecCol)
  }

  /** SELECTIVITY-ADAPTIVE cell budget (operationalizing X199's
    * serving guidance "widen the cell budget as selectivity rises"):
    * derive nprobe from the predicate's MEASURED selectivity over the
    * codes store so the expected number of qualifying rows under the
    * probed cells matches the unfiltered tier's candidate mass —
    * nprobe = min(cells, max(base, ⌈base · total/qualifying⌉)). One
    * cheap two-counter aggregate over the 16-bit/vector store rows
    * per call (a store-kept histogram amortizes it in production; the
    * collect is ONE row — documented bounded collect). Fail-loud on
    * an empty store or a predicate selecting nothing: an nprobe
    * derived from zero would silently serve garbage. */
  def adaptiveNprobe(codes: DataFrame, pred: Column, baseNprobe: Int,
      cells: Int): Int = {
    require(baseNprobe >= 1, s"baseNprobe must be >= 1, got $baseNprobe")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val r = codes.agg(count(lit(1)).as("n"),
      count(when(pred, lit(1))).as("q")).head()
    val (n, q) = (r.getLong(0), r.getLong(1))
    require(n > 0, "adaptiveNprobe: empty codes store")
    require(q > 0, "adaptiveNprobe: predicate selects zero store rows")
    math.min(cells.toLong,
      math.max(baseNprobe.toLong, (baseNprobe * n + q - 1) / q)).toInt
  }

  /** [[filteredIvfPqTopKFromCodes]] with the cell budget derived by
    * [[adaptiveNprobe]] instead of hand-tuned — the X199 recall law
    * says the derived budget matches or beats a fixed one on
    * selective predicates (gate-measured, not asserted). */
  def filteredIvfPqTopKAdaptive(codes: DataFrame, rerankVecs: DataFrame,
      queries: DataFrame, k: Int,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      baseNprobe: Int, coarseK: Int, pred: Column,
      scale: Double = 1e6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    filteredIvfPqTopKFromCodes(codes, rerankVecs, queries, k, coarseCents,
      codebooks,
      adaptiveNprobe(codes, pred, baseNprobe, coarseCents.length),
      coarseK, pred, scale, idCol, vecCol)

  /** INCREMENTAL IVF-PQ serving-store maintenance (X200) — the X116
    * frozen-quantizer contract extended to the serving index: a new
    * batch encodes MAP-SIDE under the frozen (centroids, codebooks)
    * — [[ivfPqCodes]] is arrival-time-invariant, so a vector gets
    * identical codes whether it sat in the bootstrap corpus or lands
    * years later — and appends to the (id, cell, codes) store. The
    * merged store is therefore PROVABLY frame-equal to a full rebuild
    * over the union (spec-pinned), and every probe over it equals the
    * rebuild's probe. Zero corpus-sized work per increment: the
    * encode is a projection of the batch, the append writes
    * 16-bit/vector rows.
    *
    * The one store read this wraps around the raw
    * encode-and-append: a serving store is ID-KEYED, so a batch id
    * that already exists would silently duplicate probe candidates —
    * that is upstream dedup drift and fails loud (the
    * incrementalCanonical convention; the raise rides the appended
    * rows' id column so no projection prunes it). The guard is one
    * id-keyed anti-join-shaped left join on 16-byte keys per
    * increment; callers whose upstream already guarantees
    * id-uniqueness can compose [[ivfPqCodes]] + unionByName
    * themselves and skip it. */
  def incrementalIvfPqCodes(store: DataFrame, newBatch: DataFrame,
      idCol: String, vecCol: String,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      scale: Double = 1e6, metaCols: Seq[String] = Nil): DataFrame =
    store.unionByName(guardedIvfPqEncode(store, newBatch, idCol, vecCol,
      coarseCents, codebooks, scale, metaCols))

  /** The increment's NEW rows only — [[incrementalIvfPqCodes]] minus
    * the store pass-through; what a streaming micro-batch appends
    * under its own `batch=<id>` partition. */
  def guardedIvfPqEncode(store: DataFrame, newBatch: DataFrame,
      idCol: String, vecCol: String,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      scale: Double = 1e6, metaCols: Seq[String] = Nil): DataFrame = {
    val want = (Seq("vec_id") ++ metaCols ++ Seq("cell", "codes")).toSet
    require(store.columns.toSet == want,
      s"incrementalIvfPqCodes: store must be an ivfPqCodes store " +
        s"(${want.mkString(", ")}), got ${store.columns.mkString(", ")}")
    val enc = ivfPqCodes(newBatch, idCol, vecCol, coarseCents, codebooks,
      scale, metaCols)
    val known = store.select(col("vec_id").as("_kid"))
    // a duplicated id WITHIN the batch is the same upstream-dedup
    // drift as a store re-arrival — it would silently double the
    // store's probe candidates, so it raises the same way (one extra
    // id-keyed partial agg over the batch only)
    val bCounts = enc.groupBy(col("vec_id")).agg(count(lit(1)).as("_bn"))
    // guards ride the row FILTER (the retractManifest convention) so
    // no projection — not even a bare count — can prune them
    enc.join(bCounts.hint("shuffle_hash"), Seq("vec_id"))
      .join(known.hint("shuffle_hash"),
        enc("vec_id") === col("_kid"), "left")
      .filter(when(col("_bn") > 1, raise_error(concat(
        lit("incrementalIvfPqCodes: id "), col("vec_id").cast("string"),
        lit(" appears more than once in the batch — upstream dedup" +
          " drifted"))).cast("boolean"))
        .otherwise(lit(true)))
      .filter(when(col("_kid").isNotNull, raise_error(concat(
        lit("incrementalIvfPqCodes: id "), col("vec_id").cast("string"),
        lit(" is already in the codes store — a re-arriving id means" +
          " upstream dedup drifted; retract it first"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(
        (col("vec_id") +: metaCols.map(col)) :+
          col("cell") :+ col("codes"): _*)
  }

  /** IVF-PQ store RETRACTION (X200) — the forget half: rows leave the
    * serving store by id (one id-keyed anti-join on 16-byte keys; the
    * store's rows are independent by construction, so nothing else
    * recomputes). Fail-loud on an id the store never held — a retract
    * list drifted from the store is a bug, not a no-op — via the
    * non-null marker pattern ([[graft.operators.Dedup.retractFingerprints]]). */
  def retractIvfPqCodes(store: DataFrame, ids: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    require(store.columns.contains("vec_id"),
      s"retractIvfPqCodes: store has no vec_id (ivfPqCodes schema), " +
        s"got ${store.columns.mkString(", ")}")
    require(ids.columns.contains(idCol),
      s"retractIvfPqCodes: retract list has no '$idCol'")
    require(!store.columns.contains("_rid") && !store.columns.contains("_sid"),
      "retractIvfPqCodes: store columns _rid/_sid collide with markers")
    val r = ids.select(col(idCol).cast("long").as("_rid")).distinct()
    val s = store.withColumn("_sid", lit(1))
    val joined = s.join(r.hint("shuffle_hash"),
      s("vec_id") === col("_rid"), "full_outer")
    val keep = when(col("_sid").isNull,
      raise_error(concat(
        lit("retractIvfPqCodes: id "), col("_rid").cast("string"),
        lit(" is not in the codes store — the retract list drifted")))
        .cast("boolean"))
      .otherwise(col("_rid").isNull)
    joined.filter(keep).drop("_rid", "_sid")
  }

  /** IVF-PQ index REFRESH with store migration (X200) — X148's
    * refresh extended to the quantized serving store, closing the
    * drift→retrain→migrate loop for the PQ codes too: retraining the
    * (centroids, codebooks) invalidates every stored cell AND code,
    * and unlike the semantic store the codes rows are NOT
    * self-contained (codes aren't invertible), so migration
    * re-encodes from the authoritative float vector table — the same
    * `rerankVecs` the serving stack already holds for the exact
    * rerank stage. One scan of the store's id slice + rewrite: the
    * store ids semi-join the vector table (id-keyed), then
    * [[ivfPqCodes]] under the NEW index map-side. Fail-loud when a
    * store id is missing from the vector table (the payload and the
    * index drifted — re-encoding would silently shrink the store).
    * Result is frame-equal to bootstrapping the codes store from the
    * same vectors under the new index (spec-pinned), so post-refresh
    * increments behave as if ingested under it from day one. */
  def refreshIvfPqStore(store: DataFrame, rerankVecs: DataFrame,
      idCol: String, vecCol: String,
      newCoarse: Array[(Int, Array[Long])],
      newBooks: Array[Array[(Int, Array[Long])]],
      scale: Double = 1e6, metaCols: Seq[String] = Nil): DataFrame = {
    require(store.columns.contains("vec_id"),
      s"refreshIvfPqStore: store has no vec_id (ivfPqCodes schema), " +
        s"got ${store.columns.mkString(", ")}")
    val ids = store.select(col("vec_id").as("_mid")).distinct()
    // guard rides the row FILTER so no downstream projection (not even
    // a bare count) can prune the payload-drift check
    val vecs = rerankVecs.join(ids.hint("shuffle_hash"),
        rerankVecs(idCol).cast("long") === col("_mid"), "right")
      .filter(when(rerankVecs(idCol).isNull, raise_error(concat(
        lit("refreshIvfPqStore: store id "), col("_mid").cast("string"),
        lit(" has no vector row — the payload table drifted from the" +
          " store"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(
        (rerankVecs(idCol) +: metaCols.map(rerankVecs(_))) :+
          rerankVecs(vecCol): _*)
    ivfPqCodes(vecs, idCol, vecCol, newCoarse, newBooks, scale, metaCols)
  }

  /** Merge two [[semanticContaminationFlags]] verdict tables (X204's
    * incremental half): flag matches are per-(train doc, eval doc)
    * independent facts, so for DISJOINT eval sets —
    * benchmarks are disjoint by construction —
    * flags(train, e1 ∪ e2) ≡ merge(flags(train, e1), flags(train, e2))
    * EXACTLY (spec-pinned): contaminated ORs, n_matches sums, max_sim
    * maxes. That algebra is what makes decontamination incrementally
    * maintainable: a NEW benchmark costs one flag pass of the train
    * corpus against the new eval docs only (the broadcast side shrinks
    * to the delta), merged into the stored verdicts — never a re-scan
    * against every benchmark ever onboarded. Fail-loud on verdict
    * tables over different train corpora (an id present on one side
    * only means the snapshots drifted). */
  def mergeContaminationFlags(a: DataFrame, b: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val want = Set(idCol, "contaminated", "n_matches", "max_sim")
    for ((df, side) <- Seq((a, "left"), (b, "right")))
      require(df.columns.toSet == want,
        s"mergeContaminationFlags: $side must be a " +
          s"semanticContaminationFlags verdict table (${want.mkString(", ")})" +
          s", got ${df.columns.mkString(", ")}")
    val l = a.select(col(idCol), col("contaminated").as("_c1"),
      col("n_matches").as("_n1"), col("max_sim").as("_m1"))
    val r = b.select(col(idCol).as("_rid"), col("contaminated").as("_c2"),
      col("n_matches").as("_n2"), col("max_sim").as("_m2"))
    l.join(r.hint("shuffle_hash"), l(idCol) === col("_rid"), "full_outer")
      .filter(when(l(idCol).isNull || col("_rid").isNull,
        raise_error(concat(
          lit("mergeContaminationFlags: train id "),
          coalesce(l(idCol), col("_rid")).cast("string"),
          lit(" is present on one side only — the verdict tables cover" +
            " different train snapshots"))).cast("boolean"))
        .otherwise(lit(true)))
      .select(l(idCol),
        (col("_c1") || col("_c2")).as("contaminated"),
        (col("_n1") + col("_n2")).as("n_matches"),
        greatest(col("_m1"), col("_m2")).as("max_sim"))
  }

  /** Serialize an IVF-PQ index to rows (X200's persistence half): the
    * (centroids, codebooks) pair the probe needs is driver-resident
    * by design — a few thousand integer vectors — but a serving
    * deployment must VERSION it alongside the codes store it encoded
    * (an index that lives only in one JVM cannot be shared, migrated,
    * or rolled back). One row per entry: part = −1 for the coarse
    * centroids, i ≥ 0 for sub-space i's codebook; vectors stay the
    * exact fixed-point integers, so the round-trip is lossless by
    * construction (spec-pinned: load(save(idx)) probes identically). */
  def ivfPqIndexRecords(spark: SparkSession,
      coarse: Array[(Int, Array[Long])],
      books: Array[Array[(Int, Array[Long])]]): DataFrame = {
    import spark.implicits._
    val rows =
      coarse.toSeq.map { case (cid, v) => (-1, cid, v.toSeq) } ++
        books.toSeq.zipWithIndex.flatMap { case (book, i) =>
          book.toSeq.map { case (cid, v) => (i, cid, v.toSeq) }
        }
    rows.toDF("part", "cid", "vec")
  }

  /** Load an IVF-PQ index from its [[ivfPqIndexRecords]] rows — the
    * collect is the index itself (bounded by cells + m·codes entries,
    * never corpus-sized). Fail-loud on a malformed store: a missing
    * coarse part or a sub-space gap means the index table was
    * corrupted or mixed between versions. */
  def ivfPqIndexFromRecords(df: DataFrame): (Array[(Int, Array[Long])], Array[Array[(Int, Array[Long])]]) = {
    require(Set("part", "cid", "vec").subsetOf(df.columns.toSet),
      s"ivfPqIndexFromRecords: need (part, cid, vec) — " +
        s"ivfPqIndexRecords' schema — got ${df.columns.mkString(", ")}")
    val rows = df.select(col("part").cast("int"), col("cid").cast("int"),
        col("vec").cast("array<long>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
    // duplicate (part, cid) rows mean the index was written twice or
    // two versions were mixed — repeated centroid/codebook entries
    // silently change probe tie-breaking, so raise here instead.
    val keys = rows.map(r => (r._1, r._2))
    require(keys.distinct.length == keys.length,
      s"ivfPqIndexFromRecords: duplicate (part, cid) rows — " +
        s"${keys.diff(keys.distinct).distinct.take(5).mkString(", ")}; " +
        "index table written twice or versions mixed")
    val coarse = rows.filter(_._1 == -1).map(r => (r._2, r._3)).sortBy(_._1)
    require(coarse.nonEmpty, "ivfPqIndexFromRecords: no coarse part (-1)")
    val subs = rows.filter(_._1 >= 0).groupBy(_._1)
    val m = if (subs.isEmpty) 0 else subs.keys.max + 1
    require(subs.keySet == (0 until m).toSet,
      s"ivfPqIndexFromRecords: sub-space gap — found parts " +
        s"${subs.keys.toSeq.sorted.mkString(", ")}")
    val books = (0 until m).toArray.map(i =>
      subs(i).map(r => (r._2, r._3)).sortBy(_._1))
    (coarse, books)
  }

  /** Spread per-row-heavy vector compute across all cores (single-file
    * benchmark inputs arrive as one scan split). */
  /** Scale-adaptive widening (see [[graft.core.Tables.spreadIfNarrow]]):
    * repartition ONLY when the scan is narrower than the session
    * parallelism — a 100 TB corpus with thousands of splits no longer
    * pays a full round-robin exchange here. */
  private def spread(df: DataFrame): DataFrame =
    graft.core.Tables.spreadIfNarrow(df)

  /** Final per-query top-k over a scored frame — aggregator path
    * (bounded per-partition heaps, map-side combine), NOT a window:
    * Spark ≥ 3.5 cuts a `row_number() <= k` window before its exchange
    * too (a partial `WindowGroupLimit`, as `Dedup.exactDedup`'s plan
    * shows), but only after sorting each partition's scored rows; the
    * heaps hold O(k) per query and sort nothing. Output is provably
    * identical to
    * `row_number over (partition by q order by score desc, id)` ≤ k
    * (same tie-break; see TopKSpec). */
  private def finishTopK(scored: DataFrame, qIdCol: String, idCol: String,
      k: Int): DataFrame =
    TopK.topKPerGroup(
      scored.select(col(qIdCol), col(idCol), col("score")),
      qIdCol, idCol, "score", k)
      .select(col(qIdCol), col(idCol), col("score"), col("rank"))

  /** Brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. `queries` must be broadcast-sized. Ties broken
    * by corpus id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val scored = spread(corpus).join(broadcast(queries))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(scored, qIdCol, idCol, k)
  }

  /** Retrieval-quality harness: per-query recall@k of an ANN result
    * against brute-force ground truth. Both inputs are (q_id, vec_id
    * [, ...]) top-k tables — k·|queries| rows, so the join is tiny
    * next to any retrieval it measures; it still joins on composite
    * key (no broadcast assumption: a serving eval can carry millions
    * of queries). A ground-truth row counts as a hit iff the ANN list
    * for the same query contains the same vec_id; recall =
    * hits / |ground-truth rows for that query| (the denominator is
    * per-query, so queries with fewer than k corpus matches are not
    * penalized for rows that don't exist). Hash-determinism comes free:
    * both inputs are already deterministic (score desc, id asc
    * tie-breaks), and recall rounds to 6dp like every exported ratio. */
  def recallAtK(groundTruth: DataFrame, ann: DataFrame): DataFrame = {
    val gt = groundTruth.select(col("q_id"), col("vec_id"))
    val hits = ann.select(col("q_id"), col("vec_id"), lit(1L).as("_hit"))
    gt.join(hits, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("_hit")).as("hits"), count(lit(1)).as("n"))
      .select(col("q_id"), col("hits"), col("n"),
        round(col("hits").cast("double") / col("n").cast("double"), 6)
          .as("recall"))
  }

  /** [[recallAtK]] for MANY tiers in ONE pass (r21, guide §2.4 "two
    * operations keyed the same way can share one exchange"): the ann
    * side arrives as a UNION tagged with a `method` column, the
    * ground-truth row universe is expanded by the (driver-known,
    * broadcast) method list, and the whole harness is ONE
    * (method, q_id, vec_id) left join + ONE (method, q_id) partial
    * agg — where the per-tier form paid a join + agg exchange PER
    * tier (10 tiers = 20 exchanges → 2). Per method the result is
    * provably [[recallAtK]]'s: restricting the crossJoin to one tag
    * yields exactly its gt/hits join. Same counting, same rounding,
    * same columns — only the exchange count changes. */
  def recallAtKTagged(groundTruth: DataFrame, annTagged: DataFrame,
      methods: Seq[String]): DataFrame = {
    val spark = groundTruth.sparkSession
    import spark.implicits._
    require(methods.nonEmpty && methods.distinct == methods,
      s"recallAtKTagged: methods must be non-empty and distinct, got $methods")
    val gtm = groundTruth.select(col("q_id"), col("vec_id"))
      .crossJoin(broadcast(methods.toDF("method")))
    val hits = annTagged.select(col("method"), col("q_id"), col("vec_id"),
      lit(1L).as("_hit"))
    gtm.join(hits, Seq("method", "q_id", "vec_id"), "left")
      .groupBy(col("method"), col("q_id"))
      .agg(count(col("_hit")).as("hits"), count(lit(1)).as("n"))
      .select(col("method"), col("q_id"), col("hits"), col("n"),
        round(col("hits").cast("double") / col("n").cast("double"), 6)
          .as("recall"))
  }

  /** Per-(position, relevance) DCG term table, micro-units:
    * floor(rel·10⁶ / log2(pos+1) + 0.5). Computed ONCE driver-side so
    * neither engine evaluates a float log — the metric becomes pure
    * integer lookups + sums (the oracle embeds the same literals,
    * generated from this function). */
  def dcgTermMicro(pos: Int, rel: Int): Long =
    math.floor(rel * 1e6 / (math.log(pos + 1.0) / math.log(2.0)) + 0.5).toLong

  /** Ideal DCG in micro-units for a query with n ground-truth rows at
    * depth k: the ideal ranking places relevance k, k−1, … at
    * positions 1, 2, … */
  def idcgMicro(n: Int, k: Int): Long =
    (1 to n).map(j => dcgTermMicro(j, k - j + 1)).sum

  /** Retrieval-quality metrics BEYOND recall (X186) — MRR and nDCG@k
    * of an ANN tier against the brute-force ground truth, as exact
    * integers: graded relevance of a retrieved doc = k − gt_rank + 1
    * (the true top hit is worth k, the k-th worth 1), DCG folds the
    * driver-precomputed [[dcgTermMicro]] table (NO in-engine float
    * log), MRR is the all-integer rounding
    * (2·10⁶ + rank) div (2·rank) ≡ floor(10⁶/rank + 0.5), and
    * ndcg_bp = dcg·10⁴ div idcg. Every value is a hash-portable fact.
    *
    * Scale shape: one (q_id, vec_id)-keyed equi-join (k·|Q| rows per
    * side) + one q_id partial agg + one #queries-row join against the
    * ground-truth counts — eval infrastructure costs nothing next to
    * the tiers it measures. A query the tier missed entirely scores
    * 0/0 (mrr, dcg), never NULL. */
  def retrievalMetrics(groundTruth: DataFrame, ann: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"retrievalMetrics: k must be 1..100, got $k")
    val dcgMap = typedlit((for {
      pos <- 1 to k; rel <- 1 to k
    } yield (pos.toLong * 1000L + rel, dcgTermMicro(pos, rel))).toMap)
    val idcgMap = typedlit((1 to k).map(n => (n.toLong, idcgMicro(n, k))).toMap)
    // floor(1e6/rank + 0.5) as a driver-side literal table too — the
    // whole metric is integer lookups + sums in-engine
    val rrMap = typedlit((1 to k).map(r =>
      (r.toLong, (2000000L + r) / (2L * r))).toMap)
    // Fail-loud contract-drift guards (the engine convention): ground
    // truth deeper than k would yield _rel <= 0 (a dcgMap miss) and
    // _ngt beyond the idcgMap — both silently NULL the metrics. The
    // raise_error rides the _rel/_ngt columns so no projection prunes it.
    val gt = groundTruth.select(col("q_id"), col("vec_id"),
      when(col("rank") > k, raise_error(concat(
        lit(s"retrievalMetrics: ground-truth rank "), col("rank").cast("string"),
        lit(s" exceeds k=$k — trim the ground truth to depth k"))))
        .otherwise((lit(k + 1) - col("rank")).cast("long")).as("_rel"))
    val a = ann.select(col("q_id"), col("vec_id"),
      col("rank").cast("long").as("_arank"))
    val perHit = a.join(gt, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"),
        when(col("_rel").isNotNull,
          try_element_at(dcgMap, col("_arank") * 1000L + col("_rel")))
          .otherwise(0L).as("_dcg"),
        when(col("_rel").isNotNull,
          try_element_at(rrMap, col("_arank"))).as("_rr"),
        when(col("_rel").isNotNull, 1L).otherwise(0L).as("_hit"))
    val perQuery = perHit.groupBy(col("q_id"))
      .agg(sum(col("_dcg")).as("_dcgSum"),
        max(col("_rr")).as("_rrMax"),
        sum(col("_hit")).as("n_rel"))
    val gtCounts = groundTruth.groupBy(col("q_id"))
      .agg(count(lit(1)).cast("long").as("_ngt0"))
      .select(col("q_id"),
        when(col("_ngt0") > k, raise_error(concat(
          lit("retrievalMetrics: query "), col("q_id").cast("string"),
          lit(s" carries more than k=$k ground-truth rows — idcg undefined"))))
          .otherwise(col("_ngt0")).as("_ngt"))
    gtCounts.join(perQuery, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("_rrMax"), lit(0L)).cast("long").as("mrr_micro"),
        coalesce(col("_dcgSum"), lit(0L)).as("dcg_micro"),
        try_element_at(idcgMap, col("_ngt")).as("idcg_micro"))
      .withColumn("ndcg_bp",
        expr("dcg_micro * 10000 div idcg_micro"))
  }

  /** [[retrievalMetrics]] for MANY tiers in ONE pass (r21 — the
    * [[recallAtKTagged]] discipline applied to the nDCG/MRR harness):
    * ann results arrive unioned with a `method` tag; the hit join,
    * the per-query aggregation, and the ground-truth-count join each
    * run ONCE over the union instead of once per tier (7 tiers ≈ 21
    * exchanges → 3). Identical integer tables, identical fail-loud
    * guards, identical per-(method, q_id) arithmetic — restricting to
    * one tag reproduces [[retrievalMetrics]] exactly; a tier that
    * missed a query still emits its 0/0 row via the
    * (gt-counts × methods) universe. Output already carries `method`
    * first, the gate-row column order. */
  def retrievalMetricsTagged(groundTruth: DataFrame, annTagged: DataFrame,
      k: Int, methods: Seq[String]): DataFrame = {
    require(k >= 1 && k <= 100, s"retrievalMetrics: k must be 1..100, got $k")
    require(methods.nonEmpty && methods.distinct == methods,
      s"retrievalMetricsTagged: methods must be non-empty and distinct, got $methods")
    val spark = groundTruth.sparkSession
    import spark.implicits._
    val dcgMap = typedlit((for {
      pos <- 1 to k; rel <- 1 to k
    } yield (pos.toLong * 1000L + rel, dcgTermMicro(pos, rel))).toMap)
    val idcgMap = typedlit((1 to k).map(n => (n.toLong, idcgMicro(n, k))).toMap)
    val rrMap = typedlit((1 to k).map(r =>
      (r.toLong, (2000000L + r) / (2L * r))).toMap)
    val gt = groundTruth.select(col("q_id"), col("vec_id"),
      when(col("rank") > k, raise_error(concat(
        lit(s"retrievalMetrics: ground-truth rank "), col("rank").cast("string"),
        lit(s" exceeds k=$k — trim the ground truth to depth k"))))
        .otherwise((lit(k + 1) - col("rank")).cast("long")).as("_rel"))
    val a = annTagged.select(col("method"), col("q_id"), col("vec_id"),
      col("rank").cast("long").as("_arank"))
    val perHit = a.join(gt, Seq("q_id", "vec_id"), "left")
      .select(col("method"), col("q_id"),
        when(col("_rel").isNotNull,
          try_element_at(dcgMap, col("_arank") * 1000L + col("_rel")))
          .otherwise(0L).as("_dcg"),
        when(col("_rel").isNotNull,
          try_element_at(rrMap, col("_arank"))).as("_rr"),
        when(col("_rel").isNotNull, 1L).otherwise(0L).as("_hit"))
    val perQuery = perHit.groupBy(col("method"), col("q_id"))
      .agg(sum(col("_dcg")).as("_dcgSum"),
        max(col("_rr")).as("_rrMax"),
        sum(col("_hit")).as("n_rel"))
    val gtCounts = groundTruth.groupBy(col("q_id"))
      .agg(count(lit(1)).cast("long").as("_ngt0"))
      .select(col("q_id"),
        when(col("_ngt0") > k, raise_error(concat(
          lit("retrievalMetrics: query "), col("q_id").cast("string"),
          lit(s" carries more than k=$k ground-truth rows — idcg undefined"))))
          .otherwise(col("_ngt0")).as("_ngt"))
    gtCounts.crossJoin(broadcast(methods.toDF("method")))
      .join(perQuery, Seq("method", "q_id"), "left")
      .select(col("method"), col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("_rrMax"), lit(0L)).cast("long").as("mrr_micro"),
        coalesce(col("_dcgSum"), lit(0L)).as("dcg_micro"),
        try_element_at(idcgMap, col("_ngt")).as("idcg_micro"))
      .withColumn("ndcg_bp",
        expr("dcg_micro * 10000 div idcg_micro"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign: md5-derived from
    * (j, d) like [[planeCoef]], so any engine reproduces the exact
    * projection matrix (the oracle embeds it as a literal). */
  def rpSign(j: Int, d: Int): Long = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$d".getBytes("UTF-8"))
    if ((b(0) & 1) == 0) 1L else -1L
  }

  /** Johnson–Lindenstrauss RANDOM-PROJECTION reduction (X157; Achlioptas
    * 2003's ±1 database-friendly variant): each input vector quantizes
    * to exact fixed-point integers and projects onto `outDims`
    * deterministic ±1 sign rows — out_j = Σ_d sign(j,d)·q_d, pure BIGINT
    * adds/subtracts, so the reduced vectors are bit-identical on any
    * engine. The matrix rides the plan as ONE typedlit outDims×dims
    * literal folded per row with zip_with/aggregate (the
    * lshMultiProbeTopK trim's arrangement — no unrolled per-coefficient
    * codegen terms). Magnitudes stay exact: |out_j| ≤ dims·scale
    * (≈6.4e7 at dims=64), dots of reduced vectors ≤ outDims·(dims·scale)²
    * ≈ 6.6e16 ≪ Long.Max. */
  def rpProject(vec: Column, outDims: Int, dims: Int,
      scale: Double = 1e6): Column = {
    require(outDims > 0 && dims > 0, s"rpProject: bad dims $outDims/$dims")
    val mat = typedlit(
      (0 until outDims).map(j => (0 until dims).map(d => rpSign(j, d))))
    val qv = Clustering.fixedPoint(vec, scale)
    transform(mat, row =>
      aggregate(zip_with(qv, row, (x, s) => x * s), lit(0L), (a, v) => a + v))
  }

  /** RP-reduced ANN top-k — the dimensionality-reduction tier of the
    * serving ladder (brute 1.00 / int8 4× / RP dims-ratio× / PQ
    * 32-128×): corpus and queries project to `outDims` integers
    * map-side, the COARSE score is the exact integer dot in the
    * reduced space (JL preserves inner products to within ε with
    * outDims = O(log n / ε²)), the top `coarseK` per query rerank with
    * exact float cosine. Same scale shape as [[bruteForceTopK]] —
    * queries broadcast, corpus never shuffles, bounded top-k heaps —
    * but the scan arithmetic drops by dims/outDims (64→16 = 4× here)
    * and a persisted reduced corpus drops the stored bytes by the same
    * factor. Hash-deterministic end to end (integer coarse scores, 6dp
    * rerank, id tie-breaks); the top-k heap orders coarse scores as
    * doubles, which is exact while |score| < 2⁵³ — by Cauchy–Schwarz
    * |out_j| ≤ ‖q‖·√dims, so unit-norm-ish vectors at the default
    * scale sit near 1e15 with headroom (‖v‖ up to ~3 stays exact). */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int, outDims: Int,
      dims: Int, coarseK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      scale: Double = 1e6): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val c = spread(corpus).select(col(idCol),
      rpProject(col(vecCol), outDims, dims, scale).as("_rv"))
    val q = queries.select(col(qIdCol),
      rpProject(col(qVecCol), outDims, dims, scale).as("_qrv"))
    val scored = c.join(broadcast(q))
      .select(col(qIdCol), col(idCol),
        aggregate(zip_with(col("_rv"), col("_qrv"), (x, y) => x * y),
          lit(0L), (a, v) => a + v).as("score"))
    val cand = finishTopK(scored, qIdCol, idCol, coarseK)
      .select(col(qIdCol), col(idCol))
    val rescored = corpus
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries), Seq(qIdCol))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(rescored, qIdCol, idCol, k)
  }

  /** Deterministic md5-derived power-iteration seed for PCA component
    * `c`, dimension `d` — in [1, vScale], strictly positive so the
    * start vector is never the zero projection; the oracle rebuilds
    * the identical value from DuckDB's md5 ('0x'+15 hex chars). */
  def pcaSeed(c: Int, d: Int, vScale: Long = 1000000L): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"pca:$c:$d".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString.substring(0, 15)
    1L + java.lang.Long.parseLong(hex, 16) % vScale
  }

  /** TRAINED PCA components (X214) — the learned sibling of the JL
    * tier ([[rpProject]] is training-free ±1 signs; PCA spends one
    * corpus pass to point the projection at the data's actual
    * variance, the classical embedding-compression trade). Exact
    * integer arithmetic end to end so training is hash-replayable:
    *
    *  1. ONE corpus scan computes the raw moment matrix over the
    *     HOMOGENEOUS fixed-point vectors a = [q₁..q_dims, 1]:
    *     M = Σ a·aᵀ — per-row products are BIGINT (< 2⁶³ through
    *     |x| ≈ 100 at the default scale), summed as DECIMAL(38,0)
    *     (exact and overflow-CHECKED at 100 TB row counts, where a
    *     BIGINT Σ would silently wrap). The corner block carries
    *     Σq_i and n, so mean-centering needs NO second scan:
    *     S_ij = M_ij − μ_i·Σq_j − μ_j·Σq_i + n·μ_i·μ_j with
    *     μ = ⌊Σq/n⌋ (trunc) — exact integer algebra.
    *  2. DRIVER-side power iteration with deflation over the
    *     (dims+1)²-bounded collect (the [[Clustering]] convention:
    *     training state is dims-bounded, never corpus-bounded):
    *     per component, `iters` rounds of w = S·v followed by L∞
    *     renormalization v = ⌊w·vScale/max|w|⌋ (BigInt, trunc toward
    *     zero — DuckDB `//` and Spark `div` agree); then Rayleigh
    *     λ = ⌊vᵀSv/vᵀv⌋ and deflation S −= ⌊λ·v_i·v_j/vᵀv⌋. Every
    *     quotient truncates toward zero in both engines, so the whole
    *     trajectory — converged or not — is the bit-identical object
    *     the oracle re-derives; convergence quality only affects
    *     RECALL, never correctness.
    *
    * Returns outDims rows of dims L∞-normalized integer components
    * (|entry| ≤ vScale). Fail-loud on an empty corpus and on a
    * collapsed iteration (zero matrix — outDims exceeded the
    * spectrum). */
  def pcaComponents(corpus: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int, iters: Int = 5,
      scale: Double = 1e6, vScale: Long = 1000000L): Array[Array[Long]] =
    pcaComponentsFromMoments(pcaMomentRecords(corpus, vecCol, dims, scale),
      outDims, dims, iters, vScale)

  /** The PCA TRAINING STATE as a mergeable-partial table (X220): one
    * (i, j, s) row per cell of the homogeneous moment matrix
    * M = Σ a·aᵀ, a = [q, 1] — the X128 manifest idea applied to a
    * trained index. Because M is a plain SUM, per-batch moment tables
    * are exact mergeable partials: merge = element-wise add, retract =
    * element-wise subtract, and since [[pcaComponentsFromMoments]] is
    * a PURE FUNCTION of M, the refreshed components after any
    * merge/retract chain are BIT-EQUAL to a full retrain — not merely
    * frame-equal. A 100 TB corpus maintains its PCA index by folding
    * (dims+1)²-row tables, never rescanning. DECIMAL(38,0) sums:
    * exact and overflow-checked. */
  def pcaMomentRecords(corpus: DataFrame, vecCol: String, dims: Int,
      scale: Double = 1e6): DataFrame = {
    // Fail-loud at MOMENT time on a vector-length/dims mismatch: a
    // wrong-dims moment table is silently mergeable into a store and
    // only surfaces later in pcaComponentsFromMoments as a misleading
    // "empty corpus" / "outside the moment matrix" error. The guard
    // rides the projected vector column so Catalyst cannot prune it.
    val checked = when(size(col(vecCol)) === dims,
      Clustering.fixedPoint(col(vecCol), scale))
      .otherwise(raise_error(concat(
        lit(s"pcaMomentRecords: expected $dims-dim vectors in '$vecCol', got "),
        size(col(vecCol)).cast("string"), lit(" dims"))))
    val aug = concat(checked, array(lit(1L)))
    spread(corpus)
      .select(explode(flatten(transform(aug, (xi, i) =>
        transform(aug, (xj, j) =>
          struct(i.cast("int").as("i"), j.cast("int").as("j"),
            (xi * xj).cast("decimal(38,0)").as("p")))))).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p")).cast("decimal(38,0)").as("s"))
  }

  /** Fold two moment tables: moments(A ∪ B) ≡ merge(moments(A),
    * moments(B)) exactly — cells add, absent cells pass through. */
  def pcaMergeMoments(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))

  /** Un-fold a batch's contribution: retract(merge(m, b), b) ≡ m
    * exactly. Fail-loud when the row-count corner goes negative — the
    * retracted batch was never merged in (the raise rides the `s`
    * column so no projection prunes it). */
  def pcaRetractMoments(m: DataFrame, b: DataFrame): DataFrame =
    m.unionByName(b.select(col("i"), col("j"), (col("s") * lit(-1)).as("s")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))
      .withColumn("s",
        when(col("i") === col("j") && col("s") < 0, raise_error(concat(
          lit("pcaRetractMoments: diagonal cell ("), col("i").cast("string"),
          lit(") went negative — the retracted batch was never merged into "
            + "this moment table"))))
          .otherwise(col("s")))

  /** Train components from a (i, j, s) moment table — the pure
    * function of M that [[pcaComponents]], the incremental
    * maintenance loop, and the refresh-after-retract all share. The
    * collect is the (dims+1)²-bounded training state, never corpus
    * data. */
  def pcaComponentsFromMoments(moments: DataFrame, outDims: Int,
      dims: Int, iters: Int = 5,
      vScale: Long = 1000000L): Array[Array[Long]] = {
    require(outDims >= 1 && outDims <= dims,
      s"pcaComponentsFromMoments: outDims must be in [1, $dims], got $outDims")
    require(iters >= 1 && iters <= 100,
      s"pcaComponentsFromMoments: iters must be in [1, 100], got $iters")
    require(Set("i", "j", "s").subsetOf(moments.columns.toSet),
      s"pcaComponentsFromMoments: need (i, j, s) — pcaMomentRecords' " +
        s"schema — got ${moments.columns.mkString(", ")}")
    val dAug = dims + 1
    val rows = moments.select(col("i").cast("int"), col("j").cast("int"),
      col("s").cast("decimal(38,0)")).collect()
    require(rows.nonEmpty, "pcaComponentsFromMoments: empty corpus")
    val m = Array.fill(dAug, dAug)(BigInt(0))
    rows.foreach { r =>
      require(r.getInt(0) >= 0 && r.getInt(0) < dAug &&
        r.getInt(1) >= 0 && r.getInt(1) < dAug,
        s"pcaComponentsFromMoments: cell (${r.getInt(0)}, ${r.getInt(1)}) " +
          s"outside the ${dAug}x$dAug moment matrix — dims mismatch")
      m(r.getInt(0))(r.getInt(1)) = BigInt(r.getDecimal(2).toBigInteger)
    }
    val n = m(dims)(dims)
    require(n > 0, "pcaComponentsFromMoments: empty corpus")
    val sq = Array.tabulate(dims)(i => m(i)(dims))
    val mu = sq.map(_ / n)
    var a = Array.tabulate(dims, dims)((i, j) =>
      m(i)(j) - mu(i) * sq(j) - mu(j) * sq(i) + n * mu(i) * mu(j))
    val vs = BigInt(vScale)
    Array.tabulate(outDims) { c =>
      var v = Array.tabulate(dims)(d => BigInt(pcaSeed(c, d, vScale)))
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dims)(i =>
          (0 until dims).map(j => a(i)(j) * v(j)).sum)
        val mx = w.map(_.abs).max
        require(mx > 0,
          s"pcaComponentsFromMoments: power iteration collapsed at component $c — " +
            "outDims exceeds the data's spectrum")
        v = w.map(x => x * vs / mx)
      }
      val den = v.map(x => x * x).sum
      val num = (for (i <- 0 until dims; j <- 0 until dims)
        yield v(i) * a(i)(j) * v(j)).sum
      val lam = num / den
      a = Array.tabulate(dims, dims)((i, j) =>
        a(i)(j) - lam * v(i) * v(j) / den)
      v.map(_.toLong)
    }
  }

  /** Project onto trained PCA components: out_c = ⌊(Σ_d comp_cd·q_d) /
    * vScale⌋ — the same one-typedlit-matrix zip_with/aggregate fold as
    * [[rpProject]], plus the vScale down-shift that returns the
    * reduced coordinates to the ±dims·scale·max|x| range the ±1 JL
    * rows get for free (so reduced dots stay far from 2⁶³). The trunc
    * division runs in doubles but is EXACT: |Σ| < 2⁵³ holds through
    * |x| ≈ 100, so the double quotient's absolute error (≤ |q|·2⁻⁵³)
    * is far below the 1e-6 gap to the nearest integer crossing —
    * floor/negate-floor equals the integer trunc DuckDB's `//`
    * computes. */
  def pcaProject(vec: Column, comps: Array[Array[Long]],
      scale: Double = 1e6, vScale: Long = 1000000L): Column = {
    require(comps.nonEmpty, "pcaProject: no components")
    val mat = typedlit(comps.map(_.toSeq).toSeq)
    val qv = Clustering.fixedPoint(vec, scale)
    transform(mat, row => {
      val s = aggregate(zip_with(qv, row, (x, c) => x * c),
        lit(0L), (acc, t) => acc + t)
      when(s >= 0, floor(s / vScale.toDouble))
        .otherwise(-floor(-s / vScale.toDouble)).cast("long")
    })
  }

  /** PCA-reduced ANN top-k — the TRAINED dimensionality-reduction
    * tier of the serving ladder, same serving plan as [[rpTopK]]
    * (corpus and queries project map-side, exact integer dot in the
    * reduced space, bounded-heap top-coarseK, exact float-cosine
    * rerank; queries broadcast, corpus never shuffles) with the
    * projection matrix TRAINED by [[pcaComponents]] instead of drawn
    * from md5 signs. The components ride the plan as one typedlit —
    * train once, serve everywhere, persist alongside the index like
    * the IVF-PQ codebooks. Where JL needs outDims = O(log n/ε²) to
    * protect ALL directions, PCA spends its budget on the directions
    * the corpus actually occupies — the measured-recall trade the
    * gate records. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      comps: Array[Array[Long]], coarseK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      scale: Double = 1e6): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val c = spread(corpus).select(col(idCol),
      pcaProject(col(vecCol), comps, scale).as("_rv"))
    val q = queries.select(col(qIdCol),
      pcaProject(col(qVecCol), comps, scale).as("_qrv"))
    val scored = c.join(broadcast(q))
      .select(col(qIdCol), col(idCol),
        aggregate(zip_with(col("_rv"), col("_qrv"), (x, y) => x * y),
          lit(0L), (a, v) => a + v).as("score"))
    val cand = finishTopK(scored, qIdCol, idCol, coarseK)
      .select(col(qIdCol), col(idCol))
    val rescored = corpus
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries), Seq(qIdCol))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(rescored, qIdCol, idCol, k)
  }

  /** Persist a trained PCA projection as a (c, d, x) table — the
    * [[ivfPqIndexRecords]] convention for the reduction tier: a
    * serving projection must be versionable alongside the reduced
    * vectors it produced, not JVM-resident. Entries are exact integers
    * by construction, so the round trip is lossless. */
  def pcaIndexRecords(spark: SparkSession,
      comps: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    comps.toSeq.zipWithIndex.flatMap { case (row, c) =>
      row.toSeq.zipWithIndex.map { case (x, d) => (c, d, x) }
    }.toDF("c", "d", "x")
  }

  /** Load a PCA projection from its [[pcaIndexRecords]] rows — the
    * collect is the matrix itself (outDims·dims entries, never
    * corpus-sized). Fail-loud on a malformed store: duplicate (c, d)
    * cells (written twice / versions mixed) or a ragged component
    * (a dimension gap) would silently corrupt every projection. */
  def pcaIndexFromRecords(df: DataFrame): Array[Array[Long]] = {
    require(Set("c", "d", "x").subsetOf(df.columns.toSet),
      s"pcaIndexFromRecords: need (c, d, x) — pcaIndexRecords' " +
        s"schema — got ${df.columns.mkString(", ")}")
    val rows = df.select(col("c").cast("int"), col("d").cast("int"),
        col("x").cast("long"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    require(rows.nonEmpty, "pcaIndexFromRecords: empty index table")
    val keys = rows.map(r => (r._1, r._2))
    require(keys.distinct.length == keys.length,
      s"pcaIndexFromRecords: duplicate (c, d) cells — " +
        s"${keys.diff(keys.distinct).distinct.take(5).mkString(", ")}; " +
        "index table written twice or versions mixed")
    val byC = rows.groupBy(_._1)
    val cs = byC.keys.toArray.sorted
    require(cs.head == 0 && cs.last == cs.length - 1,
      s"pcaIndexFromRecords: component ids must be 0..${cs.length - 1}, " +
        s"got ${cs.take(8).mkString(", ")}")
    val dims = byC(0).length
    cs.map { c =>
      val ds = byC(c).sortBy(_._2)
      require(ds.length == dims && ds.head._2 == 0 && ds.last._2 == dims - 1,
        s"pcaIndexFromRecords: component $c is ragged — " +
          s"${ds.length} cells vs $dims in component 0")
      ds.map(_._3)
    }
  }

  /** MAXIMAL MARGINAL RELEVANCE diversified top-k (X158; Carbonell &
    * Goldstein 1998) — the serving-side pass between retrieval and a
    * context window: from each query's `fetchK` most-relevant
    * candidates, greedily select k results trading relevance against
    * redundancy, step score = λ·rel − (1−λ)·max_{s∈selected} sim(c, s).
    *
    * Exactness: relevance and pairwise similarity are cosines
    * quantized to 1e-6 BIGINT units (floor(x·1e6 + 0.5) — the portable
    * rounding), λ is the integer percentage `lambdaPct`, so every MMR
    * score is mmr = lambdaPct·rel6 − (100−lambdaPct)·maxSim6 — pure
    * BIGINT, ties broken by vec_id asc: the whole greedy trajectory is
    * engine-exact and the oracle unrolls the k selection steps.
    *
    * Scale shape: candidate generation is [[bruteForceTopK]]'s scan
    * (broadcast queries, bounded heaps); the pairwise-sim table is
    * |Q|·fetchK² SHORT rows (ids + one BIGINT — vectors join once,
    * fetchK-bounded); the greedy selection itself runs MAP-SIDE as one
    * HOF fold over per-query state bounded by fetchK² map entries —
    * no per-step shuffle, no driver loop, |Q| rows in flight. At 100 TB
    * the corpus cost is the one candidate scan; everything after is
    * per-query-bounded. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, fetchK: Int,
      lambdaPct: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(fetchK >= k && k >= 1, s"need fetchK >= k >= 1, got $fetchK/$k")
    def cos6(a: Column, b: Column): Column =
      floor(cosineAuto(a, b) * 1e6 + 0.5).cast("long")
    // stage 1: fetchK most-relevant candidates per query, integer rel
    val scored = spread(corpus).join(broadcast(queries))
      .select(col(qIdCol), col(idCol),
        cos6(col(vecCol), col(qVecCol)).as("score"))
    // finishTopK's heap orders on double scores; rel6 ≤ 1e6 ≪ 2^53 so
    // the round trip back to BIGINT is exact
    val cand = finishTopK(scored, qIdCol, idCol, fetchK)
      .select(col(qIdCol), col(idCol), col("score").cast("long").as("rel"))
    mmrRerank(corpus, cand, k, lambdaPct, idCol, vecCol, qIdCol)
  }

  /** MMR greedy selection over a PRECOMPUTED candidate table — the
    * serving composition: any retrieval tier (brute force, binary,
    * IVF-PQ, hybrid fusion) produces `(qIdCol, idCol, rel)` candidates
    * (rel = 1e-6-quantized relevance, BIGINT) and this pass diversifies
    * them. [[mmrTopK]] is exactly bruteForce-candidates → this method,
    * so mmr-over-bruteforce ≡ mmrTopK by construction (spec-pinned).
    *
    * Scale shape: identical to [[mmrTopK]] stages 2-3 — candidates
    * broadcast back into the corpus ONCE for their vectors (the
    * candidate table is |Q|·fetchK short rows), the pairwise-sim table
    * is |Q|·fetchK² short rows, and the greedy fold runs map-side over
    * per-query bounded state. The corpus is only touched by the one
    * keyed vector join; at 100 TB everything after the candidate join
    * is per-query-bounded. */
  def mmrRerank(corpus: DataFrame, candidates: DataFrame, k: Int,
      lambdaPct: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", qIdCol: String = "q_id"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"lambdaPct must be 0..100, got $lambdaPct")
    require(candidates.columns.contains("rel"),
      "mmrRerank: candidates must carry a BIGINT `rel` column " +
        "(1e-6-quantized relevance)")
    def cos6(a: Column, b: Column): Column =
      floor(cosineAuto(a, b) * 1e6 + 0.5).cast("long")
    val cand = candidates
      .select(col(qIdCol), col(idCol), col("rel").cast("long").as("_rel"))
    // stage 2: pairwise candidate sims — candidates rejoin the corpus
    // for their vectors ONCE (fetchK·|Q| rows), then pair up per query:
    // |Q|·fetchK² short (q, a|b, sim) rows, never corpus-sized. Cosine
    // is symmetric, so each unordered pair is scored once and keyed
    // both ways.
    val cv = corpus.join(broadcast(cand.select(col(qIdCol), col(idCol))),
      Seq(idCol)).select(col(qIdCol), col(idCol), col(vecCol))
    def key(a: Column, b: Column): Column =
      concat_ws("|", a.cast("string"), b.cast("string"))
    val sims = Candidates.bucketMates(cv, Seq(qIdCol),
        struct(col(idCol).as("id"), col(vecCol).as("_v")))
      .filter(col("id1.id") =!= col("id2.id"))
      .select(col(qIdCol),
        explode(array(key(col("id1.id"), col("id2.id")),
          key(col("id2.id"), col("id1.id")))).as("_k"),
        cos6(col("id1._v"), col("id2._v")).as("_sim"))
    // stage 3: per-query bounded state — candidate array (canonical id
    // order) + sim lookup map — then the greedy fold, map-side
    val candArr = cand.groupBy(col(qIdCol))
      .agg(sort_array(collect_list(struct(col(idCol).as("vec_id"),
        col("_rel").as("rel")))).as("_cands"))
    val simMap = sims.groupBy(col(qIdCol))
      .agg(map_from_entries(collect_list(struct(col("_k"), col("_sim"))))
        .as("_sims"))
    val state = candArr.join(simMap, Seq(qIdCol), "left")
    val lam = lit(lambdaPct.toLong)
    val oneMinus = lit((100 - lambdaPct).toLong)
    val selected = aggregate(
      sequence(lit(1), lit(k)),
      array().cast("array<struct<vec_id:bigint,rel:bigint,mmr:bigint>>"),
      (acc, _) => {
        val chosenIds = transform(acc, s => s.getField("vec_id"))
        val remaining = filter(col("_cands"),
          c => !array_contains(chosenIds, c.getField("vec_id")))
        val rescored = transform(remaining, c => {
          val maxSim = coalesce(
            array_max(transform(acc, s => coalesce(
              try_element_at(col("_sims"),
                concat_ws("|", c.getField("vec_id").cast("string"),
                  s.getField("vec_id").cast("string"))),
              lit(0L)))),
            lit(0L))
          val mmr = lam * c.getField("rel") - oneMinus * maxSim
          // array_max orders struct fields lexicographically: max mmr
          // first, then max(-id) = MIN id on ties
          struct(mmr.as("mmr"), (-c.getField("vec_id")).as("_negid"),
            c.getField("vec_id").as("vec_id"), c.getField("rel").as("rel"))
        })
        val best = array_max(rescored)
        when(size(remaining) > 0,
          concat(acc, array(struct(best.getField("vec_id").as("vec_id"),
            best.getField("rel").as("rel"), best.getField("mmr").as("mmr")))))
          .otherwise(acc)
      })
    state.select(col(qIdCol), posexplode(selected))
      .select(col(qIdCol), col("col.vec_id").as(idCol),
        col("col.rel").as("rel"), col("col.mmr").as("mmr"),
        (col("pos") + 1).cast("int").as("step"))
  }

  /** ColBERT-style LATE-INTERACTION MaxSim top-k (Khattab & Zaharia
    * 2020, arXiv:2004.12832): documents and queries carry MULTIPLE
    * sub-vectors (here: `subs` contiguous slices of one embedding —
    * the plumbing is what matters; a real deployment feeds per-token
    * vectors through the same shape), and
    * score(q, d) = Σ_{qs ∈ q} max_{ds ∈ d} cos(qs, ds).
    *
    * Determinism/portability: each sub-cosine rounds to 6dp, the max
    * per query-sub quantizes to 1e-6 fixed-point BIGINT, and the
    * query-sub SUM runs over those exact integers — float sums are
    * order-sensitive across engines, integer sums are not.
    *
    * Scale shape: identical to [[bruteForceTopK]] — queries broadcast,
    * per-row HOF scoring inside the map stage, bounded per-partition
    * top-k heaps; the corpus never shuffles (only k rows per query per
    * partition reach the combine). */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, k: Int, subs: Int,
      dims: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(dims % subs == 0, s"dims ($dims) must divide into $subs sub-vectors")
    val len = dims / subs
    // Each side carries (v, inv) structs with inv = 1/sqrt(dot(v,v))
    // computed ONCE per sub-vector, so the per-pair inner loop is one
    // dot + two multiplies instead of three dots + two sqrts. A zero
    // sub-slice gets inv = 0 and scores cos 0.0 — the division form
    // would produce NaN and the fixed-point BIGINT cast under ANSI
    // (Spark 4 default; DuckDB CAST likewise) would kill the query.
    // The oracle SQL mirrors this exact expression shape
    // (dot · inv_a · inv_b, left-assoc) so 6dp rounding stays
    // bit-identical across engines.
    def subStructs(v: Column): Column =
      transform(sequence(lit(0), lit(subs - 1)), i => {
        val s = slice(v.cast("array<double>"), i * len + 1, lit(len))
        val n2 = dotAuto(corpus, s, s)
        struct(s.as("v"),
          when(n2 > lit(0.0), lit(1.0) / sqrt(n2))
            .otherwise(lit(0.0)).as("inv"))
      })
    def cos6(a: Column, b: Column): Column =
      round(dotAuto(corpus, a("v"), b("v")) * a("inv") * b("inv"), 6)
    val scored = spread(corpus)
      .withColumn("_dsubs", subStructs(col(vecCol)))
      .join(broadcast(queries.withColumn("_qsubs", subStructs(col(qVecCol)))))
      .withColumn("_s6", aggregate(col("_qsubs"), lit(0L), (acc, qs) =>
        acc + floor(array_max(transform(col("_dsubs"), ds => cos6(qs, ds))) *
          1e6 + 0.5).cast("long")))
      .withColumn("score", round(col("_s6").cast("double") / 1e6, 6))
    finishTopK(scored, qIdCol, idCol, k)
  }

  /** Random-hyperplane sign signature of width `bits`: bit i is set
    * iff the dot product with pseudo-random hyperplane i is ≥ 0,
    * summed left to right over the vector. The hyperplanes are
    * deterministic functions of (i, dim) — md5-derived in [-0.5, 0.5),
    * see [[planeCoef]] — so any engine reproduces them. Runs in the
    * native codegen kernel (a tight loop over a cached coefficient
    * matrix). The vector's own length sets the dimension. */
  def signSignatureAuto(vec: Column, bits: Int): Column =
    Native.hyperplaneSig(vec, bits)

  /** Deterministic pseudo-random coefficient in [-0.5, 0.5):
    * first 6 md5 hex chars of "b:d" as int / 2^24 − 0.5. Precomputed
    * at plan-build time (Scala-side constant folding — the plan
    * carries literals, not hash calls). */
  def planeCoef(b: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$b:$d".getBytes("UTF-8"))
      .take(3).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16).toDouble / (1 << 24) - 0.5
  }

  /** LSH-bucketed ANN top-k: corpus and queries are signed with the
    * same hyperplanes; each query scans only corpus rows whose full
    * signature matches (single-probe). Equi-join on the signature —
    * shuffle keys are (sig, id), never the vectors at rest twice. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val c = spread(corpus).withColumn("_sig", signSignatureAuto(col(vecCol), bits))
    val q = queries.withColumn("_sig", signSignatureAuto(col(qVecCol), bits))
    val scored = c.join(broadcast(q), Seq("_sig"))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(scored, qIdCol, idCol, k)
  }

  /** MULTI-TABLE (OR-over-bands) LSH top-k — the serving-grade form of
    * [[lshTopK]]: one `bands·bits`-plane signature sliced into `bands`
    * independent `bits`-bit tables; a corpus row is a candidate for a
    * query iff they agree on ALL bits of AT LEAST ONE band (the X5
    * `embeddingNearDupPairs` banding arrangement applied to top-k),
    * and candidates are then re-scored with exact float cosine. The
    * repo's own recall harness measured the single-table variant at
    * 0.12 recall@10 — one narrow table either over-prunes (wide sig)
    * or over-admits (narrow sig); OR-ing `bands` narrow tables keeps
    * per-table buckets selective while the union recovers recall
    * (1 − (1−p)^bands for per-table collision rate p).
    *
    * Scale shape: the corpus explodes to `bands` (id, band, bucket)
    * rows — short keys, NO vector payload (unlike the single-table
    * probe, candidate generation and scoring are split exactly so the
    * vectors never ride the banding); queries broadcast into the
    * bucket probe (map-side), the candidate distinct is a shuffle of
    * (q_id, id) pairs only, and the exact re-score joins candidates
    * back by id — broadcast when the candidate list fits the budget
    * (one bounded limit-probe), shuffle-hash-pinned fallback above it
    * (a hot bucket can make candidates quadratic-ish; the corpus-sized
    * join side must never ride an AQE broadcast guess). */
  def lshTopKMultiBand(corpus: DataFrame, queries: DataFrame, k: Int,
      bands: Int, bits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      candBroadcastBudget: Long = 1000000L): DataFrame = {
    val total = bands * bits
    require(bands >= 1 && bits >= 1, s"need bands/bits >= 1, got $bands/$bits")
    require(total <= 63, s"bands*bits must fit a signed long, got $total")
    val mask = (1L << bits) - 1
    def bandRows(df: DataFrame, id: Column, vec: Column, outId: String) = {
      val sig = signSignatureAuto(vec, total)
      df.select(id.as(outId), sig.as("_sig"))
        .select(col(outId), posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("_sig"), b * bits).bitwiseAND(lit(mask))): _*))
          .as(Seq("_band", "_bucket")))
    }
    val c = bandRows(spread(corpus), col(idCol), col(vecCol), idCol)
    val q = bandRows(queries, col(qIdCol), col(qVecCol), qIdCol)
    val cand = c.join(broadcast(q), Seq("_band", "_bucket"))
      .select(col(qIdCol), col(idCol)).distinct()
      .persistTracked()
    val candJoin =
      if (Dedup.fitsBudget(cand, candBroadcastBudget)) broadcast(cand)
      else cand.hint("shuffle_hash")
    val rescored = corpus
      .join(candJoin, Seq(idCol))
      .join(broadcast(queries), Seq(qIdCol))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(rescored, qIdCol, idCol, k)
  }

  /** MULTI-PROBE LSH top-k (X137) — the query-side recall lever that
    * beats adding tables: instead of `bands` independent indexes
    * ([[lshTopKMultiBand]]), ONE `bits`-bit table is probed at the
    * query's own bucket plus the `nprobe − 1` buckets reachable by
    * flipping its LOWEST-MARGIN sign bits (margin = |projection| on
    * that plane — the bits most likely to disagree for a true
    * neighbor, the Lv et al. 2007 multi-probe idea). Perturbations
    * are ALL ≤`maxFlips`-bit subsets of the `poolSize` lowest-margin
    * bits, ranked by their flipped-margin sum — fully deterministic,
    * so the probe set (and therefore the result) is a pure function
    * of the data and hash-verifiable. Measured on the gate corpus
    * (PLANS.md round-11 table): matches the 8×5 multi-table recall
    * tier at roughly HALF the candidate fraction, while storing one
    * table instead of eight.
    *
    * Scale shape: identical to [[lshTopK]] — the corpus carries
    * (sig, id, vec) once, the probe side is the broadcast query set
    * exploded to ≤nprobe rows each, the join is a bucket equi-join,
    * and a corpus row can match at most ONE probe of a query (probes
    * are distinct signatures), so no candidate dedup pass is needed
    * before the bounded-heap top-k. */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int, dims: Int, nprobe: Int,
      poolSize: Int = 6, maxFlips: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(poolSize >= 1 && poolSize <= bits,
      s"poolSize must be in [1, $bits], got $poolSize")
    require(maxFlips >= 1 && maxFlips <= poolSize,
      s"maxFlips must be in [1, $poolSize], got $maxFlips")
    val subsets: Seq[Seq[Int]] =
      (1 to maxFlips).flatMap(r => (0 until poolSize).combinations(r).map(_.toSeq))
    require(nprobe >= 1 && nprobe <= 1 + subsets.size,
      s"nprobe must be in [1, ${1 + subsets.size}] for poolSize=$poolSize/maxFlips=$maxFlips, got $nprobe")
    // per-plane projections with the signSignatureAuto fold order, so the
    // derived base signature is bit-identical to the corpus side's.
    // ONE typedlit bits×dims coefficient matrix + per-plane zip_with/
    // aggregate folds, materialized ONCE into a `_proj` array column —
    // the prior form unrolled bits·dims literal multiply-adds and then
    // duplicated the whole block into the base signature AND each of
    // the `bits` margin structs (~2·bits·dims codegen terms), which
    // made the PLAN cost of this operator visible at any data size.
    // The aggregate's 0.0 seed vs reduce's seedless fold differ only
    // in the sign of an all-zero sum, which neither the >= 0 sign test
    // nor abs() can observe — projections stay value-identical.
    val coefLit = typedlit((0 until bits).map(b =>
      (0 until dims).map(d => planeCoef(b, d))))
    val projArr = transform(sequence(lit(0), lit(bits - 1)), b =>
      aggregate(
        zip_with(col(qVecCol), element_at(coefLit, b + 1),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v))
    def proj(b: Int): Column = element_at(col("_proj"), b + 1)
    val baseSig = (0 until bits).map(b =>
      when(proj(b) >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    // (margin, bit, bit-mask) structs; margins round to 9dp so the
    // lexicographic sort is engine-exact (values themselves are
    // identical-fold doubles; the rounding absorbs formatting ulps)
    val poolStructs = (0 until bits).map(b =>
      struct(round(abs(proj(b)), 9).as("m"), lit(b).as("b"),
        lit(1L << b).as("bm")))
    val alts = transform(typedlit(subsets), ss => struct(
      round(aggregate(ss, lit(0.0),
        (acc, i) => acc + element_at(col("_pool"), i + 1).getField("m")), 9).as("ms"),
      aggregate(ss, lit(0L),
        (acc, i) => acc.bitwiseOR(element_at(col("_pool"), i + 1).getField("bm")))
        .as("mask")))
    // the probe LIST materializes BEFORE the explode (localCheckpoint
    // on the queries-sized frame — the side that broadcasts anyway):
    // left lazy, the generator re-evaluates the full collapsed
    // margin-subset tree per EMITTED probe row, which at the
    // saturated adaptive geometry (pool 8, flips 8 → 255 subsets ×
    // inlined pool/projection folds) measured 25 s for 40 queries vs
    // 0.3 s materialized — a plan-shape constant, independent of
    // corpus size (r20, PLANS "adaptive multi-probe cost")
    val q = queries
      .withColumn("_proj", projArr)
      .withColumn("_base", baseSig)
      .withColumn("_pool", slice(array_sort(array(poolStructs: _*)), 1, poolSize))
      .withColumn("_alts", slice(array_sort(alts), 1, nprobe - 1))
      .withColumn("_probes", array_distinct(concat(
        array(col("_base")),
        transform(col("_alts"), a => col("_base").bitwiseXOR(a.getField("mask"))))))
      .select(col(qIdCol), col(qVecCol), col("_probes"))
      .localCheckpoint()
      .select(col(qIdCol), col(qVecCol), explode(col("_probes")).as("_sig"))
    val c = spread(corpus)
      .withColumn("_sig", signSignatureAuto(col(vecCol), bits))
    val scored = c.join(broadcast(q), Seq("_sig"))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(scored, qIdCol, idCol, k)
  }

  /** IVF-style ANN: a deterministic coarse quantizer (every
    * `centroidEvery`-th corpus vector is a centroid) assigns each
    * corpus vector to its nearest centroid cell; a query probes its
    * `nprobe` nearest cells and scores only those cells' members.
    *
    * Scale shape: the centroid set is bounded by ENFORCEMENT, not just
    * convention — the modulus sample is drained through
    * `orderBy(id).limit(maxCentroids)`, which plans as
    * TakeOrderedAndProject (per-partition top-N, single merged
    * partition), so the driver never receives more than
    * `maxCentroids` rows however large the corpus is. The bounded set
    * is folded into the plan as literals, exactly like broadcast
    * k-means centroids; cell assignment is then a pure map-side
    * argmax per row — NO shuffle between the scan and the cell id.
    * The probe is an equi-join on cell id — corpus work drops by
    * ~cells/nprobe. When the cap binds (corpus/centroidEvery >
    * maxCentroids) the lowest-id sample survives deterministically —
    * but at that size a production build should learn centroids with
    * k-means ([[ivfTopKWith]] + [[Clustering.kmeansCentroidsDouble]]);
    * the assignment/probe plumbing is identical. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec",
      maxCentroids: Int = 4096): DataFrame = {
    val cents: Array[(Long, Array[Double])] = corpus
      .filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol).cast("long"))
      .limit(maxCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    ivfTopKWith(cents, corpus, queries, k, nprobe,
      idCol, vecCol, qIdCol, qVecCol)
  }

  /** IVF probe against an EXPLICIT centroid set — e.g. one trained by
    * [[Clustering.kmeansCentroidsDouble]] (the production coarse
    * quantizer); [[ivfTopK]]'s deterministic sampler delegates here.
    * Same plan: literal broadcast centroids, map-side argmax
    * assignment, equi-join probe. */
  def ivfTopKWith(cents: Array[(Long, Array[Double])],
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    require(cents.nonEmpty, "ivfTopK: empty centroid set")

    // centroid norm with the same left-to-right fold as
    // list_dot_product / graft_dot, so the rounded scores agree
    def centNorm(v: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

    /** nearest `n` cells per row, map-side: rounded cosine against
      * every literal centroid, struct-sort (score desc, cell asc),
      * explode the first n. */
    def assign(df: DataFrame, vec: Column, n: Int): DataFrame = {
      val entries = cents.map { case (cid, cv) =>
        struct(
          round(dotAuto(df, vec, typedlit(cv.toSeq)) /
            (col("_vnorm") * lit(centNorm(cv))), 6).as("s"),
          lit(-cid).as("nid"))
      }
      spread(df)
        .withColumn("_vnorm", sqrt(dotAuto(df, vec, vec)))
        .withColumn("_ce", explode(slice(sort_array(array(entries: _*), asc = false), 1, n)))
        .withColumn("_cell", -col("_ce.nid"))
        .drop("_ce", "_vnorm")
    }

    val corpusCells = assign(corpus, col(vecCol), 1)
    val queryCells = assign(queries, col(qVecCol), nprobe)

    val scored = corpusCells.join(broadcast(queryCells), Seq("_cell"))
      .withColumn("score", cosineAuto(col(vecCol), col(qVecCol)))
    finishTopK(scored, qIdCol, idCol, k)
  }

  /** Per-vector distance quantum for [[ivfDriftReport]]: exact integer
    * sqdists (≈ dims·(Δ·scale)² per vector) are BIGINT-safe per row
    * but their per-cell SUM overflows around 10⁴–10⁵ rows/cell at
    * scale 1e6 — dividing each row's dist by 2²⁰ FIRST (engine-exact
    * integral division) keeps cell sums BIGINT-safe past 10¹³
    * rows/cell while preserving the drift signal's resolution. */
  private val DriftDistQuantum = 1L << 20

  /** Frozen-quantizer DRIFT monitor (X135) — the operational
    * counterpart of the incremental-semantic/IVF stores: the X116/X52
    * contract freezes the centroids so cells never drift across
    * increments, which silently degrades as the DATA drifts away from
    * the training distribution. This report quantifies that: per cell,
    * the store's vs the new batch's population share (basis points)
    * and mean assignment distance (quantized integer sqdist to the
    * winning centroid), flagging cells whose share shifted ≥
    * `shareDriftBp` or whose mean distance grew ≥ `distGrowthBp` —
    * the evidence that says "retrain the quantizer" BEFORE recall
    * quietly decays. Every number is exact integer arithmetic
    * (integral-division shares/means, per-row distance quantum), so
    * the report is hash-verifiable like everything else.
    *
    * Scale shape: two map-side literal-argmin assignments (zero
    * shuffle between scan and cell), one #cells-row partial agg per
    * side, a #cells full-outer join, and two 1-row total aggregates
    * attached by broadcast — the corpus never shuffles. */
  def ivfDriftReport(store: DataFrame, newBatch: DataFrame,
      cents: Array[(Int, Array[Long])],
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Double = 1e6,
      shareDriftBp: Long = 200L, distGrowthBp: Long = 2000L): DataFrame = {
    require(shareDriftBp >= 0 && distGrowthBp >= 0,
      s"thresholds must be >= 0, got $shareDriftBp/$distGrowthBp")
    def cellStats(df: DataFrame, nCol: String, dCol: String): DataFrame =
      Clustering.assignCellsWithDist(spread(df), idCol, vecCol, cents, scale)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as(nCol),
          sum(expr(s"dist div $DriftDistQuantum")).as(dCol))
    // each stats frame feeds its 1-row total AND the cell join
    val sStats = graft.core.Caches.persistTracked(
      cellStats(store, "store_n", "_sd"))
    val bStats = graft.core.Caches.persistTracked(
      cellStats(newBatch, "batch_n", "_bd"))
    val sTot = sStats.agg(coalesce(sum(col("store_n")), lit(0L)).as("_st"))
    val bTot = bStats.agg(coalesce(sum(col("batch_n")), lit(0L)).as("_bt"))
    val joined = sStats.join(bStats, Seq("cell"), "full_outer")
      .crossJoin(broadcast(sTot)).crossJoin(broadcast(bTot))
      .select(col("cell"),
        coalesce(col("store_n"), lit(0L)).as("store_n"),
        coalesce(col("batch_n"), lit(0L)).as("batch_n"),
        coalesce(col("_sd"), lit(0L)).as("_sd"),
        coalesce(col("_bd"), lit(0L)).as("_bd"),
        col("_st"), col("_bt"))
      .withColumn("store_share_bp",
        when(col("_st") > 0, expr("store_n * 10000L div _st")).otherwise(lit(0L)))
      .withColumn("batch_share_bp",
        when(col("_bt") > 0, expr("batch_n * 10000L div _bt")).otherwise(lit(0L)))
      .withColumn("share_drift_bp",
        abs(col("batch_share_bp") - col("store_share_bp")))
      .withColumn("store_mean_qdist",
        when(col("store_n") > 0, expr("_sd div store_n")))
      .withColumn("batch_mean_qdist",
        when(col("batch_n") > 0, expr("_bd div batch_n")))
      .withColumn("dist_growth_bp",
        when(col("store_mean_qdist") > 0 && col("batch_mean_qdist").isNotNull,
          expr("batch_mean_qdist * 10000L div store_mean_qdist")))
    joined
      .withColumn("drifted",
        col("share_drift_bp") >= shareDriftBp ||
          coalesce(col("dist_growth_bp") >= lit(10000L + distGrowthBp), lit(false)) ||
          // a zero store mean makes relative growth undefined exactly
          // when drift is most extreme (store ON its centroids, batch
          // off them) — any nonzero batch mean flags
          coalesce(col("store_mean_qdist") === 0 && col("batch_mean_qdist") > 0,
            lit(false)))
      .select(col("cell"), col("store_n"), col("batch_n"),
        col("store_share_bp"), col("batch_share_bp"), col("share_drift_bp"),
        col("store_mean_qdist"), col("batch_mean_qdist"),
        col("dist_growth_bp"), col("drifted"))
  }

  /** SemDeDup (semantic deduplication, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, compute
    * pairwise cosine ONLY within a cluster, and drop every vector that
    * has a lower-id cluster-sibling with cosine ≥ threshold — the
    * "semantically redundant" tail of a training corpus. Returns the
    * SURVIVORS as (idCol, cluster).
    *
    * Scale shape: clustering is the exact fixed-point Lloyd loop
    * ([[Clustering.kmeansFixedPoint]]: driver rounds after one bounded
    * collect below the size gate; above it broadcast literal centroids,
    * map-side argmin, one partial-agg shuffle per round); the
    * quadratic term is confined to within-cell pairing: one hash
    * aggregation on cluster id gathers each cell
    * ([[Candidates.bucketMates]]), never a driver broadcast. Cells are
    * corpus/k, so k must grow with the corpus (the paper uses k ≈
    * √n-ish) to bound the per-cell pair volume; the drop rule (exists
    * a lower-id similar sibling) is a distinct + anti-join, no
    * transitive closure needed. */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = Clustering.kmeansFixedPoint(corpus, idCol, vecCol, k, iters)
      .select(col("vec_id").as(idCol), col("cluster"))
    // (id, vector, cluster) feeds the cell pairing and the survivor
    // anti-join.
    // shuffle-hash pinned: both sides are corpus-sized — AQE would
    // broadcast `assigned` from small-SF stats and that dies at scale
    val withCell = spread(corpus).select(col(idCol), col(vecCol))
      .hint("shuffle_hash").join(assigned, Seq(idCol))
      .persistTracked()
    val dropped = cellMates(withCell, "cluster", idCol, vecCol, threshold)
      .select(col("id2").as(idCol)).distinct()
    withCell.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** `(id1, id2)` pairs of `cells` rows that share `cell`, with
    * `id1 < id2` and cosine ≥ `threshold`: the within-cell quadratic
    * pass of the SemDeDup family. A cell's rows sit in one collected
    * row, the rows a hash-join build on `cell` would hold. */
  private def cellMates(cells: DataFrame, cell: String, idCol: String,
      vecCol: String, threshold: Double): DataFrame =
    Candidates.bucketMates(cells, Seq(cell),
        struct(col(idCol).as("id"), col(vecCol).as("_v")))
      .filter(col("id1.id") < col("id2.id") &&
        cosineAuto(col("id1._v"), col("id2._v")) >= threshold)
      .select(col("id1.id").as("id1"), col("id2.id").as("id2"))

  /** [[semanticDedup]] with k DERIVED from the corpus instead of
    * caller-supplied — the scale-ergonomics variant: the caller states
    * the invariant that actually matters (how big a cell the
    * within-cell quadratic pass may see) and k follows the data.
    *
    * Derivation: `k = ceil(n / targetCellSize)` clamped to
    * `[1, maxK]`, from ONE count action (an O(1)-result aggregate —
    * never a row collect). `maxK` bounds the driver-held centroid
    * array (k·dims values ride the plan as literals — [[Clustering]]'s
    * contract); hitting the clamp means mean cell size grows past
    * `targetCellSize` again, so that clamp fails loud rather than
    * silently re-admitting the quadratic blowup the derivation exists
    * to prevent. Mean cell size ≤ targetCellSize by construction;
    * k-means skew can still produce hot cells (data property, same as
    * the explicit-k API). */
  def semanticDedupAuto(corpus: DataFrame, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetCellSize: Int = 1024, maxK: Int = 65536): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize must be positive, got $targetCellSize")
    require(maxK > 0, s"maxK must be positive, got $maxK")
    val n = corpus.select(col(idCol)).count()
    require(n > 0, "semanticDedupAuto: empty corpus")
    // ONE derivation, shared with oracle generators/specs — the helper
    // throws past maxK, so Auto and AutoK can never disagree
    semanticDedup(corpus, semanticDedupAutoK(n, targetCellSize, maxK),
      iters, threshold, idCol, vecCol)
  }

  /** The k [[semanticDedupAuto]] would run with — exposed so specs and
    * oracle generators can pin the derivation without running the
    * clusterer. Mirrors Auto's maxK contract exactly: past the clamp
    * Auto THROWS rather than silently re-admitting oversized cells, so
    * this helper must too (a silently clamped k here would let an
    * oracle generator emit an expected result for an invocation that
    * actually fails). */
  def semanticDedupAutoK(n: Long, targetCellSize: Int, maxK: Int): Int = {
    val derived = math.max(1L, (n + targetCellSize - 1) / targetCellSize)
    require(derived <= maxK,
      s"semanticDedupAutoK: derived k=$derived exceeds maxK=$maxK — " +
        s"raise maxK (driver holds k*dims centroid values) or targetCellSize")
    derived.toInt
  }

  /** Per-vector SEMANTIC-dedup store record — the append-only index
    * [[incrementalSemanticDedup]] dedups against: `(id, embedding,
    * cell)`, where `cell` is the FROZEN-quantizer k-means cell
    * ([[Clustering.assignCells]] against the centroids the caller
    * trained once at bootstrap). Run once over the initial corpus to
    * bootstrap the store; after that the store grows ONLY by appending
    * each increment's survivors — history is never re-embedded or
    * re-assigned, and the centroids never move (re-training them would
    * silently re-shard every stored vector's cell). */
  def semanticStoreRecords(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Long])], scale: Double = 1e6): DataFrame =
    Clustering.assignCells(spread(corpus), idCol, vecCol, cents, scale)
      .select(col(idCol).as("id"), col(vecCol).as("embedding"), col("cell"))

  /** QUANTIZER REFRESH with store migration (X148) — the consumer of
    * [[ivfDriftReport]]'s "retrain the quantizer" signal, closing the
    * ops loop the frozen-centroid contract opens: retraining centroids
    * invalidates every stored `cell` (the X116/X52 stores are sharded
    * by the OLD quantizer's cells), so the swap must reassign the
    * whole store under the new centroids before any increment may use
    * them. This does exactly that: ONE map-side pass over the store —
    * the new centroids ride the plan as literals
    * ([[Clustering.assignCells]], the bit-identical integer argmin
    * every increment runs), zero shuffles, embeddings never move — so
    * at 100 TB the migration costs one store scan + rewrite, the
    * cheapest it can be.
    *
    * Safety contract (spec-pinned): because the store's (id,
    * embedding) payload is authoritative and `cell` is a pure function
    * of (embedding, centroids), refresh(store, newCents) is
    * frame-equal to bootstrapping [[semanticStoreRecords]] from the
    * same vectors under newCents — so a post-refresh
    * [[incrementalSemanticDedup]] under newCents behaves exactly as if
    * the corpus had been ingested under the new quantizer from day
    * one. The dedup DECISIONS may legitimately differ from the old
    * quantizer's (cells confine the pairwise pass; that is the
    * documented SemDeDup approximation surface, re-sharded by design),
    * which is why the swap is an explicit operator and not something
    * an increment is allowed to do implicitly. */
  def refreshQuantizer(store: DataFrame,
      newCents: Array[(Int, Array[Long])],
      scale: Double = 1e6): DataFrame = {
    val needed = Set("id", "embedding", "cell")
    require(needed.subsetOf(store.columns.toSet),
      s"refreshQuantizer: store must have columns id/embedding/cell " +
        s"(semanticStoreRecords' schema), got ${store.columns.mkString(", ")}")
    Clustering.assignCells(store.select(col("id"), col("embedding")),
      "id", "embedding", newCents, scale)
      .select(col("id"), col("embedding"), col("cell"))
  }

  /** Incremental (cross-snapshot) SEMANTIC dedup — the embedding-space
    * member of the ingestion trilogy with [[Dedup.incrementalExactDedup]]
    * (exact) and [[Dedup.incrementalNearDup]] (MinHash): a new batch of
    * embedded documents dedups against the already-ingested corpus
    * represented only by its [[semanticStoreRecords]] index. SemDeDup's
    * within-cell confinement carries over unchanged: the batch assigns
    * map-side to the FROZEN centroids (plan literals — zero shuffle
    * between scan and cell id, and bit-identical to the assignment that
    * built the store), and the quadratic cosine pass runs only inside a
    * cell — batch-vs-store equi-joins on `cell` and batch-vs-batch
    * pairs each cell's rows ([[Candidates.bucketMates]]), never
    * all-pairs. A batch vector drops iff it scores rounded-6dp
    * cosine ≥ `threshold` against any store cell-sibling or any
    * SMALLER-id batch cell-sibling (the pairwise lowest-id rule shared
    * with the other two increments — closure is
    * [[Dedup.connectedComponents]]' job). The store join is pinned
    * shuffle-hash: the store side is corpus-sized and the batch side
    * is caller-sized — neither may ride an AQE broadcast guess. The
    * dup-id anti-join probe IS gated (`fitsBudget`): dup ids are
    * bounded by the batch, not the store.
    *
    * Returns the surviving batch rows as their store-append record
    * (`id`, `embedding`, `cell`) — the caller's next increment is
    * `store.unionByName(survivors)`. */
  def incrementalSemanticDedup(newBatch: DataFrame, store: DataFrame,
      cents: Array[(Int, Array[Long])], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Double = 1e6,
      dupBroadcastBudget: Long = 1000000L): DataFrame = {
    val needed = Set("id", "embedding", "cell")
    require(needed.subsetOf(store.columns.toSet),
      s"incrementalSemanticDedup: store must have columns id/embedding/cell " +
        s"(semanticStoreRecords' schema), got ${store.columns.mkString(", ")}")
    // batch records feed the vs-store join, the within-batch cell
    // pairing, and the survivor anti-join — persist once
    // (registry-released)
    val batch = Clustering.assignCells(spread(newBatch), idCol, vecCol, cents, scale)
      .persistTracked()
    val storeSide = store.select(col("cell"), col("id").as("_sid"),
      col("embedding").as("_sv"))
    val dupVsStore = batch
      .select(col("cell"), col(idCol).as("_bid"), col(vecCol).as("_bv"))
      .hint("shuffle_hash").join(storeSide, Seq("cell"))
      .filter(cosineAuto(col("_bv"), col("_sv")) >= threshold)
      .select(col("_bid"))
    val dupInBatch = cellMates(batch, "cell", idCol, vecCol, threshold)
      .select(col("id2").as("_bid"))
    // persisted BEFORE the budget probe (fitsBudget's contract): the
    // probe and the anti-join share one computation of the store cell
    // join and the batch cell aggregation instead of running them twice
    val dups = dupVsStore.unionByName(dupInBatch).distinct()
      .persistTracked()
    val dupJoin =
      if (Dedup.fitsBudget(dups, dupBroadcastBudget)) broadcast(dups)
      else dups.hint("shuffle_hash")
    batch.join(dupJoin, batch(idCol) === dupJoin("_bid"), "left_anti")
      .select(col(idCol).as("id"), col(vecCol).as("embedding"), col("cell"))
  }

  /** SEMANTIC decontamination (X204) — the paraphrase-robust sibling
    * of the lexical 13-gram decontamination
    * ([[graft.operators.Corpus.contaminationFlags]]): n-gram overlap
    * misses an eval item that was reworded, translated, or
    * format-shifted into the training corpus, while embedding cosine
    * catches it. One verdict row per train doc: contaminated +
    * n_matches (distinct eval docs at cosine ≥ threshold) + max_sim.
    *
    * Scale shape — the SemDeDup confinement applied to a bipartite
    * problem: the TRAIN side assigns map-side to its one nearest cell
    * (frozen centroids as plan literals, zero shuffles before the
    * join); the EVAL side — small by nature, it's an eval set —
    * explodes to its `nprobe` nearest cells and BROADCASTS, so the
    * whole pass is one broadcast equi-join on cell over the train
    * scan, never train × eval. Recall semantics are explicit, not
    * hidden: a contaminated pair is missed only when the train doc's
    * cell is outside its eval match's nprobe probed cells — the
    * eval-side probe width is the recall knob (raise nprobe, not
    * retrain), mirroring the filtered-ANN guidance. Exact arithmetic
    * end to end (integer argmin assignment, 6dp cosine), so the flags
    * hash-replay on any engine. A train doc matches an eval doc at
    * most once (train has ONE cell; the eval explode probes distinct
    * cells), so n_matches counts distinct eval docs with no dedup
    * pass. */
  def semanticContaminationFlags(train: DataFrame, evalSet: DataFrame,
      cents: Array[(Int, Array[Long])], threshold: Double,
      nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", scale: Double = 1e6): DataFrame = {
    require(cents.nonEmpty, "semanticContaminationFlags: empty centroids")
    require(nprobe >= 1 && nprobe <= cents.length,
      s"semanticContaminationFlags: nprobe=$nprobe must be in " +
        s"[1, ${cents.length}]")
    require(threshold > 0.0 && threshold <= 1.0,
      s"semanticContaminationFlags: threshold=$threshold must be in (0, 1]")
    val t = Clustering.assignCells(spread(train), idCol, vecCol, cents, scale)
      .select(col("cell"), col(idCol).cast("long").as("_tid"),
        col(vecCol).as("_tv"))
    val eq = evalSet.select(col(idCol).cast("long").as("_eid"),
      col(vecCol).as("_ev"),
      Clustering.fixedPoint(col(vecCol), scale).as("_eq"))
    val probed = eq
      .withColumn("_pc", explode(Native.nearestK(col("_eq"), cents, nprobe)))
      .select(col("_eid"), col("_ev"), col("_pc").getField("c").as("cell"))
    val matches = t.join(broadcast(probed), Seq("cell"))
      .withColumn("_sim", cosineAuto(col("_tv"), col("_ev")))
      .filter(col("_sim") >= threshold)
      .groupBy(col("_tid"))
      .agg(count(lit(1)).as("n_matches"), max(col("_sim")).as("max_sim"))
    train.select(col(idCol).cast("long").as(idCol))
      .join(matches.hint("shuffle_hash"), col(idCol) === col("_tid"), "left")
      .select(col(idCol), col("_tid").isNotNull.as("contaminated"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
  }

  /** Embedding near-duplicate pairs: all (id1 < id2) pairs with cosine
    * ≥ threshold, candidates restricted to banded LSH sign-buckets —
    * `bands` independent `bits`-bit slices of one `bands·bits`-plane
    * signature; a pair is a candidate iff it agrees on ALL bits of at
    * least one band (the X2 MinHash band pattern). vs a single narrow
    * signature this keeps recall (OR over bands) while buckets shrink
    * by 2^(bits−single) — within-bucket pairing is the quadratic term
    * at scale. `maxBucketSize` skips pathological hot buckets (like
    * `Dedup.maxDocFreq`): a bucket of more rows yields no pairs;
    * default unbounded for exactness. */
  def embeddingNearDupPairs(df: DataFrame, threshold: Double, bits: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 1, maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val total = bits * bands
    require(total <= 63, s"bands*bits must fit a signed long, got $total")
    val base = spread(df).select(col(idCol).as("id"), col(vecCol).as("_v"))
      .withColumn("_sig", signSignatureAuto(col("_v"), total))
    val mask = (1L << bits) - 1
    val bandCols = (0 until bands).map(b =>
      shiftrightunsigned(col("_sig"), b * bits).bitwiseAND(lit(mask)))
    val banded = base.select(col("id"), col("_v"),
      posexplode(array(bandCols: _*)).as(Seq("_band", "_bucket")))
    Candidates.bucketMates(banded, Seq("_band", "_bucket"),
        struct(col("id"), col("_v")), maxBucketSize)
      .filter(col("id1.id") < col("id2.id"))
      .select(col("id1.id").as("id1"), col("id2.id").as("id2"),
        cosineAuto(col("id1._v"), col("id2._v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct() // a pair may match in several bands
  }
}
