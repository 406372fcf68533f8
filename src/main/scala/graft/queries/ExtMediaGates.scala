package graft.queries


import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Native, TextFunctions}
import graft.functions.TextFunctions._
import graft.operators.{Corpus, Dedup, Multimodal, Similarity}
import graft.streaming.{EventsStreaming, Store}

/** Embedding-table and multimodal gates: brute-force/LSH tiers, image/audio codecs, perceptual hashes, ingestion scrape.
  *
  * Part of [[Extensions]]'s mixin chain (see [[ExtAllGates]]): the
  * chain's linearization order IS the val-initialization order the
  * original single-object layout had, so the "a val referencing a
  * later val silently interpolates null" contract is unchanged --
  * forward references stay `lazy val`, exactly as before the split.
  * Members are `private[queries]` where the single object had
  * `private` (trait-private would hide them from sibling traits);
  * nothing else changed in the move.
  */
trait ExtMediaGates { this: ExtAllGates =>
  // -------------------- embeddings --------------------

  private[queries] val EMB_DIMS = 64
  private[queries] val ANN_BITS = 8

  private[queries] def queriesDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  val embedTopK: Q = (s, d) =>
    Similarity.bruteForceTopK(
      Tables.embeddings(s, d), queriesDf(s, d), k = 10)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))

  private[queries] val duckCos =
    "round(list_dot_product(ed, qd)/(sqrt(list_dot_product(ed, ed))*sqrt(list_dot_product(qd, qd))), 6)"

  /** Brute-force oracle, optionally PRE-FILTERED on the corpus side
    * (the filtered-metrics ground truth); queries stay unfiltered. */
  private[queries] def embedTopKSqlAt(predSql: String = "TRUE"): String =
    s"WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings WHERE $predSql), " +
      "q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd FROM embeddings WHERE vec_id % 50 = 0), " +
      s"sc AS (SELECT q_id, vec_id, $duckCos AS score FROM c, q), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"

  val embedTopKSql: String = embedTopKSqlAt()

  /** Generated sign-signature SQL: bit b set iff Σ_d vec[d]·coef(b,d) ≥ 0,
    * with the same literal coefficients the Scala side folds in. */
  private[queries] def duckSignature(vecExpr: String, nBits: Int = ANN_BITS): String = {
    val bitTerms = (0 until nBits).map { b =>
      val proj = (0 until EMB_DIMS).map { dd =>
        s"CAST($vecExpr[${dd + 1}] AS DOUBLE)*${Similarity.planeCoef(b, dd)}"
      }.mkString(" + ")
      s"(CASE WHEN $proj >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bitTerms.mkString("(", " | ", ")")
  }

  val embedAnn: Q = (s, d) =>
    Similarity.lshTopK(
      Tables.embeddings(s, d), queriesDf(s, d), k = 10, bits = ANN_BITS)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))

  val embedAnnSql: String =
    s"WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed, ${duckSignature("embedding")} AS sig FROM embeddings), " +
      s"q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd, ${duckSignature("embedding")} AS sig FROM embeddings WHERE vec_id % 50 = 0), " +
      s"sc AS (SELECT q_id, c.vec_id AS vec_id, $duckCos AS score FROM c JOIN q ON c.sig = q.sig), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"

  // multi-table LSH top-k: 8 independent 5-bit bands of one 40-plane
  // signature — OR-over-bands candidates, exact cosine rerank (X131).
  // The recall harness measured the single-table 8-bit probe at 0.12
  // recall@10; the parameter sweep (PLANS.md round-11 table) showed the
  // corpus is near-isotropic, so recall trades directly against the
  // candidate fraction — 8×5 buys 0.50 recall at ~23% of the corpus
  // re-scored, the knee of the measured curve. (IVF + rerank stay the
  // serving recommendation on this data; this row is the honest
  // multi-table number next to them.)
  private[queries] val ANN_MULTI_BANDS = 8
  private[queries] val ANN_MULTI_BITS = 5

  /** Per-band bucket for the multi-table ANN probe: bit j of band b is
    * the sign of the projection on plane b·BITS+j — equal to
    * `(sig >> b*BITS) & mask` of the Scala side's single 32-plane
    * signature. Projection sums chunked 8-wide (DuckDB binder depth). */
  private[queries] def duckAnnBandBucket(vecExpr: String, band: Int): String = {
    val bitTerms = (0 until ANN_MULTI_BITS).map { j =>
      val plane = band * ANN_MULTI_BITS + j
      val prods = (0 until EMB_DIMS).map { dd =>
        s"CAST($vecExpr[${dd + 1}] AS DOUBLE)*${Similarity.planeCoef(plane, dd)}"
      }
      val proj = prods.grouped(8).map(_.mkString("(", " + ", ")")).mkString(" + ")
      s"(CASE WHEN $proj >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bitTerms.mkString("(", " | ", ")")
  }

  val embedAnnMulti: Q = (s, d) =>
    Similarity.lshTopKMultiBand(
      Tables.embeddings(s, d), queriesDf(s, d), k = 10,
      bands = ANN_MULTI_BANDS, bits = ANN_MULTI_BITS)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))

  val embedAnnMultiSql: String = {
    val corpusBands = (0 until ANN_MULTI_BANDS).map(b =>
      s"SELECT vec_id, $b AS band, ${duckAnnBandBucket("embedding", b)} AS bucket FROM embeddings")
      .mkString(" UNION ALL ")
    val queryBands = (0 until ANN_MULTI_BANDS).map(b =>
      s"SELECT vec_id AS q_id, $b AS band, ${duckAnnBandBucket("embedding", b)} AS bucket " +
        "FROM embeddings WHERE vec_id % 50 = 0")
      .mkString(" UNION ALL ")
    "WITH c AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), " +
      s"cb AS MATERIALIZED ($corpusBands), " +
      s"qb AS MATERIALIZED ($queryBands), " +
      "q AS MATERIALIZED (SELECT vec_id AS q_id, ed AS qd FROM c WHERE vec_id % 50 = 0), " +
      "cand AS (SELECT DISTINCT qb.q_id, cb.vec_id FROM cb JOIN qb ON cb.band = qb.band AND cb.bucket = qb.bucket), " +
      "sc AS (SELECT cand.q_id, cand.vec_id, " +
      "round(list_dot_product(cv.ed, qv.qd)/(sqrt(list_dot_product(cv.ed, cv.ed))*sqrt(list_dot_product(qv.qd, qv.qd))), 6) AS score " +
      "FROM cand JOIN c cv ON cv.vec_id = cand.vec_id JOIN q qv ON qv.q_id = cand.q_id), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"
  }

  // multi-probe LSH (X137): ONE 8-bit table probed at the query's
  // bucket + the 31 lowest-flipped-margin perturbations (subsets of
  // ≤3 of the 6 lowest-margin bits). Measured: the multi-table recall
  // tier at roughly half the candidate fraction (PLANS.md r11 table).
  private[queries] val ANN_PROBE_T = 32
  private[queries] val ANN_PROBE_POOL = 6
  private[queries] val ANN_PROBE_FLIPS = 3

  val embedAnnProbe: Q = (s, d) =>
    Similarity.lshMultiProbeTopK(
      Tables.embeddings(s, d), queriesDf(s, d), k = 10,
      bits = ANN_BITS, dims = EMB_DIMS, nprobe = ANN_PROBE_T,
      poolSize = ANN_PROBE_POOL, maxFlips = ANN_PROBE_FLIPS)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))

  /** Multi-probe LSH oracle, optionally PRE-FILTERED (X198
    * extension): the predicate filters the corpus-side signature
    * table `c` — the query probes derive from the separate q0 scan
    * and stay unfiltered, exactly the filteredLshMultiProbeTopK
    * plan. The probe budget and perturbation geometry default to the
    * serving constants; the ADAPTIVE gate rows (X228) pass the
    * values `Similarity.adaptiveLshProbeGeometry` derives from the
    * predicate's measured selectivity — pinned in the SQL, so
    * fixture drift that changes the derivation fails loud. */
  private[queries] def embedAnnProbeSqlAt(predSql: String = "TRUE",
      nprobe: Int = ANN_PROBE_T, pool: Int = ANN_PROBE_POOL,
      flips: Int = ANN_PROBE_FLIPS): String = {
    def proj(b: Int) = (0 until EMB_DIMS).map(d =>
      s"CAST(embedding[${d + 1}] AS DOUBLE)*${Similarity.planeCoef(b, d)}")
      .mkString(" + ")
    val projCols = (0 until ANN_BITS).map(b => s"(${proj(b)}) AS p$b")
      .mkString(", ")
    val base = (0 until ANN_BITS).map(b =>
      s"(CASE WHEN p$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString("(", " | ", ")")
    val poolElems = (0 until ANN_BITS).map(b =>
      s"struct_pack(m := round(abs(p$b), 9), b := $b, bm := CAST(${1L << b} AS BIGINT))")
      .mkString("[", ", ", "]")
    val subsets = (1 to flips)
      .flatMap(r => (0 until pool).combinations(r).map(_.toSeq))
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    "WITH c AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed, " +
      s"${duckSignature("embedding")} AS sig FROM embeddings WHERE $predSql), " +
      s"q0 AS MATERIALIZED (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd, $projCols " +
      "FROM embeddings WHERE vec_id % 50 = 0), " +
      s"q1 AS (SELECT q_id, qd, $base AS base, " +
      s"list_sort($poolElems)[1:$pool] AS pool FROM q0), " +
      s"q2 AS (SELECT q_id, qd, base, list_sort(list_transform($subsets, ss -> struct_pack(" +
      "ms := round(list_reduce(list_prepend(0.0, list_transform(ss, i -> pool[i+1].m)), (a, b) -> a + b), 9), " +
      "mask := list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ss, i -> pool[i+1].bm)), (a, b) -> a | b))))" +
      s"[1:${nprobe - 1}] AS alts FROM q1), " +
      "probes AS (SELECT q_id, qd, unnest(list_prepend(base, list_transform(alts, a -> xor(base, a.mask)))) AS sig FROM q2), " +
      "sc AS (SELECT probes.q_id, c.vec_id, " +
      "round(list_dot_product(c.ed, probes.qd)/(sqrt(list_dot_product(c.ed, c.ed))*sqrt(list_dot_product(probes.qd, probes.qd))), 6) AS score " +
      "FROM c JOIN probes ON c.sig = probes.sig), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"
  }

  val embedAnnProbeSql: String = embedAnnProbeSqlAt()

  /** IVF scale path: deterministic coarse centroids (vec_id % 200),
    * nearest-cell assignment, 2-cell probe, top-10 within probed
    * cells. Oracle mirrors cell assignment + probe + rank exactly. */
  val embedIvf: Q = (s, d) =>
    Similarity.ivfTopK(
      Tables.embeddings(s, d), queriesDf(s, d), k = 10,
      centroidEvery = 200, nprobe = 2)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))

  val embedIvfSql: String =
    "WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), " +
      "cent AS (SELECT vec_id AS cent_id, ed AS cvec FROM c WHERE vec_id % 200 = 0), " +
      "ca AS (SELECT vec_id, cell FROM (SELECT c.vec_id, cent.cent_id AS cell, " +
      "row_number() OVER (PARTITION BY c.vec_id ORDER BY round(list_dot_product(c.ed, cent.cvec)/(sqrt(list_dot_product(c.ed, c.ed))*sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) DESC, cent.cent_id ASC) AS rn " +
      "FROM c, cent) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, ed AS qd FROM c WHERE vec_id % 50 = 0), " +
      "qa AS (SELECT q_id, cell FROM (SELECT q.q_id, cent.cent_id AS cell, " +
      "row_number() OVER (PARTITION BY q.q_id ORDER BY round(list_dot_product(q.qd, cent.cvec)/(sqrt(list_dot_product(q.qd, q.qd))*sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) DESC, cent.cent_id ASC) AS rn " +
      "FROM q, cent) WHERE rn <= 2), " +
      "sc AS (SELECT qa.q_id, ca.vec_id, " +
      "round(list_dot_product(cv.ed, qv.qd)/(sqrt(list_dot_product(cv.ed, cv.ed))*sqrt(list_dot_product(qv.qd, qv.qd))), 6) AS score " +
      "FROM ca JOIN qa ON ca.cell = qa.cell JOIN c cv ON cv.vec_id = ca.vec_id JOIN q qv ON qv.q_id = qa.q_id), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"

  // banded near-dup blocking: 6 bands × 10-bit slices of one 60-plane
  // signature — recall via OR-over-bands, buckets 4× smaller than the
  // old single 8-bit signature (the within-bucket quadratic term)
  private[queries] val NEARDUP_BANDS = 6
  private[queries] val NEARDUP_BITS = 10

  val embedNearDup: Q = (s, d) =>
    Similarity.embeddingNearDupPairs(
      Tables.embeddings(s, d), threshold = 0.4, bits = NEARDUP_BITS,
      bands = NEARDUP_BANDS)

  /** Per-band bucket expression: bit j of band `band` is the sign of
    * the projection on plane band*BITS+j — numerically equal to
    * `(sig >> band*BITS) & mask` of the Scala side's single 60-plane
    * signature. Emitted per band (UNION ALL) with the projection sum
    * chunked 8-wide: one 60-bit expression overflows DuckDB's binder
    * recursion limit (128); the per-band form stays shallow. */
  private[queries] def duckBandBucket(vecExpr: String, band: Int): String = {
    val bitTerms = (0 until NEARDUP_BITS).map { j =>
      val plane = band * NEARDUP_BITS + j
      val prods = (0 until EMB_DIMS).map { dd =>
        s"CAST($vecExpr[${dd + 1}] AS DOUBLE)*${Similarity.planeCoef(plane, dd)}"
      }
      val proj = prods.grouped(8).map(_.mkString("(", " + ", ")")).mkString(" + ")
      s"(CASE WHEN $proj >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bitTerms.mkString("(", " | ", ")")
  }

  val embedNearDupSql: String = {
    val bandSelects = (0 until NEARDUP_BANDS).map(b =>
      s"SELECT vec_id, e, $b AS band, ${duckBandBucket("embedding", b)} AS bucket FROM v")
      .mkString(" UNION ALL ")
    "WITH v AS MATERIALIZED (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      s"bands AS MATERIALIZED ($bandSelects), " +
      "p AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2, " +
      "round(list_dot_product(a.e, b.e)/(sqrt(list_dot_product(a.e, a.e))*sqrt(list_dot_product(b.e, b.e))), 6) AS cosine " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
      "SELECT id1, id2, cosine FROM p WHERE cosine >= 0.4"
  }

  // -------------------- multimodal --------------------

  val mediaFeatures: Q = (s, d) => {
    // spread BEFORE payload construction: the text column shuffles (a
    // single-file scan arrives as one split), the binary payloads still
    // never do — consistent with Multimodal's no-payload-shuffle rule
    val media = Multimodal.mediaFromDocuments(spread(Tables.documents(s, d)))
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("format"), col("n_bytes"),
        col("first_byte"), col("last_byte"), col("byte_sum_mod"))
  }

  /** Byte-true oracle: features over the UTF-8 BYTES of the payload
    * (hex(encode(text)) -> two hex chars per byte), not `unicode()`
    * codepoints — matches the Spark stub exactly even for non-ASCII
    * text. list_sum of a BIGINT list is HUGEINT in DuckDB; the final
    * CAST AS BIGINT keeps the rendered value identical to Spark's. */
  val mediaFeaturesSql: String =
    "WITH b AS (SELECT doc_id, hex(encode(text)) AS h, CAST(strlen(text) AS BIGINT) AS nb FROM documents) " +
      "SELECT doc_id AS media_id, 'fmt' || CAST(doc_id % 3 AS VARCHAR) AS format, " +
      "nb AS n_bytes, " +
      "CASE WHEN nb = 0 THEN -1 ELSE CAST(('0x' || substr(h, 1, 2)) AS INT) END AS first_byte, " +
      "CASE WHEN nb = 0 THEN -1 ELSE CAST(('0x' || substr(h, CAST(nb*2 - 1 AS INT), 2)) AS INT) END AS last_byte, " +
      "CAST(coalesce(list_sum(list_transform(generate_series(1, CAST(nb AS INT)), i -> CAST(('0x' || substr(h, (i-1)*2 + 1, 2)) AS BIGINT))), 0) % 1000000007 AS BIGINT) AS byte_sum_mod " +
      "FROM b"

  /** Resize stub over the media payloads; the oracle reproduces the
    * stride sampling byte-true from hex(encode(text)). */
  val mediaResize: Q = (s, d) => {
    val media = Multimodal.mediaFromDocuments(spread(Tables.documents(s, d)))
    Multimodal.resizePayloads(media, targetBytes = 64).toDF()
      .select(col("media_id"), hex(col("resized")).as("resized_hex"),
        col("n_out"))
  }

  val mediaResizeSql: String =
    "WITH b AS (SELECT doc_id AS media_id, hex(encode(text)) AS h, CAST(strlen(text) AS INT) AS nb FROM documents), " +
      "p AS (SELECT media_id, h, nb, least(nb, 64) AS nout FROM b) " +
      "SELECT media_id, CASE WHEN nb = 0 THEN '' ELSE " +
      "array_to_string(list_transform(generate_series(0, nout - 1), i -> substr(h, i*(nb//nout)*2 + 1, 2)), '') END AS resized_hex, " +
      "CAST(nout AS INT) AS n_out FROM p"

  val frameSample: Q = (s, d) => {
    val media = Multimodal.mediaFromDocuments(spread(Tables.documents(s, d)))
    Multimodal.sampleFrames(media, frameBytes = 16, everyNth = 2)
      .select(col("media_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
  }

  val frameSampleSql: String =
    "WITH m AS (SELECT doc_id AS media_id, text, CAST(floor(strlen(text)/16) AS INT) AS n FROM documents), " +
      "f AS (SELECT media_id, text, unnest(range(0, n, 2)) AS frame_idx FROM m WHERE n > 0) " +
      "SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, md5(substr(text, CAST(frame_idx AS INT)*16 + 1, 16)) AS frame_md5 FROM f"

  /** REAL image decode (X12 de-stubbed): the media table carries real
    * 24-bit BMP payloads whose dimensions and pixels are closed-form
    * functions of doc_id. Spark ENCODES and then DECODES the actual
    * bytes through javax.imageio; the oracle computes the same decoded
    * features arithmetically (no codec needed on its side) — a real
    * codec round-trip the driver hash-verifies. */
  val mediaDecode: Q = (s, d) => {
    val media = Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), col("decoded"), col("img_width"),
        col("img_height"), col("pixel_sum"))
  }

  val mediaDecodeSql: String =
    "WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS INT) AS img_width, " +
      "CAST(3 + doc_id % 7 AS INT) AS img_height FROM documents), " +
      "xs AS (SELECT media_id, img_width, img_height, unnest(generate_series(0, img_width - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, img_width, img_height, x, unnest(generate_series(0, img_height - 1)) AS y FROM xs) " +
      "SELECT media_id, true AS decoded, img_width, img_height, " +
      "CAST(sum((media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256) AS BIGINT) AS pixel_sum " +
      "FROM ps GROUP BY media_id, img_width, img_height"

  /** Image perceptual hash (X123): block-mean hash over REAL decoded
    * pixels — grayscale r+g+b, fixed 4×3 integer-floor cell grid, bit
    * set iff cell mean > image mean via integer cross-multiplication.
    * The dedup fingerprint for the image modality; oracle replays the
    * arithmetic from the closed-form pixels (mediaDecode convention). */
  val imagePhash: Q = (s, d) =>
    Multimodal.imagePerceptualHash(
      Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))).toDF()
      .select(col("media_id"), col("phash"))

  val imagePhashSql: String =
    "WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
      "CAST(3 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
      "xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      "px AS (SELECT media_id, (y*3)//h*4 + (x*4)//w AS cell, " +
      "(media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT media_id, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY media_id, cell), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY media_id) " +
      "SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id"

  /** Image NEAR-DUP gate row (X154 — the X144 banded core applied to
    * the image modality at statistically meaningful width): the
    * perceptual hash widens from the 12-bit 4×3 grid to a 56-bit 8×7
    * grid (2⁵⁶ hash space — the 12-bit form collides at birthday rates
    * on any corpus, which is why its application was spec-only until
    * now) and runs through [[Dedup.fingerprintNearDupPairs]] verbatim:
    * 4 × 14-bit bands, pigeonhole-lossless for Hamming ≤ 3, exact
    * bit_count(xor) verify. Decode is map-side (payloads never
    * shuffle); the banded self-join shuffles (band, bucket, id, sig)
    * only, pinned shuffle-hash. The oracle replays the wide hash from
    * the closed-form pixels (the imagePhash convention) and the
    * banding arithmetic in SQL. */
  private[queries] val PHASH_GRID_W = 8
  private[queries] val PHASH_GRID_H = 7
  private[queries] val PHASH_BANDS = 4
  private[queries] val PHASH_MAXDIST = 3

  // ---- decode-once signature/feature tables (VERDICT r18 #1) ----
  // Every gate row over the same (sfDir, params) used to re-decode the
  // full media corpus through the codec — and every ACTION inside a
  // gate (budget probes, candidate passes, final write) re-ran the
  // decode again, because clearCache() between queries drops any
  // in-memory persist. The production shape is a materialized feature
  // table (decode once, query many); the harness mirrors it with
  // Caches.memoizedTable: the first gate row spills the signature
  // table to parquet, every later action/row reads the 8–16-byte rows
  // back. Decode is deterministic (closed-form per id), so the rows
  // are bit-identical to a recompute and every downstream hash is
  // unchanged (the driver's oracle gate re-verifies all of them).
  // The single-pass decode GATES themselves (q_media_decode,
  // q_audio_decode, q_image_phash, q_audio_phash) stay on the live
  // codec path — they exist to measure the round-trip.
  private[queries] def imageWidePhashTable(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.memoizedTable(s,
      s"imgphash:$d:${PHASH_GRID_W}x$PHASH_GRID_H") {
      Multimodal.imagePerceptualHashGrid(
        Multimodal.bmpMediaFromDocuments(Tables.documents(s, d)),
        PHASH_GRID_W, PHASH_GRID_H).toDF()
        .filter(col("decoded")).select(col("media_id"), col("phash"))
    }

  private[queries] def audioWidePhashTable(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.memoizedTable(s, s"audphash:$d:$AUDIO_WIDE_BLOCKS") {
      Multimodal.audioPerceptualHashBlocks(
        Multimodal.wavMediaFromDocuments(Tables.documents(s, d)),
        blocks = AUDIO_WIDE_BLOCKS).toDF()
        .filter(col("decoded")).select(col("media_id"), col("phash"))
    }

  private[queries] def videoSigTable(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.memoizedTable(s,
      s"vidsig:$d:${Multimodal.VideoFrameBytes}") {
      Multimodal.videoFrameSignatures(
        Multimodal.videoMediaFromDocuments(Tables.documents(s, d)),
        Multimodal.VideoFrameBytes).toDF()
        .filter(col("decoded")).select(col("media_id"), col("fhash"))
    }

  private[queries] def imageFeatureTable(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.memoizedTable(s, s"imgfeat:$d") {
      Multimodal.imageFeatureVectors(
        Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))).toDF()
        .select(col("media_id"), col("features"))
    }

  private[queries] def audioFeatureTable(s: SparkSession, d: String): DataFrame =
    graft.core.Caches.memoizedTable(s, s"audfeat:$d") {
      Multimodal.audioFeatureVectors(
        Multimodal.wavMediaFromDocuments(Tables.documents(s, d))).toDF()
        .select(col("media_id"), col("features"))
    }

  val imageNearDup: Q = (s, d) => {
    val hashes = imageWidePhashTable(s, d)
    graft.operators.Dedup.fingerprintNearDupPairs(hashes, "media_id", "phash",
      bits = PHASH_GRID_W * PHASH_GRID_H, bands = PHASH_BANDS,
      maxDist = PHASH_MAXDIST)
  }

  val imageNearDupSql: String = {
    val bandW = PHASH_GRID_W * PHASH_GRID_H / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    s"WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
      "CAST(3 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
      "xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      s"px AS (SELECT media_id, (y*$PHASH_GRID_H)//h*$PHASH_GRID_W + (x*$PHASH_GRID_W)//w AS cell, " +
      "(media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT media_id, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY media_id, cell), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      "pairs AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2, " +
      "bit_count(xor(a.phash, b.phash)) AS hamming FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.media_id < b.media_id) " +
      s"SELECT id1, id2, CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= $PHASH_MAXDIST"
  }

  /** Incremental (cross-snapshot) IMAGE near-dup (X167): the one
    * modality asymmetry left after round 14 — text had all four dedup
    * families with batch-increment forms, the perceptual-hash
    * fingerprints were batch-only. The store is `(id, phash)` — 8
    * bytes + id per image; the batch decodes ONCE (map-side, payloads
    * never shuffle), history is NEVER re-decoded; banding runs
    * batch-vs-store on bit-sliced band keys derived from the STORED
    * hashes, verify is inline exact bit_count(xor). Store slice =
    * doc_id % 3 == 0, batch = rest; output = surviving batch
    * `(media_id, phash)` — the store-append record. */
  val incrementalImageNearDup: Q = (s, d) => {
    val hashes = imageWidePhashTable(s, d)
    val storeH = hashes.filter(col("media_id") % 3 === 0)
      .select(col("media_id").as("id"), col("phash").as("sig"))
    graft.operators.Dedup.incrementalFingerprintNearDup(
      hashes.filter(col("media_id") % 3 =!= 0), storeH,
      "media_id", "phash", bits = PHASH_GRID_W * PHASH_GRID_H,
      bands = PHASH_BANDS, maxDist = PHASH_MAXDIST)
      .select(col("id").as("media_id"), col("sig").as("phash"))
  }

  /** Same closed-form phash + banding replay as [[imageNearDupSql]],
    * with the pair enumeration split batch-vs-store / within-batch and
    * the pairwise lowest-id drop rule applied. */
  val incrementalImageNearDupSql: String = {
    val bandW = PHASH_GRID_W * PHASH_GRID_H / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    s"WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
      "CAST(3 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
      "xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      s"px AS (SELECT media_id, (y*$PHASH_GRID_H)//h*$PHASH_GRID_W + (x*$PHASH_GRID_W)//w AS cell, " +
      "(media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT media_id, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY media_id, cell), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      "cvs AS (SELECT DISTINCT b.media_id AS bid FROM bands b " +
      "JOIN bands st ON b.band = st.band AND b.bucket = st.bucket " +
      "WHERE b.media_id % 3 <> 0 AND st.media_id % 3 = 0 " +
      s"AND bit_count(xor(b.phash, st.phash)) <= $PHASH_MAXDIST), " +
      "cvb AS (SELECT DISTINCT b2.media_id AS bid FROM bands b1 " +
      "JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 <> 0 AND b2.media_id % 3 <> 0 " +
      s"AND bit_count(xor(b1.phash, b2.phash)) <= $PHASH_MAXDIST) " +
      "SELECT media_id, phash FROM ph WHERE media_id % 3 <> 0 " +
      "AND media_id NOT IN (SELECT bid FROM cvs UNION ALL SELECT bid FROM cvb)"
  }

  /** Streaming incremental image near-dup (X169): the store carries a
    * bootstrap hash partition (doc_id%3==0 at batch=-1) and two REAL
    * sequential micro-batches through one checkpoint (%3==1 → batch 0,
    * %3==2 → batch 1); decode + phash run UPSTREAM in the streaming
    * DAG (typed mapPartitions — payloads never reach the store), each
    * batch dedups against the store-so-far, and the output is the
    * final store content: bootstrap + batch-0 survivors + batch-1
    * survivors (the oracle replays the two-batch sequence, batch 1
    * matching against batch 0's survivors too). */
  val streamIncrImageNearDup: Q = (s, d) => withStreamShuffle(s, 8) {
    val base = java.nio.file.Files.createTempDirectory("graft-fpstream").toString
    val srcDir = s"$base/src"
    val storeDir = s"$base/store"
    val ckpt = s"$base/ckpt"
    def hashesOf(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.imagePerceptualHashGrid(
        Multimodal.bmpMediaFromDocuments(docs),
        PHASH_GRID_W, PHASH_GRID_H).toDF()
        .filter(col("decoded")).select(col("media_id"), col("phash"))
    val docs = Tables.documents(s, d).select(col("doc_id"))
    try {
      // bootstrap store rows come from the shared decode-once table
      // (same closed-form hashes); the STREAMED batches keep their
      // in-DAG decode — that is the behavior this gate exists to pin
      Store.write(imageWidePhashTable(s, d).filter(col("media_id") % 3 === 0)
        .select(col("media_id").as("id"), col("phash").as("sig")), storeDir, -1)
      def runOnce(): Unit = {
        val src = s.readStream.schema(docs.schema)
          .option("recursiveFileLookup", "true").parquet(srcDir)
        runToCompletion(graft.streaming.EventsStreaming
          .streamingIncrementalFingerprintNearDup(
            hashesOf(src), storeDir, "media_id", "phash",
            bits = PHASH_GRID_W * PHASH_GRID_H, bands = PHASH_BANDS,
            maxDist = PHASH_MAXDIST) { (_, _) => () }, ckpt)
      }
      docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$srcDir/f1")
      runOnce()
      docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$srcDir/f2")
      runOnce()
      graft.streaming.EventsStreaming.readFingerprintStore(s, storeDir)
        .select(col("id").as("media_id"), col("sig").as("phash"))
        .localCheckpoint()
    } finally deleteRecursively(base)
  }

  /** Sequential two-batch replay of [[incrementalImageNearDupSql]]'s
    * chain: batch 0 (%3==1) dedups vs the bootstrap (%3==0); batch 1
    * (%3==2) dedups vs bootstrap + batch-0 SURVIVORS; output is the
    * final store content. */
  val streamIncrImageNearDupSql: String = {
    val bandW = PHASH_GRID_W * PHASH_GRID_H / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    s"WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
      "CAST(3 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
      "xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      s"px AS (SELECT media_id, (y*$PHASH_GRID_H)//h*$PHASH_GRID_W + (x*$PHASH_GRID_W)//w AS cell, " +
      "(media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT media_id, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY media_id, cell), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      // batch 0: %3==1 vs bootstrap %3==0, plus within-batch
      "d0 AS (SELECT DISTINCT b.media_id AS bid FROM bands b " +
      "JOIN bands st ON b.band = st.band AND b.bucket = st.bucket " +
      "WHERE b.media_id % 3 = 1 AND st.media_id % 3 = 0 " +
      s"AND bit_count(xor(b.phash, st.phash)) <= $PHASH_MAXDIST " +
      "UNION SELECT DISTINCT b2.media_id FROM bands b1 " +
      "JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 = 1 AND b2.media_id % 3 = 1 " +
      s"AND bit_count(xor(b1.phash, b2.phash)) <= $PHASH_MAXDIST), " +
      "s0 AS MATERIALIZED (SELECT media_id FROM ph WHERE media_id % 3 = 1 " +
      "AND media_id NOT IN (SELECT bid FROM d0)), " +
      // batch 1: %3==2 vs bootstrap + batch-0 survivors, plus within-batch
      "d1 AS (SELECT DISTINCT b.media_id AS bid FROM bands b " +
      "JOIN bands st ON b.band = st.band AND b.bucket = st.bucket " +
      "WHERE b.media_id % 3 = 2 AND (st.media_id % 3 = 0 OR st.media_id IN (SELECT media_id FROM s0)) " +
      s"AND bit_count(xor(b.phash, st.phash)) <= $PHASH_MAXDIST " +
      "UNION SELECT DISTINCT b2.media_id FROM bands b1 " +
      "JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 = 2 AND b2.media_id % 3 = 2 " +
      s"AND bit_count(xor(b1.phash, b2.phash)) <= $PHASH_MAXDIST), " +
      "s1 AS (SELECT media_id FROM ph WHERE media_id % 3 = 2 " +
      "AND media_id NOT IN (SELECT bid FROM d1)) " +
      "SELECT media_id, phash FROM ph WHERE media_id % 3 = 0 " +
      "OR media_id IN (SELECT media_id FROM s0) " +
      "OR media_id IN (SELECT media_id FROM s1)"
  }

  /** Fingerprint-store retraction (X171): retract the media_id%15==0
    * slice from the %3==0 bootstrap store, then run the SAME batch
    * increment as [[incrementalImageNearDup]] against the retracted
    * store — batch docs whose only store match was a retracted row
    * are READMITTED (the takedown/opt-out semantics). Output =
    * surviving batch `(media_id, phash)`; the oracle replays the
    * chain with the store slice minus the retracted ids. */
  val fingerprintRetraction: Q = (s, d) => {
    val hashes = imageWidePhashTable(s, d)
    val storeH = hashes.filter(col("media_id") % 3 === 0)
      .select(col("media_id").as("id"), col("phash").as("sig"))
    val retracted = graft.operators.Dedup.retractFingerprints(
      storeH, storeH.filter(col("id") % 15 === 0).select(col("id")))
    graft.operators.Dedup.incrementalFingerprintNearDup(
      hashes.filter(col("media_id") % 3 === 1), retracted,
      "media_id", "phash", bits = PHASH_GRID_W * PHASH_GRID_H,
      bands = PHASH_BANDS, maxDist = PHASH_MAXDIST)
      .select(col("id").as("media_id"), col("sig").as("phash"))
  }

  val fingerprintRetractionSql: String = {
    val bandW = PHASH_GRID_W * PHASH_GRID_H / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    s"WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
      "CAST(3 + doc_id % 7 AS BIGINT) AS h FROM documents), " +
      "xs AS (SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      s"px AS (SELECT media_id, (y*$PHASH_GRID_H)//h*$PHASH_GRID_W + (x*$PHASH_GRID_W)//w AS cell, " +
      "(media_id + 7*x + 13*y) % 256 + (2*media_id + 5*x + 3*y) % 256 + (media_id + x*y) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT media_id, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY media_id, cell), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      // store after retraction: %3==0 minus %15==0
      "cvs AS (SELECT DISTINCT b.media_id AS bid FROM bands b " +
      "JOIN bands st ON b.band = st.band AND b.bucket = st.bucket " +
      "WHERE b.media_id % 3 = 1 AND st.media_id % 3 = 0 AND st.media_id % 15 <> 0 " +
      s"AND bit_count(xor(b.phash, st.phash)) <= $PHASH_MAXDIST), " +
      "cvb AS (SELECT DISTINCT b2.media_id AS bid FROM bands b1 " +
      "JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 = 1 AND b2.media_id % 3 = 1 " +
      s"AND bit_count(xor(b1.phash, b2.phash)) <= $PHASH_MAXDIST) " +
      "SELECT media_id, phash FROM ph WHERE media_id % 3 = 1 " +
      "AND media_id NOT IN (SELECT bid FROM cvs UNION ALL SELECT bid FROM cvb)"
  }

  /** Incremental (cross-snapshot) AUDIO near-dup — the X167 store
    * contract exercised end-to-end through the AUDIO modality
    * ([[Multimodal.audioPerceptualHash]], X124): until this gate the
    * audio increment was claimed by genericity only. Real PCM16 WAV
    * payloads decode map-side to block-energy fingerprints — the
    * X202 wide 56-block form since r17, matching the batch gate (the
    * 12-bit original measured 44% of all pairs within Hamming 3, so a
    * store built on it re-dropped nearly everything); store =
    * media_id%3==0 hashes, batch = the rest; 4 × 14-bit bands,
    * maxDist 3 (pigeonhole-lossless). Duplicate sigs still occur
    * (content-entropy-bounded short clips), so the gate keeps its
    * corpus-level coverage of the sig-collapse hot-bucket guard:
    * banding runs over distinct sigs only and the result is still
    * bit-identical to the uncollapsed pairwise rule (the oracle
    * replays that rule from the closed-form samples). */

  val incrementalAudioNearDup: Q = (s, d) => {
    // r17: upgraded from the width-saturated 12-bit hash to the X202
    // wide 56-block form, so the increment matches the batch gate's
    // fingerprint (12-bit measured 44% of ALL pairs within Hamming 3 —
    // a store built on it re-drops almost everything)
    val hashes = audioWidePhashTable(s, d)
    val storeH = hashes.filter(col("media_id") % 3 === 0)
      .select(col("media_id").as("id"), col("phash").as("sig"))
    graft.operators.Dedup.incrementalFingerprintNearDup(
      hashes.filter(col("media_id") % 3 =!= 0), storeH,
      "media_id", "phash", bits = AUDIO_WIDE_BLOCKS, bands = PHASH_BANDS,
      maxDist = PHASH_MAXDIST)
      .select(col("id").as("media_id"), col("sig").as("phash"))
  }

  /** The audioPhash closed-form replay + the incremental banding/drop
    * chain of [[incrementalImageNearDupSql]] at 12-bit width. */
  // lazy: AUDIO_WIDE_BLOCKS is declared later in this trait — an eager
  // val here would silently interpolate 0 (the val-order hazard)
  lazy val incrementalAudioNearDupSql: String = {
    val bandW = AUDIO_WIDE_BLOCKS / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    "WITH m AS (SELECT doc_id AS media_id, CAST(16 + doc_id % 33 AS BIGINT) AS n FROM documents), " +
      "ss AS (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM m), " +
      s"px AS (SELECT media_id, (i*$AUDIO_WIDE_BLOCKS)//n AS blk, abs((media_id*31 + i*17) % 4096 - 2048) AS v FROM ss), " +
      "cs AS (SELECT media_id, blk, CAST(sum(v) AS BIGINT) AS s, count(*) AS c FROM px GROUP BY media_id, blk), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.c THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      "cvs AS (SELECT DISTINCT b.media_id AS bid FROM bands b " +
      "JOIN bands st ON b.band = st.band AND b.bucket = st.bucket " +
      "WHERE b.media_id % 3 <> 0 AND st.media_id % 3 = 0 " +
      s"AND bit_count(xor(b.phash, st.phash)) <= $PHASH_MAXDIST), " +
      "cvb AS (SELECT DISTINCT b2.media_id AS bid FROM bands b1 " +
      "JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 <> 0 AND b2.media_id % 3 <> 0 " +
      s"AND bit_count(xor(b1.phash, b2.phash)) <= $PHASH_MAXDIST) " +
      "SELECT media_id, phash FROM ph WHERE media_id % 3 <> 0 " +
      "AND media_id NOT IN (SELECT bid FROM cvs UNION ALL SELECT bid FROM cvb)"
  }

  /** Audio block-energy fingerprint (X124): the audio sibling of
    * q_image_phash — real PCM16 decode, 12 contiguous blocks, bit set
    * iff block mean |sample| > clip mean via integer
    * cross-multiplication; oracle replays the arithmetic from the
    * closed-form samples. */
  val audioPhash: Q = (s, d) =>
    Multimodal.audioPerceptualHash(
      Multimodal.wavMediaFromDocuments(Tables.documents(s, d))).toDF()
      .select(col("media_id"), col("phash"))

  val audioPhashSql: String =
    "WITH m AS (SELECT doc_id AS media_id, CAST(16 + doc_id % 33 AS BIGINT) AS n FROM documents), " +
      "ss AS (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM m), " +
      "px AS (SELECT media_id, (i*12)//n AS blk, abs((media_id*31 + i*17) % 4096 - 2048) AS v FROM ss), " +
      "cs AS (SELECT media_id, blk, CAST(sum(v) AS BIGINT) AS s, count(*) AS c FROM px GROUP BY media_id, blk), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tn FROM cs GROUP BY media_id) " +
      "SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.c THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id"

  /** WIDE audio near-dup (X202) — the audio modality at statistically
    * meaningful fingerprint width, closing the last X154 asymmetry:
    * the 12-bit block-energy hash is width-saturated (measured at
    * sf0.1: 25 distinct sigs over 5,000 clips, 44% of ALL pairs
    * within Hamming 3 — banding that is quadratic noise), while the
    * 56-block form leaves collisions bounded by content entropy only
    * (388 distinct sigs, 1.3% of pairs — 33× fewer candidates, the
    * survivors genuine generator near-dups). 4×14-bit bands satisfy
    * the pigeonhole contract (bands > maxDist); the distinct-sig
    * collapse bounds the remaining content-duplicate hot buckets.
    * Decode is map-side (payloads never shuffle); the oracle replays
    * the wide hash from the closed-form samples + the banding
    * arithmetic. */
  private[queries] val AUDIO_WIDE_BLOCKS = 56

  val audioNearDup: Q = (s, d) => {
    val hashes = audioWidePhashTable(s, d)
    graft.operators.Dedup.fingerprintNearDupPairs(hashes, "media_id",
      "phash", bits = AUDIO_WIDE_BLOCKS, bands = PHASH_BANDS,
      maxDist = PHASH_MAXDIST)
  }

  val audioNearDupSql: String = {
    val bandW = AUDIO_WIDE_BLOCKS / PHASH_BANDS
    val mask = (1L << bandW) - 1
    val bandRows = (0 until PHASH_BANDS).map(b => s"($b)").mkString(",")
    "WITH m AS (SELECT doc_id AS media_id, CAST(16 + doc_id % 33 AS BIGINT) AS n FROM documents), " +
      "ss AS (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM m), " +
      s"px AS (SELECT media_id, (i*$AUDIO_WIDE_BLOCKS)//n AS blk, abs((media_id*31 + i*17) % 4096 - 2048) AS v FROM ss), " +
      "cs AS (SELECT media_id, blk, CAST(sum(v) AS BIGINT) AS s, count(*) AS c FROM px GROUP BY media_id, blk), " +
      "tot AS (SELECT media_id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tn FROM cs GROUP BY media_id), " +
      "ph AS MATERIALIZED (SELECT cs.media_id, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.c THEN (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT) AS phash " +
      "FROM cs JOIN tot ON cs.media_id = tot.media_id GROUP BY cs.media_id), " +
      s"bands AS MATERIALIZED (SELECT media_id, phash, bb.band, (phash >> (bb.band*$bandW)) & $mask AS bucket " +
      s"FROM ph CROSS JOIN (VALUES $bandRows) bb(band)), " +
      "pairs AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2, " +
      "bit_count(xor(a.phash, b.phash)) AS hamming FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.media_id < b.media_id) " +
      s"SELECT id1, id2, CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= $PHASH_MAXDIST"
  }

  /** Video near-dup (X205) — the third modality's dedup, closing the
    * image/audio/video triad: a fixed-frame video container REALLY
    * demuxes through sampleFrames' substr slicing, every frame REALLY
    * decodes through ImageIO and hashes with the shared wide grid
    * kernel, and two videos pair on the Jaccard of their distinct
    * frame-hash sets (the production frame-fingerprint pattern —
    * inverted index on the 8-byte hash, never all-pairs). The
    * synthetic container plants genuine partial overlap (content seed
    * c = id % 199 + frame, so same-seed videos share all common frames
    * and staggered seeds share a run); the oracle replays the per-c
    * pixel closed form, the grid hash, and the set-Jaccard fold. */
  private[queries] val VIDEO_JACCARD_T = 0.4

  val videoNearDup: Q = (s, d) =>
    Multimodal.videoNearDupPairs(videoSigTable(s, d),
      threshold = VIDEO_JACCARD_T)

  /** Shared oracle front for the video family: closed-form per-seed
    * pixels → grid hash → the distinct (media_id, fhash) signature
    * table + per-video set sizes. */
  private[queries] def videoSigCtes: String = {
    val w = graft.operators.Multimodal.VideoFrameW
    val h = graft.operators.Multimodal.VideoFrameH
    "WITH m AS (SELECT doc_id AS media_id, CAST(4 + doc_id % 5 AS BIGINT) AS nf FROM documents), " +
      "fr AS (SELECT media_id, media_id % 199 + unnest(generate_series(0, nf - 1)) AS c FROM m), " +
      "cset AS (SELECT DISTINCT c FROM fr), " +
      s"xs AS (SELECT c, unnest(generate_series(0, ${w - 1})) AS x FROM cset), " +
      s"ps AS (SELECT c, x, unnest(generate_series(0, ${h - 1})) AS y FROM xs), " +
      s"px AS (SELECT c, (y*7)//$h*8 + (x*8)//$w AS cell, " +
      "(c + 7*x + 13*y) % 256 + (2*c + 5*x + 3*y) % 256 + (c*(x+1)*(y+1)) % 256 AS g3 FROM ps), " +
      "cs AS (SELECT c, cell, CAST(sum(g3) AS BIGINT) AS s, count(*) AS n FROM px GROUP BY c, cell), " +
      "tot AS (SELECT c, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM cs GROUP BY c), " +
      "ph AS MATERIALIZED (SELECT cs.c, CAST(sum(CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN (CAST(1 AS BIGINT) << cell) ELSE 0 END) AS BIGINT) AS fhash " +
      "FROM cs JOIN tot ON cs.c = tot.c GROUP BY cs.c), " +
      "sig AS MATERIALIZED (SELECT DISTINCT fr.media_id, ph.fhash FROM fr JOIN ph ON ph.c = fr.c), " +
      "sz AS (SELECT media_id, count(*) AS sizes FROM sig GROUP BY media_id)"
  }

  val videoNearDupSql: String =
    videoSigCtes +
      ", pr AS (SELECT a.media_id AS id1, b.media_id AS id2, count(*) AS shared " +
      "FROM sig a JOIN sig b ON a.fhash = b.fhash AND a.media_id < b.media_id GROUP BY a.media_id, b.media_id), " +
      "jc AS (SELECT pr.id1, pr.id2, pr.shared, " +
      "round(CAST(pr.shared AS DOUBLE) / (s1.sizes + s2.sizes - pr.shared), 6) AS jaccard " +
      "FROM pr JOIN sz s1 ON s1.media_id = pr.id1 JOIN sz s2 ON s2.media_id = pr.id2) " +
      s"SELECT id1, id2, CAST(shared AS BIGINT) AS shared, jaccard FROM jc WHERE jaccard >= $VIDEO_JACCARD_T"

  /** The X205 gate WITH the hot-frame stopword cap engaged — the
    * guard the r17 verdict flagged as spec-pinned but never
    * oracle-exercised. This fixture's ~n/199 seed replication makes
    * hash document frequency grow LINEARLY with corpus size (median
    * df 14 at 500 docs, 150 at 5,000), so the uncapped pair term
    * grows with class² — exactly the intro-card/black-frame pathology
    * the cap exists for. With the cap at 8, hot hashes leave the
    * index AND the set sizes (true-set semantics), the candidate
    * phase is BOUNDED at any corpus scale (measured: 35 pairs at 500
    * docs, 10 at 5,000 — the survivors are the rare-frame tail), and
    * the oracle replays the df vocabulary + capped set-Jaccard fold. */
  private[queries] val VIDEO_FRAME_DF_CAP = 8L

  val videoNearDupCapped: Q = (s, d) =>
    Multimodal.videoNearDupPairs(videoSigTable(s, d),
      threshold = VIDEO_JACCARD_T, maxFrameDf = VIDEO_FRAME_DF_CAP)

  val videoNearDupCappedSql: String =
    videoSigCtes +
      s", hot AS (SELECT fhash FROM sig GROUP BY fhash " +
      s"HAVING count(*) > $VIDEO_FRAME_DF_CAP), " +
      "sigc AS (SELECT media_id, fhash FROM sig " +
      "WHERE fhash NOT IN (SELECT fhash FROM hot)), " +
      "szc AS (SELECT media_id, count(*) AS sizes FROM sigc GROUP BY media_id), " +
      "pr AS (SELECT a.media_id AS id1, b.media_id AS id2, count(*) AS shared " +
      "FROM sigc a JOIN sigc b ON a.fhash = b.fhash AND a.media_id < b.media_id " +
      "GROUP BY a.media_id, b.media_id), " +
      "jc AS (SELECT pr.id1, pr.id2, pr.shared, " +
      "round(CAST(pr.shared AS DOUBLE) / (s1.sizes + s2.sizes - pr.shared), 6) AS jaccard " +
      "FROM pr JOIN szc s1 ON s1.media_id = pr.id1 JOIN szc s2 ON s2.media_id = pr.id2) " +
      s"SELECT id1, id2, CAST(shared AS BIGINT) AS shared, jaccard FROM jc " +
      s"WHERE jaccard >= $VIDEO_JACCARD_T"

  /** Incremental video near-dup (X206): the X205 fingerprinting with
    * the store hand-off — media_id % 3 == 0 videos' signature rows
    * bootstrap the kept store, the rest arrive as a batch; a batch
    * video drops on frame-set Jaccard >= t vs any stored video or a
    * lower-id batch sibling; survivors' signature rows are the
    * store-append record. The ingestion threshold is STRICTER (0.8)
    * than the pair-mining gate's 0.4: dropping on loose overlap at
    * ingest would discard 100% of this corpus (measured: 0/113/333
    * survivors at t 0.4/0.8/0.9) — mining wants candidates, ingest
    * wants near-identicals. Oracle replays the split set-Jaccard
    * folds and the pairwise NOT IN drop. */
  private[queries] val VIDEO_INCR_T = 0.8
  val incrementalVideoNearDup: Q = (s, d) => {
    val sigs = videoSigTable(s, d)
    Multimodal.incrementalVideoNearDup(
      sigs.filter(col("media_id") % 3 =!= 0),
      sigs.filter(col("media_id") % 3 === 0),
      threshold = VIDEO_INCR_T)
  }

  /** X206 WITH the hot-frame stopword cap engaged — the r19 sf1
    * decade measured the UNCAPPED increment at α 1.77 (1.8 s at
    * sf0.1 → 108.9 s on the ×10 corpus, PLANS r19): replica
    * amplification multiplies per-seed class sizes ×10 and the
    * uncapped inverted-index pair term grows with class², exactly the
    * X205 pathology the cap exists for. The capped serving
    * configuration (df ≤ 8 over the deduplicated store ∪ batch union
    * — the union-batch vocabulary rule) bounds the candidate phase at
    * any corpus scale; survivors still append their FULL signature
    * rows (the cap prunes the matching vocabulary, not the store
    * record). Oracle replays the df vocabulary + the capped split
    * folds + the pairwise NOT IN drop. */
  val incrementalVideoNearDupCapped: Q = (s, d) => {
    val sigs = videoSigTable(s, d)
    Multimodal.incrementalVideoNearDup(
      sigs.filter(col("media_id") % 3 =!= 0),
      sigs.filter(col("media_id") % 3 === 0),
      threshold = VIDEO_INCR_T, maxFrameDf = VIDEO_FRAME_DF_CAP)
  }

  val incrementalVideoNearDupCappedSql: String =
    videoSigCtes +
      s", hot AS (SELECT fhash FROM sig GROUP BY fhash " +
      s"HAVING count(*) > $VIDEO_FRAME_DF_CAP), " +
      "sigc AS (SELECT media_id, fhash FROM sig " +
      "WHERE fhash NOT IN (SELECT fhash FROM hot)), " +
      "szc AS (SELECT media_id, count(*) AS sizes FROM sigc GROUP BY media_id), " +
      "cvs AS (SELECT DISTINCT p.bid FROM (" +
      "SELECT b.media_id AS bid, st.media_id AS sid, count(*) AS shared " +
      "FROM sigc b JOIN sigc st ON b.fhash = st.fhash " +
      "WHERE b.media_id % 3 <> 0 AND st.media_id % 3 = 0 GROUP BY 1, 2) p " +
      "JOIN szc s1 ON s1.media_id = p.bid JOIN szc s2 ON s2.media_id = p.sid " +
      s"WHERE round(CAST(p.shared AS DOUBLE) / (s1.sizes + s2.sizes - p.shared), 6) >= $VIDEO_INCR_T), " +
      "cvb AS (SELECT DISTINCT p.bid2 FROM (" +
      "SELECT b1.media_id AS bid1, b2.media_id AS bid2, count(*) AS shared " +
      "FROM sigc b1 JOIN sigc b2 ON b1.fhash = b2.fhash AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 <> 0 AND b2.media_id % 3 <> 0 GROUP BY 1, 2) p " +
      "JOIN szc s1 ON s1.media_id = p.bid1 JOIN szc s2 ON s2.media_id = p.bid2 " +
      s"WHERE round(CAST(p.shared AS DOUBLE) / (s1.sizes + s2.sizes - p.shared), 6) >= $VIDEO_INCR_T) " +
      "SELECT media_id, fhash FROM sig WHERE media_id % 3 <> 0 " +
      "AND media_id NOT IN (SELECT bid FROM cvs UNION ALL SELECT bid2 FROM cvb)"

  val incrementalVideoNearDupSql: String =
    videoSigCtes +
      ", cvs AS (SELECT DISTINCT p.bid FROM (" +
      "SELECT b.media_id AS bid, st.media_id AS sid, count(*) AS shared " +
      "FROM sig b JOIN sig st ON b.fhash = st.fhash " +
      "WHERE b.media_id % 3 <> 0 AND st.media_id % 3 = 0 GROUP BY 1, 2) p " +
      "JOIN sz s1 ON s1.media_id = p.bid JOIN sz s2 ON s2.media_id = p.sid " +
      s"WHERE round(CAST(p.shared AS DOUBLE) / (s1.sizes + s2.sizes - p.shared), 6) >= $VIDEO_INCR_T), " +
      "cvb AS (SELECT DISTINCT p.bid2 FROM (" +
      "SELECT b1.media_id AS bid1, b2.media_id AS bid2, count(*) AS shared " +
      "FROM sig b1 JOIN sig b2 ON b1.fhash = b2.fhash AND b1.media_id < b2.media_id " +
      "WHERE b1.media_id % 3 <> 0 AND b2.media_id % 3 <> 0 GROUP BY 1, 2) p " +
      "JOIN sz s1 ON s1.media_id = p.bid1 JOIN sz s2 ON s2.media_id = p.bid2 " +
      s"WHERE round(CAST(p.shared AS DOUBLE) / (s1.sizes + s2.sizes - p.shared), 6) >= $VIDEO_INCR_T) " +
      "SELECT media_id, fhash FROM sig WHERE media_id % 3 <> 0 " +
      "AND media_id NOT IN (SELECT bid FROM cvs UNION ALL SELECT bid2 FROM cvb)"

  /** Streaming incremental video near-dup (X207): the X206 split run
    * through the real foreachBatch composition — decode + hash
    * upstream in the streaming DAG (typed mapPartitions; payloads
    * never reach the store), bootstrap signature rows under batch=-1,
    * the rest streams to AvailableNow completion; single-file source
    * -> one micro-batch, so the survivor set equals the increment and
    * the oracle is reused verbatim. The multi-batch hand-off is
    * pinned by StreamingSpec with a two-run checkpoint chain. */
  val streamIncrVideoNearDup: Q = (s, d) => withStreamShuffle(s, 8) {
    val ckpt = streamCkptDir("graft-ckpt-sivn")
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-vidstore").toString
    def sigsOf(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.videoFrameSignatures(
        Multimodal.videoMediaFromDocuments(docs),
        Multimodal.VideoFrameBytes).toDF()
        .filter(col("decoded")).select(col("media_id"), col("fhash"))
    // bootstrap rows from the shared decode-once table; the STREAMED
    // slice keeps its in-DAG decode (the behavior this gate pins)
    Store.write(videoSigTable(s, d).filter(col("media_id") % 3 === 0), storeDir, -1)
    val src = sigsOf(
      s.readStream.schema(docsSchema).parquet(s"$d/documents.parque[t]")
        .filter(col("doc_id") % 3 =!= 0))
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    runToCompletion(EventsStreaming.streamingIncrementalVideoNearDup(
      src, storeDir, threshold = VIDEO_INCR_T) { (sv, _) =>
      buf ++= sv.select(col("media_id"), col("fhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }, ckpt, ckpt, storeDir)
    import s.implicits._
    buf.toSeq.toDF("media_id", "fhash")
  }

  lazy val streamIncrVideoNearDupSql: String = incrementalVideoNearDupSql

  /** CAPPED streaming incremental video near-dup — the SERVING
    * configuration of X207, the streaming mirror of
    * `q_incremental_video_neardup_capped` (the r19 convention: when a
    * gate runs an operator without its scale guard, the guarded form
    * becomes its OWN oracle-verified row). The r20 decade measured
    * the uncapped streaming gate at α 1.54 (5.4 s → 187 s on the ×10
    * replica corpus — the inverted-index dup-class² term arriving
    * per micro-batch); this row engages `maxFrameDf` (df ≤ 8 over
    * store ∪ batch, the same vocabulary a union-batch run would see)
    * and is the form an always-on ingest recipe composes. Oracle =
    * the capped increment chain verbatim (single-file source → one
    * micro-batch → survivors ≡ the increment). */
  val streamIncrVideoNearDupCapped: Q = (s, d) => withStreamShuffle(s, 8) {
    val ckpt = streamCkptDir("graft-ckpt-sivnc")
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-vidstore-c").toString
    def sigsOf(docs: org.apache.spark.sql.DataFrame) =
      Multimodal.videoFrameSignatures(
        Multimodal.videoMediaFromDocuments(docs),
        Multimodal.VideoFrameBytes).toDF()
        .filter(col("decoded")).select(col("media_id"), col("fhash"))
    Store.write(videoSigTable(s, d).filter(col("media_id") % 3 === 0), storeDir, -1)
    val src = sigsOf(
      s.readStream.schema(docsSchema).parquet(s"$d/documents.parque[t]")
        .filter(col("doc_id") % 3 =!= 0))
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    runToCompletion(EventsStreaming.streamingIncrementalVideoNearDup(
      src, storeDir, threshold = VIDEO_INCR_T,
      maxFrameDf = VIDEO_FRAME_DF_CAP) { (sv, _) =>
      buf ++= sv.select(col("media_id"), col("fhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }, ckpt, ckpt, storeDir)
    import s.implicits._
    buf.toSeq.toDF("media_id", "fhash")
  }

  lazy val streamIncrVideoNearDupCappedSql: String =
    incrementalVideoNearDupCappedSql

  /** Cross-modal retrieval closure (X110): similarity search OVER a
    * multimodal column — real BMP payloads decode (javax.imageio) to
    * [w, h, Σr, Σg, Σb] feature vectors which run through the exact
    * [[embedTopK]] cosine plumbing (broadcast queries, map-side HOF
    * scoring, bounded top-k heaps). Corpus and query sides read the
    * shared decode-once feature table — the query slice is a filter
    * over it, so nothing decodes twice. Every feature is an
    * exact small integer in double, making the cosine math
    * engine-portable; the oracle computes the decoded features
    * arithmetically from the closed-form pixels (the mediaDecode
    * convention) and reruns the same window top-k. */
  val multimodalSearch: Q = (s, d) => {
    val ft = imageFeatureTable(s, d)
    val feats = ft
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val queries = ft.filter(col("media_id") % 100 === 0)
      .select(col("media_id").as("q_id"), col("features").as("q_vec"))
    Similarity.bruteForceTopK(feats, queries, k = 5)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))
  }

  val multimodalSearchSql: String =
    "WITH m AS (SELECT doc_id AS id, CAST(4 + doc_id % 13 AS INT) AS w, " +
      "CAST(3 + doc_id % 7 AS INT) AS h FROM documents), " +
      "xs AS (SELECT id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m), " +
      "ps AS (SELECT id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs), " +
      "f AS MATERIALIZED (SELECT id, [CAST(max(w) AS DOUBLE), CAST(max(h) AS DOUBLE), " +
      "CAST(sum((id + 7*x + 13*y) % 256) AS DOUBLE), " +
      "CAST(sum((2*id + 5*x + 3*y) % 256) AS DOUBLE), " +
      "CAST(sum((id + x*y) % 256) AS DOUBLE)] AS v FROM ps GROUP BY id), " +
      "q AS (SELECT id AS q_id, v AS qv FROM f WHERE id % 100 = 0), " +
      "sc AS (SELECT q_id, f.id AS vec_id, " +
      "round(list_dot_product(v, qv)/(sqrt(list_dot_product(v, v))*sqrt(list_dot_product(qv, qv))), 6) AS score " +
      "FROM f, q), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5"

  /** REAL audio decode (X12, audio modality): real PCM16 WAV payloads
    * whose samples are closed-form functions of doc_id, encoded AND
    * decoded through javax.sound.sampled while the oracle computes the
    * decoded features arithmetically — the audio sibling of
    * [[mediaDecode]]. */
  val audioDecode: Q = (s, d) => {
    val media = Multimodal.wavMediaFromDocuments(Tables.documents(s, d))
    Multimodal.decodeAudioFeatures(media).toDF()
      .select(col("media_id"), col("decoded"), col("sample_rate"),
        col("n_samples"), col("sample_sum"))
  }

  val audioDecodeSql: String =
    "WITH m AS (SELECT doc_id AS media_id, CAST(16 + doc_id % 33 AS INT) AS n_samples FROM documents), " +
      "s AS (SELECT media_id, n_samples, unnest(generate_series(0, n_samples - 1)) AS i FROM m) " +
      "SELECT media_id, true AS decoded, CAST(8000 AS INT) AS sample_rate, n_samples, " +
      "CAST(sum((media_id * 31 + i * 17) % 4096 - 2048) AS BIGINT) AS sample_sum " +
      "FROM s GROUP BY media_id, n_samples"

  /** Cross-modal retrieval, AUDIO modality (X114 — the [[multimodalSearch]]
    * symmetry): real PCM16 WAV payloads decode (javax.sound.sampled) to
    * [n, Σs, Σ|s|, Σs², first] feature vectors which run through the
    * exact [[embedTopK]] cosine plumbing. Corpus and query sides read
    * the shared decode-once feature table (the query slice is a filter
    * over it); every feature is an exact integer in double so
    * the cosine math is engine-portable; the oracle computes the
    * decoded features arithmetically from the closed-form samples (the
    * audioDecode convention) and reruns the same window top-k. */
  val audioSearch: Q = (s, d) => {
    val ft = audioFeatureTable(s, d)
    val feats = ft
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val queries = ft.filter(col("media_id") % 100 === 0)
      .select(col("media_id").as("q_id"), col("features").as("q_vec"))
    Similarity.bruteForceTopK(feats, queries, k = 5)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))
  }

  val audioSearchSql: String =
    "WITH m AS (SELECT doc_id AS id, CAST(16 + doc_id % 33 AS INT) AS n FROM documents), " +
      "sm AS (SELECT id, n, unnest(generate_series(0, n - 1)) AS i FROM m), " +
      "sv AS (SELECT id, n, (id*31 + i*17) % 4096 - 2048 AS v FROM sm), " +
      "f AS MATERIALIZED (SELECT id, [CAST(max(n) AS DOUBLE), CAST(sum(v) AS DOUBLE), " +
      "CAST(sum(abs(v)) AS DOUBLE), CAST(sum(v*v) AS DOUBLE), " +
      "CAST(max((id*31) % 4096 - 2048) AS DOUBLE)] AS vec FROM sv GROUP BY id), " +
      "q AS (SELECT id AS q_id, vec AS qv FROM f WHERE id % 100 = 0), " +
      "sc AS (SELECT q_id, f.id AS vec_id, " +
      "round(list_dot_product(vec, qv)/(sqrt(list_dot_product(vec, vec))*sqrt(list_dot_product(qv, qv))), 6) AS score " +
      "FROM f, q), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5"

  // -------------------- ingestion (S2/S3) --------------------

  /** The full HTML record-extraction pipeline (FactbookScrape) over
    * synthesized Factbook-style pages, one div per customer row. The
    * oracle derives the expected output in closed form — an
    * independent check of the whole explode/filter/parse chain. */
  val scrapeSeries: Q = (s, d) => {
    val pages = Tables.customer(s, d).select(
      concat(
        lit("<html><body><div class=\"pb30\"><a href=\"/the-world-factbook/countries/c"),
        col("c_custkey"),
        lit("\"><h3>"), col("c_name"), lit("</h3></a><p>$"),
        (col("c_custkey") % 900 + 100).cast("long"),
        lit(".5 billion ("),
        (col("c_custkey") % 24 + 2000).cast("long"),
        lit(" est.)</p></div></body></html>")).as("html"))
    graft.operators.FactbookScrape.amountSeries(pages, "html")
      .select(col("link"), col("country"), col("amount"), col("year"))
  }

  val scrapeSeriesSql: String =
    "SELECT '/the-world-factbook/countries/c' || c_custkey AS link, " +
      "c_name AS country, " +
      "(CAST(c_custkey % 900 + 100 AS BIGINT) + 0.5) * 1e9 AS amount, " +
      "CAST(c_custkey % 24 + 2000 AS DOUBLE) AS year FROM customer"

  /** F5 — the reference's population/year disambiguation scan
    * (`scrape_cia.py:256-280`) over synthesized factbook-style text:
    * population = first non-4-length digit token, year = first 4-digit
    * token after it. Comma formatting is engine-identical
    * (format_number vs format('{:,}')). */
  val populationParse: Q = (s, d) =>
    Tables.customer(s, d)
      .withColumn("txt",
        when(col("c_custkey") % 7 === 0, lit("uninhabited (2020 est.)"))
          .otherwise(concat(lit("Pop: "),
            format_number(col("c_custkey") * 1234 + 7, 0),
            lit(" (July "), (col("c_custkey") % 24 + 2000).cast("long"),
            lit(" est.)"))))
      .select(col("c_custkey"),
        Native.popValue(col("txt")).as("population"),
        Native.popYear(col("txt")).as("pop_year"))

  val populationParseSql: String =
    "WITH t AS (SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN 'uninhabited (2020 est.)' " +
      "ELSE 'Pop: ' || format('{:,}', c_custkey * 1234 + 7) || ' (July ' || CAST(c_custkey % 24 + 2000 AS BIGINT) || ' est.)' END AS txt FROM customer), " +
      "tok AS (SELECT c_custkey, regexp_extract_all(txt, '[0-9,]+') AS toks FROM t), " +
      "p AS (SELECT c_custkey, toks, " +
      "list_filter(list_transform(toks, (x, i) -> CASE WHEN length(x) != 4 THEN i END), v -> v IS NOT NULL)[1] AS popidx FROM tok) " +
      "SELECT c_custkey, " +
      "CAST(replace(list_filter(toks, x -> length(x) != 4)[1], ',', '') AS DOUBLE) AS population, " +
      "CASE WHEN popidx IS NOT NULL THEN " +
      "list_filter(list_slice(toks, popidx + 1, len(toks)), x -> length(x) = 4)[1] END AS pop_year FROM p"

  /** Range join: events matched to disjoint value bands derived from
    * the nation table, via bucketized interval join (no cross join).
    * Oracle: the plain BETWEEN theta-join. */
  val rangeJoin: Q = (s, d) => {
    val bands = Tables.nation(s, d).select(
      col("n_name").as("band"),
      (col("n_nationkey") * 10.0).as("lo"),
      (col("n_nationkey") * 10.0 + 9.99).as("hi"))
    graft.operators.ScaleOps.rangeJoin(
      Tables.events(s, d).select(col("event_id"), col("value")),
      bands, "value", "lo", "hi", bucketWidth = 10.0)
      .select(col("event_id"), col("band"), col("value"))
  }

  val rangeJoinSql: String =
    "SELECT e.event_id, n.n_name AS band, e.value FROM events e " +
      "JOIN nation n ON e.value >= n.n_nationkey * 10.0 AND e.value <= n.n_nationkey * 10.0 + 9.99"

  /** Semi-structured extraction: JSON props column -> typed field. */
  val jsonExtract: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))

  val jsonExtractSql: String =
    "SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events"

}
