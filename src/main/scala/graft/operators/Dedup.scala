package graft.operators

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Native
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, over a
  * `documents(doc_id, text, ...)` table. Scale design notes:
  *
  *  - Exact dedup: one hash-shuffle on the content fingerprint; the
  *    fingerprint (16-byte md5) — not the document text — is the
  *    shuffle key, so shuffle volume is O(rows·16B), not O(corpus).
  *  - MinHash/LSH: the classic shingle → minhash signature → band →
  *    bucket-join pipeline. Only documents sharing a band bucket are
  *    pair-compared, so candidate generation is a groupBy on band
  *    values (skew-guarded by capping giant buckets) instead of an
  *    O(n²) cross join. At 100 TB this is the only join shape that
  *    survives: everything shuffles by short hash keys.
  *  - SimHash: per-document 60-bit signature; near-dup candidates
  *    share one of four 15-bit sub-bands (Hamming ≤ 3 guarantee via
  *    pigeonhole), verified by exact Hamming distance (`bit_count`).
  *  - Embedding near-dup: cosine over LSH sign-buckets, see
  *    Similarity.
  *
  * All hashes are md5-derived (portable, oracle-verifiable) — see
  * TextFunctions.hexHash60.
  */
object Dedup {

  /** Word n-gram shingles of `textCol` (lowercased whitespace tokens,
    * windows of `n` joined by one space; docs shorter than `n` tokens →
    * empty array) via the native codegen kernel ([[Native.shingles]]).
    * `df` is not read. */
  def shinglesAuto(df: DataFrame, textCol: String, n: Int): Column =
    Native.shingles(tokens(lower(col(textCol))), n)

  /** Shared `(idCol, _t = tokens(lower(text)))` TOKEN table (r22) —
    * one level below the r21 [[shingleBase]]: the exact-dedup
    * fingerprint, the near-dup shingles, and the substring windows are
    * ALL pure functions of this array, so a composition that runs
    * several dedup families over the same corpus (the ingest gates)
    * persists this once and feeds every stage a `...FromToks` form,
    * instead of re-tokenizing the corpus once per family per side.
    * At 100 TB each avoided re-tokenize is a full corpus pass. */
  def tokenBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df).select(col(idCol), tokens(lower(col(textCol))).as("_t"))

  /** Spread per-row-heavy compute across the cluster: small single-file
    * benchmark inputs arrive as one scan split, which would serialize
    * the hash kernels on one core. Scale-adaptive (r21, guide §2.4):
    * inputs already at-or-above the session parallelism — every real
    * 100 TB table — skip the round-robin exchange entirely instead of
    * paying a full-corpus shuffle that only REDUCED their parallelism
    * to the core count (see [[graft.core.Tables.spreadIfNarrow]]). */
  private[operators] def spread(df: DataFrame): DataFrame =
    graft.core.Tables.spreadIfNarrow(df)

  /** ONE bounded action deciding a broadcast-vs-shuffle gate:
    * `limit(budget+1).count()` stops early above the budget instead of
    * paying a full count. Callers persist `df` first so the probe and
    * the real consumer share the computation. */
  private[operators] def fitsBudget(df: DataFrame, budget: Long): Boolean = {
    require(budget > 0 && budget < Int.MaxValue - 1L,
      s"budget must be in (0, Int.MaxValue-1), got $budget")
    df.limit(budget.toInt + 1).count() <= budget
  }

  /** `df` as a join's build side: broadcast when `fits` (a
    * [[fitsBudget]] verdict), else a pinned shuffle-hash build. */
  private def gate(df: DataFrame, fits: Boolean): DataFrame =
    if (fits) broadcast(df) else df.hint("shuffle_hash")

  /** Exact dedup: keep the lowest-`idCol` row per normalized-content
    * fingerprint. One shuffle, deterministic survivor. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val clash = df.columns.filter(Set("_fp", "_rn")).distinct
    require(clash.isEmpty,
      s"exactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol).asc)
    df.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_fp")
  }

  /** TTL (freshness-aware) exact dedup (X189) — dedup with an expiry:
    * re-publication of the same content AFTER `ttl` is a legitimate
    * fresh observation (news refreshes, docs re-crawled after
    * substantive-change windows), while repeats WITHIN the window are
    * dups. Semantics are gap-based sessionization on the content
    * fingerprint (the standard session rule, exactly expressible and
    * oracle-replayable): a new session starts when the gap to the
    * fp's PREVIOUS observation exceeds ttl; the survivor is each
    * (fp, session)'s first row by (ts, id). Plain [[exactDedup]] is
    * the ttl → ∞ limit (spec-pinned).
    *
    * Fail-loud riding the session counter: a NULL timestamp has no
    * position in any freshness window and raises (fill or filter
    * upstream) — silently sorting it first would quietly anchor the
    * session chain at epoch.
    *
    * Scale shape: ONE fp-keyed window sort (16-byte md5 keys — the
    * exactDedup shuffle with a (ts, id) sort instead of id); the
    * session id is a running sum over the same window, no second
    * shuffle. */
  def ttlExactDedup(df: DataFrame, textCol: String, idCol: String,
      tsCol: String, ttlSeconds: Long): DataFrame = {
    require(ttlSeconds >= 1,
      s"ttlExactDedup: ttlSeconds must be >= 1, got $ttlSeconds")
    val clash = df.columns.filter(Set("_fp", "_t", "_gap"))
    require(clash.isEmpty,
      s"ttlExactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    val w = Window.partitionBy(col("_fp"))
      .orderBy(col("_t").asc, col(idCol).asc)
    // the survivor of a session IS the row that opened it (the fp's
    // first observation, or any row whose gap to the previous
    // observation exceeds ttl) — one window, no second shuffle
    df.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_t",
        when(col(tsCol).isNull, raise_error(lit(
          "ttlExactDedup: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))))
      .withColumn("_gap", lag(col("_t"), 1).over(w).isNull ||
        col("_t") - lag(col("_t"), 1).over(w) > ttlSeconds * 1000000L)
      .filter(col("_gap"))
      .drop("_fp", "_t", "_gap")
  }

  /** The TTL chain's store-append record: each fingerprint's LATEST
    * observation time in this batch — OBSERVATIONS, not survivors,
    * advance a gap-sessionization chain (a within-window repeat drops
    * but still resets the freshness clock), which is why the store
    * tracks max(ts) per fp rather than survivor rows. Append-only
    * layout: the reader folds max(last_ts) per fp across partitions
    * (max is the fold of the monotone chain, so append + fold ≡ the
    * running state). Same NULL-timestamp fail-loud as
    * [[ttlExactDedup]]. */
  def ttlStoreRecords(df: DataFrame, textCol: String,
      tsCol: String): DataFrame =
    df.select(fingerprintMd5(col(textCol)).as("fp"),
        when(col(tsCol).isNull, raise_error(lit(
          "ttlStoreRecords: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))).as("_t"))
      .groupBy(col("fp")).agg(max(col("_t")).as("last_ts"))

  /** INCREMENTAL TTL dedup (X203) — the cross-snapshot form of
    * [[ttlExactDedup]], seeding each fingerprint's in-batch session
    * chain with the STORE's last observation: a batch row survives
    * iff its gap to the fp's previous observation (the in-batch lag,
    * or the stored `last_ts` for the fp's first in-batch row) exceeds
    * ttl. With an empty store this IS [[ttlExactDedup]] (spec-pinned),
    * and batch-then-increment equals the one-shot batch over the
    * concatenation whenever batches arrive in event-time order.
    *
    * That ordering is the contract, ENFORCED fail-loud riding the row
    * filter: a batch row older than its fingerprint's stored last
    * observation is out-of-order arrival the monotone chain cannot
    * rewrite (the stored max would have to be undone) — raise, don't
    * silently mis-session. Ties (equal micros) are in-window repeats,
    * not disorder.
    *
    * Scale shape: one fp-keyed pinned shuffle-hash join against the
    * (fp, last_ts) store — 24-byte rows, history never rescanned —
    * plus [[ttlExactDedup]]'s single fp-keyed window. */
  def incrementalTtlDedup(newDocs: DataFrame, store: DataFrame,
      textCol: String, idCol: String, tsCol: String,
      ttlSeconds: Long): DataFrame = {
    require(ttlSeconds >= 1,
      s"incrementalTtlDedup: ttlSeconds must be >= 1, got $ttlSeconds")
    require(Set("fp", "last_ts").subsetOf(store.columns.toSet),
      s"incrementalTtlDedup: store must carry (fp, last_ts) — " +
        s"ttlStoreRecords' schema — got ${store.columns.mkString(", ")}")
    val clash = newDocs.columns.filter(Set("_fp", "_t", "_st", "_prev"))
    require(clash.isEmpty,
      s"incrementalTtlDedup: input columns ${clash.mkString(", ")} " +
        "collide with internal markers")
    val w = Window.partitionBy(col("_fp"))
      .orderBy(col("_t").asc, col(idCol).asc)
    newDocs.withColumn("_fp", fingerprintMd5(col(textCol)))
      .withColumn("_t",
        when(col(tsCol).isNull, raise_error(lit(
          "incrementalTtlDedup: NULL timestamp has no position in a " +
            "freshness window — fill or filter upstream")).cast("long"))
          .otherwise(unix_micros(col(tsCol))))
      // fold max(last_ts) per fp INSIDE the operator: an append-layout
      // store hands multiple rows per fp, and an unfolded join would
      // fan rows out and silently corrupt the session chain (max is
      // the exact fold of the monotone chain, so folding twice is
      // harmless for callers that already folded)
      .join(store.groupBy(col("fp")).agg(max(col("last_ts")).as("_st"))
        .select(col("fp").as("_fp"), col("_st"))
        .hint("shuffle_hash"), Seq("_fp"), "left")
      .filter(when(col("_st").isNotNull && col("_t") < col("_st"),
        raise_error(lit(
          "incrementalTtlDedup: batch row is older than its " +
            "fingerprint's stored last observation — out-of-order " +
            "arrival cannot extend a monotone freshness chain"))
          .cast("boolean"))
        .otherwise(lit(true)))
      .withColumn("_prev", coalesce(lag(col("_t"), 1).over(w), col("_st")))
      .filter(col("_prev").isNull ||
        col("_t") - col("_prev") > ttlSeconds * 1000000L)
      .drop("_fp", "_t", "_st", "_prev")
  }

  /** Incremental (cross-snapshot) exact dedup — the INGESTION-time
    * shape of a 100 TB pipeline: a new batch dedups against the
    * already-ingested corpus represented ONLY by its content
    * fingerprints (16 bytes/doc, the `fp` column this operator itself
    * emits), so history is never rescanned. A Bloom filter over the
    * prior fingerprints (driver-merged, bits ≪ keys — the
    * [[graft.operators.ScaleOps.bloomPrunedJoin]] machinery)
    * broadcasts into a map-side prefilter: the "already seen?"
    * anti-join shuffles only the Bloom-maybe slice of the batch (true
    * dupes + the fpp fraction of fresh rows) instead of the whole
    * batch, and Bloom's no-false-negatives guarantee makes the result
    * IDENTICAL to the plain anti-join. Within-batch dupes then resolve
    * by the [[exactDedup]] lowest-id-survives rule. Returns surviving
    * new rows plus their `fp` — exactly what the caller appends to the
    * fingerprint store for the next increment.
    *
    * Bloom sizing: by default (`expectedPriorKeys = 0`) the expected
    * key count is DERIVED from the store itself — one bounded `count()`
    * on the already-persisted fingerprint projection (persisted
    * precisely because it has multiple consumers), so a 10⁹-row store
    * gets a 10⁹-key Bloom instead of silently saturating a static
    * guess (fpp → 1 would route the whole batch through the anti-join:
    * still correct, but the prefilter the operator exists for
    * evaporates). Pass a positive value to override — e.g. when the
    * caller maintains the store row count out-of-band and wants to
    * skip the count job. */
  def incrementalExactDedup(newDocs: DataFrame, priorFps: DataFrame,
      textCol: String, idCol: String, fpCol: String = "fp",
      expectedPriorKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val clash = newDocs.columns.filter(Set("_fp", "_rn", "_pfp", fpCol)).distinct
    require(clash.isEmpty,
      s"incrementalExactDedup: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalExactDedupCore(
      newDocs.withColumn("_fp", fingerprintMd5(col(textCol))),
      priorFps, idCol, fpCol, expectedPriorKeys, fpp)
  }

  /** [[incrementalExactDedup]] over a prepared [[tokenBase]] batch
    * (r22): the fingerprint is computed from the shared token array —
    * byte-identical to the text form — so a composition that already
    * tokenized the batch pays no second corpus pass. Survivors keep
    * their `_t` column for the downstream `...FromToks` stages. */
  def incrementalExactDedupFromToks(batchToks: DataFrame, priorFps: DataFrame,
      idCol: String, fpCol: String = "fp",
      expectedPriorKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    require(batchToks.columns.contains("_t"),
      s"incrementalExactDedupFromToks: batch must carry the tokenBase _t column, " +
        s"got ${batchToks.columns.mkString(", ")}")
    val clash = batchToks.columns.filter(Set("_fp", "_rn", "_pfp", fpCol)).distinct
    require(clash.isEmpty,
      s"incrementalExactDedupFromToks: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalExactDedupCore(
      batchToks.withColumn("_fp",
        graft.functions.TextFunctions.fingerprintOfTokens(col("_t"))),
      priorFps, idCol, fpCol, expectedPriorKeys, fpp)
  }

  private def incrementalExactDedupCore(withFp: DataFrame, priorFps: DataFrame,
      idCol: String, fpCol: String,
      expectedPriorKeys: Long, fpp: Double): DataFrame = {
    require(expectedPriorKeys >= 0L,
      s"expectedPriorKeys must be >= 0 (0 = derive from the store), got $expectedPriorKeys")
    // the fingerprint store is consumed THREE times (empty probe,
    // bloom build, anti-join right side) — persist the projection so
    // the caller's store pipeline runs once (the persist-before-probe
    // convention; released via Caches.release). The BATCH side is
    // deliberately NOT persisted: its two consumers (maybe/fresh) are
    // map-side filters, and two scans cost less than materializing
    // full document text.
    val pf = graft.core.Caches.persistTracked(priorFps.select(col(fpCol)))
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol).asc)
    def dedupInBatch(df: DataFrame): DataFrame = df
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .withColumnRenamed("_fp", fpCol)
    // first increment: an empty fingerprint store means everything is
    // fresh — and Spark's stat.bloomFilter NPEs on an empty frame
    // (null aggregation buffer), so this is a correctness guard, not
    // just a fast path. r21: when the key count is derived from the
    // store anyway (the common call), ONE count() doubles as the
    // emptiness probe — the old isEmpty + bloomKeysFor-count shape
    // paid two store passes before the bloom build's third; a caller
    // that supplies expectedPriorKeys keeps the cheaper isEmpty.
    val derivedKeys =
      if (expectedPriorKeys > 0L) { if (pf.isEmpty) -1L else expectedPriorKeys }
      else pf.count()
    if (derivedKeys <= 0L) return dedupInBatch(withFp)
    val bloom = pf.stat.bloomFilter(fpCol, derivedKeys, fpp)
    // null-text rows fingerprint to a null _fp: bloomSplit routes them
    // FRESH (a null fp can never equal a stored one — exactly what the
    // plain anti-join would conclude), and the in-batch window then
    // keeps one lowest-id survivor of the null group, matching
    // [[exactDedup]]'s semantics
    val (maybe, fresh) = ScaleOps.bloomSplit(withFp, bloom, "_fp")
    // only the maybe-slice pays the anti-join shuffle; prior side
    // shuffles fingerprints only, pinned shuffle-hash (both sides are
    // id/fp streams — no sort needed, no broadcast assumption on a
    // history-sized store)
    val confirmedNew = maybe.join(
      pf.select(col(fpCol).as("_pfp")).hint("shuffle_hash"),
      col("_fp") === col("_pfp"), "left_anti")
    dedupInBatch(fresh.unionByName(confirmedNew))
  }

  /** Bloom expected-key count for [[incrementalExactDedup]]: the
    * caller's positive override verbatim, else the persisted store's
    * own row count (floored at 1 — `stat.bloomFilter` rejects 0, and
    * the empty store never reaches here). Package-visible so the spec
    * can pin the derivation without rebuilding the operator's Bloom. */
  private[graft] def bloomKeysFor(persistedFps: DataFrame,
      requested: Long): Long =
    if (requested > 0L) requested else math.max(persistedFps.count(), 1L)

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket on (bandIdx, concat(band)), emit distinct
    * (id1 < id2) pairs sharing any bucket. The band explode costs
    * rows×bands; the one bucket exchange shuffles only (bandKey, id)
    * pairs. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = spread(df).select(col(idCol).as("id"),
      Native.minhash(shinglesAuto(df, textCol, shingleN), numHashes).as("_sig"))
    val banded = withSig.select(col("id"),
      posexplode(bandKeys(col("_sig"), bands, rowsPerBand)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    Candidates.bucketMates(banded, Seq("band", "bucket"), col("id"))
      .select("id1", "id2").distinct()
  }

  /** The `bands` band keys of a MinHash signature: band `b` is the
    * signature's hashes `b·rowsPerBand + 1 ..` joined by `|`. */
  private def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "|"))

  /** MinHash near-dup pairs, verified: LSH candidates filtered by
    * exact n-gram Jaccard ≥ threshold.
    *
    * ONE materialization of (id, distinct-shingle array) feeds the
    * signature/banding AND the verification (tokenize+shingle once,
    * three structurally different consumers); candidates are verified
    * by broadcasting the pair list against that table and intersecting
    * the two arrays per-row, instead of two corpus-keyed shuffle
    * joins. The candidate list is USUALLY bounded (it is the near-dup
    * candidate set), but a duplicate-heavy corpus can put m
    * near-identical docs in one LSH bucket and yield O(m²) pairs — so
    * the broadcast is GATED on `pairBroadcastBudget` candidate rows
    * (one bounded limit-probe over the persisted pair list, never a
    * full count) and falls back to an equivalent shuffle-hash join
    * above it. Shuffles whose volume grows with the corpus: the
    * bucket exchange on short bucket keys — plus, only above the
    * gate, the verification join on id.
    *
    * `spreadInput = false` skips the round-robin pre-shuffle — pass it
    * when the input is a cached mid-pipeline stage that is already
    * well-partitioned (the curation pipeline), keep the default for
    * raw single-file scans. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 3,
      spreadInput: Boolean = true,
      pairBroadcastBudget: Long = 1000000L): DataFrame =
    minhashNearDupPairsFromBase(
      graft.core.Caches.persistTracked(
        shingleBase(df, idCol, textCol, shingleN, spreadInput)),
      threshold, bands, rowsPerBand, pairBroadcastBudget)

  /** Shared `(id, _sh = distinct-shingle array)` base table — the one
    * tokenize+shingle pass every pair miner starts from (r21): a
    * harness comparing several banding layouts (or banded candidates
    * vs the exact inverted index) over the SAME corpus persists this
    * once and feeds each miner the `...FromBase` form, instead of
    * re-tokenizing and re-shingling the corpus per configuration. */
  def shingleBase(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, spreadInput: Boolean = true): DataFrame =
    (if (spreadInput) spread(df) else df)
      .select(col(idCol).as("id"),
        array_distinct(shinglesAuto(df, textCol, shingleN)).as("_sh"))

  /** [[minhashNearDupPairs]] over a prepared [[shingleBase]] (callers
    * persist the base — it is consumed by the signature/banding scan
    * AND the verification join). Identical output. */
  def minhashNearDupPairsFromBase(base: DataFrame, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    val numHashes = bands * rowsPerBand
    val banded = base
      .select(col("id"), Native.minhash(col("_sh"), numHashes).as("_sig"))
      .select(col("id"), posexplode(bandKeys(col("_sig"), bands, rowsPerBand)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = Candidates.bucketMates(banded, Seq("band", "bucket"), col("id"))
      .select("id1", "id2").distinct().persistTracked()
    Candidates.verify(cand, base, "id", pairBroadcastBudget)
      .withColumn("jaccard",
        jaccardArr(element_at(col("_ab"), 1), element_at(col("_ab"), 2)))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Per-doc NEAR-dup store record — the append-only index
    * [[incrementalNearDup]] dedups against: `(id, shingles, sig)`,
    * i.e. the distinct shingle set (for exact-Jaccard verification)
    * and the MinHash signature (band keys are cheap slices of it, so
    * they are derived per increment instead of stored). Run once over
    * the initial corpus to bootstrap the store; after that the store
    * grows ONLY by appending each increment's survivors — history is
    * never re-tokenized or re-hashed. */
  def nearDupStoreRecords(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    spread(docs)
      .withColumn("shingles", distinctShingles(docs, textCol, shingleN))
      .select(col(idCol).as("id"), col("shingles"),
        Native.minhash(col("shingles"), numHashes).as("sig"))
  }

  /** [[nearDupStoreRecords]] over a prepared [[tokenBase]] (r22) —
    * identical records; the tokenize pass is the caller's shared
    * token table, so no spread and no re-tokenize here. */
  def nearDupStoreRecordsFromToks(toks: DataFrame, idCol: String,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    toks
      .withColumn("shingles", coalesce(
        array_distinct(Native.shingles(col("_t"), shingleN)),
        typedLit(Seq.empty[String])))
      .select(col(idCol).as("id"), col("shingles"),
        Native.minhash(col("shingles"), numHashes).as("sig"))
  }

  /** Distinct shingle set with NULL text coalesced to the EMPTY set —
    * null text carries the same (non-)evidence as empty text, so the
    * native minhash kernel gives it the zz_empty signature (a null
    * shingle array would give a null signature). */
  private def distinctShingles(df: DataFrame, textCol: String,
      shingleN: Int): Column =
    coalesce(array_distinct(shinglesAuto(df, textCol, shingleN)),
      typedLit(Seq.empty[String]))

  /** Incremental (cross-snapshot) NEAR-dup dedup — the second half of
    * the ingestion-time pair with [[incrementalExactDedup]]: a new
    * batch dedups against the already-ingested corpus represented only
    * by its [[nearDupStoreRecords]] index, never by rescanning its
    * text. The X2 banded machinery runs batch-vs-store instead of
    * self-join: band keys are sliced from the STORED signatures (no
    * re-hash of history) and joined against the batch's band rows, so
    * candidate generation shuffles short (band, bucket, id) keys with
    * volume O(batch·bands + store·bands) — never all-pairs. Candidates
    * are verified by EXACT n-gram Jaccard against the stored shingle
    * sets, fetched for candidate ids only (the store scan prunes to
    * (id, shingles) and joins through the candidate list — gated
    * broadcast with a shuffle-hash fallback, the
    * [[minhashNearDupPairs]] convention). Within-batch near-dups
    * resolve by a deterministic PAIRWISE lowest-id rule: a batch doc
    * is dropped iff it verifies ≥ `threshold` against any store doc or
    * any SMALLER-id batch doc (pairwise, not transitive-closure — in a
    * chain a≈b≈c with a̸≈c, BOTH b and c drop, each against its
    * smaller-id neighbour, even though b itself is dropped; a
    * survivor-aware rule would need the iterative closure that is
    * [[connectedComponents]]' job, which has no place inside an
    * ingestion-time op).
    *
    * Zero-shingle docs (empty/whitespace/NULL text) never enter the
    * band index on either side: with `threshold > 0` (required) an
    * empty set verifies against nothing, and the shared all-empties
    * sentinel bucket is exactly the quadratic skew bucket a 100 TB run
    * cannot afford. They all survive, mirroring the verify outcome.
    *
    * Returns the surviving batch rows plus their store-append record —
    * `shingles`, `sig`, and the derived `band_keys` — so the caller's
    * next increment is `store.unionByName(survivors.select(id,
    * shingles, sig))` ([[incrementalExactDedup]]'s contract, near-dup
    * flavored). The store is text-sized (it carries shingle sets — the
    * price of EXACT verification), but append-only and column-pruned:
    * banding reads only (id, sig); verification reads (id, shingles)
    * for candidate ids only. */
  def incrementalNearDup(newDocs: DataFrame, store: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      spreadInput: Boolean = true,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    val clash = newDocs.columns.filter(Set("_sh", "_sig", "_bid", "_sid",
      "_ab", "band", "bucket", "shingles", "sig", "band_keys")).distinct
    require(clash.isEmpty,
      s"incrementalNearDup: input columns ${clash.mkString(", ")} collide with internal markers")
    incrementalNearDupCore(
      (if (spreadInput) spread(newDocs) else newDocs)
        .withColumn("_sh", distinctShingles(newDocs, textCol, shingleN)),
      store, idCol, threshold, bands, rowsPerBand, pairBroadcastBudget)
  }

  /** [[incrementalNearDup]] over a prepared [[tokenBase]] batch (r22):
    * identical survivor ids and store-append records; the shared token
    * table replaces the tokenize+shingle pass. Output columns are
    * (idCol, shingles, sig, band_keys) — the token column is dropped
    * before the persist so the cache carries hashes, not text. */
  def incrementalNearDupFromToks(batchToks: DataFrame, store: DataFrame,
      idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    require(batchToks.columns.contains("_t"),
      s"incrementalNearDupFromToks: batch must carry the tokenBase _t column, " +
        s"got ${batchToks.columns.mkString(", ")}")
    incrementalNearDupCore(
      batchToks
        .withColumn("_sh", coalesce(
          array_distinct(Native.shingles(col("_t"), shingleN)),
          typedLit(Seq.empty[String])))
        .drop("_t"),
      store, idCol, threshold, bands, rowsPerBand, pairBroadcastBudget)
  }

  private def incrementalNearDupCore(withSh: DataFrame, store: DataFrame,
      idCol: String, threshold: Double, bands: Int, rowsPerBand: Int,
      pairBroadcastBudget: Long): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val needed = Set("id", "shingles", "sig")
    require(needed.subsetOf(store.columns.toSet),
      s"incrementalNearDup: store must have columns id/shingles/sig " +
        s"(nearDupStoreRecords' schema), got ${store.columns.mkString(", ")}")
    val numHashes = bands * rowsPerBand

    // batch records: consumed by banding, both verify joins, and the
    // survivor anti-join — persist once (registry-released)
    val batch = withSh
      .withColumn("_sig", Native.minhash(col("_sh"), numHashes))
      .persistTracked()

    // fail fast on a store built with different bands/rowsPerBand: a
    // shorter stored sig would slice to "" buckets (an all-store skew
    // bucket) while real pairs stop colliding — silently missed dupes.
    // One bounded probe row; empty store skips the check.
    store.select(size(col("sig")).as("_n")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == numHashes,
          s"incrementalNearDup: store signatures have ${r.getInt(0)} hashes " +
            s"but bands*rowsPerBand = $numHashes — the store was built with " +
            "different banding parameters")
      }

    // zero-shingle docs are excluded by the sig SENTINEL (both minhash
    // paths emit "zz_empty" signatures for an empty shingle set; a real
    // hash is 32 hex chars), NOT by size(shingles) — the store-side
    // banding scan must touch only (id, sig), never the text-sized
    // shingle column
    def bandRows(df: DataFrame, id: Column, sig: Column,
        idName: String): DataFrame =
      df.filter(element_at(sig, 1) =!= "zz_empty")
        .select(id.as(idName), posexplode(bandKeys(sig, bands, rowsPerBand)))
        .select(col(idName), col("pos").as("band"), col("col").as("bucket"))

    val bBands = bandRows(batch, col(idCol), col("_sig"), "_bid")
    // store banding: a pruned (id, sig) scan — stored signatures slice
    // into band keys with no tokenization or hashing of history
    val sBands = bandRows(store, col("id"), col("sig"), "_sid")

    // batch-vs-store candidates: build side = the (smaller) batch,
    // probe side = the store — pinned shuffle-hash, never a broadcast
    // assumption on a corpus-sized index
    val candStore = bBands.hint("shuffle_hash")
      .join(sBands, Seq("band", "bucket"))
      .select("_bid", "_sid").distinct()
      .persistTracked()
    // within-batch candidates: the X2 bucket-mate pairs on the batch only
    val candBatch = Candidates.bucketMates(bBands, Seq("band", "bucket"), col("_bid"))
      .select("id1", "id2").distinct().persistTracked()

    val storeFits = fitsBudget(candStore, pairBroadcastBudget)
    val batchFits = fitsBudget(candBatch, pairBroadcastBudget)

    val batchSh = batch.select(col(idCol).as("_bid"), col("_sh"))
    val storeSh = store.select(col("id").as("_sid"), col("shingles").as("_ssh"))
    // store-side shingle fetch rides THROUGH the candidate list, so
    // only candidate ids' shingle sets leave the store scan
    val candWithStore =
      if (storeFits) storeSh.join(broadcast(candStore), Seq("_sid"))
      else storeSh.hint("shuffle_hash").join(candStore, Seq("_sid"))
    val dupVsStore = candWithStore
      .join(batchSh.hint("shuffle_hash"), Seq("_bid"))
      .filter(jaccardArr(col("_sh"), col("_ssh")) >= threshold)
      .select(col("_bid"))

    val dupInBatch = Candidates.verify(candBatch, batchSh, "_bid", batchFits)
      .filter(jaccardArr(element_at(col("_ab"), 1), element_at(col("_ab"), 2)) >= threshold)
      .select(col("id2").as("_bid"))

    val dups = dupVsStore.unionByName(dupInBatch).distinct()
    val dupJoin = gate(dups, storeFits && batchFits)
    batch.join(dupJoin, batch(idCol) === dupJoin("_bid"), "left_anti")
      .withColumnRenamed("_sh", "shingles")
      .withColumnRenamed("_sig", "sig")
      .withColumn("band_keys", bandKeys(col("sig"), bands, rowsPerBand))
  }

  /** Exact Jaccard over two pre-distinct arrays. */
  private def jaccardArr(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(0.0)
  }

  /** All-pairs n-gram Jaccard ≥ threshold via an inverted shingle
    * index (join on shared shingle, count hits per pair, derive
    * |union| = |A|+|B|−hits). No cross join: only pairs sharing ≥1
    * shingle are materialized — the standard "candidate by common
    * token" plan that scales with corpus overlap, not corpus².
    * Hot shingles are capped (shingles occurring in > maxDocFreq docs
    * are dropped, a standard stopword-shingle guard at scale;
    * with the default the behavior is exact). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      maxDocFreq: Long = Long.MaxValue): DataFrame =
    ngramJaccardPairsFromBase(shingleBase(df, idCol, textCol, shingleN),
      threshold, maxDocFreq)

  /** [[ngramJaccardPairs]] over a prepared [[shingleBase]] — shares the
    * tokenize+shingle pass with the banded miners (r21). Identical
    * output. */
  def ngramJaccardPairsFromBase(base: DataFrame, threshold: Double,
      maxDocFreq: Long = Long.MaxValue): DataFrame = {
    // sizes are taken before the hot-shingle cap: a capped shingle
    // still counts in both sets' union
    val inv = base.select(col("id"), size(col("_sh")).as("_size"),
      explode(col("_sh")).as("shingle"))
    Candidates.sharedKeyJaccard(inv, "shingle", maxDocFreq)
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact Jaccard join (AllPairs/PPJoin candidate
    * generation): identical output to [[ngramJaccardPairs]], but the
    * inverted index holds only each document's PREFIX — its
    * |S| − ⌈t·|S|⌉ + 1 rarest shingles under a global document-
    * frequency order. The prefix-filter theorem makes this lossless:
    * J(A,B) ≥ t forces the two prefixes to share a shingle, so no
    * qualifying pair can be missed; everything else never becomes a
    * candidate. At 100 TB this is the difference between indexing
    * every posting and indexing ~(1−t) of them — and stopword-shaped
    * hot shingles are almost never in anyone's prefix, attacking the
    * skew that [[ngramJaccardPairs]] needs `maxDocFreq` for.
    *
    * Verification never re-joins the posting index: each candidate
    * pair gets both documents' materialized md5-key arrays attached by
    * ONE broadcast of the candidate list against the persisted set
    * table, and |A∩B| is a per-row `array_intersect` inside codegen.
    * The candidate list is the prefix join's own output — usually
    * bounded, but adversarially quadratic on a duplicate-heavy corpus,
    * so the broadcast is GATED on `pairBroadcastBudget` rows (bounded
    * limit-probe over the persisted list) with an equivalent
    * shuffle-hash fallback. The corpus is scanned once, shuffled once
    * (the per-document prefix regroup); the only other shuffle whose
    * volume grows with data is the prefix bucket aggregation on short
    * md5 keys.
    *
    * Use a threshold exactly representable in binary (0.5, 0.75…) so
    * ⌈t·|S|⌉ computes identically on any engine. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      pairBroadcastBudget: Long = 1000000L): DataFrame = {
    // one materialization of (id, md5-key array, size) feeds all three
    // structurally different consumers: df counting, prefix regroup,
    // and candidate verification — tokenize/shingle/hash runs once
    val sets = shingleSetTable(df, idCol, textCol, shingleN)
      .select(col("id"), transform(col("_sh"), g => md5(g)).as("_sh"),
        col("_size"))
      .persistTracked()
    val inv = sets.select(col("id"), col("_size"), explode(col("_sh")).as("_gk"))
    val prefix = prefixPostings(inv, threshold)
    // length filter (PPJoin): J ≥ t bounds the partner's set size to
    // [t·|A|, |A|/t] — prunes dissimilar-size pairs before they are
    // verified. Distinct: a pair sharing several prefix keys is one
    // candidate, and verify needs each pair once.
    val cand = Candidates.bucketMates(prefix, Seq("_gk"), struct(col("id"), col("_size")))
      .filter(col("id1.id") < col("id2.id") &&
        col("id2._size") >= ceil(col("id1._size") * threshold) &&
        col("id2._size") * threshold <= col("id1._size"))
      .select(col("id1.id").as("id1"), col("id2.id").as("id2")).distinct()
      .persistTracked()
    // exact Jaccard of the pair's two distinct key arrays
    Candidates.verify(cand, sets.select(col("id"), col("_sh")), "id", pairBroadcastBudget)
      .withColumn("jaccard",
        jaccardArr(element_at(col("_ab"), 1), element_at(col("_ab"), 2)))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): every
    * duplicated L-token span keeps only its GLOBAL FIRST occurrence
    * (minimum (doc, position)); every other occurrence's tokens are
    * removed and documents are reassembled from the surviving tokens.
    * The canonical suffix-array formulation is sequential; this is the
    * distributed fixed-window equivalent: hash every L-gram (rolling
    * window over the token stream), find hashes with ≥ 2 occurrences,
    * mark all non-first windows, drop covered token positions.
    *
    * Occurrence order is encoded as one BIGINT `id·posBase + pos` so
    * "first" is a plain MIN aggregate — portable to any engine without
    * struct-ordering semantics. The encoding is injective only while
    * `pos < posBase` (docs shorter than ~posBase tokens) and
    * `0 ≤ id < Long.MaxValue/posBase` — both are ENFORCED with
    * per-row `raise_error` guards (the repo's fail-loudly convention:
    * a 100k-token document must kill the job, not silently corrupt
    * "global first occurrence" attribution). Raise `posBase` for
    * longer documents.
    *
    * Scale shape: shuffles carry (id, pos, 16-byte md5) gram postings
    * and covered positions — never text; the dup-gram table is
    * corpus-overlap-sized and joins shuffle-hash (pinned — broadcast
    * from small-SF stats would die at 100 TB); reassembly is one
    * groupBy(doc) with per-doc bounded sort_array, the lineDedup
    * shape. Returns (id, n_tokens, n_kept, kept_md5). */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame = {
    val (toks, covered) = substringCoverage(df, idCol, textCol, L, posBase)
    substringReassemble(toks, covered, L)
  }

  /** Shared front half of the exact-substring family: guarded token
    * table + the set of token positions covered by a non-first
    * duplicated L-window. Returns (toks, covered) with `toks`
    * persisted (tracked — it feeds grams, reassembly, and the final
    * stats join). */
  private def substringCoverage(df: DataFrame, idCol: String,
      textCol: String, L: Int, posBase: Long): (DataFrame, DataFrame) = {
    val toks = substringToks(df, idCol, textCol, L, posBase).persistTracked()
    val grams = substringGramsOf(toks, L, posBase)
    val dup = grams.groupBy("_gh")
      .agg(count(lit(1)).as("_c"), min(col("_occ")).as("_first"))
      .filter(col("_c") >= 2)
      .select("_gh", "_first")
    val covered = grams.hint("shuffle_hash").join(dup, Seq("_gh"))
      .filter(col("_occ") =!= col("_first"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (L - 1))).as("_tp"))
      .distinct()
    (toks, covered)
  }

  /** Shared back half: drop covered positions, reassemble per-doc
    * survivors, emit (id, n_tokens, n_kept, kept_md5). */
  private def substringReassemble(toks: DataFrame, covered: DataFrame,
      L: Int): DataFrame = {
    val tokPos = toks.select(col("id"), posexplode(col("_t")))
      .select(col("id"), col("pos").as("_tp"), col("col").as("_tok"))
    // hint on the RIGHT side: a left-side shuffle_hash on a LEFT ANTI
    // join is unsupported (no build-left for anti) and Spark drops it
    // with a warning — the pin must ride the build-able side to
    // actually keep AQE from broadcasting the corpus-sized cover set
    val kept = tokPos
      .join(covered.hint("shuffle_hash"), Seq("id", "_tp"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("_tp"), col("_tok")))),
            e => e("_tok")))).as("kept_md5"))
    // empty docs (all tokens covered, or tokenless) still emit a row
    // shuffle-hash pinned: kept is corpus-sized — AQE would broadcast
    // it from small-SF stats and that shape dies at 100 TB
    toks.select(col("id"), size(col("_t")).as("n_tokens"))
      .hint("shuffle_hash").join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** VARIABLE-LENGTH exact substring dedup — the span-level view of
    * [[exactSubstringDedup]], matching Lee et al. 2021's actual
    * output shape (maximal duplicated spans, not fixed windows): the
    * union of covered positions from non-first duplicated L-windows is
    * merged into maximal islands, so each reported span is a maximal
    * duplicated region of VARIABLE length ≥ L (overlapping duplicated
    * windows chain into one long span — a 500-token boilerplate block
    * reports as one span of ~500, not 488 window hits). Per doc:
    * span inventory (count, longest, md5 of the canonical
    * "start:len,…" list) plus the same survivor reassembly as the
    * fixed pass. The span-length distribution is the signal you tune
    * L with; max_span_len flags template-heavy documents.
    *
    * Scale shape: everything up to `covered` is the fixed pass
    * (hash-only shuffles); island-merging is ONE window function
    * partitioned by doc (the classic islands `pos − row_number()`
    * grouping — per-doc bounded, shuffles (id, pos) pairs only) and
    * is the SQL-portable formulation every engine computes
    * identically. Returns (id, n_tokens, n_kept, n_spans,
    * max_span_len, spans_md5, kept_md5). */
  def exactSubstringDedupVar(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame = {
    val (toks, covered) = substringCoverage(df, idCol, textCol, L, posBase)
    val cov = covered.persistTracked() // feeds islands AND reassembly
    val w = Window.partitionBy(col("id")).orderBy(col("_tp"))
    val spans = cov
      .withColumn("_grp", col("_tp") - row_number().over(w))
      .groupBy(col("id"), col("_grp"))
      .agg(min(col("_tp")).as("_s"), count(lit(1)).as("_l"))
    val spanAgg = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("_l")).as("max_span_len"),
        md5(concat_ws(",", transform(
          sort_array(collect_list(struct(col("_s"), col("_l")))),
          e => concat(e("_s").cast("string"), lit(":"), e("_l").cast("string")))))
          .as("spans_md5"))
    // shuffle-hash pinned on the corpus-sized sides (same rationale as
    // the fixed pass: AQE's small-SF stats must not pick broadcast)
    substringReassemble(toks, cov, L)
      .hint("shuffle_hash").join(spanAgg, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("n_kept"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_len"), lit(0L)).as("max_span_len"),
        coalesce(col("spans_md5"), md5(lit(""))).as("spans_md5"),
        col("kept_md5"))
  }

  /** (id, pos, _gh, _occ) L-window postings over a guarded token
    * table: one md5 per window (\u0001-joined so token boundaries
    * stay unambiguous); occurrence order encoded as id·posBase + pos
    * — "first" is a plain MIN, portable to any engine. */
  private def substringGramsOf(toks: DataFrame, L: Int, posBase: Long): DataFrame = {
    val posIdx = when(size(col("_t")) >= L,
      sequence(lit(0), size(col("_t")) - L))
      .otherwise(array().cast("array<int>"))
    toks.select(col("id"), posexplode(transform(posIdx,
        i => md5(concat_ws("\u0001", slice(col("_t"), i + 1, lit(L)))))))
      .select(col("id"), col("pos"), col("col").as("_gh"))
      .withColumn("_occ", col("id") * posBase + col("pos"))
  }

  /** Guarded (id, _t) token table for the INCREMENTAL substring ops —
    * the same per-row injectivity guards as [[substringCoverage]]'s
    * front half (null/out-of-range ids and >= posBase-token documents
    * fail loud instead of silently colliding _occ values). NOT
    * persisted — callers persist per their consumer count. */
  private def substringToks(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long): DataFrame =
    substringToksGuarded(spread(df), idCol, tokens(lower(col(textCol))),
      L, posBase)

  /** The guard half of [[substringToks]], parameterized over the token
    * expression so the shared-token-table form ([[tokenBase]]) applies
    * the SAME per-row injectivity guards without re-tokenizing. */
  private def substringToksGuarded(src: DataFrame, idCol: String,
      rawToks: Column, L: Int, posBase: Long): DataFrame = {
    require(L >= 2, s"window must be >= 2 tokens, got $L")
    require(posBase >= 2, s"posBase must be >= 2, got $posBase")
    val maxId = Long.MaxValue / posBase
    val idLong = col(idCol).try_cast("long")
    val guardedId = when(idLong.isNull || idLong < 0 || idLong >= maxId,
      raise_error(concat(
        lit(s"exactSubstringDedup: $idCol must cast to BIGINT in [0, $maxId) " +
          s"for posBase=$posBase, got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idLong)
    val guardedToks = when(size(rawToks) > posBase,
      raise_error(concat(
        lit(s"exactSubstringDedup: document exceeds posBase=$posBase tokens " +
          "(occurrence encoding would collide) — raise posBase; id="),
        idLong.cast("string"), lit(", n_tokens="), size(rawToks).cast("string"))))
      .otherwise(rawToks)
    src.select(guardedId.as("id"), guardedToks.as("_t"))
  }

  /** Per-document window-hash STORE records for the incremental
    * substring pass (X132) — the append-only index
    * [[incrementalSubstringDedup]] dedups against: the DISTINCT md5
    * hashes of every L-token window of each doc's ORIGINAL token
    * stream (16 bytes/window, never text). Original — not
    * post-removal — windows: a span removed from one doc as a later
    * occurrence stays in the store via its first occurrence's record,
    * so a future recurrence is covered no matter which snapshot it
    * enters through. Bootstrap with one run over the initial corpus;
    * append each increment's batch records after its pass. */
  def substringStoreRecords(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(substringToks(df, idCol, textCol, L, posBase), L, posBase)
      .select(col("_gh").as("gh")).distinct()

  /** [[substringStoreRecords]] over a prepared [[tokenBase]] (r22) —
    * identical index, same injectivity guards, no re-tokenize. */
  def substringStoreRecordsFromToks(toks: DataFrame, idCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(
      substringToksGuarded(toks, idCol, col("_t"), L, posBase), L, posBase)
      .select(col("_gh").as("gh")).distinct()

  /** Per-document window-hash POSTINGS (X140) — the RETRACTION-capable
    * form of [[substringStoreRecords]]: (id, gh) rows WITH doc
    * attribution, so a right-to-be-forgotten delete can remove exactly
    * one document's contribution. The global distinct-gh index X132
    * consumes is the [[substringIndex]] view; under retraction a hash
    * survives iff ANOTHER stored doc still carries it — removal is
    * exact, never over-forgetting (a shared boilerplate window stays
    * covered) and never under-forgetting (content solely owned by the
    * deleted docs becomes admissible again). Spec-pinned:
    * retract(postings(S), R) ▷ index ≡ postings(S ∖ R) ▷ index.
    * Storage cost vs the plain index: one row per (doc, distinct
    * window) instead of one per distinct window — the price of
    * deletability; compact to [[substringStoreRecords]] only for
    * corpora that will never retract. */
  def substringStorePostings(df: DataFrame, idCol: String, textCol: String,
      L: Int, posBase: Long = 100000L): DataFrame =
    substringGramsOf(substringToks(df, idCol, textCol, L, posBase), L, posBase)
      .select(col("id"), col("_gh").as("gh")).distinct()

  /** The X132-consumable distinct-hash index view of a postings
    * store. */
  def substringIndex(postings: DataFrame): DataFrame = {
    require(postings.columns.contains("gh"),
      s"substringIndex: postings need a gh column, got ${postings.columns.mkString(", ")}")
    postings.select(col("gh")).distinct()
  }

  /** Remove `ids`' contributions from a postings store — the
    * right-to-be-forgotten pass over the substring index. The delete
    * batch is bounded by construction, so it broadcasts under the
    * budget gate (one bounded limit-probe) with a shuffle-hash-pinned
    * anti-join fallback; the store streams through once either way. */
  def retractSubstringPostings(postings: DataFrame, ids: DataFrame,
      idBroadcastBudget: Long = 1000000L): DataFrame = {
    require(Set("id", "gh").subsetOf(postings.columns.toSet),
      s"retractSubstringPostings: postings need id/gh, got ${postings.columns.mkString(", ")}")
    require(ids.columns.contains("id"),
      s"retractSubstringPostings: ids need an id column, got ${ids.columns.mkString(", ")}")
    val idOnly = ids.select(col("id")).persistTracked()
    postings.join(gate(idOnly, fitsBudget(idOnly, idBroadcastBudget)), Seq("id"), "left_anti")
  }

  /** Incremental (cross-snapshot) EXACT-SUBSTRING dedup (X132) — the
    * fourth dedup family's ingestion-time form, completing the
    * X112 (exact) / X113 (MinHash) / X116 (semantic) trilogy into a
    * quartet: a new batch dedups its duplicated L-token windows
    * against the already-ingested corpus represented ONLY by its
    * [[substringStoreRecords]] window-hash index — history is never
    * re-tokenized or re-scanned. A batch window whose hash is IN the
    * store is covered at EVERY batch occurrence (history holds an
    * earlier occurrence by construction); windows NOT in the store
    * fall back to [[exactSubstringDedup]]'s within-batch global-first
    * rule. With store ids preceding batch ids this equals the
    * full-corpus pass restricted to the batch — spec-pinned:
    * incremental(records(S), B) ≡ exactSubstringDedup(S ∪ B) ↾ B.
    *
    * Scale shape: ONE store-sized join — the batch's (id, pos, md5)
    * postings left-join the hash index on the 16-byte key, pinned
    * shuffle-hash (the store is corpus-scale and must never ride an
    * AQE broadcast guess); the within-batch dup agg and cover join
    * run on the store-MISS slice only; shuffles carry postings and
    * positions, never text; reassembly is the shared back half.
    * Returns (id, n_tokens, n_kept, kept_md5) for every batch doc —
    * the caller appends `substringStoreRecords(batch)` to the index
    * for the next increment. */
  def incrementalSubstringDedup(newBatch: DataFrame, storeGrams: DataFrame,
      idCol: String, textCol: String, L: Int,
      posBase: Long = 100000L): DataFrame =
    incrementalSubstringCore(
      substringToks(newBatch, idCol, textCol, L, posBase),
      storeGrams, L, posBase)

  /** [[incrementalSubstringDedup]] over a prepared [[tokenBase]] batch
    * (r22) — identical output, same guards, no re-tokenize. */
  def incrementalSubstringDedupFromToks(batchToks: DataFrame,
      storeGrams: DataFrame, idCol: String, L: Int,
      posBase: Long = 100000L): DataFrame =
    incrementalSubstringCore(
      substringToksGuarded(batchToks, idCol, col("_t"), L, posBase),
      storeGrams, L, posBase)

  private def incrementalSubstringCore(guardedToks: DataFrame,
      storeGrams: DataFrame, L: Int, posBase: Long): DataFrame = {
    require(storeGrams.columns.contains("gh"),
      s"incrementalSubstringDedup: store must have column gh " +
        s"(substringStoreRecords' schema), got ${storeGrams.columns.mkString(", ")}")
    val toks = guardedToks.persistTracked()
    // marked feeds three structurally different consumers (store-hit
    // slice, fresh-dup agg, fresh cover join) — persist the postings
    // (id/pos/hash only, no text rides the cache)
    val marked = substringGramsOf(toks, L, posBase)
      .join(storeGrams.select(col("gh").as("_gh"), lit(1).as("_in"))
        .hint("shuffle_hash"), Seq("_gh"), "left")
      .persistTracked()
    val coveredStore = marked.filter(col("_in") === 1)
      .select(col("id"), col("pos"))
    val freshG = marked.filter(col("_in").isNull)
    val dup = freshG.groupBy("_gh")
      .agg(count(lit(1)).as("_c"), min(col("_occ")).as("_first"))
      .filter(col("_c") >= 2)
      .select("_gh", "_first")
    val coveredBatch = freshG.hint("shuffle_hash").join(dup, Seq("_gh"))
      .filter(col("_occ") =!= col("_first"))
      .select(col("id"), col("pos"))
    val covered = coveredStore.unionByName(coveredBatch)
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (L - 1))).as("_tp"))
      .distinct()
    substringReassemble(toks, covered, L)
  }

  /** Distinct-shingle set table (id, _sh, _size) — the shared input of
    * the prefix index and verification joins. Package-private so specs
    * can pin index-size properties against the same construction. */
  private[graft] def shingleSetTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    spread(df).select(col(idCol).as("id"),
      array_distinct(shinglesAuto(df, textCol, shingleN)).as("_sh"))
      .withColumn("_size", size(col("_sh")))

  /** Posting table (id, _size, _gk): one row per distinct shingle per
    * document, shingles as fixed-width md5 keys, never text (repo
    * convention — halves the shuffle payload and keeps key comparisons
    * cheap). */
  private[graft] def postingsTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    shingleSetTable(df, idCol, textCol, shingleN)
      .select(col("id"), col("_size"), explode(col("_sh")).as("_g"))
      .select(col("id"), col("_size"), md5(col("_g")).as("_gk"))

  /** PPJoin prefix postings over a posting table: each document's
    * |S| − ⌈t·|S|⌉ + 1 rarest shingles under the global (document
    * frequency, md5 key) order — the df-rank tie-break uses the md5
    * key, so the prefix stays a pure function of the corpus. The rank
    * is computed with a per-document sort_array over collected
    * (df, key) structs — ONE hash-partitioned aggregation whose
    * partials combine map-side, instead of an Exchange+global-Sort
    * row_number window; the sorted group is a single document's
    * shingle set, bounded by document length, never by corpus size.
    *
    * The document-frequency table is attached by BROADCAST after
    * dropping df = 1 keys (absent keys coalesce to 1): under any
    * Zipfian corpus the repeated-shingle vocabulary is a small
    * fraction of all distinct shingles, so the broadcast stays
    * driver-bounded while the corpus-sized posting side never
    * shuffles for the join. That assumption is ENFORCED, not hoped:
    * the broadcast is gated on `dfBroadcastBudget` repeated-key rows
    * (bounded limit-probe over the persisted df table — boilerplate/
    * template shingles grow with document count, so a corpus CAN
    * outgrow the budget) and falls back to the semantically identical
    * shuffle-hash join above it. */
  private[graft] def prefixPostings(inv: DataFrame, threshold: Double,
      dfBroadcastBudget: Long = 4000000L): DataFrame = {
    val dfreq = inv.groupBy("_gk").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > 1)
      .persistTracked()
    val prefixLen = (col("_size") - ceil(col("_size") * threshold) + 1)
      .cast("int")
    val withDf =
      if (fitsBudget(dfreq, dfBroadcastBudget))
        inv.join(broadcast(dfreq), Seq("_gk"), "left")
      else inv.hint("shuffle_hash").join(dfreq, Seq("_gk"), "left")
    withDf
      .groupBy(col("id"), col("_size"))
      .agg(slice(sort_array(collect_list(
        struct(coalesce(col("_df"), lit(1L)).as("_df"), col("_gk")))),
        lit(1), greatest(prefixLen, lit(0))).as("_pref"))
      .select(col("id"), col("_size"),
        explode(col("_pref")).as("_p"))
      .select(col("id"), col("_size"), col("_p._gk").as("_gk"))
  }

  /** 60-bit SimHash over the lowercased token stream of `textCol`: bit
    * b of the signature is set iff Σ_tokens (2·bit_b(hash(token)) − 1)
    * > 0, the token hash being the first 15 hex chars of md5("sh:" +
    * token). One md5 pass per token in the native codegen kernel
    * ([[Native.simhash60]]). `df` is not read. */
  def simhash60Auto(df: DataFrame, textCol: String): Column =
    Native.simhash60(tokens(lower(col(textCol))))

  /** SimHash near-dup pairs with Hamming ≤ maxDist, candidates via
    * 4-way band pigeonhole (any pair within Hamming 3 shares at least
    * one intact 15-bit quarter). Verified with exact
    * `bit_count(xor)`.
    *
    * `maxDist` must be ≤ 3: the 4-band pigeonhole is lossless only
    * there, and the pre-refactor behavior above 3 SILENTLY missed
    * pairs (banding recall < 1 with no signal) — the delegated guard
    * now fails loud instead, per the repo convention. Widen the
    * banding via [[fingerprintNearDupPairs]] directly for larger
    * radii. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val sigs = spread(df).select(col(idCol).as("id"),
      simhash60Auto(df, textCol).as("sig"))
    fingerprintNearDupPairs(sigs, "id", "sig", bits = 60, bands = 4,
      maxDist = maxDist)
  }

  /** Banded Hamming near-dup pairs over ANY integer fingerprint column
    * (X144) — the SimHash arrangement factored out so every
    * fingerprint the engine emits (the 60-bit text simhash above, the
    * X123/X124 12-bit image/audio block-mean hashes) shares ONE
    * lossless banding pipeline: the hash splits into `bands`
    * contiguous bit-slices; a pair is a candidate iff SOME band agrees
    * exactly — pigeonhole-lossless for hamming ≤ maxDist whenever
    * bands > maxDist (enforced) — and candidates verify by exact
    * `bit_count(xor)`.
    *
    * HOT-BUCKET GUARD (the 100 TB shape): identical sigs are COLLAPSED
    * before banding. Perceptual hashes are low-entropy by design —
    * millions of blank/monochrome/boilerplate media objects share one
    * sig exactly, and banding raw doc rows would put all of them (×
    * bands) into the same buckets: a quadratic candidate explosion in
    * one shuffle partition. Instead the band buckets hold
    * DISTINCT sigs only, so a band bucket holds at most
    * min(#distinct sigs, 2^(bits − bits/bands)) rows no matter how
    * skewed the corpus — multiplicity cannot inflate a bucket.
    * Verified sig-level pairs then re-expand to member pairs by two
    * sig-keyed joins (cross-sig pairs) plus the sig groups' own
    * bucket mates (within-sig pairs, Hamming 0 by definition) —
    * LOSSLESS: the output pair set is bit-identical to the uncollapsed form
    * (spec-pinned on a heavy-multiplicity corpus), and any remaining
    * skew is proportional to the caller-requested OUTPUT, never to
    * spurious candidates. Shuffles carry (band, bucket, sig) /
    * (sig, id) only. Gate coverage: q_simhash_pairs runs through this
    * core; the perceptual-hash application is spec-pinned on crafted
    * fingerprints (12-bit hashes over a synthetic corpus collide too
    * densely for a statistically meaningful corpus gate row —
    * documented, not hidden). */
  def fingerprintNearDupPairs(hashes: DataFrame, idCol: String,
      hashCol: String, bits: Int, bands: Int, maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole losslessness needs bands > maxDist, got bands=$bands maxDist=$maxDist")
    val w = bits / bands
    val mask = (1L << w) - 1
    // docs feed the distinct-sig collapse plus three expansion scans —
    // persist once (registry-released), PRE-PARTITIONED on sig: the
    // cached partitioning satisfies every downstream sig-keyed
    // consumer (distinct's partial agg, the within-sig bucket
    // aggregation, the member-expansion probe sides), so the collapse
    // costs ONE up-front exchange instead of one per consumer
    val docs = hashes.select(col(idCol).as("id"), col(hashCol).as("sig"))
      .repartition(col("sig"))
      .persistTracked()
    val sigs = docs.select(col("sig")).distinct()
    val banded = sigs
      .select(col("sig"),
        posexplode(array((0 until bands).map(q =>
          shiftrightunsigned(col("sig"), q * w).bitwiseAND(lit(mask))): _*)))
      .select(col("sig"), col("pos").as("band"), col("col").as("bucket"))
    // sig-level candidates: bucket population is entropy-bounded (see
    // doc above); canonical _sigA < _sigB halves the pair space and
    // distinct() collapses multi-band rediscoveries of one sig pair
    val repPairs = Candidates.bucketMates(banded, Seq("band", "bucket"), col("sig"))
      .select(col("id1").as("_sigA"), col("id2").as("_sigB"),
        call_function("bit_count", col("id1").bitwiseXOR(col("id2")))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    // re-expand: cross-sig member pairs (every member of A × every
    // member of B is at the same verified distance)...
    val mA = docs.select(col("sig").as("_sigA"), col("id").as("_idA"))
    val mB = docs.select(col("sig").as("_sigB"), col("id").as("_idB"))
    val cross = repPairs.hint("shuffle_hash").join(mA, Seq("_sigA"))
      .hint("shuffle_hash").join(mB, Seq("_sigB"))
      .select(least(col("_idA"), col("_idB")).as("id1"),
        greatest(col("_idA"), col("_idB")).as("id2"), col("hamming"))
    // ...plus within-sig pairs — identical fingerprints, Hamming 0,
    // no banding or verification needed
    val within = Candidates.bucketMates(docs, Seq("sig"), col("id"))
      .select(col("id1"), col("id2"), lit(0).cast("int").as("hamming"))
    cross.unionByName(within)
  }

  /** Incremental (cross-snapshot) FINGERPRINT near-dup (X167) — the
    * [[incrementalNearDup]] store contract for the MULTIMODAL
    * fingerprint family: a new batch of integer fingerprints (the
    * X154 56-bit image grid phash, the X124 audio block hash, or any
    * [[fingerprintNearDupPairs]]-compatible hash) dedups against the
    * already-ingested corpus represented ONLY by its `(id, sig)` hash
    * store — history is never re-decoded (the store is 8 bytes +
    * id per media object; payloads stay in cold storage).
    *
    * Banding runs batch-vs-store instead of self-join: band keys are
    * bit-slices of the STORED hashes, derived per increment (the X113
    * rule — cheap slices are recomputed, expensive evidence is
    * stored; here the hash IS the full verification evidence, so the
    * store carries nothing else). Candidate shuffles carry
    * (band, bucket, sig) — short keys + one BIGINT, never all-pairs
    * and never a payload byte. Verification is EXACT
    * `bit_count(xor) ≤ maxDist` inline on the candidate rows — no
    * second fetch join (the win over the text form, whose store must
    * carry shingle sets).
    *
    * HOT-BUCKET GUARD (shared with [[fingerprintNearDupPairs]] — see
    * there): BOTH sides band DISTINCT sigs only. Blank/monochrome
    * media collapse to one banded row per distinct fingerprint, so a
    * band bucket is bounded by min(#distinct sigs, 2^(bits −
    * bits/bands)) regardless of corpus skew, and candidate volume is
    * O(distinct_batch·bands + distinct_store·bands). The collapse is
    * LOSSLESS for the survivor semantics below: members of one sig
    * group are mutual exact dups (Hamming 0), so only the group's
    * lowest id can ever survive, and it survives iff its sig survives
    * at group level — spec-pinned collapsed ≡ uncollapsed on a
    * heavy-multiplicity batch.
    *
    * Within-batch near-dups resolve by the same deterministic
    * PAIRWISE lowest-id rule as [[incrementalNearDup]]: a batch doc
    * drops iff it verifies against any store doc or any SMALLER-id
    * batch doc (pairwise, not transitive closure). At sig level that
    * is exactly: group G's min id drops iff some store sig is within
    * maxDist of sig_G, or some batch group H within maxDist has
    * min(H) < min(G); every non-min member drops against its own
    * group min (distance 0). Empty store ≡ the batch-only pass
    * (spec-pinned): survivors are exactly the batch minus
    * [[fingerprintNearDupPairs]]' id2 side.
    *
    * Returns surviving `(id, sig)` rows — the store-append record:
    * the caller's next increment is `store.unionByName(survivors)`. */
  def incrementalFingerprintNearDup(newHashes: DataFrame, store: DataFrame,
      idCol: String, hashCol: String, bits: Int, bands: Int,
      maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole losslessness needs bands > maxDist, got bands=$bands maxDist=$maxDist")
    require(Set("id", "sig").subsetOf(store.columns.toSet),
      s"incrementalFingerprintNearDup: store must have columns id/sig, " +
        s"got ${store.columns.mkString(", ")}")
    val w = bits / bands
    val mask = (1L << w) - 1
    def bandRows(df: DataFrame, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+
          posexplode(array((0 until bands).map(q =>
            shiftrightunsigned(col("sig"), q * w).bitwiseAND(lit(mask))): _*)): _*)
        .select(keep.map(col) :+ col("pos").as("band") :+
          col("col").as("bucket"): _*)
    // collapse the batch to one (sig, min id) row per distinct sig —
    // feeds banding twice + the survivor anti-join; persist once
    // (registry-released)
    val bGroups = newHashes
      .select(col(idCol).cast("long").as("id"), col(hashCol).as("sig"))
      .groupBy(col("sig")).agg(min(col("id")).as("_minId"))
      .persistTracked()
    val bBands = bandRows(
      bGroups.select(col("sig"), col("_minId")), Seq("sig", "_minId"))
    val sBands = bandRows(store.select(col("sig")).distinct(), Seq("sig"))
      .select(col("sig").as("_ssig"), col("band"), col("bucket"))
    def ham(a: Column, b: Column): Column =
      call_function("bit_count", a.bitwiseXOR(b)).cast("int")
    // batch-vs-store at sig level: build side = the (smaller) batch,
    // probe side = the store — pinned shuffle-hash, never a broadcast
    // assumption on a corpus-sized index. The sig rides the band rows,
    // so verify is inline — candidates never re-join either input.
    val dropVsStore = bBands.hint("shuffle_hash")
      .join(sBands, Seq("band", "bucket"))
      .filter(ham(col("sig"), col("_ssig")) <= maxDist)
      .select(col("sig").as("_dsig"))
    // within-batch at group level: G's min drops iff some group H
    // within maxDist has a strictly smaller min (the pairwise
    // lowest-id rule, collapsed)
    val dropInBatch = Candidates.bucketMates(bBands, Seq("band", "bucket"),
        struct(col("_minId"), col("sig")))
      .filter(col("id1._minId") < col("id2._minId"))
      .filter(ham(col("id1.sig"), col("id2.sig")) <= maxDist)
      .select(col("id2.sig").as("_dsig"))
    val dropped = dropVsStore.unionByName(dropInBatch).distinct()
    bGroups.join(dropped.hint("shuffle_hash"),
        bGroups("sig") === dropped("_dsig"), "left_anti")
      .select(col("_minId").as("id"), col("sig"))
  }

  /** FINGERPRINT store retraction (X171) — the forget half of the
    * X167/X169 multimodal ingest lifecycle (the X140-substring /
    * X149-label / X161-manifest convention, hash-store flavored):
    * remove retracted media ids from the `(id, sig)` store so future
    * batches stop deduping against them — a re-arrival of retracted
    * content is READMITTED, which is exactly what a takedown /
    * opt-out requires (spec-pinned). One id-keyed equi-join (pinned
    * shuffle-hash — no broadcast assumption on either side); the
    * store is never re-decoded, the history partitions are
    * REPLACED by the caller persisting the returned frame (the X155
    * compaction path, which this output feeds directly).
    *
    * Fail-loud: retracting an id the store never held is an upstream
    * bookkeeping bug (the retract list drifted from the ingest
    * record) — the guard rides the row FILTER (the [[
    * graft.operators.ScaleOps.retractManifest]] convention), so it
    * fires for every joined row no matter which output columns a
    * consumer later prunes: a `.select("id")` or a bare `.count()`
    * still trips the orphan check, and no phantom NULL-id row can
    * ever reach the output. */
  def retractFingerprints(store: DataFrame, ids: DataFrame,
      idCol: String = "id"): DataFrame = {
    require(Set("id", "sig").subsetOf(store.columns.toSet),
      s"retractFingerprints: store must have columns id/sig, got " +
        store.columns.mkString(", "))
    require(ids.columns.contains(idCol),
      s"retractFingerprints: retract list has no '$idCol' column " +
        s"(got ${ids.columns.mkString(", ")})")
    val r = ids.select(col(idCol).cast("long").as("_rid")).distinct()
    val s = store.select(col("id").as("_sid"), col("sig").as("_ssig"))
    val joined = s.join(r.hint("shuffle_hash"),
      col("_sid") === col("_rid"), "full_outer")
    // survivors = store rows the retract list never matched; orphan
    // retract ids (no store row) raise INSIDE the filter so the guard
    // is unprunable regardless of downstream column selection
    val keep = when(col("_sid").isNull,
      raise_error(concat(
        lit("retractFingerprints: id "), col("_rid").cast("string"),
        lit(" is not in the store — retracting never-stored content " +
          "means the retract list drifted from the ingest record")))
        .cast("boolean"))
      .otherwise(col("_rid").isNull)
    joined
      .filter(keep)
      .select(col("_sid").as("id"), col("_ssig").as("sig"))
  }

  /** Connected components over an undirected pair list — the cluster-
    * resolution step that turns near-dup PAIRS (MinHash/SimHash output)
    * into dedup CLUSTERS, so a pipeline can keep one canonical document
    * per cluster instead of dropping both ends of every pair.
    *
    * Algorithm: iterative min-label propagation to fixpoint — every
    * vertex starts labeled with its own id and repeatedly takes the
    * minimum label in its closed neighborhood. Converges in
    * O(component diameter) rounds; near-dup cluster graphs are
    * union-of-cliques-ish (diameter 2-3), so 3-4 rounds in practice.
    * Each round is one equi-join shuffle + one partial-agg min shuffle,
    * both keyed by vertex id — no all-pairs step anywhere.
    *
    * Scale notes: labels only ever decrease, so Σlabels is a strictly
    * decreasing convergence witness — one cheap agg action per round
    * instead of a change-count join. Every `rounds between lineage
    * truncations` iterations the label frame is locally checkpointed:
    * plan depth (and therefore task-serialization cost) stays bounded
    * no matter how many rounds a pathological chain graph needs.
    *
    * Returns (id, cluster_id) with cluster_id = min vertex id in the
    * component.
    *
    * Like `Ranks`' gated driver-local series: a pair list at or below
    * `localThreshold` RAW input rows (counted BEFORE the symmetric
    * union/distinct — the gate is one bounded limit-collect, so it
    * must not pay those exchanges; a duplicate-heavy pair list above
    * the threshold therefore takes the distributed path even when its
    * distinct edge set is tiny, which only costs speed, never
    * correctness) is collected and union-found on the driver in one
    * job instead of ~2 jobs per propagation round; the distributed
    * path is the default above the gate and DedupSpec pins
    * local ≡ distributed. */
  def connectedComponents(pairs: DataFrame, id1: String, id2: String,
      maxIters: Int = 50,
      localThreshold: Long = LocalGate.Threshold): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE bounded action decides the gate: collect at most threshold+1
    // RAW pairs (limit stops early at scale — no full count pass
    // first). Union-find is direction- and duplicate-agnostic, so the
    // local path needs neither the symmetric union nor the distinct —
    // those exchanges are built only if the distributed path runs.
    LocalGate.collectAtMost(
      pairs.select(col(id1).cast("long"), col(id2).cast("long")), localThreshold) match {
      case Some(rows) =>
        val local = componentsLocal(rows.map(r => (r.getLong(0), r.getLong(1))))
        val spark = pairs.sparkSession
        import spark.implicits._
        return local.toSeq.toDF("id", "cluster_id")
      case None =>
    }
    val edges = pairs.select(col(id1).cast("long").as("a"), col(id2).cast("long").as("b"))
      .union(pairs.select(col(id2).cast("long").as("a"), col(id1).cast("long").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-round persists stay UNtracked (category-1 eager release —
    // the loop frees each superseded frame itself); only the final
    // surviving frame registers below
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("cluster_id")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var it = 0
    var done = prevSum == 0L // empty pair list: nothing to propagate
    while (!done && it < maxIters) {
      val nbr = edges
        .join(labels.select(col("id").as("b"), col("cluster_id").as("_nl")), Seq("b"))
        .select(col("a").as("id"), col("_nl").as("cluster_id"))
      var next = labels.select("id", "cluster_id").union(nbr)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
      // truncate lineage every few rounds: the iterated plan otherwise
      // grows linearly and task serialization dominates on long chains
      next =
        if (it % 5 == 4) next.localCheckpoint(eager = false)
        else next
      next = next.persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next) // materializes `next`
      labels.unpersist()
      labels = next
      done = s == prevSum
      prevSum = s
      it += 1
    }
    edges.unpersist()
    // the ESCAPING frame: materialized above, referenced by the caller's
    // plan — register (already persisted) for Caches.release
    graft.core.Caches.track(labels)
  }

  /** Driver-side union-find with path halving; components relabeled to
    * their minimum member id — exactly the distributed fixpoint. */
  private def componentsLocal(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOf = scala.collection.mutable.Map[Long, Long]()
    parent.keys.foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, v), v)
    }
    parent.keys.toArray.sorted.map(v => (v, minOf(find(v))))
  }

  /** SOFT dedup — down-WEIGHT near-duplicate clusters instead of
    * dropping them (the SoftDeDup observation, He et al. 2024,
    * arXiv:2407.06654: hard removal throws away the signal that a
    * document was worth duplicating; reweighting keeps every document
    * while restoring the effective token distribution). Each document
    * gets its MinHash-CC cluster and the sampling weight
    * weight_bp = ⌊10⁴ / cluster_size⌋ — a cluster of N near-copies
    * contributes ONE expected doc-equivalent, a singleton keeps weight
    * 10000 exactly. Two downstream uses, both emitted: `weight_bp` is
    * the per-example loss/sampling weight a trainer consumes directly;
    * `keep` is the materialized deterministic sample at that rate
    * (salted-md5 bucket < weight_bp — the [[ScaleOps.stratifiedSample]]
    * convention, salt "soft:" so membership is independent of the
    * split/mix/shard salts). Unlike [[canonicalByScore]] there is no
    * canonical pick: survivors are a uniform pseudo-random slice of
    * each cluster, so no single crawl variant dominates.
    *
    * Scale shape: the pair mining is [[minhashNearDupPairs]]' banded
    * index (never all-pairs), labels come from [[connectedComponents]]
    * (affected-component bounded), and the new work is ONE
    * cluster-keyed partial-agg count over the LABELS table (pair-
    * involved docs only — the clustered slice, not the corpus) plus
    * two id/cluster-keyed joins back onto the corpus spine; the weight
    * and keep columns are pure map-side integer arithmetic. Unclustered
    * docs never enter any shuffle beyond the spine's left join. */
  def softDedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 3): DataFrame =
    softDedupTail(docs.select(col(idCol)), idCol,
      minhashNearDupPairs(docs, idCol, textCol, threshold,
        shingleN, bands, rowsPerBand))

  /** [[softDedup]] over a prepared [[tokenBase]] (r22) — identical
    * table; the pair mining consumes the shared token table's shingles
    * instead of re-tokenizing the corpus. */
  def softDedupFromToks(toks: DataFrame, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    require(toks.columns.contains("_t"),
      s"softDedupFromToks: input must carry the tokenBase _t column, " +
        s"got ${toks.columns.mkString(", ")}")
    softDedupTail(toks.select(col(idCol)), idCol,
      minhashNearDupPairsFromBase(
        graft.core.Caches.persistTracked(
          toks.select(col(idCol).as("id"),
            array_distinct(Native.shingles(col("_t"), shingleN))
              .as("_sh"))),
        threshold, bands, rowsPerBand))
  }

  /** [[softDedup]] over an ALREADY-mined verified pair list (r22) —
    * identical table: callers that also need the raw pairs (the
    * retraction/increment gates) mine them once and feed both
    * consumers, instead of running the full banded pipeline twice. */
  def softDedupFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    softDedupTail(docs.select(col(idCol)), idCol, pairs)

  private def softDedupTail(spine: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs, "id1", "id2")
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("_csize"))
    // Rename the label side before joining: connectedComponents emits
    // literally (id, cluster_id), so a caller whose idCol is "id" (or
    // "cluster_id") would otherwise hit an ambiguous-column
    // AnalysisException on the join condition.
    val lbl = labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("_lid"), col("cluster_id").as("_lcid"),
        col("_csize"))
    weigh(spine.join(lbl, col(idCol) === col("_lid"), "left")
      .select(col(idCol),
        coalesce(col("_lcid"), col(idCol).cast("long")).as("cluster_id"),
        coalesce(col("_csize"), lit(1L)).as("cluster_size")), col(idCol))
  }

  /** The soft-dedup weight columns of rows carrying `cluster_size`:
    * `weight_bp` = ⌊10⁴ / cluster_size⌋ and `keep` = the salted-md5
    * bucket of `id` below `weight_bp`. */
  private def weigh(df: DataFrame, id: Column): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit("soft:"), id.cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    df.withColumn("weight_bp", expr("10000L div cluster_size"))
      .withColumn("keep", bucket < col("weight_bp"))
  }

  // ---- cluster-store maintenance -------------------------------------
  // The label store (connectedComponents), the weight store (softDedup)
  // and the pick store (canonicalByScore) are each a per-cluster function
  // of the labels. Their six maintenance operators share one change:
  // [[foldPairs]] (an increment) or [[forget]] (a retraction) yields a
  // [[ClusterDelta]], and [[applyDelta]] drops the retired clusters'
  // rows and derives the changed clusters' rows anew.

  /** Broadcast row budget of the family: a set probed at or below it
    * joins by broadcast, a larger one by shuffle-hash. A set provably
    * bounded by probed sets reuses their verdicts instead of paying
    * another probe job, so a broadcast side can reach twice the budget
    * (about 32 MB of longs). Specs reach the shuffle-hash side through
    * the `private[graft]` forms that take a budget. */
  private[graft] val DeltaBudget = 1000000L

  /** A change to the near-dup clusters: `retired` holds the old
    * cluster ids (`_old`) whose rows leave a store, `rows` one `(id,
    * cluster_id)` row for every member of every changed cluster, with
    * `cluster_id` null for a member left in no pair. `retiredFits` is
    * the broadcast verdict of `retired`, `clustersFit` that of the
    * clusters in `rows`. */
  private case class ClusterDelta(retired: DataFrame, rows: DataFrame,
      retiredFits: Boolean, clustersFit: Boolean)

  private def requireColumns(op: String, name: String, df: DataFrame,
      cols: String*): Unit =
    require(cols.toSet.subsetOf(df.columns.toSet),
      s"$op: $name must carry (${cols.mkString(", ")}), got ${df.columns.mkString(", ")}")

  private def labelsOf(df: DataFrame): DataFrame =
    df.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"))

  private def pairsOf(df: DataFrame, id1: String, id2: String): DataFrame =
    df.select(col(id1).cast("long").as("_a"), col(id2).cast("long").as("_b"))

  private val WeightCols = Seq("id", "cluster_id", "cluster_size", "weight_bp", "keep")

  private def weightsOf(df: DataFrame): DataFrame =
    df.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("cluster_id"),
      col("cluster_size").cast("long").as("cluster_size"),
      col("weight_bp").cast("long").as("weight_bp"), col("keep"))

  private val PickCols = Seq("cluster_id", "canonical_id", "score")

  private def picksOf(df: DataFrame): DataFrame =
    df.select(PickCols.map(c => col(c).cast("long").as(c)): _*)

  /** The distinct non-null retract ids, persisted, and their verdict:
    * the one probe of the retract set. */
  private def retractSet(op: String, retractIds: DataFrame,
      budget: Long): (DataFrame, Boolean) = {
    require(retractIds.columns.contains("id"),
      s"$op: retractIds need an id column, got ${retractIds.columns.mkString(", ")}")
    val rids = retractIds.select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull).distinct().persistTracked()
    (rids, fitsBudget(rids, budget))
  }

  /** The delta of folding `newPairs` (`_a`, `_b`) into `stored` (`id`,
    * `cluster_id`, each label its cluster's minimum id) by graph
    * contraction: every endpoint maps to its stored label (itself when
    * not stored), the pairs become edges over those nodes, and
    * [[connectedComponents]] runs on that graph only, whose size is
    * bounded by the batch. Every stored label is already its cluster's
    * minimum, so the contracted minimum is the global one and the
    * result equals components over (stored pairs ∪ new pairs). A stored
    * cluster changes only if a contracted edge touches its label, so
    * `retired` is the contracted graph's nodes (the batch-new ones
    * among them label no stored row). New ids are the non-stored
    * endpoints, or `batch` (persisted, with its verdict) when given; a
    * non-stored endpoint outside `batch` raises, as its cluster would
    * be under-counted. One probe: the endpoint set. Batch-new ids must
    * not collide with stored ids (the snapshot-disjoint id contract). */
  private def foldPairs(stored: DataFrame, newPairs: DataFrame,
      batch: Option[(DataFrame, Boolean)], budget: Long): ClusterDelta = {
    val pairs = newPairs
      .filter(col("_a").isNotNull && col("_b").isNotNull && col("_a") =!= col("_b"))
      .persistTracked() // endpoint set and both contracted-edge maps
    // persisted: the probe and both sides of the endpoint lookup read it
    val ends = pairs.select(explode(array(col("_a"), col("_b"))).as("id")).distinct()
      .persistTracked()
    val endsFits = fitsBudget(ends, budget)
    // the endpoint set broadcasts into the store scan (map-side: the
    // store never shuffles); null label = a new endpoint
    val endLabels = ends.join(stored.join(gate(ends, endsFits), Seq("id"))
        .select(col("id"), col("cluster_id")), Seq("id"), "left")
      .select(col("id"), col("cluster_id").as("_lbl"))
      .persistTracked()
    val contracted = pairs
      .join(endLabels.select(col("id").as("_a"), col("_lbl").as("_la")), Seq("_a"))
      .join(endLabels.select(col("id").as("_b"), col("_lbl").as("_lb")), Seq("_b"))
      .select(coalesce(col("_la"), col("_a")).as("ra"),
        coalesce(col("_lb"), col("_b")).as("rb"))
      .filter(col("ra") =!= col("rb"))
    // old → new label of every contracted node; |cc| ≤ |ends| (each
    // node is an endpoint or its label). connectedComponents returns
    // driver rows or a persisted frame, so every join below reads it
    // without recomputing it
    val mapping = connectedComponents(contracted, "ra", "rb")
      .select(col("id").as("_old"), col("cluster_id").as("_new"))
    val moved = stored.join(gate(mapping, endsFits), col("cluster_id") === col("_old"))
      .select(col("id"), col("_new").as("cluster_id"))
    val fresh = endLabels.filter(col("_lbl").isNull).select(col("id"))
    val arrived = batch.fold(fresh)(_._1)
      .join(gate(mapping, endsFits), col("id") === col("_old"), "left")
      .select(col("id"), col("_new").as("cluster_id"))
    val orphans = batch.map { case (ids, _) =>
      fresh.join(ids, Seq("id"), "left_anti")
        .select(col("id"), raise_error(concat(lit("incrementalSoftDedup: new-pair endpoint "),
          col("id").cast("string"), lit(" is neither stored nor in the batch")))
          .cast("long").as("cluster_id"))
    }
    // a changed cluster is a contracted one or a batch-new one
    ClusterDelta(mapping, (Seq(moved, arrived) ++ orphans).reduce(_ unionByName _),
      endsFits, endsFits && batch.forall(_._2))
  }

  /** The delta of retracting `rids` (persisted, with its verdict) from
    * `stored` (`id`, `cluster_id`, ...) over `storedPairs` (`_a`, `_b`),
    * the pairs `stored` was computed from. Components are disjoint and
    * removing nodes never merges them, so only the retracted ids'
    * clusters change (`retired`), and [[connectedComponents]] reruns on
    * their surviving members' surviving pairs only; a survivor left in
    * no pair gets a null cluster. Rows where `unpaired` holds may sit in
    * no pair (the weight store's singletons). Fails loud when `stored`
    * is not components over `storedPairs`. One probe: the member set. */
  private def forget(stored: DataFrame, storedPairs: DataFrame,
      rids: DataFrame, ridsFits: Boolean, unpaired: Column,
      budget: Long): ClusterDelta = {
    // |retired| ≤ |rids|: one label per retract id (repeats are
    // harmless, `retired` is only semi- and anti-joined)
    val retired = stored.join(gate(rids, ridsFits), Seq("id"))
      .select(col("cluster_id").as("_old")).persistTracked()
    val members = stored
      .join(gate(retired, ridsFits), col("cluster_id") === col("_old"), "left_semi")
      .select(col("id")).join(gate(rids, ridsFits), Seq("id"), "left_anti")
      .persistTracked()
    val membersFits = fitsBudget(members, budget)
    // persisted: the two probes below and the surviving-pair filter
    // share the pair projection
    val pairs = storedPairs.persistTracked()
    // maintenance-invariant probes (at most 6 witnesses come back; the
    // limit-collect runs partitions incrementally). Exactness rests on
    // stored == connectedComponents(storedPairs): a pair with an
    // unlabeled endpoint or endpoints in different clusters witnesses
    // drift (pairs appended without refreshing labels), and so does a
    // label row whose id sits in no pair (pairs dropped without
    // refreshing labels), which would otherwise pass through verbatim.
    val lblA = stored.select(col("id").as("_a"), col("cluster_id").as("_pla"))
    val lblB = stored.select(col("id").as("_b"), col("cluster_id").as("_plb"))
    val drift = pairs
      .join(lblA.hint("shuffle_hash"), Seq("_a"), "left")
      .join(lblB.hint("shuffle_hash"), Seq("_b"), "left")
      .filter(col("_pla").isNull || col("_plb").isNull ||
        col("_pla") =!= col("_plb"))
      .select(col("_a"), col("_b"))
      .limit(6).collect()
    def refresh(what: String): String =
      "storedLabels is not connectedComponents(storedPairs) — " + what +
        " — refresh the label store (incrementalConnectedComponents) before retracting"
    require(drift.isEmpty, refresh("drifted pairs (endpoints unlabeled " +
      "or in different clusters): " +
      drift.take(5).map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ")))
    val endpoints = pairs.select(col("_a").as("id"))
      .unionByName(pairs.select(col("_b").as("id")))
    val orphans = stored.filter(!unpaired).select(col("id"))
      .join(endpoints.hint("shuffle_hash"), Seq("id"), "left_anti")
      .limit(6).collect()
    require(orphans.isEmpty, refresh("orphan labels whose ids appear in " +
      "no stored pair: " + orphans.take(5).map(_.get(0)).mkString(", ")))
    // both endpoints of a stored pair share a component, so a member
    // `_a` and a kept `_b` select exactly the surviving affected pairs
    val cc = connectedComponents(
      pairs.join(gate(members.select(col("id").as("_a")), membersFits), Seq("_a"))
        .join(gate(rids.select(col("id").as("_b")), ridsFits), Seq("_b"), "left_anti"),
      "_a", "_b")
    // every post-retraction fragment lies inside a retired cluster. The
    // pair-less survivors come as a separate branch: a store that drops
    // null clusters prunes it from the plan
    val isolated = members.join(gate(cc.select(col("id")), membersFits), Seq("id"), "left_anti")
      .select(col("id"), lit(null).cast("long").as("cluster_id"))
    ClusterDelta(retired, cc.select(col("id"), col("cluster_id")).unionByName(isolated),
      ridsFits, membersFits && ridsFits)
  }

  /** `store` without the retired clusters' rows, plus `derive` of the
    * changed clusters' rows. */
  private def applyDelta(store: DataFrame, delta: ClusterDelta,
      derive: DataFrame => DataFrame): DataFrame =
    store.join(gate(delta.retired, delta.retiredFits),
        col("cluster_id") === col("_old"), "left_anti")
      .unionByName(derive(delta.rows))

  /** Label rows: the members left in some pair. */
  private def labelRows(rows: DataFrame): DataFrame =
    rows.filter(col("cluster_id").isNotNull)

  /** Weight rows: a member in no pair is its own cluster; sizes count
    * over `rows`, which hold every member of their clusters. `fits` is
    * the verdict of those clusters. */
  private def weightRows(fits: Boolean)(rows: DataFrame): DataFrame = {
    val rewrite = rows.select(col("id"),
      coalesce(col("cluster_id"), col("id")).as("cluster_id")).persistTracked()
    val sizes = rewrite.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    weigh(rewrite.join(gate(sizes, fits), Seq("cluster_id")), col("id"))
  }

  /** Pick rows: [[canonicalByScore]]'s canonical member per cluster. */
  private def pickRows(scores: DataFrame, idCol: String, scoreCol: String)(
      rows: DataFrame): DataFrame =
    canonicalByScore(labelRows(rows), scores, idCol, scoreCol)
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))

  /** Incremental (cross-snapshot) cluster maintenance (X133): folds a
    * batch's verified duplicate pairs into the STORED labels (a
    * previous [[connectedComponents]] output, cluster_id = min member
    * id) without re-running components over history; the result equals
    * [[connectedComponents]] over (stored pairs ∪ new pairs) exactly
    * (spec-pinned, including cross-cluster merges and a new id becoming
    * the new minimum).
    *
    * Scale shape: zero corpus-sized shuffles. The endpoint set (one
    * budget probe, [[DeltaBudget]]) broadcasts into one map-side store
    * scan for the endpoint labels; components run on the contracted
    * batch graph only; the relabel and the untouched pass-through scan
    * the store against the broadcast old→new label set of that graph,
    * bounded by the endpoints. Above the budget those sides join by
    * shuffle-hash. The id space is shared across snapshots and batch-new
    * ids must not collide with stored ids.
    *
    * Returns the complete updated label table (every stored id + every
    * id in `newPairs`) — what the caller persists for the next
    * increment. */
  def incrementalConnectedComponents(storedLabels: DataFrame,
      newPairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame =
    incrementalConnectedComponents(storedLabels, newPairs, id1, id2, DeltaBudget)

  /** [[incrementalConnectedComponents]] at broadcast budget `budget`. */
  private[graft] def incrementalConnectedComponents(storedLabels: DataFrame,
      newPairs: DataFrame, id1: String, id2: String, budget: Long): DataFrame = {
    requireColumns("incrementalConnectedComponents", "storedLabels",
      storedLabels, "id", "cluster_id")
    val stored = labelsOf(storedLabels)
    applyDelta(stored, foldPairs(stored, pairsOf(newPairs, id1, id2), None, budget),
      labelRows)
  }

  /** Incremental SOFT-dedup weight maintenance (X216) — the ingestion
    * form of [[softDedup]]: the (id, cluster_id, cluster_size,
    * weight_bp, keep) table is what a down-weighting trainer reads, and
    * unlike the canonical-pick store a cluster merge invalidates EVERY
    * member's row (the weight is 1/size). A batch of new docs
    * (`batchIds`) and their verified near-dup pairs fold in through
    * [[incrementalConnectedComponents]]' contraction: the rows of the
    * merged old clusters and of the batch re-weigh, with sizes
    * counted over exactly that set (every member of a changed cluster is
    * in it); every other row passes through verbatim. Result equals
    * [[softDedup]]'s table over the union corpus under (stored pairs ∪
    * new pairs) — the oracle is the full recompute.
    *
    * Scale shape: one store scan (persisted) feeds the endpoint lookup,
    * the changed members and the pass-through, each map-side against a
    * broadcast batch-bounded set; two budget probes ([[DeltaBudget]]):
    * the batch and the endpoints. The re-weigh joins the per-cluster
    * sizes, at most |endpoints| + |batch| rows, so that broadcast can
    * reach twice the budget. A batch id already stored raises (the
    * raise rides the cluster_id column every consumer reads); batch ids
    * must cover every new-pair endpoint that is not stored. */
  def incrementalSoftDedup(storedWeights: DataFrame, newPairs: DataFrame,
      batchIds: DataFrame, idCol: String = "id"): DataFrame =
    incrementalSoftDedup(storedWeights, newPairs, batchIds, idCol, DeltaBudget)

  /** [[incrementalSoftDedup]] at broadcast budget `budget`. */
  private[graft] def incrementalSoftDedup(storedWeights: DataFrame,
      newPairs: DataFrame, batchIds: DataFrame, idCol: String,
      budget: Long): DataFrame = {
    requireColumns("incrementalSoftDedup", "storedWeights", storedWeights,
      WeightCols: _*)
    val batch = batchIds.select(col(idCol).cast("long").as("id")).distinct()
      .persistTracked() // dup guard, new-id rows, orphan check
    val batchFits = fitsBudget(batch, budget)
    val st = weightsOf(storedWeights)
      .join(gate(batch.withColumn("_dup", lit(1)), batchFits), Seq("id"), "left")
      .withColumn("cluster_id",
        when(col("_dup") === 1, raise_error(concat(
          lit("incrementalSoftDedup: batch id "), col("id").cast("string"),
          lit(" already stored — re-arrival violates the snapshot-disjoint id contract"))))
          .otherwise(col("cluster_id")))
      .drop("_dup")
      .persistTracked()
    val delta = foldPairs(st.select(col("id"), col("cluster_id")),
      pairsOf(newPairs, "id1", "id2"), Some((batch, batchFits)), budget)
    applyDelta(st, delta, weightRows(delta.clustersFit))
  }

  /** SOFT-DEDUP WEIGHT retraction (X218) — right-to-be-forgotten for
    * the weight store. Rows cannot simply be deleted: a retracted member
    * shrinks its cluster, so every surviving sibling's weight moves UP,
    * and a retracted bridge can SPLIT a component into fragments that
    * re-weigh independently (or become full-weight singletons). The
    * retracted ids' clusters rerun [[retractClusterLabels]]' affected-
    * component components over the kept pair store and their survivors
    * re-weigh; untouched rows pass through verbatim; a retracted
    * singleton's row simply disappears. Unknown retract ids raise (the
    * raise rides the cluster_id column through the re-weigh — a silent
    * no-op forget is the failure a forget API must not have). Result ≡
    * the batch operator over surviving docs under surviving pairs.
    *
    * Scale shape: [[retractClusterLabels]]' — two budget probes
    * ([[DeltaBudget]]): the retract ids and the retracted clusters'
    * survivors; the store (persisted) streams map-side against
    * broadcast bounded sets. The re-weigh joins the per-cluster sizes,
    * at most |survivors| + |retract ids| rows, so that broadcast can
    * reach twice the budget. */
  def retractSoftDedup(storedWeights: DataFrame, storedPairs: DataFrame,
      retractIds: DataFrame): DataFrame =
    retractSoftDedup(storedWeights, storedPairs, retractIds, DeltaBudget)

  /** [[retractSoftDedup]] at broadcast budget `budget`. */
  private[graft] def retractSoftDedup(storedWeights: DataFrame,
      storedPairs: DataFrame, retractIds: DataFrame, budget: Long): DataFrame = {
    requireColumns("retractSoftDedup", "storedWeights", storedWeights,
      WeightCols: _*)
    val stored = weightsOf(storedWeights).persistTracked()
    val (rids, ridsFits) = retractSet("retractSoftDedup", retractIds, budget)
    val found = stored.join(gate(rids, ridsFits), Seq("id")).select(col("id"))
    val unknown = rids.join(gate(found, ridsFits), Seq("id"), "left_anti")
      .select(col("id"), raise_error(concat(
        lit("retractSoftDedup: retract id "), col("id").cast("string"),
        lit(" is not stored — nothing to forget"))).cast("long")
        .as("cluster_id"))
    // a weight-store singleton sits in no pair by design
    val delta = forget(stored, pairsOf(storedPairs, "id1", "id2"), rids,
      ridsFits, col("cluster_size") === 1L, budget)
    applyDelta(stored, delta.copy(rows = delta.rows.unionByName(unknown)),
      weightRows(delta.clustersFit))
  }

  /** CLUSTER-LABEL retraction (X149) — right-to-be-forgotten for the
    * X133 label store. Labels are DERIVED state: a retracted doc that IS
    * a cluster minimum leaves every sibling labeled by a ghost id, and
    * deleting a node can SPLIT a component, so rows cannot simply be
    * dropped. Given the stored labels, the accumulated duplicate-PAIR
    * store they were computed from (the retraction-capable deployment
    * keeps pairs — deletability's storage price), and the retract id
    * set, this returns labels equal to `connectedComponents(pairs with
    * NEITHER endpoint retracted)` — retract ≡ rebuild-without,
    * spec-pinned including ghost-minimum and component-split cases —
    * while recomputing ONLY the affected components: edge removal never
    * merges components, so every component without a retracted id keeps
    * its rows verbatim. Members whose every pair is retracted disappear
    * (an absent id is unclustered).
    *
    * Contract: `storedLabels` must be [[connectedComponents]] over
    * exactly `storedPairs`; a drifted store fails loud (two bounded
    * probes). Ids absent from the store retract as no-ops.
    *
    * Scale shape: two budget probes ([[DeltaBudget]]): the retract ids
    * and the affected components' survivors. The retract and
    * retired-cluster sets broadcast into map-side label-store scans; the
    * survivor set filters the pair store map-side by broadcast, or by
    * shuffle-hash above the budget, and bounds the components rerun.
    * Nothing corpus-sized shuffles outside the invariant probes. */
  def retractClusterLabels(storedLabels: DataFrame, storedPairs: DataFrame,
      retractIds: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame =
    retractClusterLabels(storedLabels, storedPairs, retractIds, id1, id2, DeltaBudget)

  /** [[retractClusterLabels]] at broadcast budget `budget`. */
  private[graft] def retractClusterLabels(storedLabels: DataFrame,
      storedPairs: DataFrame, retractIds: DataFrame, id1: String, id2: String,
      budget: Long): DataFrame = {
    requireColumns("retractClusterLabels", "storedLabels", storedLabels,
      "id", "cluster_id")
    val stored = labelsOf(storedLabels)
    val (rids, ridsFits) = retractSet("retractClusterLabels", retractIds, budget)
    applyDelta(stored, forget(stored, pairsOf(storedPairs, id1, id2), rids,
      ridsFits, lit(false), budget), labelRows)
  }

  /** Corpus-level LINE dedup (the C4/RefinedWeb pass): every line that
    * occurs anywhere else in the corpus keeps only its FIRST occurrence
    * (by (doc_id, line index) — globally deterministic), then documents
    * are reassembled from their surviving lines. Documents whose every
    * line was claimed elsewhere drop out.
    *
    * Scale shape: two exchanges — the keep-first window keyed by the
    * 16-byte line hash, then the reassembly groupBy keyed by doc. Line
    * TEXT rides both as payload (reassembly needs it); that is the
    * honest minimum for dedup-with-reassembly — a keep-list variant
    * (hash+ids only through the window, rejoin text after) trades the
    * first text crossing for an extra join shuffle, net even.
    * Reassembly sorts each doc's surviving lines with `array_sort`
    * over collected (idx, line) structs — bounded by lines-per-doc,
    * not corpus. */
  /** Blocked edit-distance (entity-resolution) join: every query row
    * matched to every `dim` row within Levenshtein distance `maxDist`.
    * Never a cross join: `dist(a,b) <= k` implies `|len(a)-len(b)| <=
    * k`, so the dim side fans out to its 2k+1 admissible lengths and
    * the match becomes a LENGTH-band equi-join plus the exact distance
    * residual — candidate pairs are bounded by names-per-length-band,
    * not |q|×|dim|. The dim side (a canonical entity lexicon) is
    * dimension-sized, so it broadcasts even exploded; at corpus-scale
    * dims you would add a q-gram prefix key to the band (same plan,
    * tighter blocks). Emits query columns + dim columns + `dist`. */
  def editDistanceJoin(queries: DataFrame, qCol: String, dim: DataFrame,
      dimCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val dimB = dim.withColumn("_lb",
      explode(sequence(length(col(dimCol)) - maxDist,
        length(col(dimCol)) + maxDist)))
    queries.withColumn("_lb", length(col(qCol)))
      .join(broadcast(dimB), Seq("_lb"))
      .withColumn("dist", levenshtein(col(qCol), col(dimCol)))
      .filter(col("dist") <= maxDist)
      .drop("_lb")
  }

  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = spread(df)
      .select(col(idCol).as("_doc"),
        posexplode(split(col(textCol), "\n")).as(Seq("_idx", "_line")))
    val w = Window.partitionBy(md5(col("_line")))
      .orderBy(col("_doc").asc, col("_idx").asc)
    lines.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col("_doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          s => s.getField("_line")), "\n").as("text"))
      .withColumnRenamed("_doc", idCol)
  }

  /** CCNet-style boilerplate removal (X117) — the document-frequency
    * complement of [[lineDedup]]: a line is BOILERPLATE iff it occurs
    * in ≥ `minDocFreq` DISTINCT documents (nav bars, cookie banners,
    * license headers), and boilerplate lines are removed EVERYWHERE —
    * including their first occurrence, which [[lineDedup]] would keep.
    * Surviving lines reassemble in original order; every input
    * document survives, possibly with empty text (NULL text reads as
    * empty — no evidence, nothing to strip).
    *
    * Scale shape: lines shuffle once keyed by md5(line) for the
    * doc-frequency aggregate (partial (hash, doc) distinct then count
    * — map-side combine on both phases), and once for the per-doc
    * reassembly groupBy. The boilerplate set itself is SMALL by
    * construction (only lines crossing the minDocFreq docs threshold),
    * so the removal anti-join is a gated broadcast of line hashes with
    * a shuffle-hash fallback — never a corpus-sized broadcast
    * assumption. No driver-side line material beyond the budget probe. */
  def boilerplateRemoval(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long, lineBroadcastBudget: Long = 1000000L): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    // lines feed the doc-frequency agg and the removal anti-join —
    // persist once (registry-released)
    val lines = spread(df)
      .select(col(idCol).as("_doc"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("_idx", "_line")))
      .withColumn("_h", md5(col("_line")))
      .persistTracked()
    // persisted BEFORE the budget probe (fitsBudget's contract) so the
    // doc-frequency aggregation runs once for the probe and the join
    val boiler = lines.select(col("_h"), col("_doc")).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select("_h")
      .persistTracked()
    val reassembled = lines
      .join(gate(boiler, fitsBudget(boiler, lineBroadcastBudget)), Seq("_h"), "left_anti")
      .groupBy(col("_doc"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_line")))),
          s => s.getField("_line")), "\n").as("text"))
    // all-boilerplate docs still exist downstream (empty text), so the
    // op composes with per-doc stats without silently shrinking the
    // corpus. shuffle-hash pinned: the reassembled side is
    // corpus-sized — AQE would broadcast it from small-SF stats
    val rh = reassembled.hint("shuffle_hash")
    df.select(col(idCol))
      .join(rh, col(idCol) === rh("_doc"), "left")
      .select(col(idCol), coalesce(col("text"), lit("")).as("text"))
  }

  /** QUALITY-CANONICAL cluster resolution (X181) — the selection
    * policy upgrade over [[connectedComponents]]' lowest-id rule: a
    * near-dup cluster keeps its HIGHEST-QUALITY member (max score,
    * ties broken by MIN id so the pick stays a deterministic fact),
    * not whichever member happened to carry the smallest id. This is
    * what a real training-data pipeline wants from dedup: of N copies
    * of an article, keep the cleanest one.
    *
    * Input: `labels` = (id, cluster_id) — [[connectedComponents]]'
    * output; `scores` = (idCol, scoreCol) with one row per labeled id.
    * The score must be an INTEGRAL column (quality rank, n_chars,
    * fixed-point score) — enforced fail-loud below, because the
    * argmax casts to long and a fractional score would silently
    * truncate 1.9 vs 1.2 into a tie. Fixed-point-encode fractional
    * quality upstream (the engine-wide hash-exact convention).
    *
    * Scale shape: one id-keyed equi-join to attach scores (pinned
    * shuffle-hash — both sides can be corpus-sized) + one partial-agg
    * max(struct(score, −id)) per cluster + one cluster-keyed
    * re-join — NO per-cluster window sort, so a pathological
    * million-member cluster costs a partial aggregate, not a
    * single-partition sort. Fail-loud: a labeled id missing from the
    * score table means the score side drifted from the corpus — the
    * raise_error guard rides the `score` output column AND the
    * canonical pick would be silently wrong, so it raises on the
    * join, not downstream.
    *
    * Returns (id, cluster_id, score, is_canonical) — one row per
    * labeled id; downstream keeps `is_canonical` rows plus every
    * unlabeled (never-paired) doc. */
  def canonicalByScore(labels: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    require(Set("id", "cluster_id").subsetOf(labels.columns.toSet),
      s"canonicalByScore: labels must be connectedComponents output " +
        s"(id, cluster_id), got ${labels.columns.mkString(", ")}")
    require(scores.columns.contains(idCol) && scores.columns.contains(scoreCol),
      s"canonicalByScore: scores must carry ($idCol, $scoreCol), got " +
        scores.columns.mkString(", "))
    // Integral-score gate (the requireSketchable pattern): the argmax
    // casts to long, so a DoubleType score would truncate — 1.9 vs 1.2
    // becomes a tie and the min-id tiebreak picks the WRONG member.
    require({
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      scores.schema(scoreCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"canonicalByScore: $scoreCol must be an integral column " +
      s"(fixed-point-encode fractional quality upstream), got " +
      scores.schema(scoreCol).dataType.simpleString)
    val sc = scores.select(col(idCol).cast("long").as("_sid"),
      col(scoreCol).cast("long").as("_score"))
    val joined = labels.select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .join(sc.hint("shuffle_hash"), col("id") === col("_sid"), "left")
    val guardedScore = when(col("_sid").isNull,
      raise_error(concat(
        lit("canonicalByScore: labeled id "), col("id").cast("string"),
        lit(" has no score row — the score table drifted from the corpus"))))
      .otherwise(col("_score"))
    val withScore = joined
      .select(col("id"), col("cluster_id"), guardedScore.as("score"))
    // argmax by (score desc, id asc) as ONE partial-agg shuffle:
    // max(struct(score, -id)) — no per-cluster sort anywhere
    val best = withScore.groupBy(col("cluster_id"))
      .agg(max(struct(col("score"), (-col("id")).as("_negid"))).as("_best"))
      .select(col("cluster_id"),
        (-col("_best._negid")).as("_canonical_id"))
    withScore.join(best.hint("shuffle_hash"), Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("score"),
        (col("id") === col("_canonical_id")).as("is_canonical"))
  }

  /** INCREMENTAL canonical maintenance (X195) — the serving-store
    * form of [[canonicalByScore]]: the canonical-pick table
    * (cluster_id, canonical_id, score) is what retrieval reads, and a
    * batch of new near-dup pairs can change picks three ways — a
    * cluster MERGE must re-elect one winner, a fresh higher-quality
    * arrival must take its cluster over, and everything else must
    * survive verbatim. The batch folds into the stored labels through
    * [[incrementalConnectedComponents]]' contraction; the picks of the
    * merged old clusters retire and the argmax reruns ONLY over the
    * members of the clusters they merged into (a cluster's membership
    * changes only along a new pair, and distinct components have
    * disjoint members, so a recomputed row never collides with a kept
    * one). Result equals the full [[canonicalByScore]](updated labels,
    * scores) pick table (spec-pinned: merge re-election, fresh-winner
    * takeover, untouched-verbatim, equality on random increments).
    *
    * Scale shape: [[incrementalConnectedComponents]]' — one budget
    * probe ([[DeltaBudget]]), the endpoint set; the pick store streams
    * map-side against the broadcast retired-cluster set; the argmax is
    * [[canonicalByScore]]'s partial aggregate over the changed members
    * only, with the scores joined by id. Returns the complete updated
    * pick table. */
  def incrementalCanonical(storedLabels: DataFrame, storedPicks: DataFrame,
      newPairs: DataFrame, scores: DataFrame, idCol: String,
      scoreCol: String): DataFrame =
    incrementalLabelsAndPicks(storedLabels, storedPicks, newPairs, scores,
      idCol, scoreCol)._2

  /** The updated label and pick tables of [[incrementalCanonical]],
    * both from one contraction of `newPairs`. */
  private[graft] def incrementalLabelsAndPicks(storedLabels: DataFrame,
      storedPicks: DataFrame, newPairs: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String,
      budget: Long = DeltaBudget): (DataFrame, DataFrame) = {
    requireColumns("incrementalCanonical", "storedLabels", storedLabels,
      "id", "cluster_id")
    requireColumns("incrementalCanonical", "storedPicks", storedPicks, PickCols: _*)
    val stored = labelsOf(storedLabels)
    val delta = foldPairs(stored, pairsOf(newPairs, "id1", "id2"), None, budget)
    (applyDelta(stored, delta, labelRows),
      applyDelta(picksOf(storedPicks), delta, pickRows(scores, idCol, scoreCol)))
  }

  /** Canonical-pick RETRACTION (X196) — the forget half of the X195
    * serving store: a retracted doc that IS a cluster's canonical
    * forces a RE-ELECTION among the survivors, and a retracted bridge
    * doc can SPLIT a component into several clusters that each need
    * their own pick. The labels update as in [[retractClusterLabels]]
    * (affected-component reruns over the kept pair store); the picks of
    * the retracted ids' clusters retire and recompute ONLY over their
    * survivors' new clusters; stored picks of untouched clusters pass
    * through unread, and a cluster that retracts away entirely loses
    * its row. Result equals the full [[canonicalByScore]] over the
    * post-retraction labels (spec-pinned: canonical re-election,
    * component split into per-fragment picks, full-cluster
    * disappearance, untouched verbatim).
    *
    * Scale shape: [[retractClusterLabels]]' — two budget probes
    * ([[DeltaBudget]]), the retract ids and the survivors; the pick
    * store streams map-side against the broadcast retired-cluster set;
    * the argmax is [[canonicalByScore]]'s partial aggregate over the
    * survivors only. Returns the complete updated pick table. */
  def retractCanonical(storedLabels: DataFrame, storedPicks: DataFrame,
      storedPairs: DataFrame, scores: DataFrame, retractIds: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    retractCanonical(storedLabels, storedPicks, storedPairs, scores,
      retractIds, idCol, scoreCol, DeltaBudget)

  /** [[retractCanonical]] at broadcast budget `budget`. */
  private[graft] def retractCanonical(storedLabels: DataFrame,
      storedPicks: DataFrame, storedPairs: DataFrame, scores: DataFrame,
      retractIds: DataFrame, idCol: String, scoreCol: String,
      budget: Long): DataFrame = {
    requireColumns("retractCanonical", "storedLabels", storedLabels,
      "id", "cluster_id")
    requireColumns("retractCanonical", "storedPicks", storedPicks, PickCols: _*)
    val stored = labelsOf(storedLabels)
    val (rids, ridsFits) = retractSet("retractCanonical", retractIds, budget)
    applyDelta(picksOf(storedPicks), forget(stored, pairsOf(storedPairs, "id1", "id2"),
      rids, ridsFits, lit(false), budget), pickRows(scores, idCol, scoreCol))
  }
}
