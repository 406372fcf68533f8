package graft.queries


import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Corpus, Dedup, Multimodal, Similarity}
import graft.streaming.EventsStreaming

/** Dedup gates: exact/incremental/near-dup/substring families and their ingestion compositions.
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
trait ExtDedupGates { this: ExtAllGates =>
  // -------------------- dedup --------------------

  val exactDedup: Q = (s, d) =>
    Dedup.exactDedup(Tables.documents(s, d), "text", "doc_id")
      .select(col("doc_id"), col("source"))

  val exactDedupSql: String =
    s"SELECT doc_id, source FROM (SELECT doc_id, source, row_number() OVER " +
      s"(PARTITION BY md5($duckNormText) ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1"

  /** Incremental cross-snapshot dedup (X112): the doc_id % 3 == 0
    * slice plays the already-ingested corpus (as its fingerprint
    * store); the rest is the incoming batch, deduped against history
    * via Bloom-prefiltered anti-join + within-batch lowest-id rule.
    * The oracle is the plain anti-join (Bloom adds no false
    * negatives, so the results are identical by construction —
    * that IS the contract under test). */
  /** The store is the doc_id % 3 == 0 slice PLUS the % 5 == 0 slice:
    * the synthetic corpus has no exact text repeats, so a disjoint
    * store would make the anti-join a no-op — the % 5 overlap puts
    * real already-ingested fingerprints in the batch's path (67 of
    * the 333 batch docs re-arrive and must drop). */
  val incrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val prior = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    graft.operators.Dedup.incrementalExactDedup(
      docs.filter(col("doc_id") % 3 =!= 0), prior, "text", "doc_id")
      .select(col("doc_id"), col("source"), col("fp"))
  }

  val incrementalDedupSql: String =
    s"WITH f AS MATERIALIZED (SELECT doc_id, source, md5($duckNormText) AS fp FROM documents), " +
      "prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0 OR doc_id % 5 = 0), " +
      "newb AS (SELECT doc_id, source, fp FROM f WHERE doc_id % 3 <> 0) " +
      "SELECT doc_id, source, fp FROM (" +
      "SELECT n.doc_id, n.source, n.fp, " +
      "row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM newb n LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) " +
      "WHERE rn = 1"

  // shared shingle SQL fragments (word n-grams over a lowercased token
  // list bound to `t`). lazy: referenced by vals declared ABOVE this
  // point (qualityRulesSql)
  private[queries] def duckNgrams(n: Int): String =
    s"CASE WHEN len(t) >= $n THEN list_transform(generate_series(1, len(t)-${n - 1}), " +
      s"i -> array_to_string(list_slice(t, i, i+${n - 1}), ' ')) ELSE []::VARCHAR[] END"
  private[queries] lazy val duckShingles = duckNgrams(3)

  val ngramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.7, shingleN = 3)

  val ngramJaccardSql: String =
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"sh AS (SELECT doc_id, list_distinct($duckShingles) AS s FROM toks), " +
      "inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh), " +
      "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2, count(*) AS inter " +
      "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY ALL) " +
      "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
      "round(CAST(inter AS DOUBLE)/(s1 + s2 - inter), 6) AS jaccard, " +
      "CAST(inter AS DOUBLE)/(s1 + s2 - inter) AS _j FROM p) WHERE _j >= 0.7"

  /** Prefix-filtered exact Jaccard (AllPairs/PPJoin) — LOSSLESS vs the
    * full inverted index, so the oracle is simply the exact Jaccard
    * join at the same threshold (0.75: exactly representable, so the
    * ⌈t·|S|⌉ prefix length computes identically everywhere; high
    * thresholds are where prefix filtering earns its keep — the
    * prefix is only (1−t)·|S|+1 shingles). */
  val ngramPrefix: Q = (s, d) =>
    Dedup.ngramJaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.75, shingleN = 3)

  val ngramPrefixSql: String =
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"sh AS (SELECT doc_id, list_distinct($duckShingles) AS s FROM toks), " +
      "inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh), " +
      "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2, count(*) AS inter " +
      "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY ALL) " +
      "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
      "round(CAST(inter AS DOUBLE)/(s1 + s2 - inter), 6) AS jaccard, " +
      "CAST(inter AS DOUBLE)/(s1 + s2 - inter) AS _j FROM p) WHERE _j >= 0.75"

  /** Exact substring dedup (X105, Lee et al. 2021): every duplicated
    * 13-token window keeps only its global first occurrence (min
    * id·1e5+pos — a plain MIN, no struct ordering); other occurrences'
    * token positions drop and docs reassemble from the survivors. The
    * oracle chains the identical gram/mark/cover/reassemble steps. */
  private[queries] val SUBSTR_L = 13

  val substringDedup: Q = (s, d) =>
    Dedup.exactSubstringDedup(Tables.documents(s, d), "doc_id", "text",
      L = SUBSTR_L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("kept_md5"))

  /** Shared CTE chain of the exact-substring oracles: token table →
    * L-gram hashes with occurrence encoding → duplicated grams →
    * covered positions → surviving-token reassembly. Ends after the
    * `kept` CTE so each oracle appends its own tail. */
  private[queries] def substrOracleCtes(L: Int): String =
    s"WITH t AS MATERIALIZED (SELECT doc_id, $duckToksLower AS tk FROM documents), " +
      s"g AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, doc_id * 100000 + i - 1 AS occ, " +
      s"md5(array_to_string(list_slice(tk, i, i + $L - 1), chr(1))) AS gh " +
      s"FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - $L + 1)) AS i FROM t WHERE len(tk) >= $L)), " +
      "d AS (SELECT gh, min(occ) AS first_occ FROM g GROUP BY gh HAVING count(*) >= 2), " +
      s"cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + $L - 1)) AS tp " +
      "FROM g JOIN d USING (gh) WHERE occ <> first_occ), " +
      "tp AS (SELECT doc_id, u.i - 1 AS tp, u.x AS tok FROM " +
      "(SELECT doc_id, unnest(list_transform(tk, (x, i) -> struct_pack(i := i, x := x))) AS u FROM t)), " +
      "kept AS (SELECT tp.doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "md5(array_to_string(list(tp.tok ORDER BY tp.tp), ' ')) AS kept_md5 " +
      "FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tp = cov.tp " +
      "WHERE cov.tp IS NULL GROUP BY tp.doc_id)"

  val substringDedupSql: String =
    substrOracleCtes(SUBSTR_L) +
      " SELECT t.doc_id, CAST(len(t.tk) AS INT) AS n_tokens, " +
      "coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_md5, md5('')) AS kept_md5 " +
      "FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id"

  /** Variable-length exact substring dedup (X107): covered positions
    * merged into maximal islands (the SQL-portable pos − row_number
    * grouping), so spans report at their true variable length ≥ L.
    * Oracle chains the identical islands CTEs onto the fixed pass. */
  val substringDedupVar: Q = (s, d) =>
    Dedup.exactSubstringDedupVar(Tables.documents(s, d), "doc_id", "text",
      L = SUBSTR_L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("n_spans"), col("max_span_len"), col("spans_md5"), col("kept_md5"))

  val substringDedupVarSql: String =
    substrOracleCtes(SUBSTR_L) +
      ", isl AS (SELECT doc_id, tp, tp - row_number() OVER (PARTITION BY doc_id ORDER BY tp) AS grp FROM cov), " +
      "spans AS (SELECT doc_id, min(tp) AS s, count(*) AS l FROM isl GROUP BY doc_id, grp), " +
      "sa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
      "CAST(max(l) AS BIGINT) AS max_span_len, " +
      "md5(string_agg(s || ':' || l, ',' ORDER BY s)) AS spans_md5 FROM spans GROUP BY doc_id) " +
      "SELECT t.doc_id, CAST(len(t.tk) AS INT) AS n_tokens, " +
      "coalesce(k.n_kept, 0) AS n_kept, " +
      "coalesce(sa.n_spans, 0) AS n_spans, " +
      "coalesce(sa.max_span_len, 0) AS max_span_len, " +
      "coalesce(sa.spans_md5, md5('')) AS spans_md5, " +
      "coalesce(k.kept_md5, md5('')) AS kept_md5 " +
      "FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id " +
      "LEFT JOIN sa ON t.doc_id = sa.doc_id"

  /** Incremental substring dedup (X132): the doc_id % 3 == 0 slice is
    * the already-ingested corpus, represented ONLY by its distinct
    * window-hash index (substringStoreRecords); the rest is the new
    * batch. Batch windows found in the store are covered at every
    * occurrence; store-miss windows fall back to the within-batch
    * global-first rule. The oracle chains the same mark/cover/
    * reassemble steps with the store as a hash set. */
  val incrementalSubstring: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val records = Dedup.substringStoreRecords(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", L = SUBSTR_L)
    Dedup.incrementalSubstringDedup(
      docs.filter(col("doc_id") % 3 =!= 0), records, "doc_id", "text",
      L = SUBSTR_L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
        col("kept_md5"))
  }

  val incrementalSubstringSql: String = {
    val L = SUBSTR_L
    s"WITH t AS MATERIALIZED (SELECT doc_id, $duckToksLower AS tk FROM documents), " +
      "tb AS MATERIALIZED (SELECT * FROM t WHERE doc_id % 3 <> 0), " +
      s"g AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, doc_id * 100000 + i - 1 AS occ, " +
      s"md5(array_to_string(list_slice(tk, i, i + $L - 1), chr(1))) AS gh " +
      s"FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - $L + 1)) AS i FROM t WHERE len(tk) >= $L)), " +
      "st AS MATERIALIZED (SELECT DISTINCT gh FROM g WHERE doc_id % 3 = 0), " +
      "bg AS MATERIALIZED (SELECT * FROM g WHERE doc_id % 3 <> 0), " +
      "covs AS (SELECT doc_id, pos FROM bg JOIN st USING (gh)), " +
      "d AS (SELECT gh, min(occ) AS first_occ FROM bg WHERE gh NOT IN (SELECT gh FROM st) GROUP BY gh HAVING count(*) >= 2), " +
      "covb AS (SELECT doc_id, pos FROM bg JOIN d USING (gh) WHERE occ <> first_occ), " +
      s"cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + $L - 1)) AS tp " +
      "FROM (SELECT * FROM covs UNION ALL SELECT * FROM covb)), " +
      "tp AS (SELECT doc_id, u.i - 1 AS tp, u.x AS tok FROM " +
      "(SELECT doc_id, unnest(list_transform(tk, (x, i) -> struct_pack(i := i, x := x))) AS u FROM tb)), " +
      "kept AS (SELECT tp.doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "md5(array_to_string(list(tp.tok ORDER BY tp.tp), ' ')) AS kept_md5 " +
      "FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tp = cov.tp " +
      "WHERE cov.tp IS NULL GROUP BY tp.doc_id) " +
      "SELECT tb.doc_id, CAST(len(tb.tk) AS INT) AS n_tokens, " +
      "coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_md5, md5('')) AS kept_md5 " +
      "FROM tb LEFT JOIN kept k ON tb.doc_id = k.doc_id"
  }

  /** Store retraction (X140): the %3 == 0 postings store forgets its
    * doc_id % 9 == 0 documents — shared windows persist (another doc
    * still carries them), solely-owned windows vanish and their
    * content becomes admissible again. The retraction is provably
    * exact (retract ≡ rebuild-without — the spec pins it), which is
    * why the oracle can simply build the index from the surviving
    * docs. */
  val storeRetraction: Q = (s, d) => {
    val store = Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
    val postings = Dedup.substringStorePostings(store, "doc_id", "text",
      L = SUBSTR_L)
    val retracted = Dedup.retractSubstringPostings(postings,
      store.filter(col("doc_id") % 9 === 0).select(col("doc_id").as("id")))
    Dedup.substringIndex(retracted)
  }

  val storeRetractionSql: String =
    s"WITH t AS (SELECT doc_id, $duckToksLower AS tk FROM documents " +
      "WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0), " +
      s"g AS (SELECT md5(array_to_string(list_slice(tk, i, i + $SUBSTR_L - 1), chr(1))) AS gh " +
      s"FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - $SUBSTR_L + 1)) AS i FROM t WHERE len(tk) >= $SUBSTR_L)) " +
      "SELECT DISTINCT gh FROM g"

  /** C4-style corpus-level line dedup with document reassembly. On the
    * synthetic single-line documents this degenerates to whole-doc
    * first-occurrence dedup — the multi-line reassembly path is pinned
    * by DedupSpec on crafted fixtures. */
  val lineDedup: Q = (s, d) =>
    Dedup.lineDedup(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("text_md5"))

  val lineDedupSql: String =
    "WITH ls AS (SELECT doc_id, list_transform(string_split(text, chr(10)), (x, i) -> struct_pack(idx := i - 1, line := x)) AS lst FROM documents), " +
      "lines AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM (SELECT doc_id, unnest(lst) AS u FROM ls)), " +
      "keep AS (SELECT doc_id, idx, line FROM (SELECT doc_id, idx, line, " +
      "row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx) AS rn FROM lines) WHERE rn = 1) " +
      "SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY idx)) AS text_md5 FROM keep GROUP BY doc_id"

  /** CCNet-style boilerplate removal (X117): any line occurring in
    * >= 3 distinct documents is removed EVERYWHERE (lineDedup keeps
    * its first occurrence; this is the doc-frequency complement);
    * docs reassemble in order and every doc survives — possibly with
    * empty text, hashed as md5(''). The synthetic corpus has no
    * repeated lines, so the gate row frames every doc the way a
    * crawler sees one — shared site chrome around distinct content —
    * and verifies the chrome (DF = corpus) is stripped while the
    * content reassembles; the general multi-line cascade is pinned by
    * DedupSpec and PropertiesSpec on crafted fixtures. */
  val boilerplate: Q = (s, d) => {
    val framed = Tables.documents(s, d).select(col("doc_id"),
      concat(lit("COOKIE CONSENT BANNER\n"), coalesce(col("text"), lit("")),
        lit("\nALL RIGHTS RESERVED FOOTER")).as("text"))
    Dedup.boilerplateRemoval(framed, "doc_id", "text", minDocFreq = 3L)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
  }

  val boilerplateSql: String =
    "WITH framed AS (SELECT doc_id, 'COOKIE CONSENT BANNER' || chr(10) || coalesce(text, '') || chr(10) || 'ALL RIGHTS RESERVED FOOTER' AS text FROM documents), " +
      "ls AS (SELECT doc_id, list_transform(string_split(coalesce(text, ''), chr(10)), (x, i) -> struct_pack(idx := i - 1, line := x)) AS lst FROM framed), " +
      "lines AS (SELECT doc_id, u.idx AS idx, u.line AS line FROM (SELECT doc_id, unnest(lst) AS u FROM ls)), " +
      "boiler AS (SELECT md5(line) AS h FROM lines GROUP BY md5(line) HAVING count(DISTINCT doc_id) >= 3), " +
      "kept AS (SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY idx)) AS t FROM lines " +
      "WHERE md5(line) NOT IN (SELECT h FROM boiler) GROUP BY doc_id) " +
      "SELECT f.doc_id, coalesce(k.t, md5('')) AS text_md5 " +
      "FROM framed f LEFT JOIN kept k ON f.doc_id = k.doc_id"

  /** GPT-style sequence packing over the documents token stream:
    * fixed 512-token windows, one row per doc × overlapped window.
    * Oracle = the plain global running sum; the Spark side computes
    * the same prefix sum two-phase (per-partition + offsets). */
  val seqPack: Q = (s, d) =>
    graft.operators.ScaleOps.packSequences(
      Tables.documents(s, d), "doc_id",
      TextFunctions.tokenCount(col("text")), ctxLen = 512L)

  val seqPackSql: String =
    s"WITH n AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM documents), " +
      // CAST: DuckDB window sum(BIGINT) is HUGEINT, which the driver's
      // pandas-side hasher renders as float ("32.0" vs Spark's "32")
      "t AS (SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e FROM n) " +
      "SELECT doc_id, unnest(generate_series(CAST(floor((e - nt)/512.0) AS BIGINT), CAST(floor((e - 1)/512.0) AS BIGINT))) AS pack_id, " +
      "e - nt AS token_start, nt AS n_tokens FROM t WHERE nt > 0"

  /** Boundary-respecting best-fit packing (X215): whole docs into
    * 256-token bins, best-fit-decreasing within 8 salted groups. The
    * oracle replays the exact greedy trajectory as a recursive CTE
    * carrying each group's bin-load list — every placement an integer
    * argmin over (remaining capacity, bin index). */
  private[queries] val PACK_CTX = 256L
  private[queries] val PACK_GROUPS = 8

  val packBestFit: Q = (s, d) =>
    graft.operators.ScaleOps.packBestFit(
      Tables.documents(s, d), "doc_id",
      TextFunctions.tokenCount(col("text")),
      ctxLen = PACK_CTX, numGroups = PACK_GROUPS)

  val packBestFitSql: String =
    s"WITH RECURSIVE pn AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM documents), " +
      "pdocs AS (SELECT doc_id, nt, CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) " +
      s"% $PACK_GROUPS AS grp FROM pn), " +
      // Mirror the Spark side's fail-loud oversize guard (packBestFit
      // raises on nt > ctxLen): without this, the recursive best-fit
      // CTE would silently OPEN an overfull bin (the fits-filter finds
      // none and the doc starts a new bin regardless of size) and the
      // two engines would diverge the first time a >ctxLen doc lands.
      s"pchk AS (SELECT count(*) AS oversize FROM pn WHERE nt > $PACK_CTX), " +
      "prk AS (SELECT doc_id, nt, grp, CAST(row_number() OVER (PARTITION BY grp ORDER BY nt DESC, doc_id ASC) AS BIGINT) AS rn FROM pdocs), " +
      "pst AS (" +
      "SELECT grp, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS bins, " +
      "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS bin, CAST(NULL AS BIGINT) AS nt " +
      "FROM (SELECT DISTINCT grp FROM prk) " +
      "UNION ALL " +
      "SELECT grp, rn, " +
      "CASE WHEN pos IS NULL THEN list_append(bins, nt) " +
      "ELSE list_transform(bins, (b, i) -> CASE WHEN i = pos THEN b + nt ELSE b END) END AS bins, " +
      "doc_id, " +
      "CASE WHEN pos IS NULL THEN CAST(len(bins) AS BIGINT) ELSE CAST(pos - 1 AS BIGINT) END AS bin, nt " +
      "FROM (SELECT s.grp, r.rn, s.bins, r.doc_id, r.nt, " +
      s"list_sort(list_transform(list_filter(generate_series(1, len(s.bins)), i -> s.bins[i] + r.nt <= $PACK_CTX), " +
      "i -> struct_pack(rem := " + PACK_CTX + " - s.bins[i] - r.nt, i := i)))[1].i AS pos " +
      "FROM pst s JOIN prk r ON r.grp = s.grp AND r.rn = s.rn + 1)) " +
      "SELECT doc_id, grp AS pack_group, CAST(bin AS BIGINT) AS bin_idx, nt AS n_tokens FROM pst WHERE rn >= 1 " +
      "AND (SELECT CASE WHEN oversize > 0 THEN CAST(error('packBestFit oracle: doc exceeds ctxLen " +
      PACK_CTX + "') AS BIGINT) ELSE 0 END FROM pchk) = 0"

  /** Token-budget head selection (X119): keep the best 20k tokens —
    * priority = per-doc token count (densest docs first), doc_id
    * tie-break — cutting at the first doc that would cross the
    * budget. Oracle = the plain global running sum over the same
    * order; the Spark side computes it with the two-phase prefix-sum
    * plan (per-partition running sums + broadcast offsets). */
  val tokenBudget: Q = (s, d) => {
    val nt = TextFunctions.tokenCount(col("text"))
    graft.operators.ScaleOps.tokenBudgetFilter(
      Tables.documents(s, d), "doc_id", nt, nt, budget = 20000L)
  }

  val tokenBudgetSql: String =
    s"WITH n AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM documents), " +
      "t AS (SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY nt DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e FROM n) " +
      "SELECT doc_id, nt AS priority, nt AS n_tokens, e AS cum_tokens FROM t WHERE e <= 20000"

  /** The END-TO-END curation pipeline, composed from the library's own
    * operators and hash-verified as one query: Gopher quality filter →
    * corpus exact-dedup → deterministic train split → sequence packing.
    * This is the shape a real pretraining-data job takes; every stage
    * is individually oracled above, and the composition is oracled
    * here as chained CTEs of the same fragments. */
  val curate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val kept = docs.join(
      qualityRules(s, d).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val deduped = Dedup.exactDedup(kept, "text", "doc_id")
      .select("doc_id", "text")
    val train = graft.operators.ScaleOps.hashSplit(deduped, "doc_id", holdoutPct = 10)
      .filter(col("split") === "train")
    // slim to (doc_id, token count) and CACHE before packing: the range
    // partitioner's sampling pass would otherwise re-run the whole
    // quality/dedup/split pipeline a second time — and two longs per
    // row is what a 100 TB job can afford to cache, unlike the text
    val slim = train
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      .persistTracked()
    graft.operators.ScaleOps.packSequences(slim, "doc_id", col("nt"), ctxLen = 512L)
  }

  val curateSql: String = {
    "WITH " + duckQualityBody +
      ", kept AS (SELECT d.doc_id, d.text FROM documents d JOIN m ON d.doc_id = m.doc_id " +
      "WHERE m.n_tokens >= 5 AND m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0 AND m.dup_3gram_frac < 0.3)" +
      s", ded AS (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER " +
      s"(PARTITION BY md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ' ')) ORDER BY doc_id) AS rn FROM kept) WHERE rn = 1)" +
      ", train AS (SELECT doc_id, text FROM ded WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 >= 10)" +
      s", ntok AS (SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS nt FROM train)" +
      ", cum AS (SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e FROM ntok) " +
      "SELECT doc_id, unnest(generate_series(CAST(floor((e - nt)/512.0) AS BIGINT), CAST(floor((e - 1)/512.0) AS BIGINT))) AS pack_id, " +
      "e - nt AS token_start, nt AS n_tokens FROM cum WHERE nt > 0"
  }

  private[queries] val MINHASH_BANDS = 4
  private[queries] val MINHASH_RPB = 3

  val minhashPairs: Q = (s, d) =>
    Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.7, shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)

  /** MinHash pair SQL parameterized by source relation (`documents`
    * for the standalone query; a curation CTE when composed). The
    * inner WITH is scope-local, so embedding it as a parenthesized
    * subquery never collides with outer CTE names. */
  def minhashPairsSqlFrom(src: String, threshold: Double = 0.7): String = {
    val sigElems = (0 until MINHASH_BANDS * MINHASH_RPB).map(seed =>
      s"coalesce(list_min(list_transform(s, x -> md5('$seed:' || x))), 'zz_empty')")
      .mkString("[", ", ", "]")
    val bandRows = (0 until MINHASH_BANDS).map(b => s"($b)").mkString(",")
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM $src), " +
      s"shl AS (SELECT doc_id, $duckShingles AS s FROM toks), " +
      s"sig AS (SELECT doc_id, $sigElems AS sg FROM shl), " +
      s"bands AS (SELECT doc_id, bb.band AS band, array_to_string(list_slice(sg, bb.band*$MINHASH_RPB + 1, bb.band*$MINHASH_RPB + $MINHASH_RPB), '|') AS bucket " +
      s"FROM sig, (VALUES $bandRows) bb(band)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
      "dsh AS (SELECT doc_id, list_distinct(s) AS ds FROM shl) " +
      "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
      "round(CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/len(list_distinct(list_concat(x.ds, y.ds))), 6) AS jaccard, " +
      "CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/len(list_distinct(list_concat(x.ds, y.ds))) AS _j " +
      s"FROM cand JOIN dsh x ON id1 = x.doc_id JOIN dsh y ON id2 = y.doc_id) WHERE _j >= $threshold"
  }

  lazy val minhashPairsSql: String = minhashPairsSqlFrom("documents")

  /** Near-dup BANDING recall harness (X174) — the dedup sibling of
    * the X115 ANN recall harness: ground truth is the exact-Jaccard
    * pair set (inverted-index join at the same threshold — banded
    * results are exact-verified, so found ⊆ exact and recall =
    * found/exact), measured across three 12-hash banding layouts
    * (4×3 / 6×2 / 2×6 — the s-curve trade: more, shorter bands catch
    * lower-J pairs at more candidate cost). Deterministic given the
    * fixed md5 hash family, so recall is a hash-verified FACT, not a
    * flaky metric (the X115 convention). Ground truth is persisted
    * once; the per-config counts are 1-row aggregates. */
  val neardupRecall: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // r21: ONE tokenize+shingle pass feeds the exact ground truth AND
    // all three banding layouts (four corpus-wide shingle passes → 1;
    // same arrays, identical pair sets — guide §1.2)
    val base = graft.core.Caches.persistTracked(
      Dedup.shingleBase(docs, "doc_id", "text", shingleN = 3))
    val exact = Dedup.ngramJaccardPairsFromBase(base, threshold = 0.7)
      .select(col("id1"), col("id2")).persistTracked()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    Seq(("b4r3", 4, 3), ("b6r2", 6, 2), ("b2r6", 2, 6)).map {
      case (name, b, r) =>
        val found = Dedup.minhashNearDupPairsFromBase(base,
          threshold = 0.7, bands = b, rowsPerBand = r)
        nExact.crossJoin(found.agg(count(lit(1)).as("n_found")))
          .select(lit(name).as("config"), col("n_exact"), col("n_found"),
            when(col("n_exact") > 0,
              expr("n_found * 10000 div n_exact")).otherwise(10000L)
              .as("recall_bp"))
    }.reduce(_ unionByName _)
  }

  val neardupRecallSql: String = {
    def foundCount(b: Int, r: Int): String = {
      val sigElems = (0 until b * r).map(seed =>
        s"coalesce(list_min(list_transform(s, x -> md5('$seed:' || x))), 'zz_empty')")
        .mkString("[", ", ", "]")
      val bandRows = (0 until b).map(i => s"($i)").mkString(",")
      s"(WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
        s"shl AS (SELECT doc_id, $duckShingles AS s FROM toks), " +
        s"sig AS (SELECT doc_id, $sigElems AS sg FROM shl), " +
        s"bands AS (SELECT doc_id, bb.band AS band, array_to_string(list_slice(sg, bb.band*$r + 1, bb.band*$r + $r), '|') AS bucket " +
        s"FROM sig, (VALUES $bandRows) bb(band)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id), " +
        "dsh AS (SELECT doc_id, list_distinct(s) AS ds FROM shl) " +
        "SELECT count(*) FROM cand JOIN dsh x ON id1 = x.doc_id JOIN dsh y ON id2 = y.doc_id " +
        "WHERE CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/len(list_distinct(list_concat(x.ds, y.ds))) >= 0.7)"
    }
    val exactCount =
      s"(WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
        s"sh AS (SELECT doc_id, list_distinct($duckShingles) AS s FROM toks), " +
        "inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh), " +
        "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2, count(*) AS inter " +
        "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY ALL) " +
        "SELECT count(*) FROM p WHERE CAST(inter AS DOUBLE)/(s1 + s2 - inter) >= 0.7)"
    val rows = Seq(("b4r3", 4, 3), ("b6r2", 6, 2), ("b2r6", 2, 6)).map {
      case (name, b, r) =>
        s"SELECT '$name' AS config, e.n_exact, CAST(${foundCount(b, r)} AS BIGINT) AS n_found FROM e"
    }
    s"WITH e AS (SELECT CAST($exactCount AS BIGINT) AS n_exact) " +
      s"SELECT config, n_exact, n_found, " +
      "CAST(CASE WHEN n_exact > 0 THEN n_found * 10000 // n_exact ELSE 10000 END AS BIGINT) AS recall_bp " +
      s"FROM ((${rows.mkString(") UNION ALL (")}))"
  }

  /** Incremental cross-snapshot NEAR-dup (X113), the ingestion-time
    * sibling of [[incrementalDedup]]: the doc_id % 3 == 0 slice plays
    * the already-ingested corpus — present ONLY as its
    * nearDupStoreRecords (id, shingles, sig) index — and the rest is
    * the incoming batch, deduped batch-vs-store through the banded
    * MinHash machinery with exact-Jaccard verification on candidates
    * only, plus the pairwise lowest-id rule within the batch. The
    * emitted band_str pins the full store-append record (signature →
    * band keys) in the hash, not just survivorship. */
  val incrementalNearDup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val store = Dedup.nearDupStoreRecords(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
      shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    Dedup.incrementalNearDup(docs.filter(col("doc_id") % 3 =!= 0), store,
      "text", "doc_id", threshold = 0.7,
      shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("doc_id"), col("source"),
        array_join(col("band_keys"), ";").as("band_str"))
  }

  /** Shared CTE chain of the incremental near-dup oracles (batch X113
    * and streaming X134 — identical semantics by construction): ends
    * at the `dups` CTE; each oracle appends its own final SELECT. */
  private[queries] lazy val incrementalNearDupCtes: String = {
    val sigElems = (0 until MINHASH_BANDS * MINHASH_RPB).map(seed =>
      s"coalesce(list_min(list_transform(s, x -> md5('$seed:' || x))), 'zz_empty')")
      .mkString("[", ", ", "]")
    val bandRows = (0 until MINHASH_BANDS).map(b => s"($b)").mkString(",")
    val jac = "CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/" +
      "len(list_distinct(list_concat(x.ds, y.ds)))"
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"shl AS (SELECT doc_id, $duckShingles AS s FROM toks), " +
      s"sig AS MATERIALIZED (SELECT doc_id, $sigElems AS sg FROM shl), " +
      "dsh AS MATERIALIZED (SELECT doc_id, list_distinct(s) AS ds FROM shl), " +
      s"bands AS MATERIALIZED (SELECT g.doc_id, bb.band AS band, " +
      s"array_to_string(list_slice(g.sg, bb.band*$MINHASH_RPB + 1, bb.band*$MINHASH_RPB + $MINHASH_RPB), '|') AS bucket " +
      s"FROM sig g JOIN dsh h ON g.doc_id = h.doc_id CROSS JOIN (VALUES $bandRows) bb(band) WHERE len(h.ds) > 0), " +
      "cs AS (SELECT DISTINCT n.doc_id AS bid, st.doc_id AS sid FROM bands n " +
      "JOIN bands st ON n.band = st.band AND n.bucket = st.bucket " +
      "WHERE n.doc_id % 3 <> 0 AND st.doc_id % 3 = 0), " +
      "cb AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
      "WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 <> 0), " +
      s"dup1 AS (SELECT DISTINCT bid FROM cs JOIN dsh x ON bid = x.doc_id JOIN dsh y ON sid = y.doc_id WHERE $jac >= 0.7), " +
      s"dup2 AS (SELECT DISTINCT id2 AS bid FROM cb JOIN dsh x ON id1 = x.doc_id JOIN dsh y ON id2 = y.doc_id WHERE $jac >= 0.7), " +
      "dups AS (SELECT bid FROM dup1 UNION SELECT bid FROM dup2) "
  }

  val incrementalNearDupSql: String =
    incrementalNearDupCtes +
      s"SELECT d.doc_id, d.source, array_to_string(list_transform(generate_series(0, ${MINHASH_BANDS - 1}), " +
      s"b -> array_to_string(list_slice(g.sg, b*$MINHASH_RPB + 1, b*$MINHASH_RPB + $MINHASH_RPB), '|')), ';') AS band_str " +
      "FROM documents d JOIN sig g ON d.doc_id = g.doc_id " +
      "WHERE d.doc_id % 3 <> 0 AND d.doc_id NOT IN (SELECT bid FROM dups)"

  /** The composed ingestion increment (X121): one new batch runs the
    * FULL cross-snapshot trilogy in sequence — exact (Bloom-prefiltered
    * fingerprint anti-join) → MinHash near-dup (stored band index) →
    * semantic (frozen-quantizer cell index) — each stage consuming the
    * previous stage's survivors, all three stores bootstrapped from
    * the doc_id % 3 == 0 slice and represented ONLY by their index
    * records. Embeddings join the text survivors on the shared id
    * space. The oracle is the three stage oracles composed (the exact
    * rn=1 chain, the banded-Jaccard chain restricted to stage-1
    * survivors, the k-means cell chain restricted to stage-2
    * survivors). */
  val ingestFull: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val storeSlice = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    // stage 1: exact cross-snapshot. The fingerprint store includes
    // the % 5 slice (fingerprints are cheap — a real exact store
    // covers more history than the heavier near-dup/semantic indexes),
    // which also puts genuine re-arrivals in the batch's path: the
    // corpus has no exact repeats, so a disjoint store would no-op
    // r22 note: the tokenBase/FromToks rewrite was MEASURED here and
    // reverted — s1 has a single consumer in this trilogy, so the
    // shared token table only traded cheap re-splits for an eager
    // materialization (paired A/B: 5.3s → 5.6s; contrast ingestQuartet,
    // where the same rewrite removes a double-executed stage-1 chain
    // and wins 1.45×).
    val priorFps = docs
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    val s1 = Dedup.incrementalExactDedup(batch, priorFps, "text", "doc_id")
      .select(col("doc_id"), col("text"))
    // stage 2: near-dup vs the stored MinHash band index
    val ndStore = Dedup.nearDupStoreRecords(storeSlice, "doc_id", "text",
      shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    val s2 = Dedup.incrementalNearDup(s1, ndStore, "text", "doc_id",
      threshold = 0.7, shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("doc_id"))
    // stage 3: semantic, over the survivors' embeddings (shared id space)
    val embStore = emb.filter(col("vec_id") % 3 === 0)
    val cents = sharedSemStoreCents(s, d)
    val semStore = Similarity.semanticStoreRecords(embStore, "vec_id", "embedding", cents)
    val batchEmb = emb.join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    Similarity.incrementalSemanticDedup(batchEmb, semStore, cents, threshold = SEMDEDUP_T)
      .select(col("id").as("doc_id"), col("cell"))
  }

  /** GATED ingest (X172): the DQ quarantine gate (X165) composed IN
    * FRONT of the incremental exact dedup — the production ingest
    * shape: route first (pure map-side, zero shuffles), dedup only
    * what passed. Every batch doc gets exactly one fate row:
    * `quarantined` (with its declaration-ordered reason list — and its
    * fingerprint never enters dedup: a routed-out doc must not shadow
    * a valid one), `dropped_dup` (prior-store fingerprint or a
    * smaller-id valid batch doc), or `kept`. */
  val ingestGated: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val checked = graft.operators.ScaleOps.checkConstraints(
      spread(batch), dqRowChecks)
    val quarantined = checked.filter(size(col("_violations")) > 0)
      .select(col("doc_id"), lit("quarantined").as("fate"),
        array_join(col("_violations"), ",").as("detail"))
    val valid = checked.filter(size(col("_violations")) === 0)
      .drop("_violations")
    val priorFps = docs.filter(col("doc_id") % 3 === 0)
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    val kept = Dedup.incrementalExactDedup(valid, priorFps, "text", "doc_id")
      .select(col("doc_id"))
    val keptRows = kept
      .select(col("doc_id"), lit("kept").as("fate"), lit("").as("detail"))
    val dupRows = valid.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("dropped_dup").as("fate"),
        lit("").as("detail"))
    quarantined.unionByName(keptRows).unionByName(dupRows)
  }

  val ingestGatedSql: String = {
    val cases = Seq(
      "CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE) THEN 'text_nonempty' END",
      "CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 'min_chars_100' END",
      "CASE WHEN NOT coalesce(lang <> 'zh', FALSE) THEN 'latin_script' END")
    s"WITH f AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp FROM documents), " +
      s"v AS MATERIALIZED (SELECT doc_id, list_filter([${cases.mkString(", ")}], x -> x IS NOT NULL) AS vio " +
      "FROM documents WHERE doc_id % 3 <> 0), " +
      "quar AS (SELECT doc_id, 'quarantined' AS fate, " +
      "coalesce(array_to_string(vio, ','), '') AS detail FROM v WHERE len(vio) > 0), " +
      "valid AS MATERIALIZED (SELECT f.doc_id, f.fp FROM f JOIN v ON f.doc_id = v.doc_id WHERE len(v.vio) = 0), " +
      "prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0), " +
      "kept AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT n.doc_id, row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM valid n LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) WHERE rn = 1) " +
      "SELECT doc_id, fate, detail FROM quar " +
      "UNION ALL SELECT doc_id, 'kept' AS fate, '' AS detail FROM kept " +
      "UNION ALL SELECT doc_id, 'dropped_dup' AS fate, '' AS detail FROM valid " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM kept)"
  }

  /** Dead-letter re-admission (X180): the review loop's second half,
    * composed end-to-end — the X172 gated ingest quarantines its
    * violators into a dead-letter frame; a deterministic "review"
    * corrects every violation (empty text → 'corrected doc <id>',
    * short n_chars → 100, zh/NULL lang → 'en'); the corrected rows
    * re-enter the gate AND the exact-dedup increment against
    * prior ∪ batch-1-kept fingerprints — NOT shadowed by their own
    * quarantined first arrival (quarantine is upstream of
    * fingerprinting, so a corrected row drops only on a GENUINE
    * collision with kept content); and the reviewed ids retract from
    * the dead-letter store, whose emptiness is asserted in-query
    * (the deadletter_remaining row). One fate row per batch doc:
    * kept / dropped_dup / readmit_kept / readmit_dup (detail = the
    * original violation list the review corrected). */
  val deadletterReadmit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val checked = graft.operators.ScaleOps.checkConstraints(
      spread(batch), dqRowChecks)
    val deadLetter = checked.filter(size(col("_violations")) > 0)
    val valid = checked.filter(size(col("_violations")) === 0)
      .drop("_violations")
    val priorFps = docs.filter(col("doc_id") % 3 === 0)
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    val kept = Dedup.incrementalExactDedup(valid, priorFps, "text", "doc_id")
      .select(col("doc_id")).persistTracked()
    // the review: deterministic corrections, every violation fixed
    val corrected = deadLetter.select(
      col("doc_id"),
      when(col("text").isNull || length(col("text")) === 0,
        concat(lit("corrected doc "), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"),
      array_join(col("_violations"), ",").as("detail"))
    // re-ingest: dedup against prior ∪ batch-1-kept — the quarantined
    // first arrival left no fingerprint, so no self-shadowing
    val store2 = priorFps.unionByName(
      valid.join(kept, Seq("doc_id"), "left_semi")
        .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))).distinct()
    val readmitKept = Dedup.incrementalExactDedup(
      corrected, store2, "text", "doc_id").select(col("doc_id"))
    // the reviewed ids leave the dead-letter store; it must be empty
    val remaining = graft.operators.ScaleOps.retractDeadLetter(
      deadLetter, deadLetter.select(col("doc_id")))
    val remainingRow = remaining.agg(count(lit(1)).as("_n"))
      .select(lit(-1L).as("doc_id"), lit("deadletter_remaining").as("fate"),
        col("_n").cast("string").as("detail"))
    kept.select(col("doc_id"), lit("kept").as("fate"), lit("").as("detail"))
      .unionByName(valid.select(col("doc_id"))
        .join(kept, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("dropped_dup").as("fate"),
          lit("").as("detail")))
      .unionByName(corrected.join(readmitKept, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit("readmit_kept").as("fate"), col("detail")))
      .unionByName(corrected.join(readmitKept, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("readmit_dup").as("fate"), col("detail")))
      .unionByName(remainingRow)
  }

  val deadletterReadmitSql: String = {
    val cases = Seq(
      "CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE) THEN 'text_nonempty' END",
      "CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 'min_chars_100' END",
      "CASE WHEN NOT coalesce(lang <> 'zh', FALSE) THEN 'latin_script' END")
    s"WITH f AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp FROM documents), " +
      s"v AS MATERIALIZED (SELECT doc_id, list_filter([${cases.mkString(", ")}], x -> x IS NOT NULL) AS vio " +
      "FROM documents WHERE doc_id % 3 <> 0), " +
      "prior AS MATERIALIZED (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0), " +
      "valid AS MATERIALIZED (SELECT f.doc_id, f.fp FROM f JOIN v ON f.doc_id = v.doc_id WHERE len(v.vio) = 0), " +
      "kept AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT n.doc_id, row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM valid n LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) WHERE rn = 1), " +
      // the review: corrected text per quarantined doc, re-fingerprinted
      "corr AS MATERIALIZED (SELECT d.doc_id, " +
      "CASE WHEN d.text IS NULL OR length(d.text) = 0 " +
      "THEN 'corrected doc ' || d.doc_id ELSE d.text END AS text, " +
      "array_to_string(v.vio, ',') AS detail " +
      "FROM documents d JOIN v ON d.doc_id = v.doc_id WHERE len(v.vio) > 0), " +
      s"cfp AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp, detail FROM corr), " +
      "store2 AS MATERIALIZED (SELECT fp FROM prior " +
      "UNION SELECT f.fp FROM f JOIN kept ON f.doc_id = kept.doc_id), " +
      "rkept AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT c.doc_id, row_number() OVER (PARTITION BY c.fp ORDER BY c.doc_id) AS rn " +
      "FROM cfp c LEFT JOIN store2 st ON c.fp = st.fp WHERE st.fp IS NULL) WHERE rn = 1) " +
      "SELECT doc_id, 'kept' AS fate, '' AS detail FROM kept " +
      "UNION ALL SELECT doc_id, 'dropped_dup' AS fate, '' AS detail FROM valid " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM kept) " +
      "UNION ALL SELECT doc_id, 'readmit_kept' AS fate, detail FROM cfp " +
      "WHERE doc_id IN (SELECT doc_id FROM rkept) " +
      "UNION ALL SELECT doc_id, 'readmit_dup' AS fate, detail FROM cfp " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM rkept) " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, " +
      "'deadletter_remaining' AS fate, '0' AS detail"
  }

  lazy val ingestFullSql: String = {
    val sigElems = (0 until MINHASH_BANDS * MINHASH_RPB).map(seed =>
      s"coalesce(list_min(list_transform(s, x -> md5('$seed:' || x))), 'zz_empty')")
      .mkString("[", ", ", "]")
    val bandRows = (0 until MINHASH_BANDS).map(b => s"($b)").mkString(",")
    val jac = "CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/" +
      "len(list_distinct(list_concat(x.ds, y.ds)))"
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    // stage 1: exact
    s"WITH f AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp FROM documents), " +
      "prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0 OR doc_id % 5 = 0), " +
      "s1 AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT n.doc_id, row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 <> 0) n " +
      "LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) WHERE rn = 1), " +
      // stage 2: near-dup (bands over store slice + stage-1 survivors)
      s"toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"shl AS (SELECT doc_id, $duckShingles AS s FROM toks), " +
      s"sig AS MATERIALIZED (SELECT doc_id, $sigElems AS sg FROM shl), " +
      "dsh AS MATERIALIZED (SELECT doc_id, list_distinct(s) AS ds FROM shl), " +
      s"bands AS MATERIALIZED (SELECT g.doc_id, bb.band AS band, " +
      s"array_to_string(list_slice(g.sg, bb.band*$MINHASH_RPB + 1, bb.band*$MINHASH_RPB + $MINHASH_RPB), '|') AS bucket " +
      s"FROM sig g JOIN dsh h ON g.doc_id = h.doc_id CROSS JOIN (VALUES $bandRows) bb(band) " +
      "WHERE len(h.ds) > 0 AND (g.doc_id % 3 = 0 OR g.doc_id IN (SELECT doc_id FROM s1))), " +
      "cs2 AS (SELECT DISTINCT n.doc_id AS bid, st.doc_id AS sid FROM bands n " +
      "JOIN bands st ON n.band = st.band AND n.bucket = st.bucket " +
      "WHERE n.doc_id % 3 <> 0 AND st.doc_id % 3 = 0), " +
      "cb2 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
      "WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 <> 0), " +
      s"nd1 AS (SELECT DISTINCT bid FROM cs2 JOIN dsh x ON bid = x.doc_id JOIN dsh y ON sid = y.doc_id WHERE $jac >= 0.7), " +
      s"nd2 AS (SELECT DISTINCT id2 AS bid FROM cb2 JOIN dsh x ON id1 = x.doc_id JOIN dsh y ON id2 = y.doc_id WHERE $jac >= 0.7), " +
      "s2 AS MATERIALIZED (SELECT doc_id FROM s1 WHERE doc_id NOT IN " +
      "(SELECT bid FROM nd1 UNION SELECT bid FROM nd2)), " +
      // stage 3: semantic (k-means trained on the store slice, frozen)
      kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
        src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)") +
      s", qb AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings " +
      "WHERE vec_id IN (SELECT doc_id FROM s2))" +
      s", ba AS MATERIALIZED (SELECT vec_id, c AS cell FROM (SELECT q.vec_id, c.c, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qb q CROSS JOIN $cPrev c) WHERE rn = 1)" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      ", bd AS MATERIALIZED (SELECT ba.vec_id, ba.cell, cd.ed FROM ba JOIN cd USING (vec_id))" +
      s", sd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      s", sm1 AS (SELECT DISTINCT b.vec_id FROM bd b JOIN sd s ON b.cell = s.cell WHERE ${cos("b.ed", "s.ed")} >= $SEMDEDUP_T)" +
      s", sm2 AS (SELECT DISTINCT y.vec_id FROM bd x JOIN bd y ON x.cell = y.cell AND x.vec_id < y.vec_id WHERE ${cos("x.ed", "y.ed")} >= $SEMDEDUP_T) " +
      "SELECT vec_id AS doc_id, cell FROM bd WHERE vec_id NOT IN " +
      "(SELECT vec_id FROM sm1 UNION SELECT vec_id FROM sm2)"
  }

  /** The composed ingestion increment, QUARTET form (X139): X121's
    * trilogy with the fourth dedup family added — exact first, then
    * MinHash near-dup AND exact-substring both over the stage-1
    * survivors (substring coverage is computed against the ORIGINAL
    * token streams — the store indexed those, and a span-reassembled
    * text is a different corpus), then semantic over the docs both
    * passes keep. A doc drops if near-dup-claimed OR fully
    * window-claimed; the surviving docs carry their stage-3 `n_kept`
    * into the output hash. On this corpus the docs with store-shared
    * windows are near-dups of store docs, so stage 2 subsumes stage
    * 3's drop set — the hashed `n_kept` pins the NO-SPURIOUS-COVERAGE
    * direction on every survivor (a coverage bug flips the hash), and
    * the full coverage path has its own gate row
    * (`q_incremental_substring`, 381 store-hit + 433 in-batch dup
    * windows at sf0.01). Every store bootstrapped from the
    * doc_id % 3 == 0 slice and
    * represented only by its index records — the composition IS the
    * proof that the four store contracts line up. */
  val ingestQuartet: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    // r22 (guide §1.2): ONE persisted token table + a persisted stage-1
    // survivor frame — see ingestFull; the quartet previously tokenized
    // the store slice twice (near-dup + substring store builders) and
    // the batch three times (fingerprints, shingles, windows), and
    // re-ran the exact-dedup chain once per stage-2/3 consumer.
    val toksAll = Dedup.tokenBase(docs, "doc_id", "text").localCheckpoint()
    val storeToks = toksAll.filter(col("doc_id") % 3 === 0)
    val priorFps = toksAll
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprintOfTokens(col("_t")).as("fp")).distinct()
    val s1 =
      Dedup.incrementalExactDedupFromToks(
        toksAll.filter(col("doc_id") % 3 =!= 0), priorFps, "doc_id")
        .select(col("doc_id"), col("_t")).localCheckpoint()
    val ndStore = Dedup.nearDupStoreRecordsFromToks(storeToks, "doc_id",
      shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    val s2Plan = Dedup.incrementalNearDupFromToks(s1, ndStore, "doc_id",
      threshold = 0.7, shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("doc_id"))
    val grams = Dedup.substringStoreRecordsFromToks(storeToks, "doc_id",
      L = SUBSTR_L)
    // stage 3 runs on the stage-1 survivors (parallel to stage 2) and
    // its surviving docs intersect stage 2's; n_kept rides into the
    // output so the coverage ARITHMETIC is pinned, not just the drop set
    val subPlan = Dedup.incrementalSubstringDedupFromToks(s1, grams, "doc_id",
      L = SUBSTR_L)
      .filter(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("n_kept"))
    // r22 (guide §2.6): stages 2 and 3 are independent consumers of the
    // checkpointed s1 — materialize them concurrently instead of two
    // sequential stage waves under the final action
    val cps = graft.core.Caches.runConcurrently[org.apache.spark.sql.DataFrame](
      Seq(() => s2Plan.localCheckpoint(), () => subPlan.localCheckpoint()))
    val s3 = graft.core.Caches.persistTracked(
      cps(1).join(cps(0), Seq("doc_id")))
    val embStore = emb.filter(col("vec_id") % 3 === 0)
    val cents = sharedSemStoreCents(s, d)
    val semStore = Similarity.semanticStoreRecords(embStore, "vec_id", "embedding", cents)
    val batchEmb = emb.join(s3.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    Similarity.incrementalSemanticDedup(batchEmb, semStore, cents, threshold = SEMDEDUP_T)
      .select(col("id").as("doc_id"), col("cell"))
      .join(s3, Seq("doc_id"))
      .select(col("doc_id"), col("cell"), col("n_kept"))
  }

  lazy val ingestQuartetSql: String = {
    val sigElems = (0 until MINHASH_BANDS * MINHASH_RPB).map(seed =>
      s"coalesce(list_min(list_transform(s, x -> md5('$seed:' || x))), 'zz_empty')")
      .mkString("[", ", ", "]")
    val bandRows = (0 until MINHASH_BANDS).map(b => s"($b)").mkString(",")
    val jac = "CAST(len(list_intersect(x.ds, y.ds)) AS DOUBLE)/" +
      "len(list_distinct(list_concat(x.ds, y.ds)))"
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    val L = SUBSTR_L
    // stage 1: exact
    s"WITH f AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp FROM documents), " +
      "prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0 OR doc_id % 5 = 0), " +
      "s1 AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT n.doc_id, row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 <> 0) n " +
      "LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) WHERE rn = 1), " +
      // stage 2: near-dup (bands over store slice + stage-1 survivors)
      s"toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"shl AS (SELECT doc_id, $duckShingles AS s FROM (SELECT doc_id, t FROM toks)), " +
      s"sig AS MATERIALIZED (SELECT doc_id, $sigElems AS sg FROM shl), " +
      "dsh AS MATERIALIZED (SELECT doc_id, list_distinct(s) AS ds FROM shl), " +
      s"bands AS MATERIALIZED (SELECT g.doc_id, bb.band AS band, " +
      s"array_to_string(list_slice(g.sg, bb.band*$MINHASH_RPB + 1, bb.band*$MINHASH_RPB + $MINHASH_RPB), '|') AS bucket " +
      s"FROM sig g JOIN dsh h ON g.doc_id = h.doc_id CROSS JOIN (VALUES $bandRows) bb(band) " +
      "WHERE len(h.ds) > 0 AND (g.doc_id % 3 = 0 OR g.doc_id IN (SELECT doc_id FROM s1))), " +
      "cs2 AS (SELECT DISTINCT n.doc_id AS bid, st.doc_id AS sid FROM bands n " +
      "JOIN bands st ON n.band = st.band AND n.bucket = st.bucket " +
      "WHERE n.doc_id % 3 <> 0 AND st.doc_id % 3 = 0), " +
      "cb2 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
      "WHERE a.doc_id % 3 <> 0 AND b.doc_id % 3 <> 0), " +
      s"nd1 AS (SELECT DISTINCT bid FROM cs2 JOIN dsh x ON bid = x.doc_id JOIN dsh y ON sid = y.doc_id WHERE $jac >= 0.7), " +
      s"nd2 AS (SELECT DISTINCT id2 AS bid FROM cb2 JOIN dsh x ON id1 = x.doc_id JOIN dsh y ON id2 = y.doc_id WHERE $jac >= 0.7), " +
      "s2 AS MATERIALIZED (SELECT doc_id FROM s1 WHERE doc_id NOT IN " +
      "(SELECT bid FROM nd1 UNION SELECT bid FROM nd2)), " +
      // stage 3: exact-substring (stage-1 survivors vs stored windows)
      s"g3 AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, doc_id * 100000 + i - 1 AS occ, " +
      s"md5(array_to_string(list_slice(t, i, i + $L - 1), chr(1))) AS gh " +
      s"FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - $L + 1)) AS i FROM toks " +
      s"WHERE (doc_id % 3 = 0 OR doc_id IN (SELECT doc_id FROM s1)) AND len(t) >= $L)), " +
      "st3 AS MATERIALIZED (SELECT DISTINCT gh FROM g3 WHERE doc_id % 3 = 0), " +
      "bg3 AS MATERIALIZED (SELECT * FROM g3 WHERE doc_id % 3 <> 0), " +
      "cov3s AS (SELECT doc_id, pos FROM bg3 JOIN st3 USING (gh)), " +
      "d3 AS (SELECT gh, min(occ) AS first_occ FROM bg3 WHERE gh NOT IN (SELECT gh FROM st3) GROUP BY gh HAVING count(*) >= 2), " +
      "cov3b AS (SELECT doc_id, pos FROM bg3 JOIN d3 USING (gh) WHERE occ <> first_occ), " +
      s"cov3 AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + $L - 1)) AS tp " +
      "FROM (SELECT * FROM cov3s UNION ALL SELECT * FROM cov3b)), " +
      "covc AS (SELECT doc_id, count(*) AS nc FROM cov3 GROUP BY doc_id), " +
      "s3 AS MATERIALIZED (SELECT s1.doc_id, CAST(len(t) - coalesce(nc, 0) AS BIGINT) AS n_kept " +
      "FROM s1 JOIN toks USING (doc_id) " +
      "LEFT JOIN covc USING (doc_id) " +
      "WHERE len(t) > coalesce(nc, 0) AND s1.doc_id IN (SELECT doc_id FROM s2)), " +
      // stage 4: semantic (k-means trained on the store slice, frozen)
      kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
        src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)") +
      s", qb AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings " +
      "WHERE vec_id IN (SELECT doc_id FROM s3))" +
      s", ba AS MATERIALIZED (SELECT vec_id, c AS cell FROM (SELECT q.vec_id, c.c, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qb q CROSS JOIN $cPrev c) WHERE rn = 1)" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      ", bd AS MATERIALIZED (SELECT ba.vec_id, ba.cell, cd.ed FROM ba JOIN cd USING (vec_id))" +
      s", sd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      s", sm1 AS (SELECT DISTINCT b.vec_id FROM bd b JOIN sd s ON b.cell = s.cell WHERE ${cos("b.ed", "s.ed")} >= $SEMDEDUP_T)" +
      s", sm2 AS (SELECT DISTINCT y.vec_id FROM bd x JOIN bd y ON x.cell = y.cell AND x.vec_id < y.vec_id WHERE ${cos("x.ed", "y.ed")} >= $SEMDEDUP_T) " +
      "SELECT bd.vec_id AS doc_id, bd.cell, s3.n_kept FROM bd " +
      "JOIN s3 ON s3.doc_id = bd.vec_id WHERE bd.vec_id NOT IN " +
      "(SELECT vec_id FROM sm1 UNION SELECT vec_id FROM sm2)"
  }

  /** The composed ingestion with SOFT-DEDUP WEIGHTS (X224 — closing
    * the one store family absent from the quartet): the He et al.
    * 2024 alternative POLICY composition — exact dedup, substring
    * scrub, and semantic dedup stay HARD drops (verbatim/embedding
    * redundancy carries no training signal), but the near-dup stage
    * is replaced by the X213 DOWN-WEIGHTING pass: 0.7-Jaccard
    * clusters (spanning store ∪ stage-1 survivors, so an arriving
    * variant of a stored doc weights correctly) survive with
    * weight_bp = ⌊10⁴/size⌋ instead of dropping. Measured first
    * (PLANS.md r19): weighting AFTER the quartet's hard drop is
    * provably vacuous on this corpus — survivors carry no ≥0.7 pair
    * by construction and the generator's Jaccard is bimodal (25
    * pairs at ≥0.7, none in 0.15–0.7 at sf0.01) — so the non-trivial
    * composition is the policy swap, not an epilogue. Output = the
    * arriving docs' store-append records (doc_id, cell, n_kept) with
    * the weight columns riding; weights are global cluster stats, so
    * the weight store is snapshot-layout (the X216 convention). The
    * stage-1 survivor frame is localCheckpointed once — the weight
    * pass's pair mining, the substring coverage, and the semantic
    * probe each re-run the exact-dedup chain otherwise. */
  val ingestWeighted: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    // r22 note: the tokenBase/FromToks rewrite was MEASURED here and
    // reverted — s1 was ALREADY localCheckpointed (no double-executed
    // chain to remove), so the shared token table only added an eager
    // full-corpus materialization (paired A/B: 7.0-7.4s → 7.8-8.2s).
    val storeSlice = docs.filter(col("doc_id") % 3 === 0)
    val priorFps = docs
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    val s1 = Dedup.incrementalExactDedup(
      docs.filter(col("doc_id") % 3 =!= 0), priorFps, "text", "doc_id")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val weightsPlan = Dedup.softDedup(
      storeSlice.select(col("doc_id"), col("text")).unionByName(s1),
      "doc_id", "text", threshold = 0.7, shingleN = 3,
      bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    val grams = Dedup.substringStoreRecords(storeSlice, "doc_id", "text",
      L = SUBSTR_L)
    val s3Plan = Dedup.incrementalSubstringDedup(s1, grams, "doc_id", "text",
      L = SUBSTR_L)
      .filter(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("n_kept"))
    // one after the other: overlapping these two independent
    // checkpoints measured no faster (sf0.01, 6 paired runs)
    val weights = weightsPlan.localCheckpoint()
    val s3 = s3Plan.localCheckpoint()
    val embStore = emb.filter(col("vec_id") % 3 === 0)
    val cents = sharedSemStoreCents(s, d)
    val semStore = Similarity.semanticStoreRecords(
      embStore, "vec_id", "embedding", cents)
    val batchEmb = emb.join(s3.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    Similarity.incrementalSemanticDedup(batchEmb, semStore, cents,
      threshold = SEMDEDUP_T)
      .select(col("id").as("doc_id"), col("cell"))
      .join(s3, Seq("doc_id"))
      .join(weights.select(col("doc_id"), col("cluster_id"),
        col("cluster_size"), col("weight_bp"), col("keep")), Seq("doc_id"))
      .select(col("doc_id"), col("cell"), col("n_kept"),
        col("cluster_id"), col("cluster_size"), col("weight_bp"),
        col("keep"))
  }

  lazy val ingestWeightedSql: String = {
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    val L = SUBSTR_L
    // stage 1: exact (the quartet's CTE verbatim)
    s"WITH RECURSIVE f AS MATERIALIZED (SELECT doc_id, md5($duckNormText) AS fp FROM documents), " +
      "prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0 OR doc_id % 5 = 0), " +
      "s1 AS MATERIALIZED (SELECT doc_id FROM (" +
      "SELECT n.doc_id, row_number() OVER (PARTITION BY n.fp ORDER BY n.doc_id) AS rn " +
      "FROM (SELECT doc_id, fp FROM f WHERE doc_id % 3 <> 0) n " +
      "LEFT JOIN prior p ON n.fp = p.fp WHERE p.fp IS NULL) WHERE rn = 1), " +
      // soft stage: 0.7 clusters over store ∪ stage-1 survivors,
      // transitive closure + per-cluster count + md5 keep bucket
      "udocs AS MATERIALIZED (SELECT doc_id, text FROM documents " +
      "WHERE doc_id % 3 = 0 OR doc_id IN (SELECT doc_id FROM s1)), " +
      s"spairs AS MATERIALIZED (SELECT id1, id2 FROM (${minhashPairsSqlFrom("udocs")})), " +
      "sedges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM spairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM spairs), " +
      "sreach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM sedges) " +
      "UNION SELECT e.a, r.b FROM sedges e JOIN sreach r ON e.b = r.a), " +
      "scomp AS (SELECT a AS id, min(b) AS cluster_id FROM sreach GROUP BY a), " +
      "ssz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize FROM scomp GROUP BY 1), " +
      "slbl AS MATERIALIZED (SELECT scomp.id, scomp.cluster_id, ssz.csize FROM scomp JOIN ssz USING (cluster_id)), " +
      // substring stage over the stage-1 survivors (no hard near-dup
      // gate in this policy, so s3 gates on s1 alone)
      s"toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"g3 AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, doc_id * 100000 + i - 1 AS occ, " +
      s"md5(array_to_string(list_slice(t, i, i + $L - 1), chr(1))) AS gh " +
      s"FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - $L + 1)) AS i FROM toks " +
      s"WHERE (doc_id % 3 = 0 OR doc_id IN (SELECT doc_id FROM s1)) AND len(t) >= $L)), " +
      "st3 AS MATERIALIZED (SELECT DISTINCT gh FROM g3 WHERE doc_id % 3 = 0), " +
      "bg3 AS MATERIALIZED (SELECT * FROM g3 WHERE doc_id % 3 <> 0), " +
      "cov3s AS (SELECT doc_id, pos FROM bg3 JOIN st3 USING (gh)), " +
      "d3 AS (SELECT gh, min(occ) AS first_occ FROM bg3 WHERE gh NOT IN (SELECT gh FROM st3) GROUP BY gh HAVING count(*) >= 2), " +
      "cov3b AS (SELECT doc_id, pos FROM bg3 JOIN d3 USING (gh) WHERE occ <> first_occ), " +
      s"cov3 AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + $L - 1)) AS tp " +
      "FROM (SELECT * FROM cov3s UNION ALL SELECT * FROM cov3b)), " +
      "covc AS (SELECT doc_id, count(*) AS nc FROM cov3 GROUP BY doc_id), " +
      "s3 AS MATERIALIZED (SELECT s1.doc_id, CAST(len(t) - coalesce(nc, 0) AS BIGINT) AS n_kept " +
      "FROM s1 JOIN toks USING (doc_id) " +
      "LEFT JOIN covc USING (doc_id) " +
      "WHERE len(t) > coalesce(nc, 0)), " +
      // semantic stage (the quartet's CTEs, gated on s3)
      kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
        src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)") +
      s", qb AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings " +
      "WHERE vec_id IN (SELECT doc_id FROM s3))" +
      s", ba AS MATERIALIZED (SELECT vec_id, c AS cell FROM (SELECT q.vec_id, c.c, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qb q CROSS JOIN $cPrev c) WHERE rn = 1)" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      ", bd AS MATERIALIZED (SELECT ba.vec_id, ba.cell, cd.ed FROM ba JOIN cd USING (vec_id))" +
      s", sd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      s", sm1 AS (SELECT DISTINCT b.vec_id FROM bd b JOIN sd s ON b.cell = s.cell WHERE ${cos("b.ed", "s.ed")} >= $SEMDEDUP_T)" +
      s", sm2 AS (SELECT DISTINCT y.vec_id FROM bd x JOIN bd y ON x.cell = y.cell AND x.vec_id < y.vec_id WHERE ${cos("x.ed", "y.ed")} >= $SEMDEDUP_T) " +
      "SELECT bd.vec_id AS doc_id, bd.cell, s3.n_kept, " +
      "coalesce(l.cluster_id, bd.vec_id) AS cluster_id, " +
      "coalesce(l.csize, 1) AS cluster_size, " +
      "10000 // coalesce(l.csize, 1) AS weight_bp, " +
      "CAST('0x' || substr(md5('soft:' || CAST(bd.vec_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 " +
      "< (10000 // coalesce(l.csize, 1)) AS keep " +
      "FROM bd JOIN s3 ON s3.doc_id = bd.vec_id " +
      "LEFT JOIN slbl l ON l.id = bd.vec_id " +
      "WHERE bd.vec_id NOT IN (SELECT vec_id FROM sm1 UNION SELECT vec_id FROM sm2)"
  }

  val simhashPairs: Q = (s, d) =>
    Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", maxDist = 3)

  val simhashPairsSql: String = {
    // same 60-bit md5-derived simhash, generated for DuckDB
    val h = "CAST(CAST('0x' || substr(md5('sh:' || tk), 1, 15) AS UBIGINT) AS BIGINT)"
    val sig =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 59), b -> " +
        s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a | b)"
    val bandRows = (0 until 4).map(q => s"($q)").mkString(",")
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"hsh AS (SELECT doc_id, list_transform(t, tk -> $h) AS hs FROM toks), " +
      s"sg AS (SELECT doc_id, $sig AS sig FROM hsh), " +
      s"bands AS (SELECT doc_id, sig, bb.band AS band, (sig >> (bb.band*15)) & 32767 AS bucket FROM sg, (VALUES $bandRows) bb(band)), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, " +
      "bit_count(xor(a.sig, b.sig)) AS hamming FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id) " +
      "SELECT id1, id2, CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= 3"
  }

}
