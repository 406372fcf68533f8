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

/** Text-analysis gates: language ID, quality rules, stats, normalization, surprisal, tokenization.
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
trait ExtTextGates { this: ExtAllGates =>

  type Q = (SparkSession, String) => DataFrame
  // -------------------- text analysis --------------------

  /** Spread per-row-heavy text compute across all cores (single-file
    * inputs arrive as one scan split) — scale-adaptive: wide inputs
    * skip the exchange (see [[graft.core.Tables.spreadIfNarrow]]). */
  private[queries] def spread(df: DataFrame): DataFrame =
    graft.core.Tables.spreadIfNarrow(df)

  val textStats: Q = (s, d) =>
    spread(Tables.documents(s, d)).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishTokenCount(col("text")).as("n_bpeish"),
      punctRatio(col("text")).as("punct_ratio"),
      stopwordRatio(col("text"), "en").as("stop_ratio_en"),
      qualityScore(col("text")).as("quality"))

  private[queries] val duckToks =
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
  private[queries] val duckToksLower =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"

  private[queries] def duckStopHits(lang: String): String = {
    val words = TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(",")
    s"len(list_filter($duckToksLower, t -> t IN ($words)))"
  }

  val textStatsSql: String = {
    val nt = s"len($duckToks)"
    val nb = "len(regexp_extract_all(text, '[[:alpha:]]+|[[:digit:]]+|[^[:alpha:][:digit:][:space:]]'))"
    val pr = s"CASE WHEN length(text) > 0 THEN round(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)/length(text), 6) ELSE 0.0 END"
    val sr = s"CASE WHEN $nt > 0 THEN round(CAST(${duckStopHits("en")} AS DOUBLE)/$nt, 6) ELSE 0.0 END"
    val q = s"round(least(CAST($nt AS DOUBLE)/50.0, 1.0)*0.4 + (1.0 - $pr)*0.3 + least($sr*2.0, 1.0)*0.3, 6)"
    s"SELECT doc_id, $nt AS n_tokens, $nb AS n_bpeish, $pr AS punct_ratio, $sr AS stop_ratio_en, $q AS quality FROM documents"
  }

  /** Gopher-style quality rules (Rae et al. 2021 repetition/shape
    * signals): mean word length, within-document duplicate-3-gram
    * fraction, and a composite keep flag. All codegen'd column ops —
    * mean word length avoids a per-token HOF fold by summing token
    * lengths as `length(array_join(tokens, ''))`. */
  /** The three per-row Gopher metric columns — shared by
    * [[qualityRules]] and [[curateFull]]'s inline keep filter so the
    * two never drift. */
  private[queries] def gopherMetrics(df: DataFrame): (Column, Column, Column) = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val meanLen = round(length(array_join(toks, "")).cast("double") /
      greatest(nTok, lit(1)), 6)
    val sh = Dedup.shinglesAuto(df, "text", 3)
    val dupFrac = round(
      when(size(sh) > 0,
        lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
        .otherwise(0.0), 6)
    (nTok, meanLen, dupFrac)
  }

  /** Gopher keep as a pure per-row PREDICATE: the curation pipeline
    * filters with this directly instead of semi-joining against the
    * materialized [[qualityRules]] frame — per-row rules never need a
    * join. */
  private[queries] def gopherKeep(df: DataFrame): Column = {
    val (nTok, meanLen, dupFrac) = gopherMetrics(df)
    nTok >= 5 && meanLen >= 3.0 && meanLen <= 10.0 && dupFrac < 0.3
  }

  val qualityRules: Q = (s, d) => {
    val docs = spread(Tables.documents(s, d))
    val (nTok, meanLen, dupFrac) = gopherMetrics(docs)
    docs.select(col("doc_id"), nTok.as("n_tokens"),
        meanLen.as("mean_word_len"), dupFrac.as("dup_3gram_frac"))
      .withColumn("keep",
        col("n_tokens") >= 5 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("dup_3gram_frac") < 0.3)
  }

  // Shared CTE chain (t, sh, m): per-doc Gopher quality metrics. Both
  // qualityRulesSql and curateSql concatenate THIS constant — deriving
  // one from the other's finished string (regex surgery) breaks
  // silently on any rewording. lazy: references duckShingles below.
  private[queries] lazy val duckQualityBody: String =
    s"t AS (SELECT doc_id, $duckToksLower AS t, $duckToks AS tk FROM documents), " +
      s"sh AS (SELECT doc_id, tk, $duckShingles AS s FROM t), " +
      "m AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens, " +
      "round(CAST(length(array_to_string(tk, '')) AS DOUBLE)/greatest(len(tk), 1), 6) AS mean_word_len, " +
      "round(CASE WHEN len(s) > 0 THEN 1.0 - CAST(len(list_distinct(s)) AS DOUBLE)/len(s) ELSE 0.0 END, 6) AS dup_3gram_frac " +
      "FROM sh)"

  val qualityRulesSql: String =
    s"WITH $duckQualityBody " +
      "SELECT doc_id, n_tokens, mean_word_len, dup_3gram_frac, " +
      "(n_tokens >= 5 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND dup_3gram_frac < 0.3) AS keep FROM m"

  /** The shared DQ row-check set for X165's two gates: one passing,
    * one partially failing, one script gate — declaration order is the
    * reasons order both engines must agree on. */
  private[queries] def dqRowChecks = Seq(
    "text_nonempty" -> (col("text").isNotNull && length(col("text")) > 0),
    "min_chars_100" -> (col("n_chars") >= 100),
    "latin_script" -> (col("lang") =!= "zh"))

  /** Data-quality constraint suite (X165): the dataset-level verdict a
    * Deequ-style expectations gate publishes per snapshot — row
    * checks + completeness fold into ONE aggregation pass (the corpus
    * is read once no matter how many constraints ride), each
    * uniqueness key adds one short-key partial-agg shuffle. Exact
    * integral basis points; the suite deliberately mixes passing and
    * failing constraints (source is NOT unique, short docs exist). */
  val dqSuite: Q = (s, d) =>
    graft.operators.ScaleOps.dqSuite(Tables.documents(s, d),
      rowChecks = dqRowChecks :+
        ("n_chars_consistent" -> (col("n_chars") === length(col("text")))),
      completeness = Seq("text", "lang", "source"),
      uniqueness = Seq(Seq("doc_id"), Seq("source")))

  val dqSuiteSql: String = {
    def checkRow(label: String, pred: String) =
      s"SELECT '$label' AS \"constraint\", " +
        s"CAST(sum(CASE WHEN NOT coalesce($pred, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad " +
        "FROM documents"
    val checks = Seq(
      checkRow("check:text_nonempty", "text IS NOT NULL AND length(text) > 0"),
      checkRow("check:min_chars_100", "n_chars >= 100"),
      checkRow("check:latin_script", "lang <> 'zh'"),
      checkRow("check:n_chars_consistent", "n_chars = length(text)"),
      checkRow("complete:text", "text IS NOT NULL"),
      checkRow("complete:lang", "lang IS NOT NULL"),
      checkRow("complete:source", "source IS NOT NULL"))
    // GROUP BY subquery, NOT count(DISTINCT ...): DuckDB's DISTINCT
    // excludes NULL keys, but Spark's dqSuite groupBy counts the NULL
    // group as one distinct key (dedup semantics) — the shapes must
    // agree the moment a NULL key appears
    def uniqRow(key: String) =
      s"SELECT 'unique:$key' AS \"constraint\", " +
        s"CAST((SELECT count(*) FROM documents) - " +
        s"(SELECT count(*) FROM (SELECT 1 FROM documents GROUP BY $key)) AS BIGINT) AS n_bad"
    s"WITH t AS (SELECT count(*) AS total FROM documents), " +
      s"rows_and_comp AS (${checks.mkString(" UNION ALL ")}), " +
      s"uniq AS (${Seq(uniqRow("doc_id"), uniqRow("source")).mkString(" UNION ALL ")}), " +
      "u AS (SELECT * FROM rows_and_comp UNION ALL SELECT * FROM uniq) " +
      "SELECT \"constraint\", n_bad, " +
      "CAST(CASE WHEN t.total > 0 THEN (t.total - n_bad) * 10000 // t.total ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u CROSS JOIN t"
  }

  /** Per-group DQ suite (X178): the q_dq_suite constraint set keyed
    * by source — one verdict row per (source, constraint), so a
    * failing tenant cannot hide inside a passing corpus aggregate.
    * Uniqueness is doc_id WITHIN source. */
  val dqByGroup: Q = (s, d) =>
    graft.operators.ScaleOps.dqSuiteByGroup(Tables.documents(s, d),
      "source",
      rowChecks = dqRowChecks :+
        ("n_chars_consistent" -> (col("n_chars") === length(col("text")))),
      completeness = Seq("text", "lang"),
      uniqueness = Seq(Seq("doc_id")))

  val dqByGroupSql: String = {
    def checkExpr(label: String, pred: String) =
      (label, s"CAST(coalesce(sum(CASE WHEN NOT coalesce($pred, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT)")
    val checks = Seq(
      checkExpr("check:text_nonempty", "text IS NOT NULL AND length(text) > 0"),
      checkExpr("check:min_chars_100", "n_chars >= 100"),
      checkExpr("check:latin_script", "lang <> 'zh'"),
      checkExpr("check:n_chars_consistent", "n_chars = length(text)"),
      checkExpr("complete:text", "text IS NOT NULL"),
      checkExpr("complete:lang", "lang IS NOT NULL"))
    val aggCols = checks.zipWithIndex
      .map { case ((_, e), i) => s"$e AS c$i" }.mkString(", ")
    val rows = checks.zipWithIndex.map { case ((label, _), i) =>
      s"SELECT source, '$label' AS \"constraint\", c$i AS n_bad, total FROM t"
    }
    s"WITH t AS (SELECT source, count(*) AS total, $aggCols " +
      "FROM documents GROUP BY source), " +
      "uq AS (SELECT source, CAST(count(*) AS BIGINT) AS d, " +
      "CAST(sum(n) AS BIGINT) AS total, CAST(sum(n - 1) AS BIGINT) AS n_bad " +
      "FROM (SELECT source, doc_id, count(*) AS n FROM documents GROUP BY source, doc_id) " +
      "GROUP BY source), " +
      s"u AS ((${rows.mkString(") UNION ALL (")})) " +
      "SELECT source, \"constraint\", n_bad, " +
      "CAST(CASE WHEN total > 0 THEN (total - n_bad) * 10000 // total ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u " +
      "UNION ALL SELECT source, 'unique:doc_id' AS \"constraint\", n_bad, " +
      "CAST(CASE WHEN total > 0 THEN d * 10000 // total ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM uq"
  }

  /** Per-group DQ drift (X179): X178 × X168 — three ingest slices
    * (doc_id % 3) produce a per-(source, constraint) verdict history
    * via [[graft.operators.ScaleOps.dqSuiteByGroup]], then
    * [[graft.operators.ScaleOps.dqGroupDrift]] folds every
    * (source, constraint) series against its trailing-2-batch integer
    * mean, anomaly beyond 50 bp — the monitor that catches a drifting
    * tenant the corpus-level X168 report averages away. */
  val dqGroupDriftQ: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val history = Seq(0L, 1L, 2L).map { b =>
      graft.operators.ScaleOps.dqSuiteByGroup(
        docs.filter(col("doc_id") % 3 === b), "source",
        rowChecks = dqRowChecks,
        completeness = Seq("lang"))
        .withColumn("batch", lit(b))
    }.reduce(_ unionByName _)
    graft.operators.ScaleOps.dqGroupDrift(history, "source",
      windowBatches = 2, thresholdBp = 50)
  }

  val dqGroupDriftSql: String = {
    def checkExpr(label: String, pred: String) =
      (label, s"CAST(coalesce(sum(CASE WHEN NOT coalesce($pred, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT)")
    val checks = Seq(
      checkExpr("check:text_nonempty", "text IS NOT NULL AND length(text) > 0"),
      checkExpr("check:min_chars_100", "n_chars >= 100"),
      checkExpr("check:latin_script", "lang <> 'zh'"),
      checkExpr("complete:lang", "lang IS NOT NULL"))
    val aggCols = checks.zipWithIndex
      .map { case ((_, e), i) => s"$e AS c$i" }.mkString(", ")
    val rows = checks.zipWithIndex.map { case ((label, _), i) =>
      s"SELECT source, '$label' AS \"constraint\", batch, c$i AS n_bad, total FROM t"
    }
    s"WITH t AS MATERIALIZED (SELECT doc_id % 3 AS batch, source, count(*) AS total, $aggCols " +
      "FROM documents GROUP BY doc_id % 3, source), " +
      s"u AS ((${rows.mkString(") UNION ALL (")})), " +
      "v AS (SELECT source, \"constraint\", CAST(batch AS BIGINT) AS batch, n_bad, " +
      "CAST(CASE WHEN total > 0 THEN (total - n_bad) * 10000 // total ELSE 10000 END AS BIGINT) AS value_bp FROM u), " +
      "dr AS (SELECT source, \"constraint\", batch, n_bad, value_bp, " +
      "CAST(count(*) OVER w AS BIGINT) AS n_trail, " +
      "CAST(sum(value_bp) OVER w AS BIGINT) AS ts FROM v " +
      "WINDOW w AS (PARTITION BY source, \"constraint\" ORDER BY batch ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)) " +
      "SELECT source, \"constraint\", batch, n_bad, value_bp, n_trail, " +
      "CASE WHEN n_trail > 0 THEN ts // n_trail END AS trail_mean_bp, " +
      "CASE WHEN n_trail > 0 THEN value_bp - ts // n_trail END AS delta_bp, " +
      "coalesce(abs(CASE WHEN n_trail > 0 THEN value_bp - ts // n_trail END) > 50, FALSE) AS anomaly " +
      "FROM dr"
  }

  /** Functional-dependency DQ (X183): two declared dependencies over
    * documents — doc_id → source (unique key, holds) and
    * source → lang (a source emits many languages, fails with a
    * measured repair cost) — so the gate exercises both verdicts. */
  val dqFd: Q = (s, d) =>
    graft.operators.ScaleOps.dqFunctionalDependency(
      Tables.documents(s, d), Seq("doc_id"), Seq("source"), "doc_id->source")
      .unionByName(graft.operators.ScaleOps.dqFunctionalDependency(
        Tables.documents(s, d), Seq("source"), Seq("lang"), "source->lang"))

  val dqFdSql: String = {
    def fd(lhs: String, rhs: String, name: String): String =
      s"SELECT 'fd_rows:$name' AS \"constraint\", total AS n_rows, bad_rows AS n_bad " +
        s"FROM st_$name UNION ALL " +
        s"SELECT 'fd_groups:$name' AS \"constraint\", n_groups AS n_rows, bad_groups AS n_bad " +
        s"FROM st_$name"
    def stats(lhs: String, rhs: String, name: String): String =
      s"c_$name AS (SELECT coalesce(CAST($lhs AS VARCHAR), chr(0)) AS l, " +
        s"coalesce(CAST($rhs AS VARCHAR), chr(0)) AS r, count(*) AS c " +
        s"FROM documents GROUP BY 1, 2), " +
        s"g_$name AS (SELECT l, CAST(sum(c) AS BIGINT) AS rows_, " +
        s"CAST(max(c) AS BIGINT) AS maj, count(*) AS d FROM c_$name GROUP BY l), " +
        s"st_$name AS (SELECT CAST(coalesce(sum(rows_), 0) AS BIGINT) AS total, " +
        s"CAST(coalesce(sum(rows_ - maj), 0) AS BIGINT) AS bad_rows, " +
        s"CAST(count(*) AS BIGINT) AS n_groups, " +
        s"CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_groups " +
        s"FROM g_$name)"
    s"WITH ${stats("doc_id", "source", "ds")}, ${stats("source", "lang", "sl")}, " +
      s"u AS (${fd("doc_id", "source", "ds")} UNION ALL ${fd("source", "lang", "sl")}) " +
      "SELECT replace(replace(\"constraint\", ':ds', ':doc_id->source'), ':sl', ':source->lang') AS \"constraint\", " +
      "n_rows, n_bad, " +
      "CAST(CASE WHEN n_rows > 0 THEN (n_rows - n_bad) * 10000 // n_rows ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u"
  }

  /** TTL (freshness-aware) exact dedup (X189): events deduped on
    * their props payload with a 1-day freshness window — repeats of
    * the same payload within a day drop, a re-observation after the
    * window is a legitimate fresh row. The synthetic props values
    * collide heavily across the time range, so real session chains
    * form; the oracle replays the gap rule per fingerprint. */
  val ttlDedup: Q = (s, d) =>
    Dedup.ttlExactDedup(Tables.events(s, d), "props", "event_id", "ts",
      ttlSeconds = 86400L)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))

  val ttlDedupSql: String = {
    val norm = "array_to_string(list_filter(regexp_split_to_array(" +
      "lower(props), '\\s+'), x -> x <> ''), ' ')"
    s"WITH f AS (SELECT event_id, user_id, event_type, value, props, " +
      s"md5($norm) AS fp, epoch_us(ts) AS t FROM events), " +
      "g AS (SELECT *, lag(t) OVER (PARTITION BY fp ORDER BY t, event_id) AS pt FROM f) " +
      "SELECT event_id, user_id, event_type, value, props FROM g " +
      "WHERE pt IS NULL OR t - pt > 86400000000"
  }

  /** Streaming TTL dedup (X203): the q_ttl_dedup freshness rule run
    * through the real foreachBatch composition with a TIME-split
    * store hand-off — events before 2024-01-15 bootstrap the
    * (fp, last_ts) observation store under batch=-1, the rest streams
    * to AvailableNow completion and sessions against the STORED last
    * observations (a time split, not an id split, because the
    * monotone-chain contract fails loud on out-of-order arrival).
    * Single-file source → one micro-batch; the cross-batch
    * expiry-readmission and observation-advance laws are pinned by
    * StreamingSpec with an explicit two-run checkpoint chain. The
    * oracle replays the seeded gap rule: per-fp max prior observation
    * + coalesce(lag, prior) over the late slice. */
  private[queries] val TTL_SPLIT_MICROS = 1705276800000000L // 2024-01-15T00:00:00Z

  val streamTtlDedup: Q = (s, d) => withStreamShuffle(s, 8) {
    val ckpt = streamCkptDir("graft-ckpt-sttl")
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-ttlstore").toString
    val early = Tables.events(s, d)
      .filter(unix_micros(col("ts")) < TTL_SPLIT_MICROS)
    Store.write(Dedup.ttlStoreRecords(early, "props", "ts"), storeDir, -1)
    val src = EventsStreaming.readDriverEventsStream(s, s"$d/events.parque[t]")
      .filter(unix_micros(col("ts")) >= TTL_SPLIT_MICROS)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Double, String)]()
    runToCompletion(EventsStreaming.streamingTtlDedup(src, storeDir,
      "props", "event_id", "ts", ttlSeconds = 86400L) { (sv, _) =>
      buf ++= sv.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3), r.getString(4)))
    }, ckpt, ckpt, storeDir)
    import s.implicits._
    buf.toSeq.toDF("event_id", "user_id", "event_type", "value", "props")
  }

  val streamTtlDedupSql: String = {
    val norm = "array_to_string(list_filter(regexp_split_to_array(" +
      "lower(props), '\\s+'), x -> x <> ''), ' ')"
    s"WITH f AS (SELECT event_id, user_id, event_type, value, props, " +
      s"md5($norm) AS fp, epoch_us(ts) AS t FROM events), " +
      s"prior AS (SELECT fp, max(t) AS st FROM f WHERE t < $TTL_SPLIT_MICROS GROUP BY fp), " +
      s"l AS (SELECT f.*, prior.st FROM f LEFT JOIN prior USING (fp) WHERE f.t >= $TTL_SPLIT_MICROS), " +
      "g AS (SELECT *, coalesce(lag(t) OVER (PARTITION BY fp ORDER BY t, event_id), st) AS pt FROM l) " +
      "SELECT event_id, user_id, event_type, value, props FROM g " +
      "WHERE pt IS NULL OR t - pt > 86400000000"
  }

  /** Per-group distribution drift (X194): three ingest slices
    * (doc_id % 3) produce per-(source, batch) histogram partials on
    * n_chars; the keyed TV fold flags tenants whose value
    * distribution moved vs their own trailing histograms — the
    * monitor the corpus-level X191 fold averages away. */
  val distDriftGroup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val store = Seq(0L, 1L, 2L).map { b =>
      graft.operators.ScaleOps.binnedCountsByGroup(
        docs.filter(col("doc_id") % 3 === b), "source", "n_chars", 50L)
        .withColumn("batch", lit(b))
    }.reduce(_ unionByName _)
    graft.operators.ScaleOps.histogramStoreDriftByGroup(
      store, "source", windowBatches = 2, thresholdBp = 100L)
  }

  val distDriftGroupSql: String =
    "WITH h AS MATERIALIZED (SELECT doc_id % 3 AS b, source, " +
      "(v - ((v % 50) + 50) % 50) // 50 AS bin, CAST(count(*) AS BIGINT) AS n " +
      "FROM (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents) GROUP BY 1, 2, 3), " +
      "gb AS (SELECT DISTINCT source, b FROM h), " +
      "pairs AS (SELECT gb.source, gb.b, hb.b AS hb FROM gb " +
      "JOIN (SELECT DISTINCT source, b FROM h) hb " +
      "ON hb.source = gb.source AND hb.b BETWEEN gb.b - 2 AND gb.b - 1), " +
      "trail AS (SELECT source, b, CAST(count(*) AS BIGINT) AS n_trail FROM pairs GROUP BY source, b), " +
      "ref AS (SELECT p.source, p.b, h.bin, CAST(sum(h.n) AS BIGINT) AS cb " +
      "FROM pairs p JOIN h ON h.source = p.source AND h.b = p.hb GROUP BY p.source, p.b, h.bin), " +
      "m AS MATERIALIZED (SELECT source, b, bin, CAST(sum(ca) AS HUGEINT) AS ca, CAST(sum(cb) AS HUGEINT) AS cb " +
      "FROM (SELECT source, b, bin, n AS ca, 0 AS cb FROM h " +
      "UNION ALL SELECT source, b, bin, 0 AS ca, cb FROM ref) GROUP BY source, b, bin), " +
      "t AS MATERIALIZED (SELECT source, b, CAST(sum(ca) AS HUGEINT) AS na, CAST(sum(cb) AS HUGEINT) AS nb, " +
      "count(*) AS nbins FROM m GROUP BY source, b), " +
      "nm AS (SELECT m.source, m.b, CAST(sum(abs(m.ca * t.nb - m.cb * t.na)) AS HUGEINT) AS num " +
      "FROM m JOIN t ON m.source = t.source AND m.b = t.b GROUP BY m.source, m.b), " +
      "r AS (SELECT t.source, t.b AS batch, CAST(t.nbins AS BIGINT) AS n_bins, " +
      "CAST(t.na AS BIGINT) AS n_cur, CAST(t.nb AS BIGINT) AS n_ref, " +
      "CAST(coalesce(trail.n_trail, 0) AS BIGINT) AS n_trail, " +
      "CAST(CASE WHEN coalesce(trail.n_trail, 0) = 0 THEN NULL " +
      "WHEN t.na = 0 AND t.nb = 0 THEN 0 WHEN t.na = 0 OR t.nb = 0 THEN 10000 " +
      "ELSE nm.num * 10000 // (2 * t.na * t.nb) END AS BIGINT) AS tv_bp " +
      "FROM t JOIN nm ON t.source = nm.source AND t.b = nm.b " +
      "LEFT JOIN trail ON t.source = trail.source AND t.b = trail.b) " +
      "SELECT source, batch, n_bins, n_cur, n_ref, n_trail, tv_bp, " +
      "coalesce(tv_bp > 100, FALSE) AS anomaly FROM r"

  /** Embedding-column DQ (X188): the vector check set through the
    * standard suite — dims/finite/nonzero rowChecks + a completeness
    * row + vec_id uniqueness, one aggregation pass over the
    * embeddings table. */
  val dqEmbed: Q = (s, d) =>
    graft.operators.ScaleOps.dqSuite(Tables.embeddings(s, d),
      rowChecks = graft.operators.ScaleOps.embeddingChecks(
        "embedding", EMB_DIMS),
      completeness = Seq("embedding"),
      uniqueness = Seq(Seq("vec_id")))

  lazy val dqEmbedSql: String = {
    def checkRow(label: String, pred: String) =
      s"SELECT '$label' AS \"constraint\", " +
        s"CAST(coalesce(sum(CASE WHEN NOT coalesce($pred, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad " +
        "FROM embeddings"
    val checks = Seq(
      checkRow(s"check:embedding_dims_$EMB_DIMS", s"len(embedding) = $EMB_DIMS"),
      checkRow("check:embedding_finite",
        "len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0"),
      checkRow("check:embedding_nonzero",
        "len(list_filter(embedding, x -> x <> 0)) > 0"),
      checkRow("complete:embedding", "embedding IS NOT NULL"))
    def uniqRow(key: String) =
      s"SELECT 'unique:$key' AS \"constraint\", " +
        s"CAST((SELECT count(*) FROM embeddings) - " +
        s"(SELECT count(*) FROM (SELECT 1 FROM embeddings GROUP BY $key)) AS BIGINT) AS n_bad"
    s"WITH t AS (SELECT count(*) AS total FROM embeddings), " +
      s"u AS ((${checks.mkString(") UNION ALL (")}) UNION ALL (${uniqRow("vec_id")})) " +
      "SELECT \"constraint\", n_bad, " +
      "CAST(CASE WHEN t.total > 0 THEN (t.total - n_bad) * 10000 // t.total ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u CROSS JOIN t"
  }

  /** Distribution-drift DQ (X187): two declared comparisons — the
    * doc_id%3==0 ingest slice vs the rest on n_chars (same generator,
    * expect a small TV), and error-events vs purchase-events on value
    * (different populations). Thresholds at 100 bp; all verdicts are
    * exact integer facts either way. */
  val distDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ev = Tables.events(s, d)
    graft.operators.ScaleOps.histogramDrift(
      docs.filter(col("doc_id") % 3 === 0), docs.filter(col("doc_id") % 3 =!= 0),
      "n_chars", binWidth = 50L, thresholdBp = 100L, "n_chars_slice")
      .unionByName(graft.operators.ScaleOps.histogramDrift(
        ev.filter(col("event_type") === "error"),
        ev.filter(col("event_type") === "purchase"),
        "value", binWidth = 25L, thresholdBp = 100L, "value_error_vs_purchase"))
  }

  val distDriftSql: String = {
    // Spark's double->long cast TRUNCATES; DuckDB's rounds — trunc()
    // keeps the engines bit-identical on the events value column
    def block(src: String, aWhere: String, bWhere: String, vExpr: String,
        w: Long, name: String): String =
      s"SELECT 'dist_drift:$name' AS \"constraint\", " +
        "CAST(t.nbins AS BIGINT) AS n_bins, CAST(t.na AS BIGINT) AS n_a, " +
        "CAST(t.nb AS BIGINT) AS n_b, " +
        "CAST(CASE WHEN t.na = 0 AND t.nb = 0 THEN 0 " +
        "WHEN t.na = 0 OR t.nb = 0 THEN 10000 " +
        s"ELSE n.num * 10000 // (2 * t.na * t.nb) END AS BIGINT) AS tv_bp " +
        "FROM (SELECT CAST(coalesce(sum(ca), 0) AS HUGEINT) AS na, " +
        "CAST(coalesce(sum(cb), 0) AS HUGEINT) AS nb, count(*) AS nbins " +
        s"FROM j_$name) t CROSS JOIN " +
        "(SELECT CAST(coalesce(sum(abs(CAST(j.ca AS HUGEINT) * t2.nb - CAST(j.cb AS HUGEINT) * t2.na)), 0) AS HUGEINT) AS num " +
        s"FROM j_$name j CROSS JOIN (SELECT CAST(coalesce(sum(ca), 0) AS HUGEINT) AS na, " +
        s"CAST(coalesce(sum(cb), 0) AS HUGEINT) AS nb FROM j_$name) t2) n"
    def binCte(src: String, aWhere: String, bWhere: String, vExpr: String,
        w: Long, name: String): String =
      s"ha_$name AS (SELECT bin, count(*) AS ca FROM (SELECT CASE WHEN v IS NULL " +
        s"THEN ${Long.MinValue} ELSE (v - ((v % $w) + $w) % $w) // $w END AS bin " +
        s"FROM (SELECT $vExpr AS v FROM $src WHERE $aWhere)) GROUP BY bin), " +
        s"hb_$name AS (SELECT bin, count(*) AS cb FROM (SELECT CASE WHEN v IS NULL " +
        s"THEN ${Long.MinValue} ELSE (v - ((v % $w) + $w) % $w) // $w END AS bin " +
        s"FROM (SELECT $vExpr AS v FROM $src WHERE $bWhere)) GROUP BY bin), " +
        s"j_$name AS MATERIALIZED (SELECT coalesce(ha_$name.bin, hb_$name.bin) AS bin, " +
        s"coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb FROM ha_$name " +
        s"FULL OUTER JOIN hb_$name ON ha_$name.bin = hb_$name.bin)"
    s"WITH ${binCte("documents", "doc_id % 3 = 0", "doc_id % 3 <> 0",
        "CAST(n_chars AS BIGINT)", 50L, "nc")}, " +
      s"${binCte("events", "event_type = 'error'", "event_type = 'purchase'",
        "CAST(trunc(value) AS BIGINT)", 25L, "ev")}, " +
      s"u AS ((${block("documents", "", "", "", 50L, "nc")}) UNION ALL " +
      s"(${block("events", "", "", "", 25L, "ev")})) " +
      "SELECT CASE \"constraint\" WHEN 'dist_drift:nc' THEN 'dist_drift:n_chars_slice' " +
      "ELSE 'dist_drift:value_error_vs_purchase' END AS \"constraint\", " +
      "n_bins, n_a, n_b, tv_bp, tv_bp > 100 AS drifted FROM u"
  }

  /** Monotonicity DQ (X185): two declared orderings over events, per
    * user in event_id order — ts never runs backwards (holds: the
    * generator assigns ids in time order) and value never decreases
    * (fails with a measured inversion count), so the gate exercises
    * both verdicts. */
  val dqOrder: Q = (s, d) => {
    val ev = Tables.events(s, d)
    graft.operators.ScaleOps.dqMonotonic(
      ev, Seq("user_id"), "event_id", "ts", "ts_by_event_id")
      .unionByName(graft.operators.ScaleOps.dqMonotonic(
        ev, Seq("user_id"), "event_id", "value", "value_by_event_id"))
  }

  val dqOrderSql: String = {
    // the predecessor indicator is lag(event_id), NOT lag(value):
    // a predecessor whose VALUE is NULL still makes this row
    // comparable (and failing, per the NULL-fails rule)
    def mono(valCol: String, name: String): String =
      s"SELECT 'monotonic:$name' AS \"constraint\", " +
        "CAST(coalesce(sum(CASE WHEN ps IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rows, " +
        s"CAST(coalesce(sum(CASE WHEN ps IS NOT NULL AND NOT coalesce($valCol >= pv, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad " +
        s"FROM (SELECT $valCol, lag($valCol) OVER " +
        s"(PARTITION BY user_id ORDER BY event_id) AS pv, " +
        "lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS ps " +
        "FROM events)"
    s"WITH u AS ((${mono("ts", "ts_by_event_id")}) UNION ALL " +
      s"(${mono("value", "value_by_event_id")})) " +
      "SELECT \"constraint\", n_rows, n_bad, " +
      "CAST(CASE WHEN n_rows > 0 THEN (n_rows - n_bad) * 10000 // n_rows ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u"
  }

  /** Referential-integrity DQ (X182): three declared relations across
    * the star schema + the multimodal pair — lineitem→orders,
    * orders→customer, embeddings→documents — each publishing its
    * orphan and coverage verdicts in the dqSuite layout. */
  val dqRef: Q = (s, d) => {
    def rel(c: DataFrame, p: DataFrame, ck: String, pk: String,
        name: String) =
      graft.operators.ScaleOps.dqReferentialIntegrity(
        c, p, Seq(ck), Seq(pk), name)
    rel(Tables.lineitem(s, d), Tables.orders(s, d),
      "l_orderkey", "o_orderkey", "lineitem->orders")
      .unionByName(rel(Tables.orders(s, d), Tables.customer(s, d),
        "o_custkey", "c_custkey", "orders->customer"))
      .unionByName(rel(Tables.embeddings(s, d), Tables.documents(s, d),
        "vec_id", "doc_id", "embeddings->documents"))
  }

  val dqRefSql: String = {
    def rel(childTbl: String, parentTbl: String, ck: String, pk: String,
        name: String): String =
      s"SELECT 'ref_orphans:$name' AS \"constraint\", " +
        s"CAST((SELECT count(*) FROM $childTbl) AS BIGINT) AS n_rows, " +
        s"CAST((SELECT count(*) FROM $childTbl c WHERE NOT EXISTS " +
        s"(SELECT 1 FROM $parentTbl p WHERE p.$pk = c.$ck)) AS BIGINT) AS n_bad " +
        "UNION ALL " +
        s"SELECT 'ref_coverage:$name' AS \"constraint\", " +
        s"CAST((SELECT count(*) FROM $parentTbl) AS BIGINT) AS n_rows, " +
        s"CAST((SELECT count(*) FROM $parentTbl p WHERE NOT EXISTS " +
        s"(SELECT 1 FROM $childTbl c WHERE c.$ck = p.$pk)) AS BIGINT) AS n_bad "
    val rels = Seq(
      rel("lineitem", "orders", "l_orderkey", "o_orderkey", "lineitem->orders"),
      rel("orders", "customer", "o_custkey", "c_custkey", "orders->customer"),
      rel("embeddings", "documents", "vec_id", "doc_id", "embeddings->documents"))
    s"WITH u AS (${rels.mkString(" UNION ALL ")}) " +
      "SELECT \"constraint\", n_rows, n_bad, " +
      "CAST(CASE WHEN n_rows > 0 THEN (n_rows - n_bad) * 10000 // n_rows ELSE 10000 END AS BIGINT) AS value_bp, " +
      "n_bad = 0 AS passed FROM u"
  }

  /** Approximate-uniqueness DQ constraints (X170): the 100 TB form of
    * the suite's uniqueness rows — 256 mergeable portable-HLL register
    * maxes per key set instead of a per-row key shuffle; the estimate
    * is integer-register arithmetic + one IEEE division, so
    * est/ratio/passed are hash-portable facts. Three key sets: doc_id
    * (unique — passes at 9000 bp), source (dup-heavy — fails),
    * (lang, source) composite (canonicalized chr(1)-joined,
    * NULL → chr(0)). */
  val dqApprox: Q = (s, d) =>
    graft.operators.ScaleOps.dqApproxUniqueness(Tables.documents(s, d),
      keySets = Seq(Seq("doc_id"), Seq("source"), Seq("lang", "source")),
      minRatioBp = 9000)

  val dqApproxSql: String = {
    def estSub(keyExpr: String) =
      "(WITH hh AS (SELECT CAST('0x' || substr(md5('777:' || CAST(" +
        keyExpr + " AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM documents), " +
        "bb AS (SELECT h % 256 AS reg, h >> 8 AS suffix FROM hh), " +
        "rr AS (SELECT reg, CASE WHEN suffix = 0 THEN 53 ELSE 53 - length(bin(suffix)) END AS rho FROM bb), " +
        "mx AS (SELECT reg, max(rho) AS m FROM rr GROUP BY reg), " +
        "ss AS (SELECT sum(CAST(1 AS BIGINT) << (53 - m)) + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS s, 256 - count(*) AS zeros FROM mx), " +
        "ee AS (SELECT CAST(0.7213 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE)/CAST(256.0 AS DOUBLE))*CAST(65536.0 AS DOUBLE)*CAST(9007199254740992.0 AS DOUBLE)/CAST(s AS DOUBLE) AS raw, zeros FROM ss) " +
        "SELECT round(CASE WHEN raw <= 640.0 AND zeros > 0 THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE)/CAST(zeros AS DOUBLE)) ELSE raw END, 4) FROM ee)"
    def row(label: String, keyExpr: String) =
      s"SELECT 'approx_unique:$label' AS \"constraint\", ${estSub(keyExpr)} AS est"
    val rows = Seq(
      row("doc_id", "coalesce(CAST(doc_id AS VARCHAR), chr(0))"),
      row("source", "coalesce(source, chr(0))"),
      row("lang,source",
        "concat_ws(chr(1), coalesce(lang, chr(0)), coalesce(source, chr(0)))"))
    s"WITH t AS (SELECT count(*) AS total FROM documents), " +
      s"u AS ((${rows.mkString(") UNION ALL (")})) " +
      "SELECT \"constraint\", t.total AS n_rows, est AS est_distinct, " +
      "CAST(CASE WHEN t.total > 0 THEN floor(est * 10000.0 / t.total + 0.5) ELSE 10000 END AS BIGINT) AS ratio_bp, " +
      "CAST(CASE WHEN t.total > 0 THEN floor(est * 10000.0 / t.total + 0.5) ELSE 10000 END AS BIGINT) >= 9000 AS passed " +
      "FROM u CROSS JOIN t"
  }

  /** Schema drift report (X173): documents vs a producer-drifted
    * snapshot of itself — `source` dropped (removed), `extra_tag`
    * appended (added), `n_chars` narrowed bigint→int (type_changed),
    * `lang` NULLed for doc_id%4==0 (null_rate_shift at ~2500 bp),
    * doc_id/text untouched (none). Types come from the driver-side
    * schema; null rates from ONE single-row agg pass per side. */
  val schemaDrift: Q = (s, d) => {
    val a = Tables.documents(s, d)
    val b = a.drop("source")
      .withColumn("extra_tag", lit("x"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .withColumn("lang",
        when(col("doc_id") % 4 === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
    graft.operators.ScaleOps.schemaDrift(a, b, thresholdBp = 100L)
  }

  val schemaDriftSql: String =
    "WITH t AS (SELECT count(*) AS total, " +
      "CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nl_a, " +
      "CAST(coalesce(sum(CASE WHEN doc_id % 4 = 0 OR lang IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nl_b, " +
      "CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nid, " +
      "CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS ntx, " +
      "CAST(coalesce(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nsr, " +
      "CAST(coalesce(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nnc " +
      "FROM documents), " +
      "u AS (" +
      "SELECT 'doc_id' AS \"column\", 'bigint' AS type_a, 'bigint' AS type_b, nid AS na, nid AS nb FROM t " +
      "UNION ALL SELECT 'text', 'string', 'string', ntx, ntx FROM t " +
      "UNION ALL SELECT 'lang', 'string', 'string', nl_a, nl_b FROM t " +
      "UNION ALL SELECT 'source', 'string', NULL, nsr, NULL FROM t " +
      "UNION ALL SELECT 'n_chars', 'bigint', 'int', nnc, nnc FROM t " +
      "UNION ALL SELECT 'extra_tag', NULL, 'string', NULL, CAST(0 AS BIGINT) FROM t) " +
      "SELECT \"column\", type_a, type_b, " +
      "CASE WHEN type_a IS NOT NULL THEN CAST(CASE WHEN t.total > 0 THEN na * 10000 // t.total ELSE 0 END AS BIGINT) END AS null_bp_a, " +
      "CASE WHEN type_b IS NOT NULL THEN CAST(CASE WHEN t.total > 0 THEN nb * 10000 // t.total ELSE 0 END AS BIGINT) END AS null_bp_b, " +
      "CASE WHEN type_a IS NULL THEN 'added' WHEN type_b IS NULL THEN 'removed' " +
      "WHEN type_a <> type_b THEN 'type_changed' " +
      "WHEN abs(nb * 10000 // t.total - na * 10000 // t.total) > 100 THEN 'null_rate_shift' " +
      "ELSE 'none' END AS drift " +
      "FROM u CROSS JOIN t"

  /** Water-filling token budget (X175): per-source char totals with a
    * budget of half the corpus — small sources keep everything
    * (saturated), large sources cap at the integer water level with
    * the remainder distributed deterministically. The budget derives
    * from one bounded #sources-row action (the rank-table gate
    * convention). */
  val waterFill: Q = (s, d) => {
    val dom = Tables.documents(s, d)
      .groupBy(col("source")).agg(sum(col("n_chars")).as("tokens"))
    val total = dom.agg(coalesce(sum(col("tokens")), lit(0L)))
      .head().getLong(0)
    graft.operators.ScaleOps.waterFillBudget(dom, "source", "tokens",
      budget = total / 2)
  }

  val waterFillSql: String =
    "WITH dom AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens " +
      "FROM documents GROUP BY source), " +
      "bt AS (SELECT CAST(sum(tokens) // 2 AS BIGINT) AS b FROM dom), " +
      "r AS (SELECT source, tokens, " +
      "row_number() OVER w AS rk, " +
      "CAST(coalesce(sum(tokens) OVER (ORDER BY tokens ASC, source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev, " +
      "count(*) OVER () AS n FROM dom " +
      "WINDOW w AS (ORDER BY tokens ASC, source ASC)), " +
      "sflag AS (SELECT *, pprev + (n - rk + 1) * tokens <= bt.b AS sat FROM r CROSS JOIN bt), " +
      "st AS (SELECT CAST(coalesce(sum(CASE WHEN sat THEN 1 END), 0) AS BIGINT) AS k, " +
      "CAST(coalesce(sum(CASE WHEN sat THEN tokens END), 0) AS BIGINT) AS pk FROM sflag) " +
      "SELECT source, tokens, " +
      "CAST(CASE WHEN sat THEN tokens ELSE (bt.b - st.pk) // (n - st.k) + " +
      "(CASE WHEN rk - st.k <= (bt.b - st.pk) % (n - st.k) THEN 1 ELSE 0 END) END AS BIGINT) AS allocation, " +
      "sat AS saturated " +
      "FROM sflag CROSS JOIN st CROSS JOIN bt"

  /** Hierarchical water-fill (X190): the global budget (half the
    * corpus tokens) fair-shares across LANGUAGES by token totals,
    * then each language's allocation fair-shares across its SOURCES —
    * the two-stage mixing recipe. Oracle replays both closed forms,
    * the inner one keyed per language. */
  val hierWaterFill: Q = (s, d) => {
    val dom = Tables.documents(s, d).groupBy(col("lang"), col("source"))
      .agg(sum(col("n_chars")).as("tokens"))
    val total = dom.agg(coalesce(sum(col("tokens")), lit(0L)))
      .head().getLong(0)
    graft.operators.ScaleOps.hierarchicalWaterFill(
      dom, "lang", "source", "tokens", total / 2)
  }

  val hierWaterFillSql: String =
    "WITH dom AS MATERIALIZED (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS tokens " +
      "FROM documents GROUP BY lang, source), " +
      "l1 AS (SELECT lang, CAST(sum(tokens) AS BIGINT) AS tokens FROM dom GROUP BY lang), " +
      "bt AS (SELECT CAST(sum(tokens) // 2 AS BIGINT) AS b FROM l1), " +
      "r1 AS (SELECT lang, tokens, row_number() OVER w AS rk, " +
      "CAST(coalesce(sum(tokens) OVER (ORDER BY tokens ASC, lang ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev, " +
      "count(*) OVER () AS n FROM l1 WINDOW w AS (ORDER BY tokens ASC, lang ASC)), " +
      "s1 AS (SELECT *, pprev + (n - rk + 1) * tokens <= bt.b AS sat FROM r1 CROSS JOIN bt), " +
      "st1 AS (SELECT CAST(coalesce(sum(CASE WHEN sat THEN 1 END), 0) AS BIGINT) AS k, " +
      "CAST(coalesce(sum(CASE WHEN sat THEN tokens END), 0) AS BIGINT) AS pk FROM s1), " +
      "budg AS MATERIALIZED (SELECT lang, CAST(CASE WHEN sat THEN tokens ELSE (bt.b - st1.pk) // (n - st1.k) + " +
      "(CASE WHEN rk - st1.k <= (bt.b - st1.pk) % (n - st1.k) THEN 1 ELSE 0 END) END AS BIGINT) AS budget " +
      "FROM s1 CROSS JOIN st1 CROSS JOIN bt), " +
      "r2 AS (SELECT d.lang, d.source, d.tokens, b.budget, row_number() OVER w2 AS rk, " +
      "CAST(coalesce(sum(d.tokens) OVER (PARTITION BY d.lang ORDER BY d.tokens ASC, d.source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev, " +
      "count(*) OVER (PARTITION BY d.lang) AS n " +
      "FROM dom d JOIN budg b ON d.lang = b.lang " +
      "WINDOW w2 AS (PARTITION BY d.lang ORDER BY d.tokens ASC, d.source ASC)), " +
      "s2 AS MATERIALIZED (SELECT *, pprev + (n - rk + 1) * tokens <= budget AS sat FROM r2), " +
      "st2 AS (SELECT lang, CAST(coalesce(sum(CASE WHEN sat THEN 1 END), 0) AS BIGINT) AS k, " +
      "CAST(coalesce(sum(CASE WHEN sat THEN tokens END), 0) AS BIGINT) AS pk FROM s2 GROUP BY lang) " +
      "SELECT s2.lang, s2.source, s2.tokens, " +
      "CAST(CASE WHEN sat THEN s2.tokens ELSE (s2.budget - st2.pk) // (s2.n - st2.k) + " +
      "(CASE WHEN s2.rk - st2.k <= (s2.budget - st2.pk) % (s2.n - st2.k) THEN 1 ELSE 0 END) END AS BIGINT) AS allocation, " +
      "sat AS saturated FROM s2 JOIN st2 ON s2.lang = st2.lang"

  /** Budget trim (X176): the water-fill allocation APPLIED — each
    * source keeps its docs in salted-md5 hash order until the next
    * doc would cross its allocation. Output is the per-source audit
    * summary: docs kept, chars kept, the allocation, and the
    * never-overshoot verdict (chars_kept ≤ allocation, all true —
    * verified in-query, the digestMerge convention). */
  val budgetTrim: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dom = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("tokens"))
    val total = dom.agg(coalesce(sum(col("tokens")), lit(0L)))
      .head().getLong(0)
    val alloc = graft.operators.ScaleOps.waterFillBudget(
      dom, "source", "tokens", budget = total / 2)
    val kept = graft.operators.ScaleOps.budgetTrim(
      docs, "source", "doc_id", "n_chars", alloc)
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_chars")).as("chars_kept"))
      .join(alloc.select(col("source"), col("allocation")), Seq("source"))
      .select(col("source"), col("n_docs_kept"), col("chars_kept"),
        col("allocation"),
        (col("chars_kept") <= col("allocation")).as("within_budget"))
  }

  val budgetTrimSql: String =
    "WITH dom AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens " +
      "FROM documents GROUP BY source), " +
      "bt AS (SELECT CAST(sum(tokens) // 2 AS BIGINT) AS b FROM dom), " +
      "r AS (SELECT source, tokens, row_number() OVER w AS rk, " +
      "CAST(coalesce(sum(tokens) OVER (ORDER BY tokens ASC, source ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pprev, " +
      "count(*) OVER () AS n FROM dom " +
      "WINDOW w AS (ORDER BY tokens ASC, source ASC)), " +
      "sflag AS (SELECT *, pprev + (n - rk + 1) * tokens <= bt.b AS sat FROM r CROSS JOIN bt), " +
      "st AS (SELECT CAST(coalesce(sum(CASE WHEN sat THEN 1 END), 0) AS BIGINT) AS k, " +
      "CAST(coalesce(sum(CASE WHEN sat THEN tokens END), 0) AS BIGINT) AS pk FROM sflag), " +
      "alloc AS (SELECT source, CAST(CASE WHEN sat THEN tokens ELSE (bt.b - st.pk) // (n - st.k) + " +
      "(CASE WHEN rk - st.k <= (bt.b - st.pk) % (n - st.k) THEN 1 ELSE 0 END) END AS BIGINT) AS allocation " +
      "FROM sflag CROSS JOIN st CROSS JOIN bt), " +
      "h AS (SELECT source, doc_id, n_chars, " +
      "CAST('0x' || substr(md5('777:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh FROM documents), " +
      "cum AS (SELECT source, doc_id, n_chars, " +
      "CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY hh ASC, doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm FROM h), " +
      "kept AS (SELECT c.source, c.doc_id, c.n_chars FROM cum c JOIN alloc a ON c.source = a.source WHERE c.cm <= a.allocation) " +
      "SELECT k.source, count(*) AS n_docs_kept, CAST(sum(k.n_chars) AS BIGINT) AS chars_kept, " +
      "a.allocation, CAST(sum(k.n_chars) AS BIGINT) <= a.allocation AS within_budget " +
      "FROM kept k JOIN alloc a ON k.source = a.source GROUP BY k.source, a.allocation"

  /** Row-level quarantine routing (X165): every document routed with
    * its reason list — valid rows carry is_valid=true and an empty
    * reasons string; quarantined rows name every check they failed in
    * declaration order. Pure map-side projection (zero added
    * shuffles in an ingest). */
  val quarantine: Q = (s, d) =>
    graft.operators.ScaleOps.checkConstraints(
      spread(Tables.documents(s, d)), dqRowChecks)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (size(col("_violations")) === 0).as("is_valid"),
        array_join(col("_violations"), ",").as("reasons"))

  val quarantineSql: String = {
    val cases = Seq(
      "CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE) THEN 'text_nonempty' END",
      "CASE WHEN NOT coalesce(n_chars >= 100, FALSE) THEN 'min_chars_100' END",
      "CASE WHEN NOT coalesce(lang <> 'zh', FALSE) THEN 'latin_script' END")
    s"WITH v AS (SELECT doc_id, lang, n_chars, " +
      s"list_filter([${cases.mkString(", ")}], x -> x IS NOT NULL) AS vio FROM documents) " +
      "SELECT doc_id, lang, n_chars, len(vio) = 0 AS is_valid, " +
      // coalesce: some DuckDB builds return NULL (not '') for
      // array_to_string of an EMPTY list; Spark's array_join gives ''
      "coalesce(array_to_string(vio, ','), '') AS reasons FROM v"
  }

  val langId: Q = (s, d) =>
    spread(Tables.documents(s, d)).select(
      col("doc_id"), col("lang").as("tagged"),
      langIdHeuristic(col("text")).as("predicted"))

  val langIdSql: String = {
    val langs = TextFunctions.stopwords.keys.toSeq.sorted
    val hits = langs.map(l => s"${duckStopHits(l)} AS h_$l").mkString(", ")
    val gm = s"greatest(${langs.map(l => s"h_$l").mkString(",")})"
    val pick = langs.map(l => s"WHEN h_$l = _gm THEN '$l'").mkString(" ")
    s"WITH t AS (SELECT doc_id, lang, $hits FROM documents), " +
      s"g AS (SELECT *, $gm AS _gm FROM t) " +
      s"SELECT doc_id, lang AS tagged, CASE WHEN _gm = 0 THEN 'und' $pick END AS predicted FROM g"
  }

  val fingerprint: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    docs.select(
      col("doc_id"),
      fingerprintMd5(col("text")).as("fp"),
      Native.rollingHash(array_join(tokens(lower(col("text"))), " ")).as("rhash"))
  }

  private[queries] val duckNormText = s"array_to_string($duckToksLower, ' ')"

  val fingerprintSql: String =
    s"SELECT doc_id, md5($duckNormText) AS fp, " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($duckNormText, ''), c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a*31 + b) % 1000000007) AS rhash " +
      "FROM documents"

}
