package graft.operators

import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level term statistics for training-data pipelines: TF-IDF
  * term scoring and vocabulary building. Declarative two-shuffle
  * plans — tokenize/explode is an embarrassingly parallel map, the
  * aggregations are partial-agg shuffles on short keys (term,
  * (doc, term)), and the document-frequency table broadcasts (vocab ≪
  * corpus; natural-language vocabularies grow ~O(corpus^0.5), Heaps'
  * law, so the broadcast holds at 100 TB).
  */
object Corpus {

  /** Top-`k` TF-IDF terms per document: tf = in-doc term count, idf =
    * ln(N / df) (df ≥ 1 always, no smoothing needed), score rounded to
    * 6dp BEFORE ranking so the (score desc, term asc) order — and
    * therefore the emitted rank — is identical in any engine that
    * computes the same doubles.
    *
    * The per-document ranking window is scale-safe: its group size is
    * bounded by a single document's distinct-term count (document
    * length), never by corpus size. */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // spread: single-split benchmark files would otherwise serialize
    // the tokenize+explode on one core (same policy as Dedup.spread)
    val terms = Dedup.spread(docs).select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf already holds one row per (doc, term): df(term) is a plain
    // count — no count(distinct) double-shuffle needed
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** BM25 document scoring for a (small) query-term set — the lexical
    * retrieval primitive. Same plan skeleton as [[tfIdfTopTerms]]: tf
    * is a (doc, term) partial-agg shuffle over only the rows matching
    * the query terms (the isin filter prunes before the shuffle), df
    * and the corpus stats broadcast, scoring is map-side. The global
    * top-N is TakeOrdered (bounded per-partition heaps), and the
    * emitted rank is a window over ≤ topN rows.
    *
    * Determinism: each (doc, term) contributes exactly one score row,
    * and the per-doc total is assembled as a FIXED-ORDER sum of
    * per-term conditional aggregates (never a float sum over an
    * unordered group), so any engine reproduces the doubles. */
  /** Reciprocal-rank fusion (X130, Cormack et al. 2009) — the standard
    * FUSION of independent rankings (vs the hybrid CASCADE, which
    * re-scores one list): fused(doc) = Σ over lists of
    * floor(scale / (k + rank)), docs absent from a list contribute 0,
    * final order (fused DESC, doc ASC) cut at `topN`. The reciprocal
    * is computed by integral division at fixed `scale`, so the fused
    * score is exact BIGINT arithmetic on any engine — float 1/(k+r)
    * sums would hash-drift on association. Each input needs (docCol,
    * rankCol with rank ≥ 1). Plan: union of the (already top-N-sized)
    * lists, one partial-agg groupBy, and a global rank window over a
    * candidate set bounded by Σ|lists| — never corpus-sized. */
  def rrfFuse(lists: Seq[DataFrame], docCol: String, rankCol: String,
      k: Int = 60, topN: Int = 20, scale: Long = 1000000L): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: need at least one ranked list")
    require(k >= 1 && topN > 0 && scale > 0,
      s"rrfFuse: bad parameters k=$k topN=$topN scale=$scale")
    // ranks must be 1-based: a 0-based list (the common row_number vs
    // array-index off-by-one) would silently mis-weight every
    // contribution, so the check runs per row and fails the job loud.
    // A doc repeated WITHIN one list would contribute two reciprocals
    // and inflate n_lists — each list dedups to its best (minimum)
    // rank per doc first; the grouped min runs over an already
    // top-N-sized list, never the corpus.
    val tagged = lists.map { df =>
      df.select(col(docCol).as("doc"),
        expr(s"CASE WHEN CAST($rankCol AS BIGINT) >= 1 " +
          s"THEN CAST($rankCol AS BIGINT) " +
          s"ELSE CAST(raise_error('rrfFuse: ranks must be 1-based, got ' || " +
          s"CAST($rankCol AS STRING)) AS BIGINT) END").as("_r"))
        .groupBy(col("doc")).agg(min(col("_r")).as("_r"))
        .select(col("doc"), expr(s"${scale}L div (${k}L + _r)").as("_c"))
    }
    val fused = tagged.reduce(_ unionByName _)
      .groupBy(col("doc"))
      .agg(sum(col("_c")).as("rrf"), count(lit(1)).as("n_lists"))
    val w = Window.orderBy(col("rrf").desc, col("doc").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .withColumnRenamed("doc", docCol)
  }

  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topN: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val toks = Dedup.spread(docs).select(col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("_tk"))
    val dl = toks.select(col(idCol), size(col("_tk")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = bm25Tf(toks, idCol, queryTerms)
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfq, stats, idCol, queryTerms, k1, b, topN)
  }

  /** The (doc, query-term) tf table — pruned to the query's terms
    * BEFORE the shuffle (the reason bm25's df pass never touches the
    * full vocabulary). */
  private def bm25Tf(toks: DataFrame, idCol: String,
      queryTerms: Seq[String]): DataFrame =
    toks
      .select(col(idCol), explode(col("_tk")).as("term"),
        size(col("_tk")).cast("long").as("dl"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** The shared BM25 scoring tail: per-(doc, term) Robertson/Sparck
    * Jones scores from a tf table + broadcast df + broadcast 1-row
    * corpus stats, summed per doc in FIXED term order (never a float
    * sum over an unordered group), TakeOrdered top-N. */
  private def bm25Score(tf: DataFrame, dfq: DataFrame, stats: DataFrame,
      idCol: String, queryTerms: Seq[String], k1: Double, b: Double,
      topN: Int): DataFrame = {
    val scored = tf.join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("s",
        log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    val perTerm = queryTerms.map(t =>
      coalesce(sum(when(col("term") === t, col("s"))), lit(0.0)).as(s"_s_$t"))
    val agg = scored.groupBy(col(idCol))
      .agg(perTerm.head, perTerm.tail: _*)
    val total = queryTerms.map(t => col(s"_s_$t")).reduce(_ + _)
    val top = agg.withColumn("score", round(total, 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(topN)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol).asc)))
  }

  /** BM25 index-stats STORE records (X136) — the mergeable partials a
    * retrieval index maintains so new corpus slices score under GLOBAL
    * statistics without rescanning history: a per-term document-
    * frequency table over the WHOLE vocabulary (the store serves any
    * future query; vocabulary-sized by Heaps' law) and a 1-row
    * (n_docs, sum_dl) corpus record. Both are plain counts, so two
    * snapshots MERGE by addition — exactly the X67 mergeable-partials
    * law applied to the retrieval index. */
  def bm25StatsRecords(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val toks = Dedup.spread(docs).select(col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("_tk"))
    val termDf = toks
      .select(explode(array_distinct(col("_tk"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = toks.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("_tk")).cast("long")), lit(0L)).as("sum_dl"))
    (termDf, corpus)
  }

  /** Merge two BM25 stats snapshots — counts add exactly, in any
    * order, on any engine. One #terms-keyed partial agg and a 2-row
    * total; history is never rescanned. */
  def bm25MergeStats(aTerm: DataFrame, aCorpus: DataFrame,
      bTerm: DataFrame, bCorpus: DataFrame): (DataFrame, DataFrame) = {
    for (t <- Seq(aTerm, bTerm))
      require(Set("term", "df").subsetOf(t.columns.toSet),
        s"bm25MergeStats: term stats need term/df, got ${t.columns.mkString(", ")}")
    for (c <- Seq(aCorpus, bCorpus))
      require(Set("n_docs", "sum_dl").subsetOf(c.columns.toSet),
        s"bm25MergeStats: corpus stats need n_docs/sum_dl, got ${c.columns.mkString(", ")}")
    (aTerm.select("term", "df").unionByName(bTerm.select("term", "df"))
      .groupBy(col("term")).agg(sum(col("df")).as("df")),
      aCorpus.select("n_docs", "sum_dl")
        .unionByName(bCorpus.select("n_docs", "sum_dl"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
  }

  /** BM25 scoring under EXTERNALLY-supplied global statistics — the
    * incremental-index scoring path: `docs` is typically just the new
    * batch, while df/n_docs/avgdl come from the (merged) store, so a
    * slice scores exactly as it would inside a full-corpus pass
    * without that pass ever running (spec + gate row pin merged ≡
    * full). The term stats prune to the query's terms before the
    * broadcast (≤ |query| rows reach the join); avgdl derives from the
    * stored exact (sum_dl, n_docs) pair with one double division at
    * the edge — the same expression the full pass computes. */
  def bm25WithStats(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], termStats: DataFrame, corpusStats: DataFrame,
      k1: Double = 1.2, b: Double = 0.75, topN: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty, "bm25WithStats: empty query")
    require(Set("term", "df").subsetOf(termStats.columns.toSet),
      s"bm25WithStats: term stats need term/df, got ${termStats.columns.mkString(", ")}")
    require(Set("n_docs", "sum_dl").subsetOf(corpusStats.columns.toSet),
      s"bm25WithStats: corpus stats need n_docs/sum_dl, got ${corpusStats.columns.mkString(", ")}")
    val toks = Dedup.spread(docs).select(col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("_tk"))
    val tf = bm25Tf(toks, idCol, queryTerms)
    val dfq = termStats.filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("df"))
    // a query term that OCCURS in the batch but has no stats row would
    // silently contribute 0.0 through the inner score join — the
    // caller forgot to merge the batch's own stats. Fail loud; the
    // probe is bounded by |queryTerms|.
    val missing = tf.select(col("term")).distinct()
      .join(dfq.select(col("term")), Seq("term"), "left_anti")
      .limit(queryTerms.size + 1).collect().map(_.getString(0))
    require(missing.isEmpty,
      "bm25WithStats: query terms present in the batch but absent from " +
        s"termStats: ${missing.mkString(", ")} — merge the batch's own " +
        "stats first (bm25MergeStats)")
    val stats = corpusStats.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    bm25Score(tf, dfq, stats, idCol, queryTerms, k1, b, topN)
  }

  /** Test-set decontamination (the GPT-3/PaLM eval-overlap pass): flag
    * every training document that shares at least one word `n`-gram
    * (classically n=13) with any document of the held-out evaluation
    * set. Emits one row per train doc: (id, n_shared_grams,
    * contaminated).
    *
    * Scale shape: both sides shingle map-side; grams travel as 16-byte
    * md5 keys, never as text. The eval gram set is distinct-reduced
    * (partial agg) and the probe is a shuffle-hash equi-join on the
    * gram hash — eval sets are small but corpus-shaped, so no
    * driver-side broadcast. The final flag join is keyed by doc id.
    * Nothing here is ever all-pairs. */
  def contaminationFlags(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    val hits = contaminationHits(train, eval, idCol, textCol, n)
    // hits is bounded by the train doc count — corpus-sized, so the
    // flag join is pinned to shuffle-hash (AQE would broadcast it from
    // small-SF stats and that shape dies at 100 TB)
    train.select(col(idCol)).join(hits.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_grams") > 0)
  }

  /** (id, n_shared_grams) for contaminated train docs ONLY — the
    * decontamination DROP LIST. Callers that just anti-join it (the
    * curation pipeline) use this directly and skip
    * [[contaminationFlags]]' full-corpus flag join entirely. */
  /** `spreadTrain = false` skips the train side's round-robin
    * pre-shuffle — pass it when train is a cached mid-pipeline stage
    * that is already well-partitioned; the eval side always spreads
    * (it is typically a raw scan). */
  def contaminationHits(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 13,
      spreadTrain: Boolean = true): DataFrame = {
    def grams(df: DataFrame, doSpread: Boolean) =
      (if (doSpread) Dedup.spread(df) else df).select(col(idCol),
        explode(array_distinct(Dedup.shinglesAuto(df, textCol, n))).as("_g"))
        .select(col(idCol), md5(col("_g")).as("_gh"))
    val evalGrams = grams(eval, doSpread = true).select("_gh").distinct()
    grams(train, spreadTrain)
      .hint("shuffle_hash").join(evalGrams, Seq("_gh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Content-defined chunking (X143) — the storage/dataset-versioning
    * dedup primitive: a chunk ends at every token whose portable
    * 60-bit hash ≡ 0 (mod `divisor`), so boundaries are decided by
    * CONTENT, not position — an insertion perturbs only the chunk it
    * lands in while every later chunk re-aligns and deduplicates,
    * the property fixed-size blocks fundamentally lack (one shifted
    * token rewrites every downstream block; the locality is
    * spec-pinned). Expected chunk length = `divisor` tokens. Emits one
    * row per chunk: (id, chunk_idx, n_tokens, chunk_md5, dup) with
    * `dup` = a lower-(doc, idx) occurrence of identical content exists
    * — the dedupable-bytes signal a content-addressed store bills by.
    *
    * Scale shape: tokens shuffle once into per-doc windows (per-doc
    * bounded — the boundary prefix count), chunks aggregate per
    * (doc, chunk), and the dup flag is one 16-byte-key agg plus a
    * shuffle-hash join; occurrence order is the plain-MIN encoding
    * (id·10⁹ + chunk_idx — exact for ids < 9.2·10⁹ and docs under
    * 10⁹ chunks).
    *
    * Id domain (PUBLIC CONTRACT, fail-loud): `idCol` must cast to
    * BIGINT in [0, Long.Max/10⁹) — the occurrence encoding's
    * injectivity range. Null / non-castable ids raise (they would
    * silently merge all such docs into one), and NEGATIVE ids raise
    * too: the encoding could admit a symmetric negative bound, but a
    * negative document id is overwhelmingly a caster bug upstream, so
    * the domain is deliberately the narrower one. Remap ids into
    * [0, 9.2·10⁹) before calling if a pipeline genuinely carries
    * signed ids. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val toks = Dedup.spread(docs)
      .select(guardedChunkId(idCol).as("id"),
        posexplode(TextFunctions.tokens(lower(col(textCol))))
        .as(Seq("pos", "_tok")))
    val withB = toks.withColumn("_b",
      when(TextFunctions.hexHash60(col("_tok"), "cdc") % divisor === 0, 1L)
        .otherwise(0L))
      .withColumn("_cum", sum(col("_b")).over(w))
      .withColumn("chunk_idx", col("_cum") - col("_b"))
    val chunks = withB.groupBy(col("id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("_tok")))),
            e => e("_tok")))).as("chunk_md5"))
      // a >= 10^9-chunk document would collide the id*10^9 + idx
      // occurrence encoding — fail loud per the repo convention
      // (substringToks' posBase guard); the id range guard already ran
      // in guardedChunkId
      .withColumn("_occ",
        when(col("chunk_idx") >= CdcOccBase,
          raise_error(concat(
            lit(s"cdcChunks: document exceeds $CdcOccBase chunks " +
              "(occurrence encoding would collide); id="),
            col("id").cast("string"))))
          .otherwise(col("id") * CdcOccBase + col("chunk_idx")))
    val first = chunks.groupBy(col("chunk_md5")).agg(min(col("_occ")).as("_first"))
    chunks.hint("shuffle_hash").join(first, Seq("chunk_md5"))
      .withColumn("dup", col("_occ") =!= col("_first"))
      .select(col("id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_md5"), col("dup"))
  }

  /** Train-side GRAM POSTINGS store (X141): each train doc's distinct
    * n-gram md5 keys as (id, gk) rows, persisted ONCE at ingest — when
    * a new benchmark lands later, decontamination re-runs against the
    * postings, never against the text. 16 bytes per (doc, distinct
    * gram); the retraction story matches X140's (anti-join by id).
    *
    * Id domain (PUBLIC CONTRACT, fail-loud): `idCol` must cast to a
    * non-negative BIGINT. A null / non-castable id raises — it would
    * silently merge every such doc's postings into one `id IS NULL`
    * list, breaking retraction and per-doc hit counts with no signal
    * (the pre-guard behavior). Negative ids raise for symmetry with
    * [[cdcChunks]] even though no encoding needs it here: one id
    * domain across the postings family keeps stores interchangeable. */
  def gramPostings(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame =
    Dedup.spread(docs).select(guardedPostingId(idCol).as("id"),
      explode(array_distinct(Dedup.shinglesAuto(docs, textCol, n))).as("_g"))
      .select(col("id"), md5(col("_g")).as("gk"))

  /** Occurrence-encoding base for [[cdcChunks]]: _occ = id·10⁹ + idx. */
  private val CdcOccBase = 1000000000L

  /** [[cdcChunks]]' per-row id guard — the same fail-loud injectivity
    * convention as `Dedup.substringToks`: a null or non-castable id
    * would silently group all such docs into ONE document, and
    * id ≥ Long.Max/10⁹ would wrap the occurrence encoding — both
    * produce wrong first-occurrence/dup flags with no signal. */
  private def guardedChunkId(idCol: String): Column = {
    val maxId = Long.MaxValue / CdcOccBase
    val idLong = col(idCol).try_cast("long")
    when(idLong.isNull || idLong < 0 || idLong >= maxId,
      raise_error(concat(
        lit(s"cdcChunks: $idCol must cast to BIGINT in [0, $maxId), got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idLong)
  }

  /** [[gramPostings]]' id guard: no occurrence encoding here, but a
    * null/non-castable id silently merges every such doc's postings
    * into one `id IS NULL` posting list — retraction (X140-style
    * anti-join by id) and per-doc hit counts would both be wrong with
    * no signal. */
  private def guardedPostingId(idCol: String): Column = {
    val idLong = col(idCol).try_cast("long")
    when(idLong.isNull,
      raise_error(concat(
        lit(s"gramPostings: $idCol must cast to non-null BIGINT, got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idLong)
  }

  /** Distinct gram keys of an eval slice — the append-only benchmark
    * index's records (set-valued: no doc attribution, unlike
    * [[gramPostings]]). */
  def evalGramRecords(evalDocs: DataFrame, textCol: String,
      n: Int = 13): DataFrame =
    Dedup.spread(evalDocs)
      .select(explode(array_distinct(Dedup.shinglesAuto(evalDocs, textCol, n))).as("_g"))
      .select(md5(col("_g")).as("gk")).distinct()

  /** The keys a NEW benchmark adds to a stored eval-gram index: its
    * records anti-joined against the store. This disjointness is what
    * makes [[contaminationDelta]] exactly additive. */
  def newEvalGrams(newEval: DataFrame, textCol: String,
      storedGrams: DataFrame, n: Int = 13): DataFrame = {
    require(storedGrams.columns.contains("gk"),
      s"newEvalGrams: stored index needs a gk column, got ${storedGrams.columns.mkString(", ")}")
    evalGramRecords(newEval, textCol, n)
      .join(storedGrams.select(col("gk")).hint("shuffle_hash"),
        Seq("gk"), "left_anti")
  }

  /** Incremental decontamination (X141): hits of the stored train
    * postings against ONLY a delta gram set — the pure index-vs-index
    * pass a flag store runs when a new benchmark lands: because each
    * doc's postings are distinct and the delta's keys are disjoint
    * from the stored index ([[newEvalGrams]]), the shared-gram counts
    * are exactly ADDITIVE — stored flags ⊕ delta ≡ a full re-run
    * against the merged eval set (spec-pinned and gate-pinned: the
    * gate oracle IS the full-pass SQL). Neither side carries text;
    * the join shuffles 16-byte keys, pinned shuffle-hash (eval deltas
    * are small but corpus-shaped — X43's no-broadcast convention).
    * Returns (id, n_new_shared) for hit docs only. */
  def contaminationDelta(trainPostings: DataFrame,
      deltaGrams: DataFrame): DataFrame = {
    require(Set("id", "gk").subsetOf(trainPostings.columns.toSet),
      s"contaminationDelta: postings need id/gk, got ${trainPostings.columns.mkString(", ")}")
    require(deltaGrams.columns.contains("gk"),
      s"contaminationDelta: delta needs a gk column, got ${deltaGrams.columns.mkString(", ")}")
    trainPostings
      .join(deltaGrams.select(col("gk")).distinct().hint("shuffle_hash"),
        Seq("gk"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_new_shared"))
  }

  /** Merge a stored flag table with a delta's hit counts — counts add
    * (the mergeable-partials law again); docs hit by neither side are
    * absent, as in [[contaminationHits]]. */
  def mergeContaminationHits(stored: DataFrame, delta: DataFrame): DataFrame = {
    require(Set("id", "n_shared_grams").subsetOf(stored.columns.toSet),
      s"mergeContaminationHits: stored needs id/n_shared_grams, got ${stored.columns.mkString(", ")}")
    require(Set("id", "n_new_shared").subsetOf(delta.columns.toSet),
      s"mergeContaminationHits: delta needs id/n_new_shared, got ${delta.columns.mkString(", ")}")
    stored.select(col("id"), col("n_shared_grams"))
      .unionByName(delta.select(col("id"),
        col("n_new_shared").as("n_shared_grams")))
      .groupBy(col("id")).agg(sum(col("n_shared_grams")).as("n_shared_grams"))
  }

  /** Blocklist filter: drop every document containing ANY blocklisted
    * term (domain/slur/boilerplate lists in real pipelines). The term
    * list is by definition the small side — it rides to every executor
    * as a literal array and the filter is a pure map over the token
    * set: zero shuffle, zero join, survives any corpus size. */
  def blocklistFilter(docs: DataFrame, textCol: String,
      terms: Seq[String]): DataFrame = {
    val block = array(terms.map(t => lit(t.toLowerCase)): _*)
    docs.filter(!arrays_overlap(TextFunctions.tokens(lower(col(textCol))), block))
  }

  /** DataFrame-sourced blocklist: gathered to the driver under an
    * explicit size guard (the same gathering a broadcast join performs)
    * and delegated to the literal form — keeps the zero-shuffle map
    * while accepting a table-shaped list. */
  def blocklistFilter(docs: DataFrame, textCol: String,
      blocklist: DataFrame, termCol: String, maxTerms: Int): DataFrame = {
    val terms = blocklist.select(col(termCol).cast("string")).limit(maxTerms + 1)
      .collect().map(_.getString(0)).toSeq
    require(terms.size <= maxTerms,
      s"blocklist exceeds $maxTerms terms; use an anti-join pipeline for corpus-sized lists")
    blocklistFilter(docs, textCol, terms)
  }

  /** Unigram surprisal scoring — the CCNet/C4-style language-model
    * quality filter reduced to its unigram core: a document's mean
    * per-token surprise −mean(ln P(t)) under the corpus unigram model.
    * Gibberish and boilerplate score high/low respectively vs the
    * corpus norm.
    *
    * Plan: term counts are one partial-agg shuffle; the probability
    * table is vocab-sized (Heaps' law) and broadcasts; per-doc scoring
    * is a broadcast join + one partial-agg shuffle keyed by doc.
    * Determinism: log-probs quantize to fixed-point BIGINT BEFORE the
    * per-doc sum (a grouped float sum has no defined order; an integer
    * sum is exact in any order and any engine). */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = Dedup.spread(docs).select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total"))
    val probs = tf.crossJoin(broadcast(total))
      .select(col("term"),
        floor((-log(col("cnt").cast("double") / col("total"))) * lit(1e9) + lit(0.5))
          .cast("long").as("lp"))
    val per = terms.join(broadcast(probs), Seq("term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("s"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(round(col("s").cast("double") / (col("n_tokens") * lit(1e9)), 6),
          lit(0.0)).as("mean_surprisal"))
  }

  /** Bigram surprisal — the next step up from [[unigramSurprisal]]:
    * a document's mean −ln P(w₂|w₁) under the corpus MLE bigram model
    * (P = c(w₁w₂)/c(w₁·), context counts derived from the bigram
    * table itself so they sum consistently). Catches fluent-word
    * gibberish ("the the the of") that unigram statistics score as
    * perfectly normal text.
    *
    * Plan: ONE explode pass reduces straight to per-doc gram counts
    * (doc, gram, n) — a partial-agg shuffle whose map-side combine
    * collapses within-doc repeats, so repeated boilerplate never
    * travels twice. The model derives FROM that table: bigram counts
    * are one more shuffle of distinct doc-grams, the context table is
    * WORD-vocab sized (Heaps' law — the same broadcast argument as
    * [[unigramSurprisal]]'s probability table) and broadcasts, so the
    * probs table inherits bc's bg-partitioning untouched and the
    * scoring join exchanges only the tfd side. Unlike the unigram
    * table, the bigram MODEL grows superlinearly in vocab — so the
    * scoring join is shuffle-hash, NEVER broadcast, and it shuffles
    * DISTINCT grams-per-doc (weighted by n), not every occurrence.
    * Grams travel as their own text (a word bigram is shorter than a
    * 32-char md5 key — hashing would widen the shuffle here, not
    * shrink it). Same fixed-point trick: log-probs quantize to BIGINT
    * before the per-doc sum, which is exact under Σ n·lp in any order. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // per-doc gram counts feed both the model and the scoring join —
    // persist so tokenize+explode+combine runs once. shinglesAuto is
    // the native codegen kernel (a Column-HOF form re-evaluates the
    // token split per shingle when the lambda drops to interpreted
    // mode — O(len²) per doc); spread() keeps single-split benchmark
    // files from serializing the tokenization on one core.
    val tfd = Dedup.spread(docs).select(col(idCol),
      explode(Dedup.shinglesAuto(docs, textCol, 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("_n"))
      .persistTracked()
    val bc = tfd.groupBy(col("bg")).agg(sum(col("_n")).cast("long").as("cnt"))
    val wc = bc.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cnt")).cast("long").as("ctx"))
    val probs = bc
      .join(broadcast(wc), substring_index(col("bg"), " ", 1) === col("w1"))
      .select(col("bg"),
        floor((-log(col("cnt").cast("double") / col("ctx"))) * lit(1e9) + lit(0.5))
          .cast("long").as("lp"))
    val per = tfd
      .hint("shuffle_hash").join(probs, Seq("bg"))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).cast("long").as("n_bigrams"),
        sum(col("_n") * col("lp")).as("s"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("s").cast("double") / (col("n_bigrams") * lit(1e9)), 6),
          lit(0.0)).as("mean_bigram_surprisal"))
  }

  /** Corpus vocabulary: the `topN` most frequent terms with counts and
    * a deterministic dense ordering (count desc, term asc). The global
    * top-N plans as TakeOrderedAndProject over the partially-aggregated
    * counts — per-partition heaps, no full sort — and the rank window
    * runs on ≤ topN rows (bounded regardless of corpus size). */
  /** VOCABULARY COVERAGE / OOV rate (X193) — the tokenizer-fit DQ a
    * pretraining pipeline publishes per source: what share of a
    * tenant's token OCCURRENCES falls outside the working vocabulary
    * (a source full of OOV tokens either needs vocab growth or is the
    * wrong data for this tokenizer). One row per group: total token
    * occurrences, OOV occurrences, coverage in exact basis points.
    *
    * Scale shape: the token explode shrinks at the FIRST partial agg
    * — groupBy (group, term) — so the vocab join touches one row per
    * distinct (group, term), never per occurrence; the vocab side
    * (bounded: topN terms) broadcasts under the byte budget with the
    * pinned shuffle-hash fallback (the boilerplateRemoval gate). A
    * group whose docs tokenize to nothing reports 0/0 with full
    * coverage — no tokens, no OOV evidence. */
  def vocabCoverage(docs: DataFrame, groupCol: String, textCol: String,
      vocab: DataFrame, termBroadcastBudget: Long = 1000000L): DataFrame = {
    require(vocab.columns.contains("term"),
      s"vocabCoverage: vocab must carry a 'term' column, got " +
        vocab.columns.mkString(", "))
    val counts = Dedup.spread(docs)
      .select(col(groupCol).as("_g"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("_g"), col("term")).agg(count(lit(1)).as("_n"))
    val v = vocab.select(col("term")).distinct()
      .withColumn("_inv", lit(true))
    val vb =
      if (Dedup.fitsBudget(v, termBroadcastBudget)) broadcast(v)
      else v.hint("shuffle_hash")
    val agg = counts.join(vb, Seq("term"), "left")
      .groupBy(col("_g"))
      .agg(sum(col("_n")).as("n_tokens"),
        coalesce(sum(when(col("_inv").isNull, col("_n"))), lit(0L))
          .as("n_oov"))
    // group spine: a group whose docs tokenize to nothing vanished at
    // the explode but must still report (0, 0, full coverage)
    Dedup.spread(docs).select(col(groupCol).as("_g")).distinct()
      .join(agg, Seq("_g"), "left")
      .select(col("_g").as(groupCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("coverage_bp",
        when(col("n_tokens") > 0,
          expr("(n_tokens - n_oov) * 10000 div n_tokens"))
          .otherwise(10000L))
  }

  def vocabulary(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = Dedup.spread(docs)
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("term").asc).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("term").asc)))
  }

  /** DCLM-style n-gram quality classifier (Li et al. 2024,
    * arXiv:2406.11794 use a model-based quality classifier trained on
    * a high-quality seed; this is its n-gram-LM form — the classic
    * CCNet/KenLM arrangement, Wenzek et al. 2020): train an add-one-
    * smoothed interpolated unigram+bigram model on a SEED slice of
    * known-good text, score every document by mean surprisal
    * −mean ln(λ·P(w₂|w₁) + (1−λ)·P(w₂)) under that model, and keep
    * documents at or below `keepThreshold` (in-domain text is
    * predictable under the seed model; gibberish and out-of-domain
    * boilerplate are not). λ is given in basis points so the mixing
    * weight is an exact decimal in every engine.
    *
    * Smoothing: P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V),
    * P(w₂) = (c(w₂)+1)/(N+V), with V = seed unigram vocab and N =
    * seed token count — unseen contexts and OOV tokens score finite
    * surprisal instead of ∞. Determinism: probabilities are ratios of
    * BIGINT counts (exact in IEEE double), mixed with an exact decimal
    * λ, and log-probs quantize to fixed-point BIGINT BEFORE the
    * Σ n·lp per-doc sum (the repo's order-exact convention).
    *
    * Plan: the seed unigram/context tables are word-vocab-sized
    * (Heaps' law) and broadcast-preferred — same argument as
    * [[unigramSurprisal]] — but the argument is ENFORCED, not assumed:
    * the unigram vocab is probed against `seedBroadcastBudget` with
    * one bounded `fitsBudget` action, and a seed whose vocab exceeds
    * the budget falls back to shuffle-hash joins for BOTH vocab-sized
    * tables (the context table is a coarsening of the same vocab, so
    * one probe bounds both) instead of OOMing the driver. The seed
    * BIGRAM table grows superlinearly in vocab, so its scoring join is
    * shuffle-hash pinned, NEVER broadcast, and shuffles distinct
    * grams-per-doc weighted by count — the [[bigramSurprisal]] shape
    * with the model trained on `seed` instead of the corpus itself.
    * Returns (idCol, n_bigrams, log_ppl, keep); docs with < 2 tokens
    * carry no evidence and keep. */
  def ngramPerplexity(docs: DataFrame, seed: DataFrame, idCol: String,
      textCol: String, lambdaBp: Int = 7000,
      keepThreshold: Double = 9.0,
      seedBroadcastBudget: Long = 4000000L): DataFrame = {
    require(lambdaBp >= 0 && lambdaBp <= 10000,
      s"lambdaBp must be in [0, 10000], got $lambdaBp")
    require(!seed.isEmpty, "ngramPerplexity: empty seed corpus")
    val lam = lambdaBp / 10000.0
    val oneMinusLam = (10000 - lambdaBp) / 10000.0

    // both seed model tables feed TWO consumers each (sbg → ctx + the
    // scoring join; uni → scal + the scoring join) — persist so the
    // seed tokenize/explode/agg runs once per table, the
    // bigramSurprisal convention
    val sbg = graft.core.Caches.persistTracked(Dedup.spread(seed)
      .select(explode(Dedup.shinglesAuto(seed, textCol, 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("_cbg")))
    val ctx = sbg.groupBy(substring_index(col("bg"), " ", 1).as("_cw1"))
      .agg(sum(col("_cbg")).cast("long").as("_ctx"))
    val uni = graft.core.Caches.persistTracked(Dedup.spread(seed)
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("_uw"))
      .groupBy(col("_uw")).agg(count(lit(1)).as("_cw")))
    val scal = uni.agg(sum(col("_cw")).cast("long").as("_n_tok"),
      count(lit(1)).cast("long").as("_v"))

    // one bounded probe on the persisted unigram table decides the
    // join strategy for BOTH vocab-sized sides: |ctx| ≤ |uni| by
    // construction (ctx groups sbg by first word), so uni under
    // budget ⇒ ctx under budget
    val uniFits = Dedup.fitsBudget(uni, seedBroadcastBudget)
    def vocabSide(df: DataFrame): DataFrame =
      if (uniFits) broadcast(df) else df.hint("shuffle_hash")

    val tfd = Dedup.spread(docs).select(col(idCol),
      explode(Dedup.shinglesAuto(docs, textCol, 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("_n"))
    val pb = (coalesce(col("_cbg"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("_ctx"), lit(0L)) + col("_v")).cast("double")
    val pu = (coalesce(col("_cw"), lit(0L)) + lit(1L)).cast("double") /
      (col("_n_tok") + col("_v")).cast("double")
    val per = tfd
      .join(sbg.hint("shuffle_hash"), Seq("bg"), "left")
      .join(vocabSide(ctx),
        substring_index(col("bg"), " ", 1) === col("_cw1"), "left")
      .join(vocabSide(uni),
        substring_index(col("bg"), " ", -1) === col("_uw"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("_lp",
        floor((-log(lit(lam) * pb + lit(oneMinusLam) * pu)) * lit(1e9) + lit(0.5))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).cast("long").as("n_bigrams"),
        sum(col("_n") * col("_lp")).as("_s"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("_s").cast("double") / (col("n_bigrams") * lit(1e9)), 6),
          lit(0.0)).as("log_ppl"))
      .withColumn("keep",
        col("n_bigrams") === 0L || col("log_ppl") <= lit(keepThreshold))
  }

  /** Interpolated KNESER–NEY bigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999 §4's interpolated form) — the smoothing the
    * production n-gram stack (KenLM, hence CCNet's perplexity filter,
    * Wenzek et al. 2020) actually runs, vs [[ngramPerplexity]]'s
    * add-one classroom form. The structural difference is WHAT the
    * lower-order model estimates: add-one backs off to raw unigram
    * frequency, so "Francisco" (frequent, but only ever after "San")
    * scores high in novel contexts; KN's continuation probability
    * P_cont(w₂) = (N₁₊(·w₂)+1)/(B+V+1) counts DISTINCT LEFT CONTEXTS,
    * so a word glued to one context stops leaking probability into all
    * the others. Per bigram, with D the absolute discount in basis
    * points (D_bp/10⁴, Ney et al. 1994's single fixed discount):
    *
    *   seen context c(w₁·) > 0:
    *     P = max(10⁴·c(w₁w₂) − D_bp, 0)/(10⁴·c(w₁·))
    *       + D_bp·N₁₊(w₁·)/(10⁴·c(w₁·)) · P_cont(w₂)
    *   unseen context (incl. OOV w₁): P = P_cont(w₂)
    *
    * N₁₊(w₁·) = distinct continuations of w₁, N₁₊(·w₂) = distinct left
    * contexts of w₂, B = distinct bigram types, V = seed unigram vocab
    * — the +1/(B+V+1) add-one on the continuation distribution keeps
    * OOV w₂ finite (KenLM reserves <unk> mass the same way). The
    * discounted mass is exactly conserved: Σ_w₂ P(w₂|w₁) over the seed
    * vocab is 1 under the unsmoothed P_cont; the add-one variant stays
    * a proper distribution over vocab ∪ {unk}.
    *
    * Determinism: every P term is a ratio of BIGINT counts times an
    * exact-decimal discount (basis points), combined in IEEE doubles
    * with one expression shape the oracle mirrors operator-for-
    * operator; log-probs quantize to 1e-9 fixed point BEFORE the per-
    * doc Σ n·lp (the repo's order-exact convention). D_bp ∈ [1, 10⁴]:
    * D = 0 would let a seen context with an unseen continuation score
    * P = 0 (−ln 0 = ∞ — the exact hole discounting exists to plug), so
    * the degenerate setting is rejected rather than overflowed.
    *
    * Plan shape is [[ngramPerplexity]]'s verbatim — ONE seed bigram
    * partial agg feeds all three model tables (c(w₁w₂); per-w₁
    * (c(w₁·), N₁₊(w₁·)) in one groupBy; per-w₂ N₁₊(·w₂)), the two
    * vocab-sized sides broadcast under `seedBroadcastBudget` with the
    * one-probe shuffle-hash fallback, the bigram table is shuffle-hash
    * pinned (superlinear in vocab, never broadcast), and the corpus
    * side shuffles distinct grams-per-doc weighted by count. Returns
    * (idCol, n_bigrams, kn_log_ppl, keep); docs with < 2 tokens carry
    * no evidence and keep. */
  def knPerplexity(docs: DataFrame, seed: DataFrame, idCol: String,
      textCol: String, discountBp: Int = 7500,
      keepThreshold: Double = 9.0,
      seedBroadcastBudget: Long = 4000000L): DataFrame = {
    require(discountBp >= 1 && discountBp <= 10000,
      s"discountBp must be in [1, 10000], got $discountBp")
    require(!seed.isEmpty, "knPerplexity: empty seed corpus")

    // one persisted seed bigram-count table feeds the bigram join and
    // both per-word marginals — the ngramPerplexity arrangement
    val sbg = graft.core.Caches.persistTracked(Dedup.spread(seed)
      .select(explode(Dedup.shinglesAuto(seed, textCol, 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("_cbg")))
    // per-w1: total count c(w1·) AND distinct-continuation N1+(w1·)
    // in ONE pass over the type table (each sbg row is one type)
    val ctx = sbg.groupBy(substring_index(col("bg"), " ", 1).as("_cw1"))
      .agg(sum(col("_cbg")).cast("long").as("_ctx"),
        count(lit(1)).cast("long").as("_n1fw"))
    // per-w2: distinct-left-context N1+(·w2)
    val cont = sbg.groupBy(substring_index(col("bg"), " ", -1).as("_cw2"))
      .agg(count(lit(1)).cast("long").as("_n1bw"))
    // B = distinct bigram types; V = seed unigram vocab
    val scal = sbg.agg(count(lit(1)).cast("long").as("_b")).crossJoin(
      Dedup.spread(seed)
        .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("_uw"))
        .agg(count_distinct(col("_uw")).cast("long").as("_v")))

    val ctxFits = Dedup.fitsBudget(ctx, seedBroadcastBudget)
    def vocabSide(df: DataFrame): DataFrame =
      if (ctxFits) broadcast(df) else df.hint("shuffle_hash")

    val tfd = Dedup.spread(docs).select(col(idCol),
      explode(Dedup.shinglesAuto(docs, textCol, 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("_n"))
    val d = lit(discountBp.toLong)
    val pcont = (coalesce(col("_n1bw"), lit(0L)) + lit(1L)).cast("double") /
      (col("_b") + col("_v") + lit(1L)).cast("double")
    val denom = (lit(10000L) * col("_ctx")).cast("double")
    val pSeen =
      greatest(lit(10000L) * coalesce(col("_cbg"), lit(0L)) - d, lit(0L))
        .cast("double") / denom +
        (d * col("_n1fw")).cast("double") / denom * pcont
    val p = when(col("_ctx").isNull, pcont).otherwise(pSeen)
    val per = tfd
      .join(sbg.hint("shuffle_hash"), Seq("bg"), "left")
      .join(vocabSide(ctx),
        substring_index(col("bg"), " ", 1) === col("_cw1"), "left")
      .join(vocabSide(cont),
        substring_index(col("bg"), " ", -1) === col("_cw2"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("_lp",
        floor((-log(p)) * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).cast("long").as("n_bigrams"),
        sum(col("_n") * col("_lp")).as("_s"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("_s").cast("double") / (col("n_bigrams") * lit(1e9)), 6),
          lit(0.0)).as("kn_log_ppl"))
      .withColumn("keep",
        col("n_bigrams") === 0L || col("kn_log_ppl") <= lit(keepThreshold))
  }

  /** DCLM's learned quality classifier (Li et al. 2024,
    * arXiv:2406.11794 §3.2) in its fastText-shaped linear form
    * (Joulin et al. 2016, arXiv:1607.01759): a linear bag-of-ngrams
    * model over unigrams + word bigrams separating seed ("known good")
    * from random pool text — TRAINING step. The fit is the closed-form
    * multinomial Naive-Bayes log-count ratio (the exact linear weights
    * a one-pass generative fit yields, so training replays as SQL with
    * no iterative optimizer):
    * w(g) = ln((c_pos(g)+1)/(N_pos+V)) − ln((c_neg(g)+1)/(N_neg+V))
    * over the union vocabulary (size V; add-one smoothing), quantized
    * to 1e-6 fixed-point BIGINT; the `topF` features by |w| (tie: gram
    * asc — deterministic) form the model. Returns (g, w) — topF rows.
    *
    * Scale shape: two vocab-sized gram-count partial-agg shuffles, one
    * vocab-sized full-outer shuffle join (persisted — the 1-row scalar
    * agg and the weight projection both consume it), a broadcast 1-row
    * scalar, and a TakeOrdered(topF) — the driver-bound output is
    * topF rows by construction, never vocab-sized. */
  def linearQualityWeights(pos: DataFrame, neg: DataFrame,
      textCol: String, topF: Int = 64): DataFrame = {
    require(topF >= 1 && topF <= 100000,
      s"topF must be in [1, 100000], got $topF")
    require(!pos.isEmpty, "linearQualityWeights: empty positive (seed) class")
    require(!neg.isEmpty, "linearQualityWeights: empty negative class")
    def grams(df: DataFrame): DataFrame = Dedup.spread(df).select(
      explode(concat(TextFunctions.tokens(lower(col(textCol))),
        Dedup.shinglesAuto(df, textCol, 2))).as("g"))
    val pc = grams(pos).groupBy(col("g")).agg(count(lit(1)).as("_pc"))
    val nc = grams(neg).groupBy(col("g")).agg(count(lit(1)).as("_nc"))
    val joined = graft.core.Caches.persistTracked(
      pc.join(nc, Seq("g"), "full_outer"))
    val scal = joined.agg(
      sum(coalesce(col("_pc"), lit(0L))).cast("long").as("_np"),
      sum(coalesce(col("_nc"), lit(0L))).cast("long").as("_nn"),
      count(lit(1)).cast("long").as("_v"))
    joined.crossJoin(broadcast(scal))
      .select(col("g"), floor((
        log((coalesce(col("_pc"), lit(0L)) + lit(1L)).cast("double") /
          (col("_np") + col("_v")).cast("double")) -
        log((coalesce(col("_nc"), lit(0L)) + lit(1L)).cast("double") /
          (col("_nn") + col("_v")).cast("double"))) * lit(1e6) + lit(0.5))
        .cast("long").as("w"))
      .orderBy(abs(col("w")).desc, col("g").asc)
      .limit(topF)
  }

  /** [[linearQualityWeights]]'s SCORING step: the trained (gram →
    * fixed-point weight) table rides along as a LITERAL map, so
    * scoring is a pure zero-shuffle map-side projection over the
    * corpus — the DCLM arrangement where the classifier, once trained,
    * is a constant applied at full scale. Per doc: logit = Σ c_g·w(g)
    * summed exactly in BIGINT over the doc's unigram+bigram stream
    * (OOV grams score 0), reported as the mean per gram
    * (round(logit / (1e6·max(n_grams,1)), 6) — the max guard keeps
    * zero-gram docs at 0.0 instead of NaN); `keep` = no evidence (zero
    * grams) or mean-logit ≥ threshold (seed-like). NULL text carries
    * no evidence either: the gram array coalesces to empty, so such
    * docs land on the documented zero-gram path (n_grams=0, score=0.0,
    * keep=true) instead of propagating NULL through score/keep. */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[(String, Long)], threshold: Double): DataFrame = {
    require(weights.nonEmpty, "linearQualityScore: empty weight table")
    require(weights.map(_._1).distinct.size == weights.size,
      "linearQualityScore: duplicate grams in weight table")
    val wmap = map_from_arrays(
      typedLit(weights.map(_._1)), typedLit(weights.map(_._2)))
    val grams = coalesce(
      concat(TextFunctions.tokens(lower(col(textCol))),
        Dedup.shinglesAuto(docs, textCol, 2)),
      typedLit(Seq.empty[String]))
    Dedup.spread(docs)
      .select(col(idCol), size(grams).cast("long").as("n_grams"),
        aggregate(grams, lit(0L),
          (acc, g) => acc + coalesce(try_element_at(wmap, g), lit(0L)))
          .as("_s"))
      .select(col(idCol), col("n_grams"),
        round(col("_s").cast("double") /
          (greatest(col("n_grams"), lit(1L)).cast("double") * lit(1e6)), 6)
          .as("score"))
      .withColumn("keep",
        col("n_grams") === 0L || col("score") >= lit(threshold))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1) beyond the
    * duplicate-3-gram fraction in the quality rules: per document,
    * the duplicate-LINE fraction (lines that repeat within the doc),
    * the fraction of characters sitting in those repeated lines, and
    * the most frequent word 2-gram with the fraction of characters it
    * covers. High values = boilerplate/spam — the standard pretraining
    * repetition filter.
    *
    * Scale shape: two doc-keyed partial-agg shuffles (line counts,
    * gram counts) + one bounded rank window whose group is a single
    * document's distinct grams — nothing scales with corpus size. */
  def repetitionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = Dedup.spread(docs).select(col(idCol), length(col(textCol)).as("_tl"),
      explode(split(col(textCol), "\n")).as("_line"))
    val lineCounts = lines.groupBy(col(idCol), col("_line"))
      .agg(max(col("_tl")).as("_tl"), count(lit(1)).as("_c"))
      .select(col(idCol), col("_tl"), col("_c"),
        length(col("_line")).as("_ll"))
    val lineAgg = lineCounts.groupBy(col(idCol))
      .agg(max(col("_tl")).as("_tl"),
        sum(col("_c")).as("n_lines"),
        count(lit(1)).as("_nd"),
        sum((col("_c") - lit(1)) * col("_ll")).as("_dup_chars"),
        sum(col("_c") * col("_ll")).as("_line_chars"))
    val grams = Dedup.spread(docs).select(col(idCol),
      explode(graft.operators.Dedup.shinglesAuto(docs, textCol, 2)).as("_g"))
    val wTop = Window.partitionBy(col(idCol))
      .orderBy(col("_gc").desc, col("_g").asc)
    val gramTop = grams.groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).as("_gc"))
      .withColumn("_rn", row_number().over(wTop))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("_g").as("top_2gram"), col("_gc"))
    lineAgg.join(gramTop, Seq(idCol), "left")
      .select(col(idCol),
        col("n_lines"),
        round(lit(1.0) - col("_nd").cast("double") / col("n_lines"), 6)
          .as("dup_line_frac"),
        round(col("_dup_chars").cast("double") /
          greatest(col("_line_chars"), lit(1)), 6).as("dup_line_char_frac"),
        col("top_2gram"),
        coalesce(round(
          (col("_gc") * length(col("top_2gram"))).cast("double") /
            greatest(col("_tl"), lit(1)), 6), lit(0.0)).as("top_2gram_frac"))
  }

  /** BPE-style iterative pair-merge training over the word stream —
    * the tokenizer-TRAINING step of a pretraining pipeline (word-level
    * merges ≡ word2phrase vocabulary learning; the character-level
    * variant is the same recurrence over a different initial symbol
    * table). Each round: count adjacent symbol pairs corpus-wide, pick
    * the most frequent (count desc, pair asc — deterministic), merge
    * every leftmost non-overlapping occurrence. Returns one row per
    * learned merge: (merge_rank, lhs, rhs, pair_count), merged symbols
    * rendered with spaces.
    *
    * Scale shape: the pair-count table is maintained INCREMENTALLY —
    * round 1 pays one full pair explode + partial-agg shuffle; rounds
    * 2+ touch only the rows whose cells contain the just-merged pair
    * (a merge changes no other row's pairs), exploding their pairs
    * before and after the rewrite with ±1 signs into one signed-delta
    * shuffle, then folding the delta into the running counts (a
    * distinct-pair-sized table, never corpus-sized). The argmax is a
    * TakeOrdered(1) over the counts table (the driver sees ONE row per
    * round, never corpus data); the map-side string rewrite and the
    * per-round localCheckpoint of the symbol stream (the repo's
    * iterative-lineage policy) are unchanged. At a real corpus this
    * turns numMerges × full-explode-and-shuffle into
    * 1 × full + (numMerges−1) × affected-subset.
    *
    * Greedy leftmost non-overlapping semantics come from the CELL
    * encoding: each symbol is stored as chr(2)+symbol+' ', so a pair
    * occurrence is exactly its two cells and adjacent occurrences
    * share no characters — a plain non-overlapping replace() IS the
    * BPE merge step, identical in any engine ("a a a" merges its first
    * pair only; "a b a b" merges both). Precondition: tokens contain
    * no spaces (whitespace tokenization guarantees it) and no
    * chr(1)/chr(2) control chars (absent from text corpora). */
  private val BpeMarker = "\u0002" // cell marker
  private val BpeJoiner = "\u0001" // merge joiner

  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val M = BpeMarker
    val J = BpeJoiner
    var state = Dedup.spread(docs).select(
      array_join(transform(TextFunctions.tokens(lower(col(textCol))),
        t => concat(lit(M), t, lit(" "))), "").as("cells"))
      .localCheckpoint()
    // adjacent-pair list of a cells string — shared by the initial
    // full count and the per-round before/after delta
    def pairsOf(cells: Column): Column = {
      val syms = filter(split(cells, " "), c => c =!= "")
      val n1 = greatest(size(syms) - 1, lit(0))
      zip_with(slice(syms, lit(1), n1), slice(syms, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
    }
    // running exact pair-count table (distinct-pair-sized); round 1's
    // full explode is the ONLY corpus-wide pair shuffle
    var counts = state.select(explode(pairsOf(col("cells"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (k <- 1 to numMerges if !done) {
      val best = counts.orderBy(col("c").desc, col("p").asc).limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getString(0)
        val c = best(0).getLong(1)
        val Array(a, b) = p.split(" ", 2)
        val pat = p + " "                       // the two cells, verbatim
        val rep = a + J + b.substring(1) + " "  // one merged cell
        merges += ((k, a.substring(1).replace(J, " "),
          b.substring(1).replace(J, " "), c))
        val rewritten =
          call_function("replace", col("cells"), lit(pat), lit(rep))
        // delta pass: ONLY rows containing the merged pair change any
        // pair count — explode their pairs before (−1) and after (+1)
        // the rewrite in one scan, pre-aggregate the signed sum
        val delta = state.filter(col("cells").contains(pat))
          .select(explode(concat(
            transform(pairsOf(col("cells")),
              q => struct(q.as("p"), lit(-1L).as("d"))),
            transform(pairsOf(rewritten),
              q => struct(q.as("p"), lit(1L).as("d"))))).as("e"))
          .groupBy(col("e.p").as("p")).agg(sum(col("e.d")).as("c"))
        // superseded checkpoints (state, counts) are RDD-level blocks
        // outside the CacheManager — ContextCleaner-reclaimed once the
        // loop drops their references (cache-hygiene category 3;
        // Dataset.unpersist would be a no-op, CheckpointProbeSpec)
        counts = counts.unionByName(delta)
          .groupBy(col("p")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        state = state.select(rewritten.as("cells")).localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Dictionary-weighted CHARACTER-level BPE training (Sennrich et
    * al. 2016 — the standard subword-BPE arrangement): merges are
    * WITHIN-word adjacent character pairs, weighted by word
    * frequency, so training is a PURE FUNCTION of the word-count
    * dict ([[unigramWordCounts]] — the same mergeable-partial state
    * the unigram family trains from). That purity is the increment
    * story [[bpeMerges]]' word-level form cannot have (cross-word
    * pairs make its sufficient statistic the corpus n-gram stream):
    * fold new slices' dicts with [[unigramMergeCounts]] (or retract
    * with [[unigramRetractCounts]]) and re-run this VOCAB-scale
    * trainer — the result is BIT-equal to a full retrain on the
    * union, never rescanning old docs.
    *
    * Machinery is [[bpeMerges]]' audited recurrence, weighted: cell
    * encoding (chr(2)+char+' ', replace() IS the leftmost
    * non-overlapping merge), incremental pair-count maintenance
    * (round 1 pays ONE dict-wide explode; later rounds shuffle only
    * the ±f deltas of dict rows containing the merged pair), one
    * argmax row to the driver per round, per-round localCheckpoint.
    * Everything runs at DICT scale (distinct words — Heaps' law), the
    * structural reason tokenizer training never touches the corpus
    * after the one word-count pass. */
  def bpeMergesFromCounts(wordCounts: DataFrame,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val dict = normalizedWordCounts(wordCounts, "bpeMergesFromCounts")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val M = BpeMarker
    val J = BpeJoiner
    val chars = expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    var state = Dedup.spread(dict).select(
      array_join(transform(chars, ch => concat(lit(M), ch, lit(" "))), "")
        .as("cells"),
      col("f").cast("long").as("f"))
      .localCheckpoint()
    def pairsOf(cells: Column): Column = {
      val syms = filter(split(cells, " "), c => c =!= "")
      val n1 = greatest(size(syms) - 1, lit(0))
      zip_with(slice(syms, lit(1), n1), slice(syms, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
    }
    var counts = state
      .select(col("f"), explode(pairsOf(col("cells"))).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("c"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (k <- 1 to numMerges if !done) {
      val best = counts.orderBy(col("c").desc, col("p").asc).limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getString(0)
        val c = best(0).getLong(1)
        val Array(a, b) = p.split(" ", 2)
        val pat = p + " "
        val rep = a + J + b.substring(1) + " "
        merges += ((k, a.substring(1).replace(J, " "),
          b.substring(1).replace(J, " "), c))
        val rewritten =
          call_function("replace", col("cells"), lit(pat), lit(rep))
        val delta = state.filter(col("cells").contains(pat))
          .select(explode(concat(
            transform(pairsOf(col("cells")),
              q => struct(q.as("p"), (-col("f")).as("d"))),
            transform(pairsOf(rewritten),
              q => struct(q.as("p"), col("f").as("d"))))).as("e"))
          .groupBy(col("e.p").as("p")).agg(sum(col("e.d")).as("c"))
        counts = counts.unionByName(delta)
          .groupBy(col("p")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        state = state.select(rewritten.as("cells"), col("f"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Dictionary-weighted CHARACTER-level WordPiece training — the
    * [[bpeMergesFromCounts]] arrangement under [[wordpieceMerges]]'
    * likelihood-gain criterion (argmax ⌊c·10¹²/(l·r)⌋, ties (count
    * desc, pair asc)): within-word character pairs AND symbol counts
    * are Σ word-freq over the dict, so training is a pure function of
    * the word-count state and the X222 fold/retract algebra applies
    * verbatim — the increment story for the third and last tokenizer
    * family. Pair- and symbol-count tables are maintained on the SAME
    * ±f delta scan; one argmax row to the driver per round. */
  def wordpieceMergesFromCounts(wordCounts: DataFrame,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val dict = normalizedWordCounts(wordCounts, "wordpieceMergesFromCounts")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val M = BpeMarker
    val J = BpeJoiner
    val chars = expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    var state = Dedup.spread(dict).select(
      array_join(transform(chars, ch => concat(lit(M), ch, lit(" "))), "")
        .as("cells"),
      col("f").cast("long").as("f"))
      .localCheckpoint()
    def symsOf(cells: Column): Column =
      filter(split(cells, " "), c => c =!= "")
    def pairsOf(cells: Column): Column = {
      val syms = symsOf(cells)
      val n1 = greatest(size(syms) - 1, lit(0))
      zip_with(slice(syms, lit(1), n1), slice(syms, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
    }
    var counts = state
      .select(col("f"), explode(pairsOf(col("cells"))).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("c"))
      .localCheckpoint()
    var symCounts = state
      .select(col("f"), explode(symsOf(col("cells"))).as("s"))
      .groupBy(col("s")).agg(sum(col("f")).as("c"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var done = false
    for (k <- 1 to numMerges if !done) {
      val best = counts
        .join(symCounts.select(col("s").as("_ls"), col("c").as("_lc")),
          split(col("p"), " ").getItem(0) === col("_ls"))
        .join(symCounts.select(col("s").as("_rs"), col("c").as("_rc")),
          split(col("p"), " ").getItem(1) === col("_rs"))
        .withColumn("sc", expr(
          "CAST(c AS DECIMAL(38,0)) * 1000000000000 div " +
            "(CAST(_lc AS DECIMAL(38,0)) * CAST(_rc AS DECIMAL(38,0)))"))
        .orderBy(col("sc").desc, col("c").desc, col("p").asc).limit(1)
        .select(col("p"), col("c"), col("sc"))
        .collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getString(0)
        val c = best(0).getLong(1)
        val sc = best(0).getLong(2)
        val Array(a, b) = p.split(" ", 2)
        val pat = p + " "
        val rep = a + J + b.substring(1) + " "
        merges += ((k, a.substring(1).replace(J, " "),
          b.substring(1).replace(J, " "), c, sc))
        val rewritten =
          call_function("replace", col("cells"), lit(pat), lit(rep))
        val changed = state.filter(col("cells").contains(pat))
          .localCheckpoint()
        val pairDelta = changed
          .select(explode(concat(
            transform(pairsOf(col("cells")),
              q => struct(q.as("p"), (-col("f")).as("d"))),
            transform(pairsOf(rewritten),
              q => struct(q.as("p"), col("f").as("d"))))).as("e"))
          .groupBy(col("e.p").as("p")).agg(sum(col("e.d")).as("c"))
        val symDelta = changed
          .select(explode(concat(
            transform(symsOf(col("cells")),
              q => struct(q.as("s"), (-col("f")).as("d"))),
            transform(symsOf(rewritten),
              q => struct(q.as("s"), col("f").as("d"))))).as("e"))
          .groupBy(col("e.s").as("s")).agg(sum(col("e.d")).as("c"))
        counts = counts.unionByName(pairDelta)
          .groupBy(col("p")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        symCounts = symCounts.unionByName(symDelta)
          .groupBy(col("s")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        state = state.select(rewritten.as("cells"), col("f"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count", "score")
  }

  /** Apply a learned merge table (rank order, from [[bpeMerges]] —
    * lhs/rhs with spaces marking earlier joins) to the whole corpus:
    * per doc, the symbol count before and after the merges — the
    * tokenizer train-then-APPLY round trip. The merges fold into ONE
    * chained literal `replace()` projection: a pure zero-shuffle map
    * over the corpus, whole-stage codegen'd, nothing to broadcast but
    * the pattern literals themselves. */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    var cells: org.apache.spark.sql.Column =
      array_join(transform(toks, t => concat(lit(BpeMarker), t, lit(" "))), "")
    merges.foreach { case (l, r) =>
      val lm = BpeMarker + l.replace(" ", BpeJoiner)
      val rm = BpeMarker + r.replace(" ", BpeJoiner)
      cells = call_function("replace", cells,
        lit(s"$lm $rm "), lit(lm + BpeJoiner + r.replace(" ", BpeJoiner) + " "))
    }
    Dedup.spread(docs).select(col(idCol),
      size(toks).as("n_tokens"),
      size(filter(split(cells, " "), c => c =!= "")).as("n_symbols"))
  }

  /** WORDPIECE-style merge training (Schuster & Nakajima 2012; the
    * BERT tokenizer's criterion) — the third tokenizer-training
    * recurrence, completing the family (X96 BPE = greedy pair COUNT;
    * X208 unigram-LM = EM; WordPiece = greedy LIKELIHOOD GAIN): each
    * round merges the adjacent pair maximizing
    * score = count(ab) / (count(a)·count(b)) — the pair whose parts
    * co-occur far beyond their independent rates — instead of raw
    * frequency, so "of the" (frequent parts, no association) loses to
    * a genuine collocation BPE would only reach later. Everything else
    * is [[bpeMerges]]' machinery verbatim: cell encoding (chr(2)+sym+
    * ' ', so replace() IS the leftmost non-overlapping merge),
    * incremental pair-count maintenance (round 1 pays the one full
    * explode; later rounds shuffle only the ±1 deltas of rows
    * containing the merged pair), per-round localCheckpoint, ONE
    * argmax row to the driver per round.
    *
    * The score is the QUANTIZED integral ratio
    * ⌊c·10¹² / (l·r)⌋ computed in DECIMAL(38,0) (c·10¹² overflows
    * BIGINT once c > 9.2·10⁶ — a 100 TB corpus gets there; the
    * quotient itself is ≤ 10¹² because l, r ≥ c always), truncation
    * exact in both engines; ties break (count desc, pair asc) —
    * deterministic. Symbol counts are maintained incrementally on the
    * SAME delta scan as the pair counts (a merge of m occurrences
    * moves a −m, b −m, ab +m, and nothing else). Returns
    * (merge_rank, lhs, rhs, pair_count, score). */
  def wordpieceMerges(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val M = BpeMarker
    val J = BpeJoiner
    var state = Dedup.spread(docs).select(
      array_join(transform(TextFunctions.tokens(lower(col(textCol))),
        t => concat(lit(M), t, lit(" "))), "").as("cells"))
      .localCheckpoint()
    def symsOf(cells: Column): Column =
      filter(split(cells, " "), c => c =!= "")
    def pairsOf(cells: Column): Column = {
      val syms = symsOf(cells)
      val n1 = greatest(size(syms) - 1, lit(0))
      zip_with(slice(syms, lit(1), n1), slice(syms, lit(2), n1),
        (a, b) => concat(a, lit(" "), b))
    }
    var counts = state.select(explode(pairsOf(col("cells"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    var symCounts = state.select(explode(symsOf(col("cells"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var done = false
    for (k <- 1 to numMerges if !done) {
      val best = counts
        .join(symCounts.select(col("s").as("_ls"), col("c").as("_lc")),
          split(col("p"), " ").getItem(0) === col("_ls"))
        .join(symCounts.select(col("s").as("_rs"), col("c").as("_rc")),
          split(col("p"), " ").getItem(1) === col("_rs"))
        .withColumn("sc", expr(
          "CAST(c AS DECIMAL(38,0)) * 1000000000000 div " +
            "(CAST(_lc AS DECIMAL(38,0)) * CAST(_rc AS DECIMAL(38,0)))"))
        .orderBy(col("sc").desc, col("c").desc, col("p").asc).limit(1)
        .select(col("p"), col("c"), col("sc"))
        .collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getString(0)
        val c = best(0).getLong(1)
        val sc = best(0).getLong(2)
        val Array(a, b) = p.split(" ", 2)
        val pat = p + " "
        val rep = a + J + b.substring(1) + " "
        merges += ((k, a.substring(1).replace(J, " "),
          b.substring(1).replace(J, " "), c, sc))
        val rewritten =
          call_function("replace", col("cells"), lit(pat), lit(rep))
        val changed = state.filter(col("cells").contains(pat))
          .localCheckpoint()
        val pairDelta = changed
          .select(explode(concat(
            transform(pairsOf(col("cells")),
              q => struct(q.as("p"), lit(-1L).as("d"))),
            transform(pairsOf(rewritten),
              q => struct(q.as("p"), lit(1L).as("d"))))).as("e"))
          .groupBy(col("e.p").as("p")).agg(sum(col("e.d")).as("c"))
        val symDelta = changed
          .select(explode(concat(
            transform(symsOf(col("cells")),
              q => struct(q.as("s"), lit(-1L).as("d"))),
            transform(symsOf(rewritten),
              q => struct(q.as("s"), lit(1L).as("d"))))).as("e"))
          .groupBy(col("e.s").as("s")).agg(sum(col("e.d")).as("c"))
        counts = counts.unionByName(pairDelta)
          .groupBy(col("p")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        symCounts = symCounts.unionByName(symDelta)
          .groupBy(col("s")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
        state = state.select(rewritten.as("cells")).localCheckpoint()
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count", "score")
  }

  /** All (start, end) substring spans of a word up to `maxPieceLen`
    * chars — the unigram-LM candidate lattice. 0-based half-open
    * spans; 1 ≤ e−s ≤ maxPieceLen, so single characters are always
    * candidates and every lattice position stays reachable. */
  private def unigramSpans(w: Column, maxPieceLen: Int): Column =
    flatten(transform(sequence(lit(0), length(w) - 1), s =>
      transform(sequence(s + 1, least(s + lit(maxPieceLen), length(w))),
        e => struct(s.as("s"), e.as("e")))))

  /** Viterbi DP over a word's piece lattice: dp(i) = min cost of
    * segmenting the first i chars, with the back-pointer to the best
    * last-piece start. `edges` is the word's (s, e, c [fixed-point
    * −ln p]) lattice; min over struct(cost, bp) breaks cost ties on
    * the SMALLEST start (= longest final piece) — deterministic and
    * identical to the oracle's struct ordering. Pure column compute:
    * the whole DP is one `aggregate` HOF over positions, map-side,
    * zero shuffles. */
  private def viterbiDp(w: Column, edges: Column): Column =
    aggregate(sequence(lit(1), length(w)),
      array(struct(lit(0L).as("cost"), lit(-1).as("bp"))),
      (acc, i) => concat(acc, array(array_min(transform(
        filter(edges, ed => ed.getField("e") === i),
        ed => struct(
          (element_at(acc, ed.getField("s") + 1).getField("cost") +
            ed.getField("c")).as("cost"),
          ed.getField("s").as("bp")))))))

  /** Back-trace of [[viterbiDp]]: the argmin segmentation as (s, e)
    * spans, walked from the end via the back-pointers (≤ length(w)
    * steps; once the walk reaches 0 the accumulator passes through). */
  private def viterbiSegs(w: Column, dp: Column): Column =
    aggregate(sequence(lit(1), length(w)),
      struct(length(w).as("pos"),
        array().cast("array<struct<s:int,e:int>>").as("segs")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val bp = element_at(dp, pos + 1).getField("bp")
        when(pos > lit(0),
          struct(bp.as("pos"),
            concat(acc.getField("segs"),
              array(struct(bp.as("s"), pos.as("e")))).as("segs")))
          .otherwise(acc)
      },
      acc => acc.getField("segs"))

  /** Add-one-smoothed fixed-point piece costs from a count table:
    * lp = ⌊−ln((cnt+1)/(total+V))·1e9 + 0.5⌋ — the [[unigramSurprisal]]
    * quantization over the smoothed unigram-LM distribution, so zero-
    * count pieces keep a finite (worst) cost and the EM recurrence is
    * integer-replayable in any engine. V rides as the count of the
    * table itself (the vocabulary is frozen at seeding, every round's
    * table carries all V rows). */
  private def unigramSmoothed(cnt: DataFrame): DataFrame = {
    val stats = cnt.agg(sum(col("cnt")).as("_tot"), count(lit(1)).as("_v"))
    cnt.crossJoin(broadcast(stats)).select(col("piece"), col("cnt"),
      floor((-log((col("cnt") + lit(1L)).cast("double") /
        (col("_tot") + col("_v")).cast("double"))) * lit(1e9) + lit(0.5))
        .cast("long").as("lp"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training — the
    * EM-trained sibling of [[bpeMerges]] (Kudo 2018: a vocabulary of
    * subword pieces with probabilities, learned by EM over each
    * word's segmentation lattice; BPE greedily grows merges, the
    * unigram model starts from a large candidate set and re-estimates).
    * This is the deterministic hard-EM (Viterbi) variant with add-one
    * smoothing, integer end to end:
    *   seed   — candidate vocabulary = every substring (≤ maxPieceLen)
    *            of every distinct word, count = Σ word-freq over its
    *            occurrence positions; smoothed fixed-point costs.
    *   E-step — per distinct word, the min-cost segmentation under
    *            the current costs ([[viterbiDp]]; cost ties break on
    *            the longest final piece).
    *   M-step — piece usage = Σ word-freq over argmin segments;
    *            re-smooth over the FROZEN seed vocabulary.
    * Returns the full smoothed score table (piece, cnt, lp) after
    * `emRounds` rounds; cnt is that round's Viterbi usage.
    *
    * Scale shape: ONE corpus-wide shuffle total — the token explode
    * into the distinct-word dict (map-side combine collapses repeats
    * in flight). Everything after runs at VOCAB scale: the span
    * lattice is |words|·len·maxPieceLen rows, each EM round is one
    * piece-keyed join (pinned shuffle-hash — the substring vocabulary
    * grows superlinearly in the word vocab, the [[bigramSurprisal]]
    * argument against broadcast), one word-keyed collect_list whose
    * lists are ≤ len·maxPieceLen structs, a pure-map DP, and one
    * piece-keyed usage fold. Job count is O(emRounds) with a small
    * constant (measured by `runMain graft.UnigramJobs`, PLANS.md
    * "Unigram-LM training bound") — no per-piece iteration anywhere,
    * the structural win over BPE's per-merge recurrence. Train on a
    * SEED SLICE (the caller filters), encode the full corpus with
    * [[unigramLmEncode]] — the slice bounds the dict the same way
    * [[ngramPerplexity]]'s seed does. */
  /** Word dict → span lattice → seed vocabulary (counts) — the shared
    * front of [[unigramLmScores]] and [[unigramLmPruned]]. The token
    * explode into the dict is the ONE corpus-wide shuffle; everything
    * downstream is vocab-scale. */
  private def unigramLattice(docs: DataFrame, textCol: String,
      maxPieceLen: Int): (DataFrame, DataFrame) =
    unigramLatticeFromCounts(unigramWordCounts(docs, textCol), maxPieceLen)

  /** The ONE corpus-wide pass of unigram-LM training: the
    * word-frequency dictionary (w, f). Everything downstream of it —
    * lattice, seed vocabulary, EM, prune — is a PURE FUNCTION of this
    * table, and word counts are an EXACT mergeable partial
    * (occurrences are per-doc, so counts(A ∪ B) ≡
    * merge(counts(A), counts(B)) cell-for-cell): the X128/X220
    * manifest idea applied to tokenizer training. A growing corpus
    * maintains its tokenizer by folding dict tables and re-running
    * the VOCAB-scale training tail — never rescanning old data. */
  def unigramWordCounts(docs: DataFrame, textCol: String): DataFrame =
    Dedup.spread(docs)
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  private def requireWordCounts(df: DataFrame, who: String): Unit =
    require(Set("w", "f").subsetOf(df.columns.toSet),
      s"$who: word-count tables carry (w, f) — unigramWordCounts' " +
        s"schema, ONE row per distinct word — got " +
        s"${df.columns.mkString(", ")}")

  /** Trainer-entry normalization of a word-count table (ADVICE r19):
    * the (w, f) contract is one row per distinct word, but a caller
    * handing a trainer a non-aggregated frame would silently
    * double-count lattice edges and pair counts — merge/retract
    * re-group on w, the trainers' delta scans do not. Re-aggregating
    * here makes duplicate rows MEAN their sum (the only coherent
    * reading) instead of garbage; on a contract-conforming dict the
    * group-by is a vocab-scale identity. */
  private def normalizedWordCounts(df: DataFrame, who: String): DataFrame = {
    requireWordCounts(df, who)
    df.select(col("w"), col("f"))
      .groupBy(col("w")).agg(sum(col("f")).as("f"))
  }

  /** Fold two word-count tables: counts(A ∪ B) ≡ merge — exact,
    * spec-pinned (the [[bm25MergeStats]] / pcaMergeMoments law). */
  def unigramMergeCounts(a: DataFrame, b: DataFrame): DataFrame = {
    requireWordCounts(a, "unigramMergeCounts")
    requireWordCounts(b, "unigramMergeCounts")
    a.select(col("w"), col("f")).unionByName(b.select(col("w"), col("f")))
      .groupBy(col("w")).agg(sum(col("f")).as("f"))
  }

  /** Retract a slice's word counts from a store (right-to-be-
    * forgotten for the tokenizer's training state): subtract
    * cell-wise, drop words reaching zero. Fails LOUD — riding the
    * projected count column — when the retraction carries a word the
    * store never saw or more occurrences than stored: both mean the
    * slice was never merged, and training on silently-negative counts
    * would serve garbage costs. retract(merge(s, b), b) ≡ s,
    * spec-pinned. */
  def unigramRetractCounts(store: DataFrame, retract: DataFrame): DataFrame = {
    requireWordCounts(store, "unigramRetractCounts")
    requireWordCounts(retract, "unigramRetractCounts")
    store.select(col("w"), col("f"))
      .join(retract.select(col("w"), col("f").as("_rf")), Seq("w"), "full")
      // the over-retraction guard is anchored in a FILTER (ADVICE
      // r19): a Filter survives column pruning whatever the consumer
      // projects, so a w-only reader still trips it. The guard and
      // the drop-zeros test are fused into ONE conjunct on purpose —
      // as separate conjuncts, EliminateOuterJoin would see the
      // null-rejecting `f > 0` term alone, convert the full join to
      // LEFT, and silently drop never-merged (store-null) rows before
      // the raise could see them (pinned by CorpusSpec's pruned-
      // consumer test)
      .filter(when(
        col("f").isNull.or(col("_rf").isNotNull && col("_rf") > col("f")),
        raise_error(concat(
          lit("unigramRetractCounts: word '"), col("w"),
          lit("' retracts more occurrences than stored — " +
            "the slice was never merged"))).isNotNull)
        .otherwise((col("f") - coalesce(col("_rf"), lit(0L))) > 0))
      .select(col("w"),
        (col("f") - coalesce(col("_rf"), lit(0L))).as("f"))
  }

  private def unigramLatticeFromCounts(wordCounts: DataFrame,
      maxPieceLen: Int): (DataFrame, DataFrame) = {
    val words = normalizedWordCounts(wordCounts, "unigramLatticeFromCounts")
      .localCheckpoint()
    // span lattice + piece strings — static across rounds
    val edges = words
      .select(col("w"), col("f"),
        explode(unigramSpans(col("w"), maxPieceLen)).as("se"))
      .select(col("w"), col("f"), col("se.s").as("s"), col("se.e").as("e"),
        col("w").substr(col("se.s") + 1, col("se.e") - col("se.s"))
          .as("piece"))
      .localCheckpoint()
    // seed counts; the vocabulary is FROZEN here (V rows, every round)
    val vocab = edges.groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      .localCheckpoint()
    (edges, vocab)
  }

  def unigramLmScores(docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int, emRounds: Int): DataFrame =
    unigramLmScoresFromCounts(unigramWordCounts(docs, textCol),
      maxPieceLen, emRounds)

  /** [[unigramLmScores]] from a word-count table instead of a corpus
    * — the INCREMENTAL training entry point: fold new slices' dicts
    * with [[unigramMergeCounts]] (or retract with
    * [[unigramRetractCounts]]) and re-run this VOCAB-scale tail;
    * because training is a pure function of the dict and the dict
    * folds exactly, the result is BIT-equal to a full retrain over
    * the union — not merely frame-equal (spec-pinned, the X220
    * discipline applied to the third trained-artifact family). */
  def unigramLmScoresFromCounts(wordCounts: DataFrame,
      maxPieceLen: Int, emRounds: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emRounds >= 1, s"emRounds must be >= 1, got $emRounds")
    requireWordCounts(wordCounts, "unigramLmScoresFromCounts")
    val (edges, vocab) = unigramLatticeFromCounts(wordCounts, maxPieceLen)
    var scores = unigramSmoothed(vocab).localCheckpoint()
    for (_ <- 1 to emRounds) {
      // superseded checkpoints are ContextCleaner-reclaimed once the
      // loop drops their references (the bpeMerges note)
      scores = unigramSmoothed(
        unigramEmStep(edges, vocab.select(col("piece")), scores))
        .localCheckpoint()
    }
    scores
  }

  /** [[unigramLmTrain]]'s shipped-vocabulary filter over
    * [[unigramLmScoresFromCounts]] — the incremental-training
    * counterpart. */
  def unigramLmTrainFromCounts(wordCounts: DataFrame,
      maxPieceLen: Int, emRounds: Int): DataFrame =
    unigramLmScoresFromCounts(wordCounts, maxPieceLen, emRounds)
      .filter(col("cnt") > 0)

  /** EM + PRUNE — the vocabulary-size-targeting loop real
    * SentencePiece training runs (Kudo 2018 §3.2: train, keep the
    * best pieces, re-estimate): after `emRounds` hard-EM rounds the
    * vocabulary prunes to the top `keepTop` pieces by (usage desc,
    * piece asc) PLUS every single character (coverage: chars keep any
    * word encodable — the paper's seed-character rule), then ONE more
    * EM round re-estimates usage and costs over the pruned lattice
    * (smoothing denominator = the pruned V′). The lattice restricts
    * by the score join itself, so pruning is zero extra plan shape.
    * The top-K is a TakeOrdered (bounded by the vocab TARGET — the
    * 32k-piece production number, never corpus- or vocab-sized), not
    * a global window. Returns the pruned vocabulary's final
    * (piece, cnt, lp). */
  def unigramLmPruned(docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int, emRounds: Int, keepTop: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(emRounds >= 1, s"emRounds must be >= 1, got $emRounds")
    require(keepTop >= 1, s"keepTop must be >= 1, got $keepTop")
    val (edges, vocab) = unigramLattice(docs, textCol, maxPieceLen)
    var scores = unigramSmoothed(vocab).localCheckpoint()
    var cnt = vocab
    for (_ <- 1 to emRounds) {
      cnt = unigramEmStep(edges, vocab.select(col("piece")), scores)
        .localCheckpoint()
      scores = unigramSmoothed(cnt).localCheckpoint()
    }
    val top = cnt.orderBy(col("cnt").desc, col("piece").asc)
      .limit(keepTop).select(col("piece"), col("cnt"))
    val prunedVocab = top.unionByName(
      cnt.filter(length(col("piece")) === 1)
        .join(top.select(col("piece")), Seq("piece"), "left_anti"))
      .localCheckpoint()
    unigramSmoothed(unigramEmStep(edges,
      prunedVocab.select(col("piece")), unigramSmoothed(prunedVocab)))
  }

  /** One hard-EM round: E-step = Viterbi argmin segmentation of every
    * dict word under `scores` (collect_list order is irrelevant — the
    * DP takes array_min over all edges at each position and usage
    * re-aggregates); M-step = usage-weighted counts over
    * `vocabPieces`. Edges restrict to `scores`' pieces by the join,
    * so a pruned score table IS a pruned lattice. */
  private def unigramEmStep(edges: DataFrame, vocabPieces: DataFrame,
      scores: DataFrame): DataFrame = {
    val ew = edges
      .join(scores.select(col("piece"), col("lp").as("c"))
        .hint("shuffle_hash"), Seq("piece"))
      .groupBy(col("w"), col("f"))
      .agg(collect_list(struct(col("s"), col("e"), col("c"))).as("edges"))
    val seg = ew
      .withColumn("dp", viterbiDp(col("w"), col("edges")))
      .select(col("w"), col("f"),
        explode(viterbiSegs(col("w"), col("dp"))).as("sg"))
      .select(col("f"),
        col("w").substr(col("sg.s") + 1, col("sg.e") - col("sg.s"))
          .as("piece"))
    val usage = seg.groupBy(col("piece")).agg(sum(col("f")).as("u"))
    vocabPieces.select(col("piece"))
      .join(usage.hint("shuffle_hash"), Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u"), lit(0L)).as("cnt"))
  }

  /** The learned vocabulary: [[unigramLmScores]] restricted to pieces
    * the final Viterbi pass actually used — what a pipeline ships as
    * its tokenizer model (the zero-usage candidates exist only to keep
    * the smoothing denominator honest). */
  def unigramLmTrain(docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int, emRounds: Int): DataFrame =
    unigramLmScores(docs, idCol, textCol, maxPieceLen, emRounds)
      .filter(col("cnt") > 0)

  /** Tokenizer APPLY under a trained unigram model (the
    * [[bpeApply]] counterpart): per document, token count and total
    * Viterbi piece count under `scores` ([[unigramLmScores]]' full
    * table — cnt is needed to derive the smoothed zero-count cost).
    * Out-of-vocabulary handling is the standard unigram-encoder rule:
    * a span missing from the vocabulary is admissible only as a
    * SINGLE-CHAR piece at the add-one zero-count cost (admitting
    * longer unseen spans at that cost would beat any real pieces);
    * single-char fallbacks keep every word encodable, chars unseen at
    * train time included.
    *
    * Scale shape: the Viterbi DP runs once per DISTINCT corpus word
    * (dict-sized, the word vocab — Heaps' law), then broadcasts back
    * onto the token stream exactly like [[unigramSurprisal]]'s
    * probability table; the corpus-side work is one explode +
    * broadcast join + per-doc fold. */
  def unigramLmEncode(docs: DataFrame, idCol: String, textCol: String,
      scores: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(Set("piece", "cnt", "lp").subsetOf(scores.columns.toSet),
      s"unigramLmEncode: scores must carry (piece, cnt, lp) — " +
        s"unigramLmScores' schema — got ${scores.columns.mkString(", ")}")
    val terms = Dedup.spread(docs).select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
    val words = terms.select(col("w")).distinct()
    val stats = scores.agg(sum(col("cnt")).as("_tot"), count(lit(1)).as("_v"))
    val lpUnk = floor((-log(lit(1.0) /
      (col("_tot") + col("_v")).cast("double"))) * lit(1e9) + lit(0.5))
      .cast("long")
    val edges = words
      .select(col("w"), explode(unigramSpans(col("w"), maxPieceLen)).as("se"))
      .select(col("w"), col("se.s").as("s"), col("se.e").as("e"),
        col("w").substr(col("se.s") + 1, col("se.e") - col("se.s"))
          .as("piece"))
      .join(scores.select(col("piece"), col("lp")).hint("shuffle_hash"),
        Seq("piece"), "left")
      .crossJoin(broadcast(stats))
      .filter(col("lp").isNotNull || (col("e") - col("s")) === 1)
      .select(col("w"), col("s"), col("e"), coalesce(col("lp"), lpUnk).as("c"))
    val perWord = edges.groupBy(col("w"))
      .agg(collect_list(struct(col("s"), col("e"), col("c"))).as("edges"))
      .withColumn("dp", viterbiDp(col("w"), col("edges")))
      .select(col("w"), size(viterbiSegs(col("w"), col("dp"))).as("n_pieces"))
    val per = terms.join(broadcast(perWord), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_pieces")).as("n_pieces"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Overlapping fixed-size character chunks — the RAG / context-window
    * preparation step: each document yields windows of `chunkSize`
    * chars starting every `stride` chars (`stride <= chunkSize` keeps
    * coverage gapless; the final window is shorter). Emits (doc,
    * chunk_idx, chunk_start [1-based], md5 fingerprint, length) — the
    * hash stands in for the chunk text so downstream exchanges carry
    * 32 bytes, not document bytes.
    *
    * Scale shape: a pure map-side explode — zero shuffles; output rows
    * ≈ chars/stride per doc, each independent of corpus size. Empty
    * documents still emit their one (empty) chunk, so no doc silently
    * disappears from the chunk index. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val starts = sequence(lit(1),
      greatest(length(col(textCol)), lit(1)), lit(stride))
    val chunk = col("_text").substr(col("chunk_start"), lit(chunkSize))
    docs
      .select(col(idCol), col(textCol).as("_text"),
        posexplode(starts).as(Seq("chunk_idx", "chunk_start")))
      .select(col(idCol), col("chunk_idx"), col("chunk_start"),
        md5(chunk).as("chunk_hash"), length(chunk).as("chunk_len"))
  }
}
