package graft.queries


import graft.core.Caches.TrackedPersist

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Corpus, Dedup, Multimodal, Similarity}
import graft.streaming.{EventsStreaming, Store}

/** Cluster-resolution, retrieval, decontamination, DQ and warehouse-composition gates.
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
trait ExtResolveGates { this: ExtAllGates =>
  // ---------- cluster resolution / decontamination / scrubbing ----------

  /** Near-dup cluster resolution: MinHash pairs → connected components
    * → one cluster id (= min doc_id in the component) per involved doc,
    * the canonical survivor marked. Oracle = exact transitive closure
    * via recursive CTE over the SAME generated pair SQL, so the
    * iterative distributed algorithm is value-checked against a
    * from-first-principles reachability definition. */
  val dedupClusters: Q = (s, d) => {
    val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.7, shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    Dedup.connectedComponents(pairs, "id1", "id2")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  val dedupClustersSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql)), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a) " +
      "SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size, " +
      "doc_id = cluster_id AS is_canonical FROM comp"

  /** Soft dedup (X213): the same MinHash-pairs → connected-components
    * chain as q_dedup_clusters, but clusters are DOWN-WEIGHTED
    * (weight_bp = ⌊10⁴/size⌋) instead of dropped, with the
    * deterministic salted-md5 sample at that rate materialized as
    * `keep`. The oracle replays the transitive closure, the per-
    * cluster count, and the md5 bucket predicate. */
  val softDedup: Q = (s, d) =>
    Dedup.softDedup(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.7, shingleN = 3,
      bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)

  val softDedupSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql)), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a), " +
      "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize FROM comp GROUP BY 1), " +
      "lbl AS (SELECT comp.id, comp.cluster_id, sz.csize FROM comp JOIN sz USING (cluster_id)) " +
      "SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, " +
      "coalesce(l.csize, 1) AS cluster_size, " +
      "10000 // coalesce(l.csize, 1) AS weight_bp, " +
      "CAST('0x' || substr(md5('soft:' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 " +
      "< (10000 // coalesce(l.csize, 1)) AS keep " +
      "FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id"

  /** Incremental soft-dedup weight maintenance (X216): the q_soft_dedup
    * weight table maintained across an ingest increment — bootstrap
    * from an EMPTY store over the %3==0 pair slice (empty store ≡ the
    * batch pass, spec-pinned), then fold in every pair touching a
    * non-store doc. The oracle is the FULL recompute over all pairs —
    * q_soft_dedup's SQL verbatim — which is exactly the equality the
    * operator guarantees. */
  val incrementalSoftDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // r22: localCheckpoint, not persist — the second increment embeds
    // this subtree in its plan MANY times (store scan, endpoint lookup,
    // contraction, relabel, re-weight), and with a merely-persisted
    // mining pipeline the logical plan grows multiplicatively: the
    // formatted plan hit 3036 Exchange nodes at sf0.1, and at the sf1
    // decade AQE's per-update explainString exceeded the JVM's 1 GB
    // string cap and OOMed the DRIVER (guide §3.3 — truncate enormous
    // plans by materializing the shared intermediate).
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("id1"), col("id2"))
      .localCheckpoint()
    val storedPairs = pairs.filter(col("id1") % 3 === 0 && col("id2") % 3 === 0)
    val newPairs = pairs.filter(col("id1") % 3 =!= 0 || col("id2") % 3 =!= 0)
    // r22: the empty-store bootstrap is the operator's own spec-pinned
    // degenerate case (empty store ≡ the batch pass, and the store
    // slice's pair endpoints are all %3==0 ids, inside the batch-ids
    // contract) — run the batch pass directly over the already-mined
    // pairs instead of paying the increment's store-scan joins and
    // budget probes against an empty frame. Checkpointed once: the
    // bootstrap store is consumed by MANY actions inside the second
    // increment (budget probes, the CC gate, the store scan).
    val store0 = Dedup.softDedupFromPairs(
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id").as("id")),
      "id", storedPairs)
      .localCheckpoint()
    Dedup.incrementalSoftDedup(store0, newPairs,
      docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("weight_bp"), col("keep"))
  }

  lazy val incrementalSoftDedupSql: String = softDedupSql

  /** Soft-dedup weight retraction (X218): forget the doc_id % 5 == 0
    * slice from the full-corpus weight table — siblings re-weight up,
    * bridge splits re-fragment, untouched rows verbatim. Oracle = the
    * batch recompute over surviving docs under surviving pairs. */
  val softDedupRetraction: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = graft.core.Caches.persistTracked(
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
        .select(col("id1"), col("id2")))
    // r22: the weight table derives from the SAME pair list mined
    // above — softDedup(docs) re-ran the whole banded pipeline
    // (tokenize, minhash, band join, verify) a second time
    val stored = Dedup.softDedupFromPairs(docs, "doc_id", pairs)
      .withColumnRenamed("doc_id", "id")
      .localCheckpoint()
    Dedup.retractSoftDedup(stored, pairs,
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("weight_bp"), col("keep"))
  }

  val softDedupRetractionSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql) " +
      "WHERE id1 % 5 <> 0 AND id2 % 5 <> 0), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a), " +
      "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize FROM comp GROUP BY 1), " +
      "lbl AS (SELECT comp.id, comp.cluster_id, sz.csize FROM comp JOIN sz USING (cluster_id)) " +
      "SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, " +
      "coalesce(l.csize, 1) AS cluster_size, " +
      "10000 // coalesce(l.csize, 1) AS weight_bp, " +
      "CAST('0x' || substr(md5('soft:' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 " +
      "< (10000 // coalesce(l.csize, 1)) AS keep " +
      "FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id " +
      "WHERE d.doc_id % 5 <> 0"

  /** Quality-canonical dedup (X181): same MinHash-pairs → connected
    * components chain as q_dedup_clusters, but the cluster keeps its
    * HIGHEST-QUALITY member (score = n_chars; ties → min doc_id) —
    * the selection policy a real pipeline wants (of N copies, keep
    * the cleanest), computed as one partial-agg argmax with no
    * per-cluster sort. Oracle replays the transitive closure and the
    * (score desc, id asc) pick. */
  val qualityDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.7, shingleN = 3, bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
    Dedup.canonicalByScore(
      Dedup.connectedComponents(pairs, "id1", "id2"),
      docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
      .select(col("id").as("doc_id"), col("cluster_id"), col("score"),
        col("is_canonical"))
  }

  val qualityDedupSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql)), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), " +
      "sc AS (SELECT comp.doc_id, comp.cluster_id, " +
      "CAST(d.n_chars AS BIGINT) AS score FROM comp JOIN documents d ON comp.doc_id = d.doc_id), " +
      "pick AS (SELECT cluster_id, doc_id AS canonical_id FROM (" +
      "SELECT cluster_id, doc_id, row_number() OVER " +
      "(PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rk FROM sc) WHERE rk = 1) " +
      "SELECT sc.doc_id, sc.cluster_id, sc.score, " +
      "sc.doc_id = pick.canonical_id AS is_canonical " +
      "FROM sc JOIN pick ON sc.cluster_id = pick.cluster_id"

  /** Incremental canonical maintenance (X195): the q_quality_dedup
    * pick table maintained across an ingest increment — stored labels
    * + picks from the %3==0 pair slice, batch = every pair touching a
    * non-store doc; picks recompute ONLY for clusters containing a
    * batch endpoint. The oracle is the FULL recompute (recursive-CTE
    * closure over all pairs + the argmax), which is exactly the
    * equality the operator guarantees. */
  val incrementalCanonical: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scores = docs.select(col("doc_id"), col("n_chars"))
    // r22: localCheckpoint, not persist — the increment embeds this
    // subtree in its plan many times (the q_incremental_soft_dedup
    // plan-blowup class: 1484 Exchange nodes in the formatted plan,
    // and AQE stringifies the plan on every update; guide §3.3)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("id1"), col("id2"))
      .localCheckpoint()
    val storedPairs = pairs.filter(col("id1") % 3 === 0 && col("id2") % 3 === 0)
    val newPairs = pairs.filter(col("id1") % 3 =!= 0 || col("id2") % 3 =!= 0)
    val storedLabels = graft.core.Caches.persistTracked(
      Dedup.connectedComponents(storedPairs, "id1", "id2"))
    val storedPicks = Dedup.canonicalByScore(storedLabels, scores,
      "doc_id", "n_chars")
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    Dedup.incrementalCanonical(storedLabels, storedPicks, newPairs,
      scores, "doc_id", "n_chars")
  }

  val incrementalCanonicalSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql)), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), " +
      "sc AS (SELECT comp.doc_id, comp.cluster_id, " +
      "CAST(d.n_chars AS BIGINT) AS score FROM comp JOIN documents d ON comp.doc_id = d.doc_id), " +
      "pick AS (SELECT cluster_id, doc_id AS canonical_id, score FROM (" +
      "SELECT cluster_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rk FROM sc) WHERE rk = 1) " +
      "SELECT cluster_id, canonical_id, score FROM pick"

  /** Content-defined chunking (X143): every document chunked at
    * content-decided boundaries (token hash ≡ 0 mod 8), one row per
    * chunk with the global first-occurrence dup flag — the
    * storage-dedup inventory of the corpus. */
  val cdcChunk: Q = (s, d) =>
    Corpus.cdcChunks(Tables.documents(s, d), "doc_id", "text", divisor = 8)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_md5"), col("dup"))

  val cdcChunkSql: String =
    s"WITH t AS (SELECT doc_id, $duckToksLower AS tk FROM documents), " +
      "tok AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok FROM " +
      "(SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)), " +
      "b AS (SELECT doc_id, pos, tok, CASE WHEN " +
      "CAST(CAST('0x' || substr(md5('cdc:' || tok), 1, 15) AS UBIGINT) AS BIGINT) % 8 = 0 " +
      "THEN 1 ELSE 0 END AS is_b FROM tok), " +
      "c AS (SELECT doc_id, pos, tok, " +
      "CAST(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos) - is_b AS BIGINT) AS chunk_idx FROM b), " +
      "ch AS (SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5, " +
      "doc_id * 1000000000 + chunk_idx AS occ FROM c GROUP BY doc_id, chunk_idx), " +
      "f AS (SELECT chunk_md5, min(occ) AS first_occ FROM ch GROUP BY chunk_md5) " +
      "SELECT doc_id, chunk_idx, n_tokens, chunk_md5, occ <> first_occ AS dup " +
      "FROM ch JOIN f USING (chunk_md5)"

  /** Incremental decontamination (X141): the eval set arrives in two
    * waves — E1 builds the stored flags, E2's NEW grams (anti-joined
    * against E1's index) drive a pure index-vs-index delta pass over
    * the stored train postings, and the merged counts must equal the
    * full pass against E1 ∪ E2 — so the oracle IS the existing
    * full-pass SQL (q_decontaminate's), proving incremental ≡ full at
    * the hash gate. Neither wave re-tokenizes the train corpus. */
  val incrementalDecontam: Q = (s, d) => {
    val split = graft.operators.ScaleOps.hashSplit(
      Tables.documents(s, d), "doc_id", holdoutPct = 10)
    val train = split.filter(col("split") === "train")
    val holdout = split.filter(col("split") === "holdout")
    val e1 = holdout.filter(col("doc_id") % 2 === 0)
    val e2 = holdout.filter(col("doc_id") % 2 =!= 0)
    val postings = graft.core.Caches.persistTracked(
      Corpus.gramPostings(train, "doc_id", "text", n = 13))
    val idx1 = graft.core.Caches.persistTracked(
      Corpus.evalGramRecords(e1, "text", n = 13))
    val stored = Corpus.contaminationDelta(postings, idx1)
      .withColumnRenamed("n_new_shared", "n_shared_grams")
    val delta = Corpus.contaminationDelta(postings,
      Corpus.newEvalGrams(e2, "text", idx1, n = 13))
    val merged = Corpus.mergeContaminationHits(stored, delta)
      .withColumnRenamed("id", "doc_id")
    train.select(col("doc_id"))
      .join(merged.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_grams") > 0)
  }

  /** Incremental cluster maintenance (X133): near-dup pairs with both
    * endpoints in the doc_id % 3 == 0 slice are "history" — their CC
    * labels are the stored table; every pair touching the rest of the
    * corpus is the new batch, folded in by graph contraction (CC over
    * the contracted batch graph only, zero corpus shuffles). The
    * warm-start result provably equals full CC over ALL pairs, so the
    * oracle is the exact recursive-CTE transitive closure. */
  val incrementalClusters: Q = (s, d) => {
    // r22: localCheckpoint — same plan-blowup class as the canonical
    // increment above (guide §3.3)
    val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
      .select(col("id1"), col("id2"))
      .localCheckpoint()
    val storedPairs = pairs.filter(col("id1") % 3 === 0 && col("id2") % 3 === 0)
    val newPairs = pairs.filter(col("id1") % 3 =!= 0 || col("id2") % 3 =!= 0)
    val stored = Dedup.connectedComponents(storedPairs, "id1", "id2")
    Dedup.incrementalConnectedComponents(stored, newPairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  val incrementalClustersSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql)), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a) " +
      "SELECT doc_id, cluster_id FROM comp"

  /** Cluster-label retraction (X149): the stored CC labels over the
    * near-dup pair graph forget every doc_id % 5 == 0 document —
    * affected components only are re-clustered from their surviving
    * pairs (ghost minima relabel, severed bridges split), untouched
    * components keep their rows verbatim. Retract ≡ rebuild-without is
    * the operator's spec-pinned law, so the oracle IS the rebuild: the
    * exact transitive closure over pairs with neither endpoint
    * retracted. */
  val clusterRetraction: Q = (s, d) => {
    val pairs = graft.core.Caches.persistTracked(
      Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
        .select(col("id1"), col("id2")))
    val labels = Dedup.connectedComponents(pairs, "id1", "id2")
    val retract = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"))
    Dedup.retractClusterLabels(labels, pairs, retract)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Canonical-pick retraction (X196): the q_quality_dedup pick
    * table after forgetting the doc_id%5==0 slice — retracted
    * canonicals force re-elections, split components get per-fragment
    * picks, clusters that retract away lose their rows. The oracle
    * is the full recompute over the surviving pairs. */
  val canonicalRetraction: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scores = docs.select(col("doc_id"), col("n_chars"))
    val pairs = graft.core.Caches.persistTracked(
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 3,
        bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB)
        .select(col("id1"), col("id2")))
    val labels = graft.core.Caches.persistTracked(
      Dedup.connectedComponents(pairs, "id1", "id2"))
    val storedPicks = Dedup.canonicalByScore(labels, scores,
      "doc_id", "n_chars")
      .filter(col("is_canonical"))
      .select(col("cluster_id"), col("id").as("canonical_id"), col("score"))
    val retract = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"))
    Dedup.retractCanonical(labels, storedPicks, pairs, scores, retract,
      "doc_id", "n_chars")
  }

  val canonicalRetractionSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql) " +
      "WHERE id1 % 5 <> 0 AND id2 % 5 <> 0), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a), " +
      "sc AS (SELECT comp.doc_id, comp.cluster_id, " +
      "CAST(d.n_chars AS BIGINT) AS score FROM comp JOIN documents d ON comp.doc_id = d.doc_id) " +
      "SELECT cluster_id, doc_id AS canonical_id, score FROM (" +
      "SELECT cluster_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rk FROM sc) WHERE rk = 1"

  val clusterRetractionSql: String =
    s"WITH RECURSIVE pairs AS MATERIALIZED (SELECT id1, id2 FROM ($minhashPairsSql) " +
      "WHERE id1 % 5 <> 0 AND id2 % 5 <> 0), " +
      "edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs " +
      "UNION SELECT id2 AS a, id1 AS b FROM pairs), " +
      "reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) " +
      "UNION SELECT e.a, r.b FROM edges e JOIN reach r ON e.b = r.a), " +
      "comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a) " +
      "SELECT doc_id, cluster_id FROM comp"

  /** Eval-set decontamination: a deterministic 10% hash-holdout of the
    * corpus plays the held-out benchmark; every train doc sharing a
    * word 13-gram with it is flagged (the GPT-3-style overlap rule). */
  val decontaminate: Q = (s, d) => {
    val split = graft.operators.ScaleOps.hashSplit(
      Tables.documents(s, d), "doc_id", holdoutPct = 10)
    Corpus.contaminationFlags(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "holdout"),
      "doc_id", "text", n = 13)
  }

  val decontaminateSql: String =
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t, " +
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS hb FROM documents), " +
      s"g AS (SELECT doc_id, hb, unnest(list_distinct(${duckNgrams(13)})) AS gr FROM toks), " +
      "ev AS (SELECT DISTINCT gr FROM g WHERE hb < 10), " +
      "hits AS (SELECT g.doc_id, count(*) AS n FROM g JOIN ev USING (gr) " +
      "WHERE g.hb >= 10 GROUP BY g.doc_id) " +
      "SELECT t.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams, " +
      "coalesce(h.n, 0) > 0 AS contaminated " +
      "FROM toks t LEFT JOIN hits h USING (doc_id) WHERE t.hb >= 10"

  /** SEMANTIC decontamination (X204): the paraphrase-robust sibling of
    * q_decontaminate — embedding cosine vs the eval slice catches what
    * 13-gram overlap misses (rewordings, translations, format shifts).
    * Quantizer trained on the TRAIN side (the production direction —
    * the eval set must not shape the index); the eval side probes its
    * 2 nearest cells and broadcasts; one cell equi-join over the train
    * scan, never train × eval. Threshold 0.3 sits just under the
    * corpus's p90 cross max-sim (0.294 at sf0.001), so a small nonzero
    * flag set survives the celled confinement. Oracle replays the
    * k-means chain, the nprobe eval assignment, and the flag fold. */
  private[queries] val SEMDECON_T = 0.3
  private[queries] val SEMDECON_NPROBE = 2

  val semanticDecontam: Q = (s, d) => {
    val emb = graft.core.Caches.persistTracked(Tables.embeddings(s, d))
    val train = emb.filter(col("vec_id") % 37 =!= 0)
    val evalSet = emb.filter(col("vec_id") % 37 === 0)
    val cents = graft.operators.Clustering.kmeansCentroidsFixed(
      train, "vec_id", "embedding", k = SEMDEDUP_K, iters = SEMDEDUP_ITERS)
    Similarity.semanticContaminationFlags(train, evalSet, cents,
      threshold = SEMDECON_T, nprobe = SEMDECON_NPROBE)
  }

  // lazy: SEMDEDUP_K/ITERS are declared later in this trait — an
  // eager val here would silently interpolate 0 (the documented
  // object-val-order hazard)
  lazy val semanticDecontamSql: String = {
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    "WITH " + kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
      src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 0)") +
      s", qe AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings WHERE vec_id % 37 = 0)" +
      s", ep AS MATERIALIZED (SELECT vec_id AS eid, cell FROM (SELECT q.vec_id, c.c AS cell, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qe q CROSS JOIN $cPrev c) WHERE rn <= $SEMDECON_NPROBE)" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      s", td AS MATERIALIZED (SELECT a.vec_id AS tid, a.c AS cell, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      ", ed2 AS MATERIALIZED (SELECT ep.eid, ep.cell, cd.ed FROM ep JOIN cd ON cd.vec_id = ep.eid)" +
      s", m AS (SELECT t.tid, count(*) AS n, max(${cos("t.ed", "e.ed")}) AS mx " +
      s"FROM td t JOIN ed2 e ON t.cell = e.cell WHERE ${cos("t.ed", "e.ed")} >= $SEMDECON_T GROUP BY t.tid) " +
      "SELECT t2.vec_id, m.tid IS NOT NULL AS contaminated, " +
      "CAST(coalesce(m.n, 0) AS BIGINT) AS n_matches, " +
      "coalesce(m.mx, 0.0) AS max_sim " +
      "FROM (SELECT vec_id FROM embeddings WHERE vec_id % 37 <> 0) t2 " +
      "LEFT JOIN m ON t2.vec_id = m.tid"
  }

  /** Blocklist term filter: zero-shuffle map-side anti-filter against a
    * literal term list (the broadcast-dim degenerate case). The term is
    * the corpus's planted spam marker — present in ~5% of docs; any
    * COMMON vocab token would degenerately drop ~75% of this
    * small-vocabulary synthetic corpus. */
  private[queries] val BLOCK_TERMS = Seq("dup")

  val blocklist: Q = (s, d) =>
    Corpus.blocklistFilter(Tables.documents(s, d), "text", BLOCK_TERMS)
      .select(col("doc_id"), col("source"))

  val blocklistSql: String = {
    val terms = BLOCK_TERMS.map(t => s"'$t'").mkString(", ")
    s"SELECT doc_id, source FROM documents " +
      s"WHERE len(list_intersect($duckToksLower, [$terms])) = 0"
  }

  /** PII scrubbing: the corpus has no PII, so deterministic synthetic
    * PII derived from doc_id is injected first, then redacted — the
    * redaction path is exercised on every row and the audit counts are
    * value-checked. Identical pattern strings drive both engines
    * (portable Java-regex ∩ RE2 subset). */
  val piiRedact: Q = (s, d) => {
    val enriched = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ssn 123-45-6789")).as("text"))
    enriched.select(col("doc_id"),
      TextFunctions.redactPii(col("text")).as("redacted"),
      TextFunctions.piiCount(col("text"), TextFunctions.EMAIL_RE).as("n_emails"),
      TextFunctions.piiCount(col("text"), TextFunctions.SSN_RE).as("n_ssns"),
      TextFunctions.piiCount(col("text"), TextFunctions.PHONE_RE).as("n_phones"))
  }

  val piiRedactSql: String = {
    val email = TextFunctions.EMAIL_RE
    val ssn = TextFunctions.SSN_RE
    val phone = TextFunctions.PHONE_RE
    val enrich = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com or 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ssn 123-45-6789'"
    s"WITH e AS (SELECT doc_id, $enrich AS text FROM documents) " +
      s"SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$email', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'), '$phone', '<PHONE>', 'g') AS redacted, " +
      s"CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(text, '$ssn')) AS INT) AS n_ssns, " +
      s"CAST(len(regexp_extract_all(text, '$phone')) AS INT) AS n_phones FROM e"
  }

  /** Co-located fact-fact join: both sides bucketed by the join key
    * into the warehouse, then joined — with bucketing, Spark plans the
    * join with NO shuffle Exchange on either side (PlanGuardSpec pins
    * that); the write itself is the bucketed-sink half of the operator.
    * This is the pre-partitioning strategy for repeated 100 TB joins:
    * pay the partitioning once at ingest, never at query time. */
  val bucketedJoin: Q = (s, d) => {
    // a fresh in-memory catalog + a warehouse dir surviving from a
    // previous session = LOCATION_ALREADY_EXISTS on saveAsTable; drop
    // the catalog entry AND the orphaned location before recreating
    def reset(name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    reset("graft_orders_bucketed")
    reset("graft_customer_bucketed")
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(16, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_orders_bucketed")
    Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").bucketBy(16, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_customer_bucketed")
    s.table("graft_orders_bucketed")
      .join(s.table("graft_customer_bucketed"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  val bucketedJoinSql: String =
    "SELECT c_mktsegment, count(*) AS n_orders, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
      "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"

  /** Distributed k-means over the embeddings table — exact fixed-point
    * Lloyd (broadcast centroids, map-side argmin, one partial-agg
    * shuffle per round). Oracle = the SAME fixed iteration count
    * unrolled as chained MATERIALIZED CTEs (the RankQueries
    * delta-series pattern): assignment via cross-join argmin, centroid
    * update via per-dimension exact integer means. */
  private[queries] val KMEANS_K = 5
  private[queries] val KMEANS_ITERS = 3

  val kmeans: Q = (s, d) =>
    graft.operators.Clustering.kmeansFixedPoint(
      Tables.embeddings(s, d), "vec_id", "embedding",
      k = KMEANS_K, iters = KMEANS_ITERS)

  /** k-means CTE chain generator (q, c0, a1, m1, mc1, c1, ..): through
    * the final centroids c{iters-1}, plus the last assignment
    * a{iters} when `finalAssign` — reused by both the standalone
    * q_kmeans oracle and the trained-IVF oracle. */
  private[queries] def kmeansCtes(k: Int, iters: Int, finalAssign: Boolean,
      src: String = "embeddings", prefix: String = "",
      qscale: String = "1000000.0"): String = {
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    // qscale "1.0" = the identity pass for already-integer inputs
    // (IVF-PQ residual chains): floor(x + 0.5) on integer-valued
    // doubles recovers the integer exactly
    val quant = "list_transform(embedding, " +
      s"x -> CAST(floor(CAST(x AS DOUBLE)*$qscale + 0.5) AS BIGINT))"
    val dist = sq("q.qv", "c.cv")
    val p = prefix
    val sb = new StringBuilder
    sb ++= s"${p}q AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM $src), "
    sb ++= s"${p}c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, " +
      s"qv AS cv FROM (SELECT vec_id, qv FROM ${p}q ORDER BY vec_id LIMIT $k)), "
    for (t <- 1 to iters) {
      val prev = s"${p}c${t - 1}"
      if (t < iters || finalAssign)
        sb ++= s"${p}a$t AS MATERIALIZED (SELECT vec_id, qv, c, d FROM (" +
          s"SELECT q.vec_id, q.qv, c.c, $dist AS d, " +
          s"row_number() OVER (PARTITION BY q.vec_id ORDER BY $dist, c.c) AS rn " +
          s"FROM ${p}q q CROSS JOIN $prev c) WHERE rn = 1), "
      if (t < iters) {
        sb ++= s"${p}m$t AS MATERIALIZED (SELECT c, i, " +
          "CAST(floor(CAST(sum(x) AS DOUBLE)/count(*)) AS BIGINT) AS m FROM " +
          "(SELECT c, u.i AS i, u.x AS x FROM (SELECT c, " +
          s"unnest(list_transform(qv, (x, i) -> struct_pack(i := i - 1, x := x))) AS u FROM ${p}a$t)) " +
          "GROUP BY c, i), "
        sb ++= s"${p}mc$t AS MATERIALIZED (SELECT c, list(m ORDER BY i) AS cv FROM ${p}m$t GROUP BY c), "
        sb ++= s"${p}c$t AS MATERIALIZED (SELECT p.c, coalesce(mc.cv, p.cv) AS cv " +
          s"FROM ${p}c${t - 1} p LEFT JOIN ${p}mc$t mc ON p.c = mc.c), "
      }
    }
    sb.toString.stripSuffix(", ")
  }

  val kmeansSql: String =
    "WITH " + kmeansCtes(KMEANS_K, KMEANS_ITERS, finalAssign = true) +
      s" SELECT vec_id, c AS cluster, d AS dist FROM a$KMEANS_ITERS"

  /** IVF with a TRAINED coarse quantizer — k-means centroids feeding
    * the probe, closing the "production build would learn centroids"
    * loop: train (exact fixed-point Lloyd) → convert to the double
    * domain (exact /scale division) → literal-centroid map-side
    * assignment → equi-join probe. Oracle = the k-means CTE chain
    * composed with the IVF probe SQL. */
  private[queries] val IVF_TRAIN_K = 8
  private[queries] val IVF_TRAIN_ITERS = 2

  val embedIvfTrained: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cents = graft.operators.Clustering.kmeansCentroidsDouble(
      emb, "vec_id", "embedding", k = IVF_TRAIN_K, iters = IVF_TRAIN_ITERS)
    Similarity.ivfTopKWith(cents, emb, queriesDf(s, d), k = 10, nprobe = 2)
      .select(col("q_id"), col("vec_id"), col("score"), col("rank"))
  }

  /** Late-interaction MaxSim retrieval (X103, ColBERT scoring):
    * multi-vector docs/queries (4 contiguous 16-dim slices of the
    * embedding — the real deployment feeds per-token vectors through
    * identical plumbing), score = Σ over query subs of the max
    * sub-cosine. Sub-cosines round to 6dp and quantize to 1e-6
    * fixed-point BIGINT before the sum, so the score is exact-integer
    * arithmetic in any order on any engine. */
  val maxSim: Q = (s, d) =>
    Similarity.maxSimTopK(Tables.embeddings(s, d), queriesDf(s, d),
      k = 10, subs = 4, dims = 64)

  val maxSimSql: String =
    "WITH cd AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), " +
      // (v, inv) structs mirror Similarity.maxSimTopK exactly: inv
      // computed once per sub-vector, zero slice -> inv 0 -> cos 0.0
      "sv AS MATERIALIZED (SELECT vec_id, list_transform(list_transform(generate_series(0, 3), i -> list_slice(ed, i*16 + 1, i*16 + 16)), " +
      "s -> struct_pack(v := s, inv := CASE WHEN list_dot_product(s, s) > 0 THEN CAST(1 AS DOUBLE)/sqrt(list_dot_product(s, s)) ELSE CAST(0 AS DOUBLE) END)) AS subs FROM cd), " +
      "q AS MATERIALIZED (SELECT vec_id AS q_id, subs AS qsubs FROM sv WHERE vec_id % 50 = 0), " +
      "sc AS (SELECT q.q_id, sv.vec_id, " +
      "round(CAST(CAST(list_sum(list_transform(q.qsubs, qs -> " +
      "CAST(floor(list_max(list_transform(sv.subs, ds -> " +
      "round(list_dot_product(qs.v, ds.v) * qs.inv * ds.inv, 6))) * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS DOUBLE)/1000000.0, 6) AS score " +
      "FROM sv CROSS JOIN q), " +
      "r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"

  /** SemDeDup (X102): k-means clusters confine the quadratic pairwise-
    * cosine pass to within-cell pairs; every vector with a lower-id
    * cell-sibling at cosine ≥ 0.35 drops. Oracle = the k-means CTE
    * chain composed with a within-cell pair join and NOT-IN drop —
    * assignment, cosine rounding, and drop rule all mirrored exactly. */
  private[queries] val SEMDEDUP_K = 5
  private[queries] val SEMDEDUP_ITERS = 2
  private[queries] val SEMDEDUP_T = 0.35

  /** Shared semantic-store quantizer (the r17 bench adjudication):
    * seven gate rows across the dedup/resolve/stream families train
    * the SAME fixed-point k-means over the SAME vec_id % 3 == 0 store
    * slice — memoized per (sfDir, params); deterministic training
    * keeps every downstream hash unchanged. */
  private[queries] def sharedSemStoreCents(s: SparkSession,
      d: String): Array[(Int, Array[Long])] =
    graft.core.Caches.memoizedArtifact(s,
      s"km-semstore:$d:$SEMDEDUP_K:$SEMDEDUP_ITERS") {
      graft.operators.Clustering.kmeansCentroidsFixed(
        Tables.embeddings(s, d).filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", k = SEMDEDUP_K, iters = SEMDEDUP_ITERS)
    }

  val semanticDedup: Q = (s, d) =>
    Similarity.semanticDedup(Tables.embeddings(s, d),
      k = SEMDEDUP_K, iters = SEMDEDUP_ITERS, threshold = SEMDEDUP_T)

  val semanticDedupSql: String =
    "WITH " + kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true) +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      s", wc AS MATERIALIZED (SELECT a.vec_id, a.c, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      ", prs AS (SELECT x.vec_id AS id1, y.vec_id AS id2 FROM wc x JOIN wc y ON x.c = y.c AND x.vec_id < y.vec_id " +
      s"WHERE round(list_dot_product(x.ed, y.ed)/(sqrt(list_dot_product(x.ed, x.ed))*sqrt(list_dot_product(y.ed, y.ed))), 6) >= $SEMDEDUP_T) " +
      "SELECT vec_id, c AS cluster FROM wc WHERE vec_id NOT IN (SELECT DISTINCT id2 FROM prs)"

  /** Incremental cross-snapshot SEMANTIC dedup (X116) — the
    * embedding-space member of the ingestion trilogy (exact X112,
    * MinHash X113): the vec_id % 3 == 0 slice plays the ingested
    * corpus (present only as its (id, embedding, cell) index, with
    * k-means trained ON THAT SLICE and then frozen), and the rest is
    * the incoming batch: assigned map-side to the frozen centroids,
    * deduped within-cell vs store and vs lower-id batch siblings.
    * Oracle = the k-means CTE chain on the store slice composed with
    * the batch's argmin assignment against c{iters-1} and the two
    * within-cell pair joins. */
  val incrementalSemDedup: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val cents = sharedSemStoreCents(s, d)
    val store = Similarity.semanticStoreRecords(storeSlice, "vec_id", "embedding", cents)
    Similarity.incrementalSemanticDedup(
      emb.filter(col("vec_id") % 3 =!= 0), store, cents, threshold = SEMDEDUP_T)
      .select(col("id").as("vec_id"), col("cell"))
  }

  val incrementalSemDedupSql: String = {
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    "WITH " + kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
      src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)") +
      s", qb AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings WHERE vec_id % 3 <> 0)" +
      s", ba AS MATERIALIZED (SELECT vec_id, c AS cell FROM (SELECT q.vec_id, c.c, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qb q CROSS JOIN $cPrev c) WHERE rn = 1)" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      ", bd AS MATERIALIZED (SELECT ba.vec_id, ba.cell, cd.ed FROM ba JOIN cd USING (vec_id))" +
      s", sd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM a$SEMDEDUP_ITERS a JOIN cd USING (vec_id))" +
      s", dup1 AS (SELECT DISTINCT b.vec_id FROM bd b JOIN sd s ON b.cell = s.cell WHERE ${cos("b.ed", "s.ed")} >= $SEMDEDUP_T)" +
      s", dup2 AS (SELECT DISTINCT y.vec_id FROM bd x JOIN bd y ON x.cell = y.cell AND x.vec_id < y.vec_id WHERE ${cos("x.ed", "y.ed")} >= $SEMDEDUP_T) " +
      "SELECT vec_id, cell FROM bd WHERE vec_id NOT IN (SELECT vec_id FROM dup1 UNION SELECT vec_id FROM dup2)"
  }

  /** Frozen-quantizer drift monitor (X135): centroids trained on the
    * vec_id % 3 == 0 store slice (the X116 bootstrap), then the report
    * compares the store's per-cell population share and mean
    * assignment distance against the incoming batch — all-integer
    * arithmetic, so the operational "retrain the quantizer?" signal is
    * itself a hash row. */
  val ivfDrift: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val cents = sharedSemStoreCents(s, d)
    Similarity.ivfDriftReport(
      storeSlice, emb.filter(col("vec_id") % 3 =!= 0), cents)
  }

  val ivfDriftSql: String = {
    def sq(a: String, b: String) =
      s"CAST(list_sum(list_transform(generate_series(1, len($a)), " +
        s"i -> ($a[i]-$b[i])*($a[i]-$b[i]))) AS BIGINT)"
    val quant = "list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT))"
    val cPrev = s"c${SEMDEDUP_ITERS - 1}"
    val q20 = 1L << 20
    "WITH " + kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true,
      src = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)") +
      s", qb AS MATERIALIZED (SELECT vec_id, $quant AS qv FROM embeddings WHERE vec_id % 3 <> 0)" +
      s", ba AS MATERIALIZED (SELECT vec_id, c, d FROM (SELECT q.vec_id, c.c, ${sq("q.qv", "c.cv")} AS d, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${sq("q.qv", "c.cv")}, c.c) AS rn " +
      s"FROM qb q CROSS JOIN $cPrev c) WHERE rn = 1)" +
      s", ss AS (SELECT c AS cell, count(*) AS store_n, CAST(sum(d // $q20) AS BIGINT) AS sd FROM a$SEMDEDUP_ITERS GROUP BY c)" +
      s", bs AS (SELECT c AS cell, count(*) AS batch_n, CAST(sum(d // $q20) AS BIGINT) AS bd FROM ba GROUP BY c)" +
      ", st AS (SELECT CAST(coalesce(sum(store_n), 0) AS BIGINT) AS stot FROM ss)" +
      ", bt AS (SELECT CAST(coalesce(sum(batch_n), 0) AS BIGINT) AS btot FROM bs)" +
      ", j AS (SELECT coalesce(ss.cell, bs.cell) AS cell, " +
      "coalesce(store_n, 0) AS store_n, coalesce(batch_n, 0) AS batch_n, " +
      "coalesce(sd, 0) AS sd, coalesce(bd, 0) AS bd " +
      "FROM ss FULL OUTER JOIN bs ON ss.cell = bs.cell)" +
      ", r AS (SELECT cell, store_n, batch_n, " +
      "CASE WHEN stot > 0 THEN store_n * 10000 // stot ELSE 0 END AS store_share_bp, " +
      "CASE WHEN btot > 0 THEN batch_n * 10000 // btot ELSE 0 END AS batch_share_bp, " +
      "CASE WHEN store_n > 0 THEN sd // store_n END AS store_mean_qdist, " +
      "CASE WHEN batch_n > 0 THEN bd // batch_n END AS batch_mean_qdist " +
      "FROM j CROSS JOIN st CROSS JOIN bt)" +
      ", r2 AS (SELECT cell, store_n, batch_n, store_share_bp, batch_share_bp, " +
      "abs(batch_share_bp - store_share_bp) AS share_drift_bp, " +
      "store_mean_qdist, batch_mean_qdist, " +
      "CASE WHEN store_mean_qdist > 0 AND batch_mean_qdist IS NOT NULL " +
      "THEN batch_mean_qdist * 10000 // store_mean_qdist END AS dist_growth_bp FROM r) " +
      "SELECT cell, store_n, batch_n, store_share_bp, batch_share_bp, share_drift_bp, " +
      "store_mean_qdist, batch_mean_qdist, dist_growth_bp, " +
      "(share_drift_bp >= 200 OR coalesce(dist_growth_bp >= 12000, false) " +
      "OR coalesce(store_mean_qdist = 0 AND batch_mean_qdist > 0, false)) AS drifted FROM r2"
  }

  /** Quantizer refresh with store migration (X148): the drift
    * monitor's missing consumer — the %3 == 0 store bootstraps under
    * OLD centroids (trained on the store slice alone), drift arrives
    * as the %3 != 0 batch, NEW centroids retrain on the full corpus,
    * the store migrates via one map-side reassignment
    * (Similarity.refreshQuantizer), and the batch then runs the X116
    * increment under the new quantizer. Because refresh ≡ fresh
    * bootstrap under the new centroids (spec-pinned), the oracle is
    * simply the full-corpus k-means chain: store rows are its %3 == 0
    * assignments, batch survivors its within-cell dedup — the OLD
    * quantizer legitimately leaves no trace in the output, which is
    * exactly the migration contract. */
  val quantizerRefresh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val storeSlice = emb.filter(col("vec_id") % 3 === 0)
    val oldCents = sharedSemStoreCents(s, d)
    val store = Similarity.semanticStoreRecords(
      storeSlice, "vec_id", "embedding", oldCents)
    val newCents = graft.operators.Clustering.kmeansCentroidsFixed(
      emb, "vec_id", "embedding", k = SEMDEDUP_K, iters = SEMDEDUP_ITERS)
    val refreshed = graft.core.Caches.persistTracked(
      Similarity.refreshQuantizer(store, newCents))
    val survivors = Similarity.incrementalSemanticDedup(
      emb.filter(col("vec_id") % 3 =!= 0), refreshed, newCents,
      threshold = SEMDEDUP_T)
    refreshed.select(lit("store").as("role"), col("id").as("vec_id"), col("cell"))
      .unionByName(survivors.select(lit("batch").as("role"),
        col("id").as("vec_id"), col("cell")))
  }

  val quantizerRefreshSql: String = {
    def cos(a: String, b: String) =
      s"round(list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b))), 6)"
    val aFin = s"a$SEMDEDUP_ITERS"
    "WITH " + kmeansCtes(SEMDEDUP_K, SEMDEDUP_ITERS, finalAssign = true) +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      s", sd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM $aFin a JOIN cd USING (vec_id) WHERE a.vec_id % 3 = 0)" +
      s", bd AS MATERIALIZED (SELECT a.vec_id, a.c AS cell, cd.ed FROM $aFin a JOIN cd USING (vec_id) WHERE a.vec_id % 3 <> 0)" +
      s", dup1 AS (SELECT DISTINCT b.vec_id FROM bd b JOIN sd s ON b.cell = s.cell WHERE ${cos("b.ed", "s.ed")} >= $SEMDEDUP_T)" +
      s", dup2 AS (SELECT DISTINCT y.vec_id FROM bd x JOIN bd y ON x.cell = y.cell AND x.vec_id < y.vec_id WHERE ${cos("x.ed", "y.ed")} >= $SEMDEDUP_T) " +
      "SELECT 'store' AS role, vec_id, cell FROM sd " +
      "UNION ALL SELECT 'batch' AS role, vec_id, cell FROM bd " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM dup1 UNION SELECT vec_id FROM dup2)"
  }

  val embedIvfTrainedSql: String = {
    def cosRank(vec: String, part: String) =
      s"row_number() OVER (PARTITION BY $part ORDER BY " +
        s"round(list_dot_product($vec, cent.cvec)/(sqrt(list_dot_product($vec, $vec))*sqrt(list_dot_product(cent.cvec, cent.cvec))), 6) DESC, " +
        "cent.cent_id ASC) AS rn"
    "WITH " + kmeansCtes(IVF_TRAIN_K, IVF_TRAIN_ITERS, finalAssign = false) +
      s", cent AS MATERIALIZED (SELECT c AS cent_id, list_transform(cv, x -> x/1000000.0) AS cvec FROM c${IVF_TRAIN_ITERS - 1})" +
      ", cd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings)" +
      s", ca AS (SELECT vec_id, cell FROM (SELECT cd.vec_id, cent.cent_id AS cell, ${cosRank("cd.ed", "cd.vec_id")} " +
      "FROM cd, cent) WHERE rn = 1)" +
      ", qq AS MATERIALIZED (SELECT vec_id AS q_id, ed AS qd FROM cd WHERE vec_id % 50 = 0)" +
      s", qa AS (SELECT q_id, cell FROM (SELECT qq.q_id, cent.cent_id AS cell, ${cosRank("qq.qd", "qq.q_id")} " +
      "FROM qq, cent) WHERE rn <= 2)" +
      ", sc AS (SELECT qa.q_id, ca.vec_id, " +
      "round(list_dot_product(cv.ed, qv.qd)/(sqrt(list_dot_product(cv.ed, cv.ed))*sqrt(list_dot_product(qv.qd, qv.qd))), 6) AS score " +
      "FROM ca JOIN qa ON ca.cell = qa.cell JOIN cd cv ON cv.vec_id = ca.vec_id JOIN qq qv ON qv.q_id = qa.q_id)" +
      ", r AS (SELECT q_id, vec_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, score, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"
  }

  /** BM25 retrieval scoring for a fixed query-term set, top-50 docs.
    * Plan: pruned (doc,term) partial agg + broadcast df/stats +
    * TakeOrdered global top-N. The per-doc total is a fixed-order sum
    * of per-term conditional aggregates — no unordered float sum. */
  private[queries] val BM25_TERMS = Seq("join", "hash", "scan")

  val bm25: Q = (s, d) =>
    Corpus.bm25(Tables.documents(s, d), "doc_id", "text", BM25_TERMS)

  val bm25Sql: String = {
    val k1 = 1.2; val b = 0.75
    val (k1p1, omb) = ((k1 + 1).toString, (1 - b).toString)
    val terms = BM25_TERMS.map(t => s"'$t'").mkString(", ")
    val perTerm = BM25_TERMS.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN s END), 0.0)").mkString(" + ")
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks), " +
      "st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl FROM dl), " +
      "tf AS (SELECT doc_id, x AS term, count(*) AS tf, max(dl) AS dl FROM " +
      "(SELECT doc_id, unnest(t) AS x, CAST(len(t) AS BIGINT) AS dl FROM toks) " +
      s"WHERE x IN ($terms) GROUP BY doc_id, x), " +
      "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, tf.term, " +
      s"ln((CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5)/(dfq.df + 0.5) + 1.0) * " +
      s"(tf.tf * $k1p1) / (tf.tf + $k1 * ($omb + $b * tf.dl / st.avgdl)) AS s " +
      "FROM tf JOIN dfq USING (term) CROSS JOIN st), " +
      s"ag AS (SELECT doc_id, round($perTerm, 6) AS score FROM sc GROUP BY doc_id) " +
      "SELECT doc_id, score, CAST(rank AS INT) AS rank FROM " +
      "(SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM ag) " +
      "WHERE rank <= 50"
  }

  /** Incremental BM25 (X136): the store slice's and the batch's stats
    * snapshots merge by addition (mergeable partials), and the batch
    * scores under the merged GLOBAL statistics — provably identical to
    * a full-corpus pass restricted to the batch docs, which is exactly
    * what the oracle computes. History is never rescanned: only its
    * (term, df) and (n_docs, sum_dl) records participate. */
  val incrementalBm25: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val (st, sc) = Corpus.bm25StatsRecords(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val (bt, bc) = Corpus.bm25StatsRecords(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    val (mt, mc) = Corpus.bm25MergeStats(st, sc, bt, bc)
    Corpus.bm25WithStats(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", BM25_TERMS, mt, mc)
  }

  val incrementalBm25Sql: String = {
    val k1 = 1.2; val b = 0.75
    val (k1p1, omb) = ((k1 + 1).toString, (1 - b).toString)
    val terms = BM25_TERMS.map(t => s"'$t'").mkString(", ")
    val perTerm = BM25_TERMS.map(t =>
      s"coalesce(sum(CASE WHEN term = '$t' THEN s END), 0.0)").mkString(" + ")
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      "st AS (SELECT count(*) AS n_docs, CAST(sum(CAST(len(t) AS BIGINT)) AS DOUBLE)/count(*) AS avgdl FROM toks), " +
      "tf AS (SELECT doc_id, x AS term, count(*) AS tf, max(dl) AS dl FROM " +
      "(SELECT doc_id, unnest(t) AS x, CAST(len(t) AS BIGINT) AS dl FROM toks WHERE doc_id % 3 <> 0) " +
      s"WHERE x IN ($terms) GROUP BY doc_id, x), " +
      "gdf AS (SELECT x AS term, count(*) AS df FROM " +
      "(SELECT doc_id, unnest(list_distinct(t)) AS x FROM toks) " +
      s"WHERE x IN ($terms) GROUP BY x), " +
      "sc AS (SELECT tf.doc_id, tf.term, " +
      s"ln((CAST(st.n_docs AS DOUBLE) - gdf.df + 0.5)/(gdf.df + 0.5) + 1.0) * " +
      s"(tf.tf * $k1p1) / (tf.tf + $k1 * ($omb + $b * tf.dl / st.avgdl)) AS s " +
      "FROM tf JOIN gdf USING (term) CROSS JOIN st), " +
      s"ag AS (SELECT doc_id, round($perTerm, 6) AS score FROM sc GROUP BY doc_id) " +
      "SELECT doc_id, score, CAST(rank AS INT) AS rank FROM " +
      "(SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM ag) " +
      "WHERE rank <= 50"
  }

  /** Hybrid retrieval — the standard two-stage search: BM25 lexical
    * candidate generation (top-50) reranked by embedding cosine
    * against a query vector. The candidate set is top-k-sized, so it
    * broadcasts into the embeddings scan; the rerank window runs on
    * ≤ 50 rows. Composes two oracled operators; the oracle chains the
    * BM25 SQL into the cosine probe. */
  val hybridSearch: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cands = Corpus.bm25(Tables.documents(s, d), "doc_id", "text", BM25_TERMS)
      .select(col("doc_id"), col("score").as("bm25_score"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    emb.join(broadcast(cands), emb("vec_id") === cands("doc_id"))
      .crossJoin(broadcast(qv))
      .withColumn("cosine", Similarity.cosineAuto(col("embedding"), col("q_vec")))
      .select(col("doc_id"), col("bm25_score"), col("cosine"))
      .withColumn("rerank",
        row_number().over(Window.orderBy(col("cosine").desc, col("doc_id").asc)))
  }

  val hybridSearchSql: String =
    s"WITH cand AS (SELECT doc_id, score AS bm25_score FROM ($bm25Sql)), " +
      "qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q FROM embeddings WHERE vec_id = 0), " +
      "ce AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), " +
      "sc AS (SELECT c.doc_id, c.bm25_score, " +
      "round(list_dot_product(e.ed, qv.q)/(sqrt(list_dot_product(e.ed, e.ed))*sqrt(list_dot_product(qv.q, qv.q))), 6) AS cosine " +
      "FROM cand c JOIN ce e ON e.vec_id = c.doc_id CROSS JOIN qv) " +
      "SELECT doc_id, bm25_score, cosine, " +
      "CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT) AS rerank FROM sc"

  /** Reciprocal-rank fusion (X130): fuse the BM25 top-50 with the
    * cosine top-50 for query vector 0 (the shared doc/vec id space) —
    * the FUSION counterpart of hybridSearch's cascade. Scores are
    * exact integral-division reciprocals, so the fused ranking is
    * engine-exact. */
  val rrfFusion: Q = (s, d) => {
    val bm = Corpus.bm25(Tables.documents(s, d), "doc_id", "text", BM25_TERMS)
      .select(col("doc_id"), col("rank"))
    val emb = Tables.embeddings(s, d)
    val cosList = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      k = 50)
      .select(col("vec_id").as("doc_id"), col("rank"))
    Corpus.rrfFuse(Seq(bm, cosList), "doc_id", "rank")
  }

  lazy val rrfFusionSql: String =
    s"WITH bm AS (SELECT doc_id, CAST(rank AS BIGINT) AS r FROM ($bm25Sql)), " +
      "qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q FROM embeddings WHERE vec_id = 0), " +
      "ce AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), " +
      "sc AS (SELECT vec_id, round(list_dot_product(ed, q)/(sqrt(list_dot_product(ed, ed))*sqrt(list_dot_product(q, q))), 6) AS score FROM ce CROSS JOIN qv), " +
      "cl AS (SELECT vec_id AS doc_id, r FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC) AS BIGINT) AS r FROM sc) WHERE r <= 50), " +
      "u AS (SELECT doc_id, 1000000 // (60 + r) AS c FROM bm UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM cl), " +
      "f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf, count(*) AS n_lists FROM u GROUP BY doc_id) " +
      "SELECT doc_id, rrf, n_lists, rank FROM (SELECT doc_id, rrf, n_lists, " +
      "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank FROM f) WHERE rank <= 20"

  /** lead/lag event-sequence features: per-user previous-event gap and
    * next event type — one window shuffle keyed by user, the canonical
    * sequence-feature plan. Deterministic total order (ts, event_id). */
  val leadLag: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("sec"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(col("event_id"), col("user_id"), col("sec"),
      coalesce(col("sec") - lag(col("sec"), 1).over(w), lit(-1L)).as("gap_sec"),
      coalesce(lead(col("event_type"), 1).over(w), lit("__none__")).as("next_type"))
  }

  val leadLagSql: String =
    "WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, " +
      "event_type, ts FROM events) " +
      "SELECT event_id, user_id, sec, " +
      "coalesce(sec - lag(sec) OVER w, -1) AS gap_sec, " +
      "coalesce(lead(event_type) OVER w, '__none__') AS next_type " +
      "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"

  /** The ROUND-3 flagship composition — the complete modern
    * pretraining-data pipeline, every stage one of the library's own
    * oracled operators, hash-verified END-TO-END as one query:
    *
    *   blocklist filter → Gopher quality rules → corpus exact-dedup →
    *   near-dup CLUSTER dedup (MinHash pairs → connected components,
    *   keep the canonical survivor) → deterministic train split →
    *   eval-set decontamination (13-gram overlap) → sequence packing.
    *
    * The oracle chains the same SQL fragments, with the recursive-CTE
    * transitive closure standing in for the iterative components —
    * an end-to-end value check across seven composed stages. */
  // the curation blocklist is DOMAIN-shaped (drop blocked sources, the
  // real-world URL-blocklist pass) — a text-term blocklist over this
  // synthetic ~30-word vocabulary would wipe the corpus (every common
  // token appears in ~75% of docs); q_blocklist keeps the text variant
  private[queries] val CURATE_BLOCK_SOURCES = Seq("src13", "src17")

  val curateFull: Q = (s, d) => {
    import org.apache.spark.storage.StorageLevel
    val docs = Tables.documents(s, d)
    // quality rules are per-row — filter inline instead of semi-joining
    // the materialized qualityRules frame (same keep set, one exchange
    // and one job wave less). spread FIRST: the gopher metrics are the
    // heavy per-row kernel and the raw benchmark scan is one split.
    val clean = Corpus.blocklistFilter(spread(docs), "source", CURATE_BLOCK_SOURCES)
      .filter(gopherKeep(docs))
      .select("doc_id", "text")
    // referenced by both the pair generation and the canonical filter
    val ded = Dedup.exactDedup(clean, "text", "doc_id")
      .select("doc_id", "text")
      .persistTracked()
    val pairs = Dedup.minhashNearDupPairs(ded, "doc_id", "text",
      threshold = 0.7, shingleN = 3,
      bands = MINHASH_BANDS, rowsPerBand = MINHASH_RPB,
      spreadInput = false) // ded is cached and already 32-way
    val dupIds = Dedup.connectedComponents(pairs, "id1", "id2")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val canon = ded.join(dupIds, Seq("doc_id"), "left_anti")
    val train0 = graft.operators.ScaleOps.hashSplit(canon, "doc_id", holdoutPct = 10)
      .filter(col("split") === "train").select("doc_id", "text")
      .persistTracked()
    // the held-out slice of the ORIGINAL corpus plays the external
    // benchmark; only the train side is scrubbed against it
    val evalDocs = graft.operators.ScaleOps.hashSplit(docs, "doc_id", holdoutPct = 10)
      .filter(col("split") === "holdout")
    // the drop list directly — contaminationFlags' full-corpus flag
    // join exists for callers that want per-doc flags, not this anti
    val contaminated = Corpus
      .contaminationHits(train0, evalDocs, "doc_id", "text", n = 13,
        spreadTrain = false) // train0 is cached and already 32-way
      .select("doc_id")
    val train = train0.join(contaminated, Seq("doc_id"), "left_anti")
    // persisted because packSequences' range partitioner SAMPLES its
    // input in a separate job before the real pass — uncached, the
    // contamination join and token counts would run twice
    val slim = train.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      .persistTracked()
    graft.operators.ScaleOps.packSequences(slim, "doc_id", col("nt"), ctxLen = 512L)
  }

  val curateFullSql: String = {
    val srcToks =
      "list_filter(regexp_split_to_array(lower(source), '\\s+'), x -> x <> '')"
    val terms = CURATE_BLOCK_SOURCES.map(t => s"'$t'").mkString(", ")
    val hb = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
    val g13 = duckNgrams(13)
    "WITH RECURSIVE " + duckQualityBody +
      s", kept AS (SELECT d.doc_id, d.text FROM documents d JOIN m ON d.doc_id = m.doc_id " +
      "WHERE m.n_tokens >= 5 AND m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0 AND m.dup_3gram_frac < 0.3 " +
      s"AND len(list_intersect($srcToks, [$terms])) = 0)" +
      s", ded AS MATERIALIZED (SELECT doc_id, text FROM (SELECT doc_id, text, row_number() OVER " +
      s"(PARTITION BY md5($duckNormText) ORDER BY doc_id) AS rn FROM kept) WHERE rn = 1)" +
      s", prs AS MATERIALIZED (SELECT id1, id2 FROM (${minhashPairsSqlFrom("ded")}))" +
      ", ued AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2 AS a, id1 AS b FROM prs)" +
      ", reach AS (SELECT a, a AS b FROM (SELECT DISTINCT a FROM ued) " +
      "UNION SELECT e.a, r.b FROM ued e JOIN reach r ON e.b = r.a)" +
      ", comp AS (SELECT a AS doc_id, min(b) AS cid FROM reach GROUP BY a)" +
      ", canon AS MATERIALIZED (SELECT doc_id, text FROM ded " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cid))" +
      s", train0 AS MATERIALIZED (SELECT doc_id, text FROM canon WHERE $hb >= 10)" +
      s", evg AS MATERIALIZED (SELECT DISTINCT gr FROM (SELECT unnest(list_distinct($g13)) AS gr FROM " +
      s"(SELECT $duckToksLower AS t FROM documents WHERE $hb < 10)))" +
      s", tg AS (SELECT doc_id, unnest(list_distinct($g13)) AS gr FROM " +
      "(SELECT doc_id, " + duckToksLower + " AS t FROM train0))" +
      ", cont AS (SELECT DISTINCT doc_id FROM tg JOIN evg USING (gr))" +
      ", trn AS (SELECT doc_id, text FROM train0 WHERE doc_id NOT IN (SELECT doc_id FROM cont))" +
      s", ntok AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM trn)" +
      ", cum AS (SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e FROM ntok) " +
      "SELECT doc_id, unnest(generate_series(CAST(floor((e - nt)/512.0) AS BIGINT), CAST(floor((e - 1)/512.0) AS BIGINT))) AS pack_id, " +
      "e - nt AS token_start, nt AS n_tokens FROM cum WHERE nt > 0"
  }

  /** ORC round trip (columnar sibling of parquet — same pushdown and
    * pruning through Spark's vectorized ORC reader). */
  val orcRoundtrip: Q = (s, d) => {
    val target = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sink-docs-orc").toString
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "source", "lang", "n_chars")
    graft.sources.FormatSinks.writeOrc(docs, target)
    graft.sources.FormatSinks.readOrc(s, target)
      .filter(col("lang") === "en")
      .select("doc_id", "source", "n_chars")
  }

  val orcRoundtripSql: String =
    "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'"

  /** JSON-lines round trip with an EXPLICIT read schema (no inference
    * pass); text fidelity checked via md5 through the JSON escaping. */
  val jsonlRoundtrip: Q = (s, d) => {
    val target = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sink-docs-jsonl").toString
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    graft.sources.FormatSinks.writeJsonl(docs, target)
    graft.sources.FormatSinks.readJsonl(s, target, docs.schema)
      .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
  }

  val jsonlRoundtripSql: String =
    "SELECT doc_id, md5(text) AS text_md5, lang FROM documents"

  /** Sliding (hopping) event-time windows — 10-minute windows every 5
    * minutes, so each event lands in exactly two overlapping windows.
    * Same partial-agg shuffle as the tumbling form (the explode-to-two
    * is map-side); the oracle derives both window starts from the
    * 5-minute bucket. */
  val slidingWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(unix_timestamp(col("window.start")).as("win_start_epoch"),
        col("event_type"), col("n"), col("total"))

  val slidingWindowSql: String =
    "WITH e AS (SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) AS b, " +
      "event_type, value FROM events), " +
      "w AS (SELECT unnest([b - 300, b]) AS win_start_epoch, event_type, value FROM e) " +
      "SELECT win_start_epoch, event_type, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total " +
      "FROM w GROUP BY 1, 2"

  /** CCNet-style unigram surprisal quality score: fixed-point log-probs
    * make the per-doc sum exact in any engine/order. */
  val unigramSurprisal: Q = (s, d) =>
    Corpus.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")

  /** Bigram LM surprisal — −mean ln P(w₂|w₁) under the corpus MLE
    * bigram model; the oracle rebuilds the identical quantized
    * fixed-point recurrence (floor(−ln·1e9 + 0.5) per gram, BIGINT
    * sums). */
  val bigramSurprisal: Q = (s, d) =>
    Corpus.bigramSurprisal(Tables.documents(s, d), "doc_id", "text")

  val bigramSurprisalSql: String = {
    val bigrams = "CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+1), ' ')) " +
      "ELSE []::VARCHAR[] END"
    s"WITH toks AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"bg AS (SELECT doc_id, unnest($bigrams) AS bg FROM toks), " +
      "bc AS MATERIALIZED (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg), " +
      "wc AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cnt) AS BIGINT) AS ctx FROM bc GROUP BY 1), " +
      "pr AS (SELECT bg, CAST(floor((-ln(CAST(cnt AS DOUBLE)/ctx)) * 1000000000.0 + 0.5) AS BIGINT) AS lp " +
      "FROM bc JOIN wc ON split_part(bc.bg, ' ', 1) = wc.w1), " +
      "per AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS s FROM bg JOIN pr USING (bg) GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
      "coalesce(round(CAST(p.s AS DOUBLE)/(p.n_bigrams * 1000000000.0), 6), 0.0) AS mean_bigram_surprisal " +
      "FROM documents d LEFT JOIN per p USING (doc_id)"
  }

  /** DCLM-style n-gram perplexity classifier (X108): interpolated
    * add-one unigram+bigram model trained on the doc_id % 5 == 0 seed
    * slice, every document scored by mean surprisal under it, kept at
    * or below the threshold. The oracle trains the identical model
    * from the identical slice. */
  private[queries] val PPL_LAMBDA_BP = 7000
  private[queries] val PPL_KEEP_THRESHOLD = 3.5

  val ngramPerplexity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.ngramPerplexity(docs, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", lambdaBp = PPL_LAMBDA_BP,
      keepThreshold = PPL_KEEP_THRESHOLD)
  }

  val ngramPerplexitySql: String = {
    val bigrams = "CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+1), ' ')) " +
      "ELSE []::VARCHAR[] END"
    val lam = s"($PPL_LAMBDA_BP.0/10000.0)"
    val oml = s"(${10000 - PPL_LAMBDA_BP}.0/10000.0)"
    s"WITH toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"seedbg AS MATERIALIZED (SELECT bg, count(*) AS cbg FROM " +
      s"(SELECT unnest($bigrams) AS bg FROM toks WHERE doc_id % 5 = 0) GROUP BY bg), " +
      "ctx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cbg) AS BIGINT) AS ctx FROM seedbg GROUP BY 1), " +
      "uni AS MATERIALIZED (SELECT w, count(*) AS cw FROM " +
      "(SELECT unnest(t) AS w FROM toks WHERE doc_id % 5 = 0) GROUP BY w), " +
      "scal AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok, CAST(count(*) AS BIGINT) AS v FROM uni), " +
      s"bg AS (SELECT doc_id, bg, count(*) AS n FROM " +
      s"(SELECT doc_id, unnest($bigrams) AS bg FROM toks) GROUP BY doc_id, bg), " +
      "sc AS (SELECT b.doc_id, b.n, CAST(floor((-ln(" +
      s"$lam * (CAST(coalesce(s.cbg, 0) + 1 AS DOUBLE)/(coalesce(c.ctx, 0) + scal.v)) + " +
      s"$oml * (CAST(coalesce(u.cw, 0) + 1 AS DOUBLE)/(scal.n_tok + scal.v))" +
      ")) * 1000000000.0 + 0.5) AS BIGINT) AS lp " +
      "FROM bg b LEFT JOIN seedbg s USING (bg) " +
      "LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1 " +
      "LEFT JOIN uni u ON split_part(b.bg, ' ', 2) = u.w " +
      "CROSS JOIN scal), " +
      "per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, CAST(sum(n * lp) AS BIGINT) AS s FROM sc GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
      "coalesce(round(CAST(p.s AS DOUBLE)/(p.n_bigrams * 1000000000.0), 6), 0.0) AS log_ppl, " +
      "(coalesce(p.n_bigrams, 0) = 0 OR " +
      s"coalesce(round(CAST(p.s AS DOUBLE)/(p.n_bigrams * 1000000000.0), 6), 0.0) <= $PPL_KEEP_THRESHOLD) AS keep " +
      "FROM documents d LEFT JOIN per p USING (doc_id)"
  }

  /** Interpolated Kneser–Ney bigram perplexity (X212): the KenLM/CCNet
    * smoothing, trained on the doc_id % 5 == 0 seed slice, every
    * document scored by mean KN surprisal. The oracle trains the
    * identical model from the identical slice, mirroring the operator
    * expression operator-for-operator (discount in basis points, all
    * model terms ratios of BIGINT counts, 1e-9 fixed-point log-probs
    * before the per-doc sum). */
  private[queries] val KN_DISCOUNT_BP = 7500
  private[queries] val KN_KEEP_THRESHOLD = 3.5

  val knPerplexity: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.knPerplexity(docs, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", discountBp = KN_DISCOUNT_BP,
      keepThreshold = KN_KEEP_THRESHOLD)
  }

  val knPerplexitySql: String = {
    val bigrams = "CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+1), ' ')) " +
      "ELSE []::VARCHAR[] END"
    val dbp = KN_DISCOUNT_BP
    val pcont = "(CAST(coalesce(ct.n1bw, 0) + 1 AS DOUBLE)/" +
      "CAST(scal.b + scal.v + 1 AS DOUBLE))"
    val denom = "CAST(10000 * c.ctx AS DOUBLE)"
    val pseen = s"CAST(greatest(10000*coalesce(s.cbg, 0) - $dbp, 0) AS DOUBLE)/$denom + " +
      s"CAST($dbp * c.n1fw AS DOUBLE)/$denom * $pcont"
    s"WITH toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"sbg AS MATERIALIZED (SELECT bg, CAST(count(*) AS BIGINT) AS cbg FROM " +
      s"(SELECT unnest($bigrams) AS bg FROM toks WHERE doc_id % 5 = 0) GROUP BY bg), " +
      "ctx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cbg) AS BIGINT) AS ctx, " +
      "CAST(count(*) AS BIGINT) AS n1fw FROM sbg GROUP BY 1), " +
      "cont AS (SELECT split_part(bg, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS n1bw FROM sbg GROUP BY 1), " +
      "scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM sbg) AS b, " +
      "(SELECT CAST(count(DISTINCT w) AS BIGINT) FROM (SELECT unnest(t) AS w FROM toks WHERE doc_id % 5 = 0)) AS v), " +
      s"bg AS (SELECT doc_id, bg, count(*) AS n FROM " +
      s"(SELECT doc_id, unnest($bigrams) AS bg FROM toks) GROUP BY doc_id, bg), " +
      "sc AS (SELECT b.doc_id, b.n, CAST(floor((-ln(" +
      s"CASE WHEN c.ctx IS NULL THEN $pcont ELSE $pseen END" +
      ")) * 1000000000.0 + 0.5) AS BIGINT) AS lp " +
      "FROM bg b LEFT JOIN sbg s USING (bg) " +
      "LEFT JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1 " +
      "LEFT JOIN cont ct ON split_part(b.bg, ' ', 2) = ct.w2 " +
      "CROSS JOIN scal), " +
      "per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, CAST(sum(n * lp) AS BIGINT) AS s FROM sc GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
      "coalesce(round(CAST(p.s AS DOUBLE)/(p.n_bigrams * 1000000000.0), 6), 0.0) AS kn_log_ppl, " +
      "(coalesce(p.n_bigrams, 0) = 0 OR " +
      s"coalesce(round(CAST(p.s AS DOUBLE)/(p.n_bigrams * 1000000000.0), 6), 0.0) <= $KN_KEEP_THRESHOLD) AS keep " +
      "FROM documents d LEFT JOIN per p USING (doc_id)"
  }

  /** DCLM's learned quality classifier (X109, Li et al. 2024 §3.2) in
    * its fastText-shaped linear form: closed-form NB log-count-ratio
    * weights over unigrams+bigrams trained on the doc_id % 5 == 0 seed
    * slice vs the rest of the pool, top-64 features by |weight|
    * collected (bounded) into a LITERAL map, every document scored by
    * its mean fixed-point logit in one zero-shuffle projection. The
    * oracle replays the identical training and scoring in SQL. */
  private[queries] val LQ_TOP_F = 64
  private[queries] val LQ_KEEP_THRESHOLD = 0.0

  val linearQuality: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = Corpus.linearQualityWeights(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0), "text", topF = LQ_TOP_F)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Corpus.linearQualityScore(docs, "doc_id", "text", w,
      threshold = LQ_KEEP_THRESHOLD)
  }

  val linearQualitySql: String = {
    val bigrams = "CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+1), ' ')) " +
      "ELSE []::VARCHAR[] END"
    val score = "round(CAST(coalesce(ds.s, 0) AS DOUBLE)/" +
      "(greatest(n.n_grams, 1) * 1000000.0), 6)"
    s"WITH toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"gr AS MATERIALIZED (SELECT doc_id, unnest(list_concat(t, $bigrams)) AS g FROM toks), " +
      "pc AS MATERIALIZED (SELECT g, count(*) AS c FROM gr WHERE doc_id % 5 = 0 GROUP BY g), " +
      "nc AS MATERIALIZED (SELECT g, count(*) AS c FROM gr WHERE doc_id % 5 <> 0 GROUP BY g), " +
      "j AS MATERIALIZED (SELECT coalesce(pc.g, nc.g) AS g, pc.c AS pcc, nc.c AS ncc " +
      "FROM pc FULL OUTER JOIN nc ON pc.g = nc.g), " +
      "scal AS (SELECT CAST(coalesce(sum(pcc), 0) AS BIGINT) AS np, " +
      "CAST(coalesce(sum(ncc), 0) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS v FROM j), " +
      "w AS (SELECT g, CAST(floor((" +
      "ln(CAST(coalesce(pcc, 0) + 1 AS DOUBLE)/(np + v)) - " +
      "ln(CAST(coalesce(ncc, 0) + 1 AS DOUBLE)/(nn + v))" +
      ") * 1000000.0 + 0.5) AS BIGINT) AS w FROM j CROSS JOIN scal), " +
      s"topw AS MATERIALIZED (SELECT g, w FROM w ORDER BY abs(w) DESC, g ASC LIMIT $LQ_TOP_F), " +
      "ds AS (SELECT gr.doc_id, CAST(coalesce(sum(tw.w), 0) AS BIGINT) AS s " +
      "FROM gr LEFT JOIN topw tw ON gr.g = tw.g GROUP BY gr.doc_id), " +
      "n AS (SELECT doc_id, CAST(len(t) + CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS n_grams FROM toks) " +
      s"SELECT n.doc_id, n.n_grams, $score AS score, " +
      s"(n.n_grams = 0 OR $score >= $LQ_KEEP_THRESHOLD) AS keep " +
      "FROM n LEFT JOIN ds ON n.doc_id = ds.doc_id"
  }

  /** DSIR importance resampling (X111, Xie et al. 2023): hashed
    * bag-of-ngrams log-likelihood-ratio weights (target = the
    * doc_id % 5 == 0 seed slice, raw = the whole pool, 256 buckets),
    * then Gumbel top-50 selection with md5-derived deterministic
    * noise. The oracle replays hashing, smoothing, summing, and the
    * Gumbel keys exactly. */
  private[queries] val DSIR_BUCKETS = 256
  private[queries] val DSIR_K = 50

  val dsirSample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = graft.operators.ScaleOps.dsirLogRatioWeights(
      docs.filter(col("doc_id") % 5 === 0), docs, "text",
      buckets = DSIR_BUCKETS)
    graft.operators.ScaleOps.dsirResample(docs, "doc_id", "text", w,
      k = DSIR_K, buckets = DSIR_BUCKETS)
  }

  val dsirSampleSql: String = {
    val bigrams = "CASE WHEN len(t) >= 2 THEN " +
      "list_transform(generate_series(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+1), ' ')) " +
      "ELSE []::VARCHAR[] END"
    val B = DSIR_BUCKETS
    s"WITH toks AS MATERIALIZED (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"gb AS MATERIALIZED (SELECT doc_id, " +
      s"CAST('0x' || substr(md5('91:' || g), 1, 15) AS BIGINT) % $B AS bucket FROM " +
      s"(SELECT doc_id, unnest(list_concat(t, $bigrams)) AS g FROM toks)), " +
      "tc AS (SELECT bucket, count(*) AS c FROM gb WHERE doc_id % 5 = 0 GROUP BY bucket), " +
      "rc AS (SELECT bucket, count(*) AS c FROM gb GROUP BY bucket), " +
      "scal AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM tc) AS nt, " +
      "(SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM rc) AS nr), " +
      s"w AS MATERIALIZED (SELECT s.bucket, CAST(floor((" +
      s"ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)/CAST(nt + $B AS DOUBLE)) - " +
      s"ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE)/CAST(nr + $B AS DOUBLE))" +
      ") * 1000000.0 + 0.5) AS BIGINT) AS w " +
      s"FROM (SELECT unnest(generate_series(0, $B - 1)) AS bucket) s " +
      "LEFT JOIN tc ON s.bucket = tc.bucket LEFT JOIN rc ON s.bucket = rc.bucket " +
      "CROSS JOIN scal), " +
      "ds AS (SELECT gb.doc_id, CAST(sum(w.w) AS BIGINT) AS lw " +
      "FROM gb JOIN w ON gb.bucket = w.bucket GROUP BY gb.doc_id), " +
      "al AS (SELECT d.doc_id, coalesce(ds.lw, 0) AS log_w_fp FROM documents d " +
      "LEFT JOIN ds ON d.doc_id = ds.doc_id), " +
      "ky AS (SELECT doc_id, log_w_fp, CAST(floor((CAST(log_w_fp AS DOUBLE)/1000000.0 - " +
      "ln(-ln((CAST(CAST('0x' || substr(md5('92:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) " +
      "% 4503599627370496 AS DOUBLE) + 1.0)/4503599627370498.0))" +
      ") * 1000000.0 + 0.5) AS BIGINT) AS gumbel_key FROM al) " +
      s"SELECT doc_id, log_w_fp, gumbel_key FROM ky " +
      s"ORDER BY gumbel_key DESC, doc_id ASC LIMIT $DSIR_K"
  }

  /** BPE-style merge training (X96): four iterations of
    * count-adjacent-pairs → argmax → corpus-wide leftmost
    * non-overlapping merge over the word stream — the
    * tokenizer-training recurrence. The oracle chains the SAME
    * recurrence as generated CTE levels: both engines encode symbols
    * as chr(2)+symbol+' ' cells, so a plain non-overlapping replace()
    * IS the merge step and ties break on identical (count desc,
    * pair asc) keys. */
  val BPE_MERGES = 4

  val bpeMerges: Q = (s, d) =>
    Corpus.bpeMerges(Tables.documents(s, d), "doc_id", "text", BPE_MERGES)

  /** Shared CTE chain for the BPE oracles: s0 (cell-encoded corpus),
    * then per round k the pair table p_k, argmax b_k, and — when
    * `withFinalState` (the apply oracle reads it) — the rewritten
    * state s_k. */
  private[queries] def bpeOracleChain(withFinalState: Boolean): String = {
    val cells =
      s"array_to_string(list_transform($duckToksLower, t -> chr(2) || t || ' '), '')"
    val sb = new StringBuilder(
      s"WITH s0 AS MATERIALIZED (SELECT doc_id, $cells AS cells FROM documents)")
    for (k <- 1 to BPE_MERGES) {
      val prev = s"s${k - 1}"
      sb.append(
        s", p$k AS (SELECT list_extract(arr, i) || ' ' || list_extract(arr, i + 1) AS pr " +
          s"FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i " +
          s"FROM (SELECT list_filter(string_split(cells, ' '), x -> x <> '') AS arr FROM $prev)))")
      sb.append(
        s", b$k AS MATERIALIZED (SELECT pr, count(*) AS c, " +
          s"split_part(pr, ' ', 1) AS la, split_part(pr, ' ', 2) AS rb " +
          s"FROM p$k GROUP BY pr ORDER BY c DESC, pr ASC LIMIT 1)")
      // scalar subqueries + coalesce, NOT a cross join: a corpus that
      // exhausts pairs before round k leaves b$k empty, and a cross
      // join would empty every later state (zero oracle rows while
      // Spark's early-stopping apply still emits one row per doc) —
      // with empty b$k the subqueries yield NULL, replace() propagates
      // it, and coalesce falls back to the unchanged previous state
      if (k < BPE_MERGES || withFinalState) sb.append(
        s", s$k AS MATERIALIZED (SELECT doc_id, " +
          s"coalesce(replace(cells, (SELECT pr || ' ' FROM b$k), " +
          s"(SELECT la || chr(1) || substr(rb, 2) || ' ' FROM b$k)), cells) AS cells " +
          s"FROM $prev)")
    }
    sb.toString
  }

  /** WordPiece merge training (X219): four rounds of the likelihood-
    * gain criterion — argmax ⌊c·10¹²/(l·r)⌋, ties (count desc, pair
    * asc) — over the same cell-encoded recurrence as BPE. The oracle
    * chains the identical rounds with per-round symbol-count tables
    * and the HUGEINT integral score. */
  private[queries] val WP_MERGES = 4

  val wordpieceMerges: Q = (s, d) =>
    Corpus.wordpieceMerges(Tables.documents(s, d), "doc_id", "text",
      WP_MERGES)

  /** Shared WordPiece CTE chain (the bpeOracleChain arrangement):
    * states w0..; per round the pair table wp_k, symbol counts wy_k,
    * score argmax wb_k; `withFinalState` adds the last rewritten
    * state (the apply oracle reads it). */
  private[queries] def wordpieceOracleChain(withFinalState: Boolean): String = {
    val cells =
      s"array_to_string(list_transform($duckToksLower, t -> chr(2) || t || ' '), '')"
    val sb = new StringBuilder(
      s"WITH w0 AS MATERIALIZED (SELECT doc_id, $cells AS cells FROM documents)")
    for (k <- 1 to WP_MERGES) {
      val prev = s"w${k - 1}"
      sb.append(
        s", wp$k AS (SELECT list_extract(arr, i) || ' ' || list_extract(arr, i + 1) AS pr " +
          s"FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i " +
          s"FROM (SELECT list_filter(string_split(cells, ' '), x -> x <> '') AS arr FROM $prev)))")
      sb.append(
        s", wy$k AS MATERIALIZED (SELECT sym AS s, CAST(count(*) AS BIGINT) AS c FROM " +
          s"(SELECT unnest(list_filter(string_split(cells, ' '), x -> x <> '')) AS sym FROM $prev) GROUP BY 1)")
      sb.append(
        s", wb$k AS MATERIALIZED (SELECT pr, c, la, rb, sc FROM " +
          s"(SELECT j.pr, j.c, j.la, j.rb, " +
          s"CAST(j.c AS HUGEINT) * 1000000000000 // (CAST(yl.c AS HUGEINT) * yr.c) AS sc " +
          s"FROM (SELECT pr, count(*) AS c, split_part(pr, ' ', 1) AS la, " +
          s"split_part(pr, ' ', 2) AS rb FROM wp$k GROUP BY pr) j " +
          s"JOIN wy$k yl ON j.la = yl.s JOIN wy$k yr ON j.rb = yr.s) " +
          s"ORDER BY sc DESC, c DESC, pr ASC LIMIT 1)")
      if (k < WP_MERGES || withFinalState) sb.append(
        s", w$k AS MATERIALIZED (SELECT doc_id, " +
          s"coalesce(replace(cells, (SELECT pr || ' ' FROM wb$k), " +
          s"(SELECT la || chr(1) || substr(rb, 2) || ' ' FROM wb$k)), cells) AS cells " +
          s"FROM $prev)")
    }
    sb.toString
  }

  val wordpieceMergesSql: String =
    wordpieceOracleChain(withFinalState = false) + " " +
      (1 to WP_MERGES).map(k =>
        s"SELECT CAST($k AS INT) AS merge_rank, " +
          s"replace(substr(la, 2), chr(1), ' ') AS lhs, " +
          s"replace(substr(rb, 2), chr(1), ' ') AS rhs, " +
          s"CAST(c AS BIGINT) AS pair_count, CAST(sc AS BIGINT) AS score FROM wb$k")
        .mkString(" UNION ALL ")

  /** WordPiece train-then-APPLY round trip (X219's second half): the
    * learned merge table applied corpus-wide as the chained literal
    * replace — [[Corpus.bpeApply]] is criterion-agnostic (it replays a
    * merge TABLE; which argmax chose the merges is the trainer's
    * business), so the apply half is shared machinery. Oracle reads
    * the WordPiece chain's final state. */
  val wordpieceApply: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = Corpus.wordpieceMerges(docs, "doc_id", "text", WP_MERGES)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Corpus.bpeApply(docs, "doc_id", "text", merges)
  }

  lazy val wordpieceApplySql: String =
    wordpieceOracleChain(withFinalState = true) +
      s" SELECT doc_id, CAST(len($duckToksLower) AS INT) AS n_tokens, " +
      "CAST(len(list_filter(string_split(cells, ' '), x -> x <> '')) AS INT) AS n_symbols " +
      s"FROM documents JOIN w$WP_MERGES USING (doc_id)"

  val bpeMergesSql: String =
    bpeOracleChain(withFinalState = false) + " " +
      (1 to BPE_MERGES).map(k =>
        s"SELECT CAST($k AS INT) AS merge_rank, " +
          s"replace(substr(la, 2), chr(1), ' ') AS lhs, " +
          s"replace(substr(rb, 2), chr(1), ' ') AS rhs, " +
          s"CAST(c AS BIGINT) AS pair_count FROM b$k").mkString(" UNION ALL ")

  /** X96b: tokenizer APPLY — the learned merge table applied to the
    * whole corpus (train-then-apply round trip): per doc the symbol
    * count before and after the merges. Spark re-derives the merges
    * with the same recurrence (a ≤BPE_MERGES-row driver collect) and
    * applies them as a chained literal replace — a pure zero-shuffle
    * map over the corpus; the oracle reads the chain's final state. */
  val bpeApply: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = Corpus.bpeMerges(docs, "doc_id", "text", BPE_MERGES)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Corpus.bpeApply(docs, "doc_id", "text", merges)
  }

  val bpeApplySql: String =
    bpeOracleChain(withFinalState = true) +
      s" SELECT doc_id, CAST(len($duckToksLower) AS INT) AS n_tokens, " +
      "CAST(len(list_filter(string_split(cells, ' '), x -> x <> '')) AS INT) AS n_symbols " +
      s"FROM documents JOIN s$BPE_MERGES USING (doc_id)"

  /** Unigram-LM tokenizer training (X208): hard-EM (Viterbi) with
    * add-one smoothing over the substring candidate lattice of a SEED
    * SLICE's word dict — the EM-trained sibling of the BPE gate. The
    * oracle replays every stage: seed counts, smoothed fixed-point
    * costs, and per round the lattice join, the list_reduce Viterbi
    * DP (same struct(cost, bp) min ordering as Spark's array_min),
    * the back-pointer walk, and the usage re-estimation — all exact
    * integers, chained as generated CTEs like the BPE oracle. */
  val UNI_MAXLEN = 4
  val UNI_ROUNDS = 2
  private val uniSeedPred = "doc_id % 3 = 0"

  val unigramLm: Q = (s, d) =>
    Corpus.unigramLmTrain(Tables.documents(s, d).filter(expr(uniSeedPred)),
      "doc_id", "text", UNI_MAXLEN, UNI_ROUNDS)

  /** X208b: tokenizer APPLY — the trained model encodes the FULL
    * corpus (train-on-slice, apply-everywhere): per doc the token and
    * Viterbi piece counts, OOV spans admissible only as single-char
    * UNK pieces at the smoothed zero-count cost. */
  val unigramEncode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.unigramLmEncode(docs, "doc_id", "text",
      Corpus.unigramLmScores(docs.filter(expr(uniSeedPred)),
        "doc_id", "text", UNI_MAXLEN, UNI_ROUNDS), UNI_MAXLEN)
  }

  /** X208c: EM + PRUNE — the vocabulary-size-targeting loop (top
    * UNI_KEEP pieces by usage + every single char, one re-estimation
    * round over the pruned lattice). Oracle extends the shared chain
    * with the prune CTEs and one more first-principles enumeration
    * round. */
  val UNI_KEEP = 12

  val unigramPruned: Q = (s, d) =>
    Corpus.unigramLmPruned(Tables.documents(s, d).filter(expr(uniSeedPred)),
      "doc_id", "text", UNI_MAXLEN, UNI_ROUNDS, UNI_KEEP)
      .filter(col("cnt") > 0)

  /** X211b: the full production tokenizer path — train on the seed
    * slice, PRUNE to the vocab target, encode the whole corpus under
    * the shipped (pruned) model. The pruned table keeps its zero-
    * usage single chars, so OOV fallback costs derive from the pruned
    * V′ exactly as the encoder contract requires. */
  val unigramPrunedEncode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.unigramLmEncode(docs, "doc_id", "text",
      Corpus.unigramLmPruned(docs.filter(expr(uniSeedPred)),
        "doc_id", "text", UNI_MAXLEN, UNI_ROUNDS, UNI_KEEP), UNI_MAXLEN)
  }

  /** Shared CTE chain for the unigram-LM oracles: uw (seed word
    * dict), ued (span lattice), uv (seed counts = frozen vocab),
    * usc0..usc_R (per-round smoothed scores), and — `withEncode` —
    * the full-corpus word dict encoded under usc_R.
    *
    * The oracle's E-step is FROM FIRST PRINCIPLES, not a replay of
    * the engine's DP: a recursive CTE enumerates EVERY segmentation
    * of every dict word (words are short, so 2^(len−1) paths are
    * oracle-cheap) and argmin picks by (cost, reversed-starts list
    * ASC) — provably the segmentation Viterbi-with-min-(cost, bp)
    * back-tracing returns, since an optimal segmentation's prefix
    * cost always equals dp(prefix) and the back-trace resolves ties
    * from the end by smallest start. So the distributed DP is
    * value-checked against brute-force enumeration, the
    * dedupClusters precedent. (A lambda-based list_reduce replay was
    * tried first and abandoned: DuckDB 1.0's list_reduce inside a
    * chained-CTE plan returned run-to-run NONDETERMINISTIC results;
    * the enumeration uses only joins/unnest/windows.) */
  private[queries] def unigramOracleChain(withEncode: Boolean,
      withPrune: Boolean = false,
      seedPred: String = uniSeedPred): String = {
    def smooth(src: String): String =
      s"SELECT piece, cnt, CAST(floor((-ln(CAST(cnt + 1 AS DOUBLE) / " +
        s"CAST(tot + v AS DOUBLE))) * 1000000000.0 + 0.5) AS BIGINT) AS lp " +
        s"FROM $src CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT) AS tot, " +
        s"count(*) AS v FROM $src)"
    def lattice(src: String, cols: String): String =
      s"SELECT $cols, CAST(s AS INT) AS s, CAST(e AS INT) AS e, " +
        s"substr(w, s+1, e-s) AS piece " +
        s"FROM (SELECT $cols, s, unnest(generate_series(s+1, " +
        s"least(s+$UNI_MAXLEN, len(w)))) AS e " +
        s"FROM (SELECT $cols, unnest(generate_series(0, len(w)-1)) AS s " +
        s"FROM $src))"
    // recursive enumeration of all segmentations of `srcWords`' words
    // over `edgeSrc` (w, s, e, c), then the (cost, starts) argmin;
    // `starts` is built by PREPEND so it reads [s_last, ..., 0] and
    // list-lex ASC ordering reproduces the back-trace tie rule
    def segCtes(tag: String, srcWords: String, cols: String,
        edgeSrc: String): String = {
      val gCols = cols.split(", ").map("g." + _).mkString(", ")
      s", usg$tag AS (SELECT $cols, CAST(0 AS INT) AS pos, " +
        s"CAST([] AS INT[]) AS starts, CAST(0 AS BIGINT) AS cost " +
        s"FROM $srcWords " +
        s"UNION ALL SELECT $gCols, ed.e AS pos, [ed.s] || g.starts AS starts, " +
        s"g.cost + ed.c AS cost " +
        s"FROM usg$tag g JOIN $edgeSrc ed ON ed.w = g.w AND ed.s = g.pos)" +
        s", ubest$tag AS (SELECT $cols, starts FROM (" +
        s"SELECT $cols, starts, row_number() OVER " +
        s"(PARTITION BY w ORDER BY cost, starts) AS rn " +
        s"FROM usg$tag WHERE pos = len(w)) WHERE rn = 1)"
    }
    val sb = new StringBuilder(
      s"WITH RECURSIVE uw AS MATERIALIZED (SELECT w, count(*) AS f FROM " +
        s"(SELECT unnest($duckToksLower) AS w FROM documents " +
        s"WHERE $seedPred) GROUP BY w)")
    sb.append(s", ued AS MATERIALIZED (${lattice("uw", "w, f")})")
    sb.append(", uv AS MATERIALIZED (SELECT piece, CAST(sum(f) AS BIGINT)" +
      " AS cnt FROM ued GROUP BY piece)")
    sb.append(s", usc0 AS MATERIALIZED (${smooth("uv")})")
    for (k <- 1 to UNI_ROUNDS) {
      sb.append(s", ue$k AS MATERIALIZED (SELECT w, f, s, e, lp AS c " +
        s"FROM ued JOIN usc${k - 1} USING (piece))")
      sb.append(segCtes(s"$k", "uw", "w, f", s"ue$k"))
      sb.append(s", uus$k AS (SELECT piece, CAST(sum(f) AS BIGINT) AS u " +
        s"FROM (SELECT f, substr(w, starts[i] + 1, (CASE WHEN i = 1 " +
        s"THEN len(w) ELSE starts[i-1] END) - starts[i]) AS piece " +
        s"FROM (SELECT w, f, starts, unnest(generate_series(1, " +
        s"len(starts))) AS i FROM ubest$k)) GROUP BY piece)")
      sb.append(s", ucn$k AS MATERIALIZED (SELECT uv.piece, " +
        s"CAST(coalesce(u, 0) AS BIGINT) AS cnt " +
        s"FROM uv LEFT JOIN uus$k USING (piece))")
      sb.append(s", usc$k AS MATERIALIZED (${smooth(s"ucn$k")})")
    }
    if (withPrune) {
      val R = UNI_ROUNDS
      // prune: top UNI_KEEP by (usage desc, piece asc) + all single
      // chars; re-smooth over the pruned V′; one more enumeration round
      sb.append(s", utop AS MATERIALIZED (SELECT piece, cnt FROM ucn$R " +
        s"ORDER BY cnt DESC, piece ASC LIMIT $UNI_KEEP)")
      sb.append(s", upv AS MATERIALIZED (SELECT piece, cnt FROM utop " +
        s"UNION ALL SELECT piece, cnt FROM ucn$R WHERE len(piece) = 1 " +
        "AND piece NOT IN (SELECT piece FROM utop))")
      sb.append(s", upsc AS MATERIALIZED (${smooth("upv")})")
      sb.append(s", uep AS MATERIALIZED (SELECT w, f, s, e, lp AS c " +
        "FROM ued JOIN upsc USING (piece))")
      sb.append(segCtes("p", "uw", "w, f", "uep"))
      sb.append(s", uusp AS (SELECT piece, CAST(sum(f) AS BIGINT) AS u " +
        s"FROM (SELECT f, substr(w, starts[i] + 1, (CASE WHEN i = 1 " +
        s"THEN len(w) ELSE starts[i-1] END) - starts[i]) AS piece " +
        s"FROM (SELECT w, f, starts, unnest(generate_series(1, " +
        s"len(starts))) AS i FROM ubestp)) GROUP BY piece)")
      sb.append(s", ucnp AS MATERIALIZED (SELECT upv.piece, " +
        s"CAST(coalesce(u, 0) AS BIGINT) AS cnt " +
        s"FROM upv LEFT JOIN uusp USING (piece))")
      sb.append(s", uscp AS MATERIALIZED (${smooth("ucnp")})")
    }
    if (withEncode) {
      // the shipped model: the final full-vocab scores, or — with
      // prune — the pruned vocabulary's re-estimated scores
      val model = if (withPrune) "uscp" else s"usc$UNI_ROUNDS"
      sb.append(s", xw AS MATERIALIZED (SELECT DISTINCT w FROM " +
        s"(SELECT unnest($duckToksLower) AS w FROM documents))")
      sb.append(s", xe AS MATERIALIZED (SELECT w, s, e, coalesce(lp, " +
        s"CAST(floor((-ln(1.0 / CAST(tot + v AS DOUBLE))) * 1000000000.0 " +
        s"+ 0.5) AS BIGINT)) AS c " +
        s"FROM (${lattice("xw", "w")}) LEFT JOIN $model USING (piece) " +
        s"CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT) AS tot, count(*) AS v " +
        s"FROM $model) WHERE lp IS NOT NULL OR e - s = 1)")
      sb.append(segCtes("x", "xw", "w", "xe"))
      sb.append(s", xper AS (SELECT doc_id, count(*) AS n_tokens, " +
        s"CAST(sum(len(starts)) AS BIGINT) AS np FROM " +
        s"(SELECT doc_id, unnest($duckToksLower) AS w FROM documents) t " +
        s"JOIN ubestx USING (w) GROUP BY doc_id)")
    }
    sb.toString
  }

  val unigramLmSql: String =
    unigramOracleChain(withEncode = false) +
      s" SELECT piece, cnt, lp FROM usc$UNI_ROUNDS WHERE cnt > 0"

  /** Incremental unigram-LM training-state maintenance (X222) — the
    * trained-artifact increment discipline (PCA X220, IVF-PQ X200,
    * BM25 X136) reaching the tokenizer family: the training state is
    * the word-frequency DICT ([[Corpus.unigramWordCounts]], the one
    * corpus-wide pass), an exact mergeable partial; a corpus-growth
    * increment folds the new slice's dict into the store
    * ([[Corpus.unigramMergeCounts]] — word-keyed count algebra) and
    * re-runs the VOCAB-scale EM tail, never rescanning old docs.
    * Training is a pure function of the dict and the dict folds
    * exactly, so the incremented model is BIT-equal to a full retrain
    * on the union — which is exactly what the oracle computes: the
    * union-slice chain from scratch. */
  val incrementalUnigram: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val stored = Corpus.unigramWordCounts(
      docs.filter(expr(uniSeedPred)), "text")
    val arriving = Corpus.unigramWordCounts(
      docs.filter(expr("doc_id % 3 = 1")), "text")
    Corpus.unigramLmTrainFromCounts(
      Corpus.unigramMergeCounts(stored, arriving), UNI_MAXLEN, UNI_ROUNDS)
  }

  val incrementalUnigramSql: String =
    unigramOracleChain(withEncode = false,
      seedPred = "doc_id % 3 IN (0, 1)") +
      s" SELECT piece, cnt, lp FROM usc$UNI_ROUNDS WHERE cnt > 0"

  /** Unigram-LM training-state RETRACTION (X223 — right-to-be-
    * forgotten for the tokenizer): retract the doc_id%15==0 docs'
    * dict from the merged X222 store
    * ([[Corpus.unigramRetractCounts]] — cell-wise subtract, fail-loud
    * on never-merged words) and re-run the vocab-scale tail; the
    * result is BIT-equal to retraining without the retracted docs,
    * which is what the oracle computes from scratch. */
  val unigramRetraction: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merged = Corpus.unigramMergeCounts(
      Corpus.unigramWordCounts(docs.filter(expr(uniSeedPred)), "text"),
      Corpus.unigramWordCounts(docs.filter(expr("doc_id % 3 = 1")), "text"))
    val gone = Corpus.unigramWordCounts(
      docs.filter(expr("doc_id % 3 IN (0, 1) AND doc_id % 15 = 0")), "text")
    Corpus.unigramLmTrainFromCounts(
      Corpus.unigramRetractCounts(merged, gone), UNI_MAXLEN, UNI_ROUNDS)
  }

  val unigramRetractionSql: String =
    unigramOracleChain(withEncode = false,
      seedPred = "doc_id % 3 IN (0, 1) AND doc_id % 15 <> 0") +
      s" SELECT piece, cnt, lp FROM usc$UNI_ROUNDS WHERE cnt > 0"

  /** STREAMING unigram-LM training-state maintenance (X225 — the
    * always-on rung completing the tokenizer's trained-artifact
    * ladder: X222 fold → X223 retract → stream; the X221 pattern on
    * the word dict): the %3==0 slice's dict bootstraps under
    * batch=-1, the %3==1 docs stream through one checkpoint to
    * AvailableNow completion appending per-batch (w, f) tables, and
    * the shipped model trains from the word-keyed FOLD over the store
    * — never a corpus rescan. The oracle retrains the union slice
    * from scratch (the X222 oracle verbatim): hash equality pins
    * stream-fold ≡ full retrain cross-engine. */
  val streamUnigram: Q = (s, d) => withStreamShuffle(s, 8) {
    val ckpt = streamCkptDir("graft-ckpt-uni")
    val cDir =
      java.nio.file.Files.createTempDirectory("graft-unistore").toString
    val docs = Tables.documents(s, d)
    Store.write(Corpus.unigramWordCounts(docs.filter(expr(uniSeedPred)), "text"), cDir, -1)
    val src = s.readStream.schema(docsSchema)
      .parquet(s"$d/documents.parque[t]")
      .filter(col("doc_id") % 3 === 1)
    runToCompletion(EventsStreaming.streamingUnigramCounts(src, cDir, "text") {
      (_, _) => ()
    }, ckpt, ckpt)
    // eager checkpoint so the temp store can be deleted before the
    // driver consumes the frame (the streamIvfPqCodes convention)
    try Corpus.unigramLmTrainFromCounts(
      EventsStreaming.foldedWordCounts(s, cDir), UNI_MAXLEN, UNI_ROUNDS)
      .localCheckpoint()
    finally deleteRecursively(cDir)
  }

  lazy val streamUnigramSql: String = incrementalUnigramSql

  /** Incremental CHARACTER-level BPE training (X226 — the BPE
    * family's increment story, closing the last tokenizer asymmetry):
    * [[Corpus.bpeMergesFromCounts]] trains the standard Sennrich
    * subword BPE from the word-count dict — within-word character
    * pairs weighted by word frequency — so training is a pure
    * function of the same mergeable-partial state the unigram family
    * folds (X222's `unigramWordCounts`/`unigramMergeCounts` algebra,
    * shared verbatim); the gate folds the %3==1 slice's dict into the
    * %3==0 store and trains, while the oracle replays the weighted
    * char-BPE recurrence over the union slice FROM SCRATCH — hash
    * equality IS the increment law. (The word-LEVEL X96 form keeps
    * retraining: cross-word pairs make its sufficient statistic the
    * corpus n-gram stream, not a compact dict — documented, not
    * hidden.) */
  private[queries] val CBPE_MERGES = 6

  val incrementalBpe: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.bpeMergesFromCounts(
      Corpus.unigramMergeCounts(
        Corpus.unigramWordCounts(docs.filter(expr(uniSeedPred)), "text"),
        Corpus.unigramWordCounts(
          docs.filter(expr("doc_id % 3 = 1")), "text")),
      CBPE_MERGES)
  }

  /** Weighted char-level replay of the [[bpeOracleChain]]
    * arrangement over the union slice's word dict: cells are
    * chr(2)+char+' ' per character of each DISTINCT word, pair counts
    * are Σ word-freq, per round one argmax (count desc, pair asc) and
    * one replace() rewrite; the final SELECT unions each round's
    * argmax row as (merge_rank, lhs, rhs, pair_count). */
  private[queries] def charBpeOracleChain(seedPred: String): String = {
    val sb = new StringBuilder(
      s"WITH cud AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM " +
        s"(SELECT unnest($duckToksLower) AS w FROM documents " +
        s"WHERE $seedPred) GROUP BY w), " +
        "cc0 AS MATERIALIZED (SELECT w, f, array_to_string(" +
        "list_transform(generate_series(1, len(w)), i -> chr(2) || substr(w, i, 1) || ' '), '') AS cells FROM cud)")
    for (k <- 1 to CBPE_MERGES) {
      val prev = s"cc${k - 1}"
      sb.append(
        s", cp$k AS (SELECT f, list_extract(arr, i) || ' ' || list_extract(arr, i + 1) AS pr " +
          s"FROM (SELECT f, arr, unnest(generate_series(1, len(arr) - 1)) AS i " +
          s"FROM (SELECT f, list_filter(string_split(cells, ' '), x -> x <> '') AS arr FROM $prev)))")
      sb.append(
        s", cb$k AS MATERIALIZED (SELECT pr, CAST(sum(f) AS BIGINT) AS c, " +
          s"split_part(pr, ' ', 1) AS la, split_part(pr, ' ', 2) AS rb " +
          s"FROM cp$k GROUP BY pr ORDER BY c DESC, pr ASC LIMIT 1)")
      if (k < CBPE_MERGES) sb.append(
        s", cc$k AS MATERIALIZED (SELECT w, f, " +
          s"coalesce(replace(cells, (SELECT pr || ' ' FROM cb$k), " +
          s"(SELECT la || chr(1) || substr(rb, 2) || ' ' FROM cb$k)), cells) AS cells " +
          s"FROM $prev)")
    }
    sb.toString
  }

  lazy val incrementalBpeSql: String =
    charBpeOracleChain("doc_id % 3 IN (0, 1)") + " " +
      (1 to CBPE_MERGES).map { k =>
        s"SELECT CAST($k AS INT) AS merge_rank, " +
          "replace(substr(la, 2), chr(1), ' ') AS lhs, " +
          "replace(substr(rb, 2), chr(1), ' ') AS rhs, " +
          s"c AS pair_count FROM cb$k"
      }.mkString(" UNION ALL ")

  /** Incremental CHARACTER-level WordPiece training (X227 — the
    * likelihood-gain criterion on the X226 dict arrangement,
    * completing the increment story for all three tokenizer
    * families): pair AND symbol counts are Σ word-freq over the dict,
    * the argmax is ⌊c·10¹²/(l·r)⌋ with (count desc, pair asc) ties,
    * and training is a pure function of the fold-exact word-count
    * state. Gate folds the %3==1 dict into the %3==0 store; the
    * oracle replays the weighted char recurrence with per-round
    * HUGEINT score argmaxes over the union dict from scratch. */
  private[queries] val CWP_MERGES = 4

  val incrementalWordpiece: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Corpus.wordpieceMergesFromCounts(
      Corpus.unigramMergeCounts(
        Corpus.unigramWordCounts(docs.filter(expr(uniSeedPred)), "text"),
        Corpus.unigramWordCounts(
          docs.filter(expr("doc_id % 3 = 1")), "text")),
      CWP_MERGES)
  }

  private[queries] def charWpOracleChain(seedPred: String): String = {
    val sb = new StringBuilder(
      s"WITH xud AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM " +
        s"(SELECT unnest($duckToksLower) AS w FROM documents " +
        s"WHERE $seedPred) GROUP BY w), " +
        "xc0 AS MATERIALIZED (SELECT w, f, array_to_string(" +
        "list_transform(generate_series(1, len(w)), i -> chr(2) || substr(w, i, 1) || ' '), '') AS cells FROM xud)")
    for (k <- 1 to CWP_MERGES) {
      val prev = s"xc${k - 1}"
      sb.append(
        s", xp$k AS (SELECT f, list_extract(arr, i) || ' ' || list_extract(arr, i + 1) AS pr " +
          s"FROM (SELECT f, arr, unnest(generate_series(1, len(arr) - 1)) AS i " +
          s"FROM (SELECT f, list_filter(string_split(cells, ' '), x -> x <> '') AS arr FROM $prev)))")
      sb.append(
        s", xy$k AS MATERIALIZED (SELECT sym AS s, CAST(sum(f) AS BIGINT) AS c FROM " +
          s"(SELECT f, unnest(list_filter(string_split(cells, ' '), x -> x <> '')) AS sym FROM $prev) GROUP BY 1)")
      sb.append(
        s", xb$k AS MATERIALIZED (SELECT pr, c, la, rb, sc FROM " +
          s"(SELECT j.pr, j.c, j.la, j.rb, " +
          s"CAST(j.c AS HUGEINT) * 1000000000000 // (CAST(yl.c AS HUGEINT) * yr.c) AS sc " +
          s"FROM (SELECT pr, CAST(sum(f) AS BIGINT) AS c, split_part(pr, ' ', 1) AS la, " +
          s"split_part(pr, ' ', 2) AS rb FROM xp$k GROUP BY pr) j " +
          s"JOIN xy$k yl ON j.la = yl.s JOIN xy$k yr ON j.rb = yr.s) " +
          s"ORDER BY sc DESC, c DESC, pr ASC LIMIT 1)")
      if (k < CWP_MERGES) sb.append(
        s", xc$k AS MATERIALIZED (SELECT w, f, " +
          s"coalesce(replace(cells, (SELECT pr || ' ' FROM xb$k), " +
          s"(SELECT la || chr(1) || substr(rb, 2) || ' ' FROM xb$k)), cells) AS cells " +
          s"FROM $prev)")
    }
    sb.toString
  }

  lazy val incrementalWordpieceSql: String =
    charWpOracleChain("doc_id % 3 IN (0, 1)") + " " +
      (1 to CWP_MERGES).map { k =>
        s"SELECT CAST($k AS INT) AS merge_rank, " +
          "replace(substr(la, 2), chr(1), ' ') AS lhs, " +
          "replace(substr(rb, 2), chr(1), ' ') AS rhs, " +
          s"CAST(c AS BIGINT) AS pair_count, CAST(sc AS BIGINT) AS score FROM xb$k"
      }.mkString(" UNION ALL ")

  val unigramPrunedSql: String =
    unigramOracleChain(withEncode = false, withPrune = true) +
      " SELECT piece, cnt, lp FROM uscp WHERE cnt > 0"

  val unigramPrunedEncodeSql: String =
    unigramOracleChain(withEncode = true, withPrune = true) +
      " SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens, " +
      "coalesce(np, 0) AS n_pieces FROM documents d LEFT JOIN xper USING (doc_id)"

  val unigramEncodeSql: String =
    unigramOracleChain(withEncode = true) +
      " SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens, " +
      "coalesce(np, 0) AS n_pieces FROM documents d LEFT JOIN xper USING (doc_id)"

  val unigramSurprisalSql: String =
    s"WITH trm AS (SELECT doc_id, unnest($duckToksLower) AS term FROM documents), " +
      "tf AS (SELECT term, count(*) AS cnt FROM trm GROUP BY term), " +
      "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tf), " +
      "pr AS (SELECT term, CAST(floor((-ln(CAST(cnt AS DOUBLE)/total)) * 1000000000.0 + 0.5) AS BIGINT) AS lp FROM tf CROSS JOIN tot), " +
      "per AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lp) AS BIGINT) AS s FROM trm JOIN pr USING (term) GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, " +
      "coalesce(round(CAST(p.s AS DOUBLE)/(p.n_tokens * 1000000000.0), 6), 0.0) AS mean_surprisal " +
      "FROM documents d LEFT JOIN per p USING (doc_id)"

  /** Perplexity-bucketed sampling (X101, the CCNet head/middle/tail
    * pass): docs tercile-bucketed by corpus-level unigram-surprisal
    * quantiles, then kept at per-bucket rates (20% head, 100% middle,
    * 20% tail — boilerplate and gibberish downsampled, the middle kept)
    * via the salted-md5 machinery. Quantile cutoffs round to 6dp
    * BEFORE comparison on both sides, and doc scores are already
    * 6dp-rounded — so bucket assignment is exact-decimal arithmetic,
    * never a last-ulp race. Composes three oracled pieces
    * (q_unigram_surprisal, q_percentile's interpolation parity, the
    * sampling bucket machinery) into one hash-verified curation op. */
  val qualityMix: Q = (s, d) => {
    val sur = Corpus.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
    val qs = sur.agg(
      round(expr("percentile(mean_surprisal, 0.33)"), 6).as("q33"),
      round(expr("percentile(mean_surprisal, 0.66)"), 6).as("q66"))
    val bucketed = sur.crossJoin(broadcast(qs))
      .withColumn("bucket",
        when(col("mean_surprisal") <= col("q33"), "low")
          .when(col("mean_surprisal") <= col("q66"), "mid")
          .otherwise("high"))
    val rateBp = when(col("bucket") === "mid", lit(10000L)).otherwise(lit(2000L))
    val mbucket = conv(substring(
      md5(concat(lit("qmix:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    bucketed.filter(mbucket < rateBp)
      .select(col("doc_id"), col("bucket"), col("mean_surprisal"))
  }

  lazy val qualityMixSql: String =
    s"WITH sur AS MATERIALIZED ($unigramSurprisalSql), " +
      "q AS (SELECT round(quantile_cont(mean_surprisal, 0.33), 6) AS q33, " +
      "round(quantile_cont(mean_surprisal, 0.66), 6) AS q66 FROM sur), " +
      "b AS (SELECT doc_id, mean_surprisal, CASE WHEN mean_surprisal <= q33 THEN 'low' " +
      "WHEN mean_surprisal <= q66 THEN 'mid' ELSE 'high' END AS bucket FROM sur, q) " +
      "SELECT doc_id, bucket, mean_surprisal FROM b " +
      "WHERE CAST('0x' || substr(md5('qmix:' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 " +
      "< CASE WHEN bucket = 'mid' THEN 10000 ELSE 2000 END"

  /** Exact-k deterministic per-stratum sample (exactly 20 docs per
    * language) via the bounded-heap aggregator — never a per-stratum
    * window. */
  val exactKSample: Q = (s, d) =>
    graft.operators.ScaleOps.exactKSample(
      Tables.documents(s, d), "doc_id", "lang", k = 20)

  val exactKSampleSql: String =
    "WITH h AS (SELECT lang, doc_id, " +
      "-CAST(CAST('0x' || substr(md5('777:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) AS score FROM documents) " +
      "SELECT lang, doc_id, CAST(rn AS INT) AS rank FROM " +
      "(SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rn FROM h) " +
      "WHERE rn <= 20"

  /** Portable fixed-bin quantile sketch over event values per type. */
  val quantileSketch: Q = (s, d) =>
    graft.operators.Sketches.binnedQuantiles(
      Tables.events(s, d), "event_type", "value",
      binWidth = 1.0, ps = Seq(0.5, 0.9, 0.99))

  val quantileSketchSql: String =
    "WITH b AS (SELECT event_type, CAST(floor(value/1.0) AS BIGINT) AS bin, count(*) AS c FROM events GROUP BY 1, 2), " +
      "cum AS (SELECT event_type, bin, c, " +
      "sum(c) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumc, " +
      "sum(c) OVER (PARTITION BY event_type) AS n FROM b), " +
      "e AS (SELECT event_type, p, bin FROM cum, (SELECT unnest([0.5, 0.9, 0.99]) AS p) " +
      "WHERE cumc >= ceil(p * n)) " +
      "SELECT event_type, p, round((min(bin) + 0.5) * 1.0, 6) AS estimate " +
      "FROM e GROUP BY event_type, p"

  /** Deterministic training-order shards over the documents corpus:
    * salted-md5 permutation, shard + in-shard position. */
  val shuffleShards: Q = (s, d) =>
    graft.operators.ScaleOps.shuffleShards(
      Tables.documents(s, d), "doc_id", numShards = 16)

  val shuffleShardsSql: String =
    "WITH k AS (SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS _k FROM documents), " +
      "s AS (SELECT doc_id, _k, CAST('0x' || substr(_k, 1, 4) AS BIGINT) % 16 AS shard FROM k) " +
      "SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY _k, doc_id) AS INT) AS pos FROM s"

  /** Overlapping character chunks (RAG / context-window prep) over the
    * documents corpus: 120-char windows every 90 chars, chunk text
    * carried as an md5 fingerprint. Pure map-side explode — no
    * shuffle. */
  val docChunk: Q = (s, d) =>
    Corpus.chunkDocuments(spread(Tables.documents(s, d)), "doc_id", "text",
      chunkSize = 120, stride = 90)

  val docChunkSql: String =
    "WITH c AS (SELECT doc_id, text, " +
      "unnest(generate_series(1, greatest(length(text), 1), 90)) AS chunk_start FROM documents) " +
      "SELECT doc_id, CAST((chunk_start - 1) // 90 AS INT) AS chunk_idx, " +
      "CAST(chunk_start AS INT) AS chunk_start, " +
      "md5(substring(text, CAST(chunk_start AS INT), 120)) AS chunk_hash, " +
      "CAST(length(substring(text, CAST(chunk_start AS INT), 120)) AS INT) AS chunk_len FROM c"

  /** Blocked edit-distance entity-resolution join: nation names with
    * one deterministically-deleted character (delete position 2 +
    * key mod (len-1) — never the first char) matched back against the
    * canonical nation lexicon within Levenshtein distance 1. Some
    * corrupted names legitimately match several nations (NATION_12
    * minus its last digit IS NATION_1) — the join emits all of them. */
  val fuzzyJoin: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val len = length(col("n_name"))
    val dp = lit(2) + pmod(col("n_nationkey"), len - lit(1))
    val corrupted = n.select(col("n_nationkey").as("qid"),
      concat(col("n_name").substr(lit(1), dp - lit(1)),
        col("n_name").substr(dp + lit(1), len)).as("q"))
    Dedup.editDistanceJoin(corrupted, "q",
        n.select(col("n_name")), "n_name", maxDist = 1)
      .select(col("qid"), col("q"), col("n_name").as("matched"), col("dist"))
  }

  val fuzzyJoinSql: String =
    "WITH q AS (SELECT n_nationkey AS qid, " +
      "substring(n_name, 1, 1 + (n_nationkey % (length(n_name) - 1))) || " +
      "substring(n_name, 3 + (n_nationkey % (length(n_name) - 1)), length(n_name)) AS q " +
      "FROM nation) " +
      "SELECT q.qid, q.q, n.n_name AS matched, " +
      "CAST(levenshtein(q.q, n.n_name) AS INT) AS dist " +
      "FROM q JOIN nation n ON abs(length(q.q) - length(n.n_name)) <= 1 " +
      "AND levenshtein(q.q, n.n_name) <= 1"

  /** Z-order layout round trip: lineitem written Morton-ordered by
    * (l_partkey, l_suppkey), read back through a 2-D box predicate,
    * each row tagged with its z-value. The VALUE check covers the
    * interleave math + box semantics (layout can't change results —
    * that's the point); the row-group-skipping benefit vs a linear
    * sort is pinned by ZOrderSpec against parquet footer stats. */
  /** Time-series resample + forward fill over events: 5-minute grid
    * per event_type, latest value per bucket, gaps carried forward.
    * Values are carried (not summed), so no fold-order concerns. */
  val gapFill: Q = (s, d) =>
    graft.operators.ScaleOps.resampleForwardFill(
      Tables.events(s, d), "event_type", "ts", "event_id", "value",
      bucketSec = 300)
      .select(col("event_type"), col("bucket"), col("value_raw"),
        col("value_ff"))

  val gapFillSql: String =
    "WITH b AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 300 AS b, " +
      "ts, event_id, value FROM events), " +
      "bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM b), " +
      "keys AS (SELECT DISTINCT event_type FROM events), " +
      "spine AS (SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM keys, bounds), " +
      "latest AS (SELECT event_type, b, " +
      "(max({'ts': ts, 'eid': event_id, 'v': value})).v AS value_raw FROM b GROUP BY event_type, b) " +
      "SELECT s.event_type, s.b AS bucket, l.value_raw, " +
      "last_value(l.value_raw IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s.b) AS value_ff " +
      "FROM spine s LEFT JOIN latest l ON s.event_type = l.event_type AND s.b = l.b"

  /** One-pass column profiling over lineitem (data-quality utility):
    * per-column row/non-null/exact-distinct counts + stringified
    * min/max, all from a single scan. Timestamp columns are excluded
    * from the demo set (string rendering differs across engines). */
  private[queries] val PROFILE_COLS = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")

  val profile: Q = (s, d) =>
    graft.operators.ScaleOps.profileColumns(
      Tables.lineitem(s, d), PROFILE_COLS)

  val profileSql: String = PROFILE_COLS.map(c =>
    s"SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull, " +
      s"COUNT(DISTINCT $c) AS n_distinct, CAST(MIN($c) AS VARCHAR) AS min_val, " +
      s"CAST(MAX($c) AS VARCHAR) AS max_val FROM lineitem")
    .mkString(" UNION ALL ")

  /** Schema-evolution read: two parquet batches with DIFFERENT schemas
    * (the second adds a column — the lake-format reality as pipelines
    * evolve) land in one dataset; `mergeSchema` reconciles them at
    * read, older rows null-filling the new column. Oracle = union with
    * explicit NULL. */
  val mergeSchemaRead: Q = (s, d) => {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-schema-evo").toString
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$base/batch=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .write.mode("overwrite").parquet(s"$base/batch=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .select(col("doc_id"), col("n_chars"), col("lang"))
  }

  val mergeSchemaReadSql: String =
    "SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang FROM documents WHERE doc_id % 2 = 0 " +
      "UNION ALL SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1"

  /** Gopher repetition signals over the documents corpus: duplicate
    * line fraction + duplicate-line character fraction + most frequent
    * word 2-gram and the character share it covers. */
  val repetition: Q = (s, d) =>
    Corpus.repetitionSignals(spread(Tables.documents(s, d)), "doc_id", "text")

  val repetitionSql: String =
    "WITH l AS (SELECT doc_id, length(text) AS tl, " +
      "unnest(string_split(text, chr(10))) AS line FROM documents), " +
      "lc AS (SELECT doc_id, max(tl) AS tl, line, count(*) AS c FROM l GROUP BY doc_id, line), " +
      "la AS (SELECT doc_id, max(tl) AS tl, CAST(SUM(c) AS BIGINT) AS n_lines, " +
      "COUNT(*) AS nd, CAST(SUM((c-1)*length(line)) AS BIGINT) AS dupc, " +
      "CAST(SUM(c*length(line)) AS BIGINT) AS linec FROM lc GROUP BY doc_id), " +
      s"t AS (SELECT doc_id, $duckToksLower AS t FROM documents), " +
      s"g AS (SELECT doc_id, unnest(${duckNgrams(2)}) AS g FROM t), " +
      "gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g), " +
      "gt AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM gc) WHERE rn = 1) " +
      "SELECT la.doc_id, la.n_lines, " +
      "round(1.0 - CAST(nd AS DOUBLE)/n_lines, 6) AS dup_line_frac, " +
      "round(CAST(dupc AS DOUBLE)/greatest(linec, 1), 6) AS dup_line_char_frac, " +
      "gt.g AS top_2gram, " +
      "coalesce(round(CAST(gt.c * length(gt.g) AS DOUBLE)/greatest(la.tl, 1), 6), 0.0) AS top_2gram_frac " +
      "FROM la LEFT JOIN gt ON la.doc_id = gt.doc_id"

  private[queries] val ZBITS = 20

  val zorder: Q = (s, d) => {
    import graft.sources.ZOrderLayout
    val target = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-zorder-lineitem").toString
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    ZOrderLayout.writeZOrdered(li, target, "l_partkey", "l_suppkey",
      parts = s.sparkContext.defaultParallelism, bits = ZBITS)
    ZOrderLayout.read(s, target)
      .filter(col("l_partkey").between(10, 120) &&
        col("l_suppkey").between(2, 60))
      .withColumn("z",
        ZOrderLayout.zValue(col("l_partkey"), col("l_suppkey"), ZBITS))
  }

  val zorderSql: String =
    "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, " +
      s"(${graft.sources.ZOrderLayout.zValueSql("l_partkey", "l_suppkey", ZBITS)}) AS z " +
      "FROM lineitem WHERE l_partkey BETWEEN 10 AND 120 AND l_suppkey BETWEEN 2 AND 60"

  /** X22 — the typed top-k `Aggregator` driven DIRECTLY against the
    * driver's hash gate (until now it was spec-pinned and exercised
    * only through the cosine top-k queries): top-3 orders per customer
    * by total price. Bounded per-partition heaps mean the one shuffle
    * carries ≤k entries per (group × partition) — the map-side-combine
    * shape the window form below cannot produce — while the output is
    * row-identical to `row_number() over (partition by custkey order
    * by price desc, orderkey asc) <= k`. */
  val topKAgg: Q = (s, d) =>
    graft.operators.TopK.topKPerGroup(
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      "o_custkey", "o_orderkey", "o_totalprice", k = 3)

  val topKAggSql: String =
    "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank " +
      "FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders) " +
      "WHERE rank <= 3"

}
