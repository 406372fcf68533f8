package graft

/** Plan-shape guardrail over the ENTIRE declared query surface: no
  * query may plan an accidental cross join (CartesianProduct /
  * BroadcastNestedLoopJoin). Catches the classic regressions — a lost
  * join condition, a non-equi predicate slipping into a join, a
  * broadcast hint falling off — at spec time instead of at 100 TB.
  *
  * Whitelist: brute-force top-k (q_embed_topk) intentionally scores
  * corpus × broadcast-queries with no join key — that cross join IS
  * the operator's semantics (bounded by the broadcast side). TF-IDF
  * (q_tfidf) attaches the corpus doc count as a broadcast 1-row
  * scalar — a cross join bounded to a single broadcast row; BM25
  * (q_bm25) and unigram surprisal (q_unigram_surprisal) attach their
  * corpus stats the same way, gap-fill (q_gap_fill) attaches its
  * 1-row (lo, hi) bucket bounds to the key spine the same way, and
  * the profiler (q_profile) joins its two 1-row aggregate passes.
  */
class PlanGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val crossJoinByDesign =
    Set("q_embed_topk", "q_quant_topk", "q_tfidf", "q_bm25",
      "q_unigram_surprisal", "q_hybrid_search", "q_gap_fill", "q_profile",
      // coarse stage IS q_quant_topk's broadcast-query scoring pass
      "q_ann_rerank",
      // PQ coarse stage scores corpus codes x broadcast query LUTs —
      // the q_quant_topk shape with table-lookup scoring; the rerank
      // joins are keyed equi-joins
      "q_embed_pq",
      // 1-row quantile-cutoff scalar broadcast, like q_gap_fill's bounds
      "q_quality_mix",
      // MaxSim is brute-force corpus × broadcast-queries scoring, the
      // q_embed_topk shape with multi-vector scoring
      "q_maxsim",
      // 1-row sqrt-weight-sum scalar broadcast, like q_tfidf's doc count
      "q_temperature_mix",
      // 1-row seed (N, V) scalar broadcast, like q_unigram_surprisal
      "q_ngram_perplexity",
      // 1-row seed (B, V) scalar broadcast — the q_ngram_perplexity
      // shape with Kneser-Ney model tables
      "q_kn_perplexity",
      // 1-row (N_pos, N_neg, V) scalar broadcast in the training pass
      "q_linear_quality",
      // the q_embed_topk shape over decoded image-feature vectors
      "q_multimodal_search",
      // the q_embed_topk shape over decoded audio-feature vectors
      "q_audio_search",
      // composes the q_embed_topk ground-truth pass (broadcast-query
      // scoring); the recall joins themselves are keyed equi-joins
      "q_ann_recall",
      // 1-row (N_t, N_r) scalar broadcast in the DSIR training pass
      "q_dsir_sample",
      // composes two allowlisted shapes: bm25's scalar-stats attach
      // and the q_embed_topk broadcast-query pass; the fusion itself
      // is a keyed union+agg over bounded lists
      "q_rrf_fusion",
      // two 1-row side totals broadcast onto the #cells-row report,
      // like q_profile's two 1-row aggregate passes
      "q_ivf_drift",
      // bm25's 1-row corpus-stats attach, scored under merged stats
      "q_incremental_bm25",
      // 1-row totals broadcast onto the key-count table, like q_profile
      "q_skew_report",
      // RP coarse stage scores the reduced corpus x broadcast reduced
      // queries — the q_quant_topk shape in the projected space; the
      // rerank joins are keyed equi-joins
      "q_embed_rp",
      // PCA coarse stage is q_embed_rp's shape with the TRAINED matrix
      // as the plan literal; rerank joins are keyed equi-joins
      "q_embed_pca",
      // composes the q_embed_topk ground-truth pass + the q_embed_pca
      // coarse pass; the recall joins are keyed equi-joins
      "q_pca_recall",
      // MMR candidate generation IS the q_embed_topk brute-force pass;
      // the pairwise-sim and rerank joins are keyed equi-joins and the
      // greedy fold is map-side
      "q_mmr_rerank",
      // binary-tier coarse stage is crossJoin(broadcast(q)) over packed
      // sign codes — the q_quant_topk broadcast-query scoring shape
      // (bounded by the broadcast side); the rerank is a keyed equi-join
      "q_embed_binary",
      // composes the q_embed_binary coarse pass; the MMR stages after
      // the candidate table are all keyed equi-joins + a map-side fold
      "q_mmr_binary",
      // 1-row corpus total attached to the #keySets-row HLL estimate
      // table, like q_profile's 1-row aggregate attach
      "q_dq_approx",
      // three 1-row x 1-row count joins (ground-truth count x per-
      // config found count), like q_profile's two 1-row agg passes
      "q_neardup_recall",
      // 1-row (k, P_k) water-level stats attached to the #domains-row
      // table, like q_gap_fill's 1-row bounds attach
      "q_water_fill",
      // composes q_water_fill's 1-row stats attach; the trim itself is
      // a keyed window + broadcast equi-join
      "q_budget_trim",
      // per relation: two 1-row x 1-row count joins (anti-join count x
      // side total), like q_neardup_recall's count attaches; the
      // orphan/coverage anti-joins themselves are keyed equi-joins
      "q_dq_ref",
      // composes the q_ann_rerank / q_embed_binary / q_embed_topk
      // coarse passes as candidate tiers; the metric joins are
      // (q_id, vec_id) keyed equi-joins over k-bounded rows
      "q_retrieval_metrics",
      // 1-row (N_a, N_b) totals attached to the #bins-row joined
      // histogram, like q_ivf_drift's two 1-row side totals
      "q_dist_drift",
      // level-1 IS q_water_fill's 1-row (k, P_k) stats attach; the
      // keyed level-2 stage uses group windows + a broadcast equi-join
      "q_hier_water_fill",
      // the q_embed_binary coarse scan (broadcast bounded query set ×
      // corpus codes) run over the PRE-FILTERED slice; the IVF-PQ tier
      // inside is a keyed cell equi-join like q_embed_ivfpq
      "q_filtered_ann",
      // same tiers + the q_embed_topk-shaped brute pass over the
      // filtered slice as ground truth; recall joins are keyed
      "q_filtered_ann_recall",
      // q_filtered_ann_recall's tier passes scored with
      // q_retrieval_metrics' (q_id, vec_id)-keyed metric joins over
      // k-bounded rows — every crossJoin is an allowlisted coarse or
      // brute shape composed verbatim
      "q_filtered_retrieval_metrics",
      // 1-row (tot, V) smoothing-stats attach per EM round, like
      // q_water_fill's 1-row bounds attach; the lattice/usage joins
      // are piece-keyed shuffle-hash equi-joins
      "q_unigram_lm",
      // composes q_unigram_lm's 1-row stats attaches (train chain +
      // the OOV-cost scalar); the dict join back onto the token
      // stream is a broadcast equi-join
      "q_unigram_encode",
      // same 1-row smoothing-stats attaches, over the pruned vocab
      "q_unigram_pruned",
      "q_unigram_pruned_encode")

  test("no declared query plans an accidental cross join") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => crossJoinByDesign(name) }
      .flatMap { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoop") ||
            plan.startsWith("PLANNING FAILED"))
          Some(name -> plan.linesIterator.take(3).mkString(" | "))
        else None
      }
    assert(bad.isEmpty, bad.map { case (n, p) => s"\n$n: $p" }.mkString)
  }

  /** Formatted-plan length ceilings (`Explain.formattedPlanChars`) at
    * sf0.001 for the queries that score against trained centroids or
    * codebooks: each is the length with the codebooks held as kernel
    * constants, plus headroom. A plan that spells every centroid,
    * codeword and LUT entry out as literals is several times longer and
    * is re-rendered by the driver on every execution and AQE update. */
  private val planCharsCeiling = Map(
    "q_embed_ivfpq" -> 24000, // 16,348 as kernel constants; 54,453 as literals
    "q_embed_pq" -> 22000, // 14,840; 59,725
    "q_incremental_ivfpq" -> 40000, // 26,354; 96,013
    "q_semantic_decontam" -> 9000, // 5,788; 16,059
    // trains and assigns on the driver at sf0.001: a local relation
    "q_kmeans" -> 1000, // 168; 168
    "q_ivf_drift" -> 16000) // 13,561; 18,654

  /** The same ceilings for the cluster-store maintenance gates: each is
    * the length with one cluster delta per call, plus headroom; the
    * second figure is the length when each operator chained its own
    * persisted intermediates (the label increment's plan is longer now:
    * its endpoint set is persisted once instead of computed twice). */
  private val clusterStoreCharsCeiling = Map(
    "q_incremental_soft_dedup" -> 135000, // 105,611; 269,603
    "q_soft_dedup_retraction" -> 124000, // 95,262; 374,395
    "q_incremental_canonical" -> 58000, // 45,549; 107,080
    "q_canonical_retraction" -> 27000, // 20,671; 105,344
    "q_incremental_clusters" -> 22000, // 16,953; 13,590
    "q_cluster_retraction" -> 10500) // 8,026; 10,003

  private def overCeiling(ceilings: Map[String, Int]): Seq[String] =
    ceilings.toSeq.sortBy(_._1).flatMap { case (name, ceiling) =>
      val chars = Explain.formattedPlanChars(SparkEntry.queries(name)(spark, sfDir))
      spark.catalog.clearCache()
      info(s"$name: $chars formatted-plan chars (ceiling $ceiling)")
      if (chars > ceiling) Some(s"$name: $chars > $ceiling") else None
    }

  test("the plans that score against trained codebooks stay within their length ceilings") {
    val over = overCeiling(planCharsCeiling)
    assert(over.isEmpty, over.mkString("\n", "\n", ""))
  }

  test("the cluster-store maintenance plans stay within their length ceilings") {
    val over = overCeiling(clusterStoreCharsCeiling)
    assert(over.isEmpty, over.mkString("\n", "\n", ""))
  }
}
