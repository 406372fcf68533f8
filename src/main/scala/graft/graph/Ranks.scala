package graft.graph

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate

import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph centrality layer (SURVEY §2.8).
  *
  * Reference runs Neo4j GDS PageRank / ArticleRank over the
  * country–trades subgraph (`preprocess_upload_neo4j.py:401-447`,
  * maxIterations=20, dampingFactor=0.85, unweighted). Here:
  *
  *  - vertices/edges come in as DataFrames (name-keyed).
  *  - PageRank: GDS's exact delta-propagation semantics (see
  *    powerIterate scaladoc) — verified BIT-EXACT against the
  *    reference's golden output, which plain power iteration from
  *    init 1.0 misses by ~4%.
  *  - ArticleRank: same series with denominator `outDeg(u) + avgOutDeg`
  *    (published GDS variant).
  *
  * The fused PageRank/ArticleRank series ([[rankTable]],
  * [[rankStateTable]], [[resumeRankTable]]) holds the vertex state in
  * driver arrays — Pregelix's vertex ⋈ message join with the vertex
  * relation broadcast and the group-by reduced on the driver:
  *
  *  - at or below [[LocalEdgeThreshold]] edges the edge list is
  *    collected too, and the series runs in one job;
  *  - above it the edges stay distributed as cached blocks of `Int`
  *    vertex indices (one job builds them and counts out-degrees), and
  *    each superstep is ONE shuffle-free job: broadcast the V-length
  *    term·inv vectors, sum each block's messages into V-length arrays,
  *    add those on the driver in partition order (deterministic);
  *  - both forms run the same update loop over the same per-block
  *    message kernel and differ only in where the edge blocks live;
  *  - GraphX (`graphFromNames` + aggregateMessages supersteps, one
  *    shuffle per round; vertex ids `xxhash64(name)`, collision-checked)
  *    remains for distributed edges with more vertices than the shared
  *    [[LocalGate]] value, or than one superstep's results can bring to
  *    the driver within half of `spark.driver.maxResultSize`.
  *
  * The weighted and personalized variants keep their own GraphX loops
  * above the same gate.
  */
object Ranks {

  /** name-keyed edge list -> GraphX graph.
    *
    * `vertices`: optional explicit vertex table (single `name`
    * column). When given, edges whose endpoints are absent are
    * DROPPED — the reference's Cypher `MATCH..MATCH..MERGE` edge
    * upload silently skips unmatched endpoints (J7 inner-join
    * semantics, `preprocess_upload_neo4j.py:291-293`) — and isolated
    * vertices still participate (rank (1-d) sinks). When None, the
    * vertex set is the edge endpoints. */
  def graphFromNames(edges: DataFrame, src: String, dst: String,
      vertices: Option[DataFrame] = None,
      numParts: Option[Int] = None,
      weightCol: Option[String] = None): Graph[String, Double] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val vertDf = vertices match {
      case Some(v) => v.select(col("name")).distinct()
      case None => edges.select(col(src).as("name"))
        .unionByName(edges.select(col(dst).as("name")))
        .distinct()
    }
    // a 64-bit hash collision would silently merge two vertices — one
    // cheap agg over the (small, post-aggregation) vertex table makes
    // the failure loud instead
    val Array(nNames, nIds) = vertDf
      .agg(count(col("name")), count_distinct(xxhash64(col("name"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    require(nIds == nNames,
      s"xxhash64 vertex-id collision: $nNames distinct names -> $nIds ids")
    val edgeDf = vertices match {
      case Some(_) => edges
        .join(broadcast(vertDf.select(col("name").as(src))), Seq(src), "left_semi")
        .join(broadcast(vertDf.select(col("name").as(dst))), Seq(dst), "left_semi")
      case None => edges
    }
    var edgeRdd = edgeDf
      .select(xxhash64(col(src)).as("srcId"), xxhash64(col(dst)).as("dstId"),
        weightCol.map(w => col(w).cast("double")).getOrElse(lit(1.0)).as("w"))
      .as[(Long, Long, Double)].rdd.map { case (s, d, w) => Edge(s, d, w) }
    var vertRdd = vertDf
      .select(xxhash64(col("name")).as("id"), col("name"))
      .as[(Long, String)].rdd
    // Partition the GRAPH by its own size, not the SQL side's
    // parallelism: a Pregel superstep is a full stage per iteration,
    // so a small graph (e.g. a nation-level rollup) on hundreds of
    // partitions pays hundreds of empty tasks × iterations. Scale-up
    // keeps ~50k edges/partition up to the cluster's parallelism.
    numParts.foreach { p =>
      edgeRdd = edgeRdd.coalesce(p)
      vertRdd = vertRdd.coalesce(p)
    }
    Graph(vertRdd, edgeRdd, defaultVertexAttr = "",
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .partitionBy(PartitionStrategy.EdgePartition2D)
  }

  /** Fixed-iteration unweighted PageRank (GDS `gds.pageRank` parity:
    * init 1.0, pr' = (1-d) + d·Σ pr/outDeg, no dangling
    * redistribution). */
  def pageRank[VD: ClassTag](g: Graph[VD, Double], iters: Int = 20,
      damping: Double = 0.85): VertexRDD[Double] =
    powerIterate(g, iters, damping, uniformDenominator = None)

  /** ArticleRank (GDS `gds.articleRank` defaults: damping 0.85, 20
    * iterations): neighbor contribution divided by
    * `outDeg(u) + avgOutDeg` instead of `outDeg(u)`. */
  def articleRank[VD: ClassTag](g: Graph[VD, Double], iters: Int = 20,
      damping: Double = 0.85): VertexRDD[Double] = {
    val degSum = g.outDegrees.map(_._2.toLong).fold(0L)(_ + _)
    val avgOutDeg = degSum.toDouble / g.numVertices
    powerIterate(g, iters, damping, uniformDenominator = Some(avgOutDeg))
  }

  /** Shared rank core. `uniformDenominator` = None -> PageRank
    * (divide by outDeg); Some(avg) -> ArticleRank (divide by
    * outDeg + avg).
    *
    * SEMANTICS (verified bit-exact against the reference's golden GDS
    * output): GDS evaluates these as Pregel DELTA propagation —
    * superstep 0 initializes every rank to (1-d) and sends the first
    * deltas, so `maxIterations = n` yields the truncated power series
    *   rank = (1-d) · Σ_{k=0..n-1} (d·Mᵀ)^k · 1
    * i.e. n-1 message-propagation rounds — NOT n steps of classic
    * power iteration from init 1.0 (that differs by the d^n·M^n·1
    * head term, ~4% at n=20). We accumulate (rank, term) per vertex:
    * term' = d · Σ_in term(u)/denom(u); rank' = rank + term'. */
  private def powerIterate[VD: ClassTag](g: Graph[VD, Double], iters: Int,
      damping: Double, uniformDenominator: Option[Double]): VertexRDD[Double] = {
    val add = uniformDenominator.getOrElse(0.0)
    // vertex attr = (rank, lastTerm, 1/denominator); denom fixed
    var rankGraph: Graph[(Double, Double, Double), Double] = g
      .outerJoinVertices(g.outDegrees) { (_, _, deg) =>
        val denom = deg.getOrElse(0) + add
        val init = 1.0 - damping
        (init, init, if (denom > 0) 1.0 / denom else 0.0)
      }.cache()

    var i = 1
    while (i < iters) {
      val msgs: VertexRDD[Double] = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2 * ctx.srcAttr._3),
        _ + _, TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(msgs) { (_, attr, msg) =>
        val term = damping * msg.getOrElse(0.0)
        (attr._1 + term, term, attr._3)
      }.cache()
      // Materialize the EDGE view (not just vertices) before
      // unpersisting the parent — the replicated vertex view hangs off
      // the edges, and leaving it lazy makes each iteration recompute
      // the whole lineage (quadratic blowup). Same pattern as
      // org.apache.spark.graphx.lib.PageRank.runWithOptions.
      rankGraph.edges.foreachPartition(_ => ())
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
      i += 1
    }
    // materialize the result independently, then free the iteration
    // graph — callers keep a small cached vertex RDD, not the whole
    // edge-replicated graph
    val result = rankGraph.vertices.mapValues(_._1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    rankGraph.unpersistVertices(blocking = false)
    rankGraph.edges.unpersist(blocking = false)
    result
  }

  /** Vertex state of the fused delta series:
    * (prRank, prTerm, invDegPr, arRank, arTerm, invDegAr). */
  private type RankState = (Double, Double, Double, Double, Double, Double)

  /** Cold-start state: every vertex at rank = term = (1−d), inverse
    * denominators from the graph's out-degrees. */
  private def coldStartGraph[VD: ClassTag](g: Graph[VD, Double],
      damping: Double): Graph[RankState, Double] = {
    val degSum = g.outDegrees.map(_._2.toLong).fold(0L)(_ + _)
    val avgOutDeg = degSum.toDouble / g.numVertices
    val init = 1.0 - damping
    g.outerJoinVertices(g.outDegrees) { (_, _, deg) =>
      val d = deg.getOrElse(0)
      (init, init, if (d > 0) 1.0 / d else 0.0,
        init, init, if (d + avgOutDeg > 0) 1.0 / (d + avgOutDeg) else 0.0)
    }
  }

  /** The fused PageRank + ArticleRank delta loop from an EXPLICIT
    * start state — one superstep carries both (term_pr, term_ar)
    * messages, so n rounds cost n shuffles instead of 2n; each rank is
    * numerically identical to running its own loop (independent
    * accumulators, same fold order). Runs exactly `rounds`
    * delta-propagation rounds — the recurrence is memoryless given
    * (rank, term), which is what makes [[resumeRankTable]]'s
    * warm start EXACTLY the continued cold run. */
  private def combinedSeries(start: Graph[RankState, Double], rounds: Int,
      damping: Double): VertexRDD[RankState] = {
    var rankGraph = start.cache()
    var i = 0
    while (i < rounds) {
      val msgs = rankGraph.aggregateMessages[(Double, Double)](
        ctx => ctx.sendToDst((ctx.srcAttr._2 * ctx.srcAttr._3,
          ctx.srcAttr._5 * ctx.srcAttr._6)),
        (a, b) => (a._1 + b._1, a._2 + b._2), TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(msgs) { (_, attr, msg) =>
        val (mPr, mAr) = msg.getOrElse((0.0, 0.0))
        val tPr = damping * mPr
        val tAr = damping * mAr
        (attr._1 + tPr, tPr, attr._3, attr._4 + tAr, tAr, attr._6)
      }.cache()
      rankGraph.edges.foreachPartition(_ => ())
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
      i += 1
    }
    val result = rankGraph.vertices.mapValues(a => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    rankGraph.unpersistVertices(blocking = false)
    rankGraph.edges.unpersist(blocking = false)
    result
  }

  /** Weighted PageRank: each neighbour's contribution scales with its
    * edge weight — term' = d·Σ_in term(u)·w(u,v)/W(u), W(u) = Σ
    * outgoing weight. The variant Neo4j GDS enables via
    * `relationshipWeightProperty` — the reference PROJECTS the trade
    * `amount` (`preprocess_upload_neo4j.py:406`) but never passes the
    * weight param, so its ranks are uniform; this closes that gap.
    * Same truncated delta series and superstep cost as [[pageRank]];
    * zero-weight-sum vertices contribute nothing (like sinks). */
  def weightedPageRank(g: Graph[String, Double], iters: Int = 20,
      damping: Double = 0.85): VertexRDD[Double] = {
    val wSums: VertexRDD[Double] = g.aggregateMessages[Double](
      ctx => ctx.sendToSrc(ctx.attr), _ + _)
    val init = 1.0 - damping
    var rankGraph: Graph[(Double, Double, Double), Double] = g
      .outerJoinVertices(wSums) { (_, _, w) =>
        (init, init, w.filter(_ > 0).map(1.0 / _).getOrElse(0.0))
      }.cache()
    var i = 1
    while (i < iters) {
      val msgs: VertexRDD[Double] = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2 * ctx.srcAttr._3 * ctx.attr),
        _ + _, TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(msgs) { (_, attr, msg) =>
        val term = damping * msg.getOrElse(0.0)
        (attr._1 + term, term, attr._3)
      }.cache()
      rankGraph.edges.foreachPartition(_ => ()) // see powerIterate
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
      i += 1
    }
    val result = rankGraph.vertices.mapValues(_._1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    rankGraph.unpersistVertices(blocking = false)
    rankGraph.edges.unpersist(blocking = false)
    result
  }

  /** [[weightedPageRank]] as a name-keyed table with the small-graph
    * driver-local gate of [[rankTable]]. */
  def weightedRankTable(edges: DataFrame, src: String, dst: String,
      weight: String, iters: Int = 20, damping: Double = 0.85,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e = if (preCached) edges
      else edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    val out =
      if (nEdges <= localThreshold) {
        val raw = e.select(col(src).cast("string"), col(dst).cast("string"),
          col(weight).cast("double")).as[(String, String, Double)].collect()
        val verts = (raw.map(_._1) ++ raw.map(_._2)).distinct
        val idx = verts.zipWithIndex.toMap
        val es = raw.map { case (s, d, w) => (idx(s), idx(d), w) }
        val n = verts.length
        val wSum = new Array[Double](n)
        es.foreach { case (s, _, w) => wSum(s) += w }
        val inv = Array.tabulate(n)(i => if (wSum(i) > 0) 1.0 / wSum(i) else 0.0)
        val init = 1.0 - damping
        val pr = Array.fill(n)(init)
        var term = pr.clone()
        var i = 1
        while (i < iters) {
          val m = new Array[Double](n)
          es.foreach { case (s, d, w) => m(d) += term(s) * inv(s) * w }
          var v = 0
          while (v < n) { m(v) *= damping; pr(v) += m(v); v += 1 }
          term = m
          i += 1
        }
        verts.indices.map(v => (verts(v), pr(v))).toSeq
          .toDF("name", "wpagerank")
      } else {
        val parts = math.max(1L, math.min(
          spark.sparkContext.defaultParallelism.toLong, nEdges / 50000L + 1L)).toInt
        val g = graphFromNames(e, src, dst, None, Some(parts),
          weightCol = Some(weight)).cache()
        val ranks = weightedPageRank(g, iters, damping)
        val names = g.vertices.map { case (id, nm) => (id, nm) }.toDF("id", "name")
        val df = names.join(ranks.toDF("id", "wpagerank"), "id").drop("id")
          .persistTracked()
        df.count()
        ranks.unpersist(blocking = false)
        g.unpersistVertices(blocking = false)
        g.edges.unpersist(blocking = false)
        df
      }
    if (!preCached) e.unpersist(blocking = false)
    out
  }

  /** Personalized PageRank (random walk with restart): identical
    * delta-series semantics to [[pageRank]] but the restart mass sits
    * only on `seeds` — rank = (1-d)·Σ_{k=0..n-1}(d·Mᵀ)^k·e_S, so
    * vertices unreachable from the seed set stay at exactly 0.0. The
    * recommendation/proximity primitive a graph store serves
    * ("what's near THESE nodes"), one aggregateMessages shuffle per
    * superstep like the global ranks. */
  def personalizedPageRank(g: Graph[String, Double], seeds: Set[String],
      iters: Int = 20, damping: Double = 0.85): VertexRDD[Double] = {
    var rankGraph: Graph[(Double, Double, Double), Double] = g
      .outerJoinVertices(g.outDegrees) { (_, name, deg) =>
        val init = if (seeds.contains(name)) 1.0 - damping else 0.0
        val d = deg.getOrElse(0)
        (init, init, if (d > 0) 1.0 / d else 0.0)
      }.cache()
    var i = 1
    while (i < iters) {
      val msgs: VertexRDD[Double] = rankGraph.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._2 * ctx.srcAttr._3),
        _ + _, TripletFields.Src)
      val prev = rankGraph
      rankGraph = rankGraph.outerJoinVertices(msgs) { (_, attr, msg) =>
        val term = damping * msg.getOrElse(0.0)
        (attr._1 + term, term, attr._3)
      }.cache()
      rankGraph.edges.foreachPartition(_ => ()) // see powerIterate
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
      i += 1
    }
    val result = rankGraph.vertices.mapValues(_._1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    rankGraph.unpersistVertices(blocking = false)
    rankGraph.edges.unpersist(blocking = false)
    result
  }

  /** [[personalizedPageRank]] as a name-keyed table, with the same
    * small-graph driver-local gate as [[rankTable]]. */
  def pprTable(edges: DataFrame, src: String, dst: String,
      seeds: Seq[String], iters: Int = 20, damping: Double = 0.85,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e = if (preCached) edges
      else edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    val out =
      if (nEdges <= localThreshold) {
        val rawEdges = e.select(col(src).cast("string"), col(dst).cast("string"))
          .as[(String, String)].collect()
        val verts = (rawEdges.map(_._1) ++ rawEdges.map(_._2)).distinct
        val idx = verts.zipWithIndex.toMap
        val es = rawEdges.map { case (s, d) => (idx(s), idx(d)) }
        val n = verts.length
        val outDeg = new Array[Int](n)
        es.foreach { case (s, _) => outDeg(s) += 1 }
        val inv = Array.tabulate(n)(i => if (outDeg(i) > 0) 1.0 / outDeg(i) else 0.0)
        val seedSet = seeds.toSet
        val init = 1.0 - damping
        val pr = Array.tabulate(n)(i => if (seedSet(verts(i))) init else 0.0)
        var term = pr.clone()
        var i = 1
        while (i < iters) {
          val m = new Array[Double](n)
          es.foreach { case (s, d) => m(d) += term(s) * inv(s) }
          var v = 0
          while (v < n) { m(v) *= damping; pr(v) += m(v); v += 1 }
          term = m
          i += 1
        }
        verts.indices.map(v => (verts(v), pr(v))).toSeq.toDF("name", "ppr")
      } else {
        val parts = math.max(1L, math.min(
          spark.sparkContext.defaultParallelism.toLong, nEdges / 50000L + 1L)).toInt
        val g = graphFromNames(e, src, dst, None, Some(parts)).cache()
        val ranks = personalizedPageRank(g, seeds.toSet, iters, damping)
        val names = g.vertices.map { case (id, nm) => (id, nm) }.toDF("id", "name")
        val df = names.join(ranks.toDF("id", "ppr"), "id").drop("id")
          .persistTracked()
        df.count()
        ranks.unpersist(blocking = false)
        g.unpersistVertices(blocking = false)
        g.edges.unpersist(blocking = false)
        df
      }
    if (!preCached) e.unpersist(blocking = false)
    out
  }

  /** Edge count at or below which the rank series also collects the
    * edge list and runs in one job (the shared [[LocalGate]] value).
    * The aggregation producing the edge list is still fully
    * distributed — only the O(E·iters) series math moves. */
  val LocalEdgeThreshold: Long = LocalGate.Threshold

  def rankTable(edges: DataFrame, src: String, dst: String,
      iters: Int = 20, damping: Double = 0.85,
      vertices: Option[DataFrame] = None,
      localThreshold: Long = LocalEdgeThreshold): DataFrame =
    seriesTable(edges, src, dst, vertices, None, iters - 1, damping,
      emitTerms = false, localThreshold)

  /** Resumable rank STATE (X138): the complete delta-series checkpoint
    * per vertex — (name, pagerank, pr_term, articlerank, ar_term)
    * after `iters` GDS-semantics iterations. The recurrence is
    * memoryless given (rank, term), so this row is everything a
    * continuation needs: [[resumeRankTable]](state, m) EQUALS
    * rankTable at iters+m, exactly — no approximation, no re-running
    * history (spec-pinned bit-exact on the local path). This is the
    * graph-side member of the incremental family: the nightly rank
    * job persists its state, and later refreshes run m cheap rounds
    * from it instead of the full series. */
  def rankStateTable(edges: DataFrame, src: String, dst: String,
      iters: Int = 20, damping: Double = 0.85,
      vertices: Option[DataFrame] = None,
      localThreshold: Long = LocalEdgeThreshold): DataFrame =
    seriesTable(edges, src, dst, vertices, None, iters - 1, damping,
      emitTerms = true, localThreshold)

  /** Continue the rank delta series `extraRounds` rounds from a stored
    * [[rankStateTable]] checkpoint. The vertex set is the state's;
    * an edge endpoint WITHOUT a state row fails loud (a grown graph
    * needs an explicit decision — seed new vertices and re-checkpoint
    * — not a silent implicit rank of zero). Inverse denominators are
    * recomputed from the CURRENT edge set, so a resume after edge
    * changes applies the new structure to the stored mass — and a
    * resume on the unchanged graph is bit-exactly the longer cold
    * run. */
  def resumeRankTable(edges: DataFrame, src: String, dst: String,
      state: DataFrame, extraRounds: Int, damping: Double = 0.85,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(extraRounds >= 0, s"extraRounds must be >= 0, got $extraRounds")
    val needed = Set("name", "pagerank", "pr_term", "articlerank", "ar_term")
    require(needed.subsetOf(state.columns.toSet),
      s"resumeRankTable: state must have columns ${needed.mkString("/")} " +
        s"(rankStateTable's schema), got ${state.columns.mkString(", ")}")
    // state-uniqueness probe (bounded: at most 6 names come back):
    // duplicate `name` rows would make the driver-state paths emit
    // duplicate output rows with stale values and the GraphX fallback
    // pick an arbitrary copy via outerJoinVertices — silently breaking
    // the bit-exact-continuation contract. Fail loud like the
    // missing-vertex check of the series.
    val dupNames = state.groupBy(col("name"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
      .select(col("name").cast("string"))
      .limit(6).collect().map(_.getString(0))
    require(dupNames.isEmpty,
      "resumeRankTable: duplicate state rows for: " +
        s"${dupNames.take(5).mkString(", ")} — the checkpoint must hold " +
        "exactly one row per vertex")
    seriesTable(edges, src, dst, None, Some(state), extraRounds, damping,
      emitTerms = false, localThreshold)
  }

  /** Cache the (aggregated, small) edge table around a rank run: the
    * series reads it several times (gate count, vertex set, edge
    * blocks) — without this each pass re-runs the full upstream SQL
    * pipeline. If the CALLER already persisted it (to reuse the edges
    * after the ranks, e.g. q_top50_partners), respect that and leave
    * the cache. */
  private def withCachedEdges[T](edges: DataFrame)(f: (DataFrame, Long) => T): T = {
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e = if (preCached) edges
      else edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count() // also materializes the cache
    try f(e, nEdges)
    finally if (!preCached) e.unpersist(blocking = false)
  }

  /** Job description of every superstep job of the driver-state series. */
  private[graft] val SuperstepJob = "graft.Ranks: superstep"

  /** Edges `src(j) -> dst(j)` as vertex indices: the whole collected
    * edge list (driver-local) or one edge partition. */
  private final case class EdgeBlock(src: Array[Int], dst: Array[Int])

  /** Resolve name pairs to vertex indices, keeping input order. Pairs
    * with an unresolved endpoint are left out; up to 5 of the
    * unresolved names come back. */
  private def resolve(pairs: Iterator[(String, String)],
      idx: Map[String, Int]): (EdgeBlock, Array[String]) = {
    val s = Array.newBuilder[Int]
    val d = Array.newBuilder[Int]
    val missing = mutable.LinkedHashSet.empty[String]
    pairs.foreach { case (a, b) =>
      val ia = idx.getOrElse(a, -1)
      val ib = idx.getOrElse(b, -1)
      if (ia >= 0 && ib >= 0) { s += ia; d += ib }
      else {
        if (ia < 0 && missing.size < 5) missing += a
        if (ib < 0 && missing.size < 5) missing += b
      }
    }
    (EdgeBlock(s.result(), d.result()), missing.toArray)
  }

  /** The distinct endpoint names of distributed edges if at most
    * `bound` exist, else None: each partition's distinct names (it stops
    * reading past bound + 1) merged on the driver in partition order —
    * one shuffle-free job. */
  private def endpointNames(ends: RDD[(String, String)], bound: Long): Option[Array[String]] = {
    val cap = math.min(bound, Int.MaxValue - 1L) + 1
    val parts = LocalGate.described(ends.sparkContext, "graft.Ranks: vertex names") {
      ends.mapPartitions { it =>
        val seen = mutable.LinkedHashSet.empty[String]
        while (it.hasNext && seen.size < cap) {
          val (a, b) = it.next()
          seen += a
          seen += b
        }
        Iterator.single(seen.toArray)
      }.collect()
    }
    val names = parts.iterator.flatten.distinct.toArray
    if (names.length <= bound) Some(names) else None
  }

  private def outDegrees(b: EdgeBlock, n: Int): Array[Int] = {
    val deg = new Array[Int](n)
    b.src.foreach(v => deg(v) += 1)
    deg
  }

  /** The message kernel of both series forms: one superstep's
    * PageRank and ArticleRank message sums over one block,
    * m(dst) += w(src) per edge in edge order (w = term·inv). */
  private def blockMessages(b: EdgeBlock, wPr: Array[Double],
      wAr: Array[Double]): (Array[Double], Array[Double]) = {
    val mPr = new Array[Double](wPr.length)
    val mAr = new Array[Double](wAr.length)
    var j = 0
    while (j < b.src.length) {
      val s = b.src(j)
      val d = b.dst(j)
      mPr(d) += wPr(s)
      mAr(d) += wAr(s)
      j += 1
    }
    (mPr, mAr)
  }

  /** Per-vertex state of the fused PageRank + ArticleRank delta series
    * held in driver arrays: rank, last term and inverse denominator of
    * each series. */
  private final class SeriesState(val pr: Array[Double], var prTerm: Array[Double],
      val invPr: Array[Double], val ar: Array[Double], var arTerm: Array[Double],
      val invAr: Array[Double]) {

    /** `rounds` delta-propagation rounds: w = term·inv, m = the
      * per-destination sums of w that `messages` returns,
      * term' = d·m, rank' = rank + term'. The recurrence is memoryless
      * given (rank, term), which is what makes [[resumeRankTable]]'s
      * warm start EXACTLY the continued cold run. */
    def run(rounds: Int, damping: Double)(
        messages: (Array[Double], Array[Double]) => (Array[Double], Array[Double])): Unit = {
      val n = pr.length
      var i = 0
      while (i < rounds) {
        val wPr = new Array[Double](n)
        val wAr = new Array[Double](n)
        var v = 0
        while (v < n) {
          wPr(v) = prTerm(v) * invPr(v)
          wAr(v) = arTerm(v) * invAr(v)
          v += 1
        }
        val (mPr, mAr) = messages(wPr, wAr)
        v = 0
        while (v < n) {
          mPr(v) *= damping
          mAr(v) *= damping
          pr(v) += mPr(v)
          ar(v) += mAr(v)
          v += 1
        }
        prTerm = mPr
        arTerm = mAr
        i += 1
      }
    }
  }

  /** An edge list as index blocks for the series: each block's
    * out-degree counts and unresolved endpoint names, the superstep
    * message function over all blocks, and the release of what the
    * blocks hold. */
  private final case class Blocks(built: Seq[(Array[Int], Array[String])],
      messages: (Array[Double], Array[Double]) => (Array[Double], Array[Double]),
      release: () => Unit)

  /** The collected edge list as one block on the driver. */
  private def localBlocks(pairs: Array[(String, String)], idx: Map[String, Int],
      n: Int): Blocks = {
    val (b, miss) = resolve(pairs.iterator, idx)
    Blocks(Seq((outDegrees(b, n), miss)), blockMessages(b, _, _), () => ())
  }

  /** One cached block per edge partition, built by one job. The lineage
    * is cut (`localCheckpoint`), so each superstep is a single-stage
    * job: broadcast the weights, sum each block's messages on its
    * executor, add the V-length partial sums on the driver. */
  private def distributedBlocks(ends: RDD[(String, String)], idx: Map[String, Int],
      n: Int): Blocks = {
    val sc = ends.sparkContext
    val idxB = sc.broadcast(idx)
    val rdd = ends.mapPartitions(it => Iterator.single(resolve(it, idxB.value)))
      .localCheckpoint()
    val built = LocalGate.described(sc, "graft.Ranks: edge blocks") {
      sc.runJob(rdd, (it: Iterator[(EdgeBlock, Array[String])]) => {
        val (b, miss) = it.next()
        (outDegrees(b, n), miss)
      }).toSeq
    }
    def messages(wPr: Array[Double], wAr: Array[Double]) = {
      val wB = sc.broadcast((wPr, wAr))
      val parts = try LocalGate.described(sc, SuperstepJob) {
        sc.runJob(rdd, (it: Iterator[(EdgeBlock, Array[String])]) => {
          val (p, a) = wB.value
          blockMessages(it.next()._1, p, a)
        })
      } finally wB.destroy()
      // partition order, not task-completion order: the float sums are
      // the same on every run
      val mPr = new Array[Double](n)
      val mAr = new Array[Double](n)
      parts.foreach { case (p, a) =>
        var v = 0
        while (v < n) { mPr(v) += p(v); mAr(v) += a(v); v += 1 }
      }
      (mPr, mAr)
    }
    // the index broadcast goes only after the last superstep: every
    // superstep task still serializes the block-building closure. The
    // blocks are checkpoint blocks, reclaimed by the ContextCleaner once
    // unreachable (an eager unpersist of a local checkpoint only logs a
    // lineage warning)
    Blocks(built, messages, () => idxB.destroy())
  }

  /** The fused series behind [[rankTable]], [[rankStateTable]] and
    * [[resumeRankTable]]: `rounds` rounds from a cold start (`vertices`
    * as in [[graphFromNames]]: unresolved edges dropped) or from a
    * stored checkpoint (`state`: an unresolved endpoint fails loud).
    * Vertex state lives in driver arrays; the edges are collected at or
    * below `localThreshold`, else kept as distributed index blocks.
    * Distributed edges with more than `maxDriverVertices` vertices (0
    * forces it), or more than one superstep's results can bring within
    * [[LocalGate.resultBudget]], run the GraphX supersteps instead. */
  private[graft] def seriesTable(edges: DataFrame, src: String, dst: String,
      vertices: Option[DataFrame], state: Option[DataFrame], rounds: Int,
      damping: Double, emitTerms: Boolean, localThreshold: Long,
      maxDriverVertices: Long = LocalGate.Threshold): DataFrame =
    withCachedEdges(edges) { (e, nEdges) =>
      val spark = e.sparkSession
      import spark.implicits._
      val ends = e.select(col(src).cast("string").as("s"),
        col(dst).cast("string").as("d")).as[(String, String)]
      val local = nEdges <= localThreshold
      val rawEdges = if (local) ends.collect() else Array.empty[(String, String)]
      // distributed edges: one block per partition, at most one per core
      lazy val blockInput = ends.rdd.coalesce(math.max(1,
        math.min(ends.rdd.getNumPartitions, spark.sparkContext.defaultParallelism)))
      // a superstep returns two V-length double arrays per block (the
      // block-building job returns less): V stays within the result budget
      lazy val vertexBound = LocalGate.rowsWithin(spark.sparkContext,
        16L * blockInput.getNumPartitions, maxDriverVertices)
      def toDriver[T](ds: Dataset[T]): Option[Array[T]] =
        if (local) Some(ds.collect()) else LocalGate.collectAtMost(ds, vertexBound)
      val stateRows = state.map(st => toDriver(st.select(col("name").cast("string"),
        col("pagerank").cast("double"), col("pr_term").cast("double"),
        col("articlerank").cast("double"), col("ar_term").cast("double"))
        .as[(String, Double, Double, Double, Double)]))
      val verts: Option[Array[String]] = stateRows match {
        case Some(rows) => rows.map(_.map(_._1))
        case None => vertices match {
          case Some(v) =>
            toDriver(v.select(col("name").cast("string")).distinct().as[String])
          case None if local => Some((rawEdges.map(_._1) ++ rawEdges.map(_._2)).distinct)
          case None => endpointNames(blockInput, vertexBound)
        }
      }
      verts match {
        case None =>
          graphXRankCore(e, src, dst, vertices, state, rounds, damping, emitTerms, nEdges)
        case Some(names) =>
          val n = names.length
          val idx = names.zipWithIndex.toMap
          val blocks =
            if (local) localBlocks(rawEdges, idx, n)
            else distributedBlocks(blockInput, idx, n)
          try {
            // cold start + explicit vertices: J7 inner-join semantics
            // (drop unresolved edges). Resume: an unresolved endpoint
            // means the graph GREW past the checkpoint — fail loud,
            // never a silent drop
            if (state.isDefined) {
              val missing = blocks.built.flatMap(_._2).distinct
              require(missing.isEmpty,
                "resumeRankTable: graph vertices without a state row: " +
                  s"${missing.take(5).mkString(", ")} — the store must cover the graph")
            }
            val outDeg = new Array[Int](n)
            blocks.built.foreach { case (d, _) =>
              var v = 0
              while (v < n) { outDeg(v) += d(v); v += 1 }
            }
            val avgOutDeg = if (n > 0) outDeg.map(_.toLong).sum.toDouble / n else 0.0
            val init = 1.0 - damping
            val st = new SeriesState(Array.fill(n)(init), Array.fill(n)(init),
              Array.tabulate(n)(i => if (outDeg(i) > 0) 1.0 / outDeg(i) else 0.0),
              Array.fill(n)(init), Array.fill(n)(init),
              Array.tabulate(n)(i =>
                if (outDeg(i) + avgOutDeg > 0) 1.0 / (outDeg(i) + avgOutDeg) else 0.0))
            stateRows.flatten.foreach(_.zipWithIndex.foreach { case ((_, p, pt, a, at), v) =>
              st.pr(v) = p; st.prTerm(v) = pt; st.ar(v) = a; st.arTerm(v) = at
            })
            st.run(rounds, damping)(blocks.messages)
            if (emitTerms)
              names.indices.map(v =>
                (names(v), st.pr(v), st.prTerm(v), st.ar(v), st.arTerm(v))).toSeq
                .toDF("name", "pagerank", "pr_term", "articlerank", "ar_term")
            else
              names.indices.map(v => (names(v), st.pr(v), st.ar(v))).toSeq
                .toDF("name", "pagerank", "articlerank")
          } finally blocks.release()
      }
    }

  /** GraphX fallback for vertex sets the driver cannot hold:
    * aggregateMessages supersteps from a cold or stored start. */
  private def graphXRankCore(e: DataFrame, src: String, dst: String,
      vertices: Option[DataFrame], state: Option[DataFrame],
      rounds: Int, damping: Double, emitTerms: Boolean,
      nEdges: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 50000L + 1L)).toInt
    // resume: verify the state covers every edge endpoint BEFORE the
    // graph is built — graphFromNames' explicit-vertex path drops
    // unresolved edges (J7 semantics), which on a grown graph would
    // SILENTLY rank the stale graph; the executor-side throw below
    // could never fire. Bounded probe: at most 6 offending names.
    state.foreach { st =>
      val missing = e.select(col(src).cast("string").as("name"))
        .unionByName(e.select(col(dst).cast("string").as("name")))
        .distinct()
        .join(st.select(col("name").cast("string").as("name")),
          Seq("name"), "left_anti")
        .limit(6).collect().map(_.getString(0))
      require(missing.isEmpty,
        "resumeRankTable: graph vertices without a state row: " +
          s"${missing.take(5).mkString(", ")} — the store must cover the graph")
    }
    val g = graphFromNames(e, src, dst,
      state.map(_.select(col("name"))).orElse(vertices), Some(parts)).cache()
    val names = g.vertices.map { case (id, n) => (id, n) }.toDF("id", "name")
    val start: Graph[RankState, Double] = state match {
      case None => coldStartGraph(g, damping)
      case Some(st) =>
        val degSum = g.outDegrees.map(_._2.toLong).fold(0L)(_ + _)
        val avgOutDeg = degSum.toDouble / g.numVertices
        val stRdd = names.join(st.select(col("name"),
          col("pagerank").cast("double").as("p"),
          col("pr_term").cast("double").as("pt"),
          col("articlerank").cast("double").as("a"),
          col("ar_term").cast("double").as("at")), Seq("name"))
          .select("id", "p", "pt", "a", "at")
          .as[(Long, Double, Double, Double, Double)].rdd
          .map { case (id, p, pt, a, at) => (id, (p, pt, a, at)) }
        g.outerJoinVertices(g.outDegrees) { (_, nm, deg) => (nm, deg.getOrElse(0)) }
          .outerJoinVertices(stRdd) { (_, nd, stOpt) =>
            val (nm, d) = nd
            val s4 = stOpt.getOrElse(throw new IllegalArgumentException(
              s"resumeRankTable: vertex '$nm' has no state row — the " +
                "store must cover the graph"))
            (s4._1, s4._2, if (d > 0) 1.0 / d else 0.0,
              s4._3, s4._4, if (d + avgOutDeg > 0) 1.0 / (d + avgOutDeg) else 0.0)
          }
    }
    val v6 = combinedSeries(start, rounds, damping)
    val ranksDf =
      if (emitTerms)
        v6.map { case (id, a) => (id, a._1, a._2, a._4, a._5) }
          .toDF("id", "pagerank", "pr_term", "articlerank", "ar_term")
      else v6.map { case (id, a) => (id, a._1, a._4) }
        .toDF("id", "pagerank", "articlerank")
    val out = names.join(ranksDf, "id").drop("id")
      .persistTracked()
    out.count() // materialize, then release the heavyweight inputs
    v6.unpersist(blocking = false)
    g.unpersistVertices(blocking = false)
    g.edges.unpersist(blocking = false)
    out
  }
}
