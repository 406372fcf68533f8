package graft.graph

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Iterative graph-traversal queries the reference's graph store would
  * answer in Cypher (`MATCH (a)-[*..k]->(b)`, community detection) —
  * re-expressed as bounded DataFrame iteration: each superstep is one
  * keyed join + aggregation, exactly the shuffle a Pregel round pays,
  * with the frontier/label set as the only iterated state.
  *
  * Scale shape: per-superstep cost is O(frontier ⋈ edges) with
  * short-key exchanges; rounds are explicitly bounded (maxHops /
  * iters / maxRounds), and the loops that can run long truncate
  * lineage with a per-round `localCheckpoint`. [[kCore]] and
  * [[shortestPath]] share the [[LocalGate]] of `Ranks` and
  * `Dedup.connectedComponents`: an edge list of at most
  * `LocalGate.Threshold` rows comes to the driver in one bounded collect
  * and runs the same peel / Bellman–Ford recurrence there — one job
  * instead of one to three per round.
  */
object Traversal {

  /** Unweighted BFS hop distance from `seeds` along directed edges,
    * bounded at `maxHops`. Returns (name, hop) for every vertex
    * reached, hop = first-reach level (deterministic regardless of
    * partitioning: set semantics per level). Early-exits when a
    * frontier drains before the bound. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.toDF("name").withColumn("hop", lit(0))
    var frontier = dist
    var k = 0
    var drained = false
    while (k < maxHops && !drained) {
      k += 1
      val next = frontier.join(e, col("name") === col("_s"))
        .select(col("_d").as("name")).distinct()
        .join(dist, Seq("name"), "left_anti")
        .withColumn("hop", lit(k))
        .persistTracked()
      drained = next.isEmpty // the one action per superstep
      dist = dist.unionByName(next)
      frontier = next
    }
    e.unpersist()
    dist
  }

  /** Synchronous label propagation (community detection), `iters` fixed
    * rounds over the UNDIRECTED view of the edges. Every vertex starts
    * with its own name as label; each round it adopts the most frequent
    * label among its neighbours, ties broken by smallest label — the
    * deterministic variant of classic LPA (async/random tie-breaks
    * would never hash-verify). Returns (name, community). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
      .persistTracked()
    var labels = und.select(col("a").as("name")).distinct()
      .withColumn("label", col("name"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("_n").desc, col("label").asc)
    for (_ <- 1 to iters) {
      labels = und
        .join(labels.withColumnRenamed("name", "b"), Seq("b"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("_n"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("a").as("name"), col("label"))
        // per-round lineage truncation (same policy as shortestPath /
        // connectedComponents). Checkpoint blocks are RDD-level
        // (invisible to CacheManager — CheckpointProbeSpec pins this),
        // so superseded rounds are reclaimed by the ContextCleaner
        // once this loop drops their frame reference: category 3 of
        // the cache-hygiene policy — eager unpersist is impossible
        // (no CacheManager entry) AND unsafe (no lineage to recompute
        // a checkpointed frame from).
        .localCheckpoint()
    }
    // labels is localCheckpoint()ed each round, so after >= 1 round
    // the undirected-edge cache is releasable here (same policy as
    // shortestPath); at iters = 0 labels still reads through `und`,
    // so leave that degenerate case to Caches.release
    if (iters > 0) und.unpersist()
    labels.withColumnRenamed("label", "community")
  }

  /** k-core membership (X125): iteratively peel vertices whose
    * UNDIRECTED degree is < k until a fixpoint; returns the k-core's
    * vertices with their within-core degree. Peeling is monotone, so
    * an early-stopped run equals any longer bound — which is what lets
    * a fixed-round chained-CTE oracle verify an early-exit loop.
    *
    * Both forms run the same synchronous rounds (every vertex below k
    * at a round's start peels in that round; the fixpoint is the first
    * round that removes no edge), so `maxRounds` fails loud on exactly
    * the same inputs on either side of the gate.
    *
    * Scale shape: at most `LocalGate.Threshold` RAW edge rows (counted
    * before the symmetric union/distinct: the gate is one bounded
    * collect) peel on the driver in that one job. Above it each round
    * is one degree partial-agg + two semi-joins on the edge list (all
    * key-only shuffles — no vertex data rides along), with per-round
    * `localCheckpoint` lineage truncation (the labelPropagation
    * policy). Rounds are data-dependent but bounded by the peel depth,
    * which is ≤ the degeneracy ordering's length — on real graphs tens
    * of rounds, and each round strictly shrinks the edge set or exits.
    * The early-exit count probe reads a checkpointed frame — O(1)
    * result, no recompute. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 1000): DataFrame =
    kCore(edges, srcCol, dstCol, k, maxRounds, LocalGate.Threshold)

  /** [[kCore]] with its gate at `localThreshold` edge rows (0 forces
    * the distributed rounds). */
  private[graft] def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int, localThreshold: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
    val keyType = sym.schema("a").dataType
    val gated =
      if (!driverKey(keyType)) None
      else LocalGate.collectAtMost(edges.select(col(srcCol).cast(keyType),
        col(dstCol).cast(keyType)), localThreshold)
    gated match {
      case Some(rows) =>
        return edges.sparkSession.createDataFrame(
          kCoreLocal(rows.map(r => (r.get(0), r.get(1))), k, maxRounds).asJava,
          StructType(Seq(StructField("name", keyType),
            StructField("core_degree", LongType, nullable = false))))
      case None =>
    }
    var und = sym.filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    var prev = und.count()
    var round = 0
    var converged = prev == 0L
    while (!converged && round < maxRounds) {
      // shuffle-hash pinned: the survivor vertex set is graph-sized —
      // never a broadcast assumption from small-SF stats
      val keep = und.groupBy(col("a")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("a"))
      val next = und.join(keep.hint("shuffle_hash"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b").hint("shuffle_hash"),
          Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      val n = next.count()
      converged = n == prev
      prev = n
      und = next
      round += 1
    }
    requireFixpoint(converged, maxRounds)
    und.groupBy(col("a")).agg(count(lit(1)).as("core_degree"))
      .withColumnRenamed("a", "name")
  }

  // fail-loud, not silent truncation: a maxRounds exit before the
  // fixpoint would return vertices with degree < k still present —
  // rounds needed scale with the peel depth, so the bound must be
  // raised, never quietly absorbed (repo require() convention)
  private def requireFixpoint(converged: Boolean, maxRounds: Int): Unit =
    require(converged,
      s"kCore: no fixpoint within maxRounds=$maxRounds rounds " +
        "(peel depth exceeds the bound) — raise maxRounds")

  /** [[kCore]]'s synchronous peel on the driver: null endpoints and
    * self-loops are dropped, parallel edges count once, as in the
    * distributed form's filter + distinct. */
  private def kCoreLocal(pairs: Array[(Any, Any)], k: Int, maxRounds: Int): Seq[Row] = {
    val id = mutable.HashMap.empty[Any, Int]
    val names = mutable.ArrayBuffer.empty[Any]
    val adj = mutable.ArrayBuffer.empty[mutable.HashSet[Int]]
    def vertex(x: Any): Int = id.getOrElseUpdate(x, {
      names += x
      adj += mutable.HashSet.empty[Int]
      names.length - 1
    })
    pairs.foreach { case (a, b) =>
      if (a != null && b != null && a != b) {
        val (ia, ib) = (vertex(a), vertex(b))
        adj(ia) += ib
        adj(ib) += ia
      }
    }
    val n = names.length
    val deg = Array.tabulate(n)(adj(_).size)
    val alive = Array.fill(n)(true)
    var converged = n == 0
    var round = 0
    while (!converged && round < maxRounds) {
      val peel = (0 until n).filter(v => alive(v) && deg(v) < k)
      converged = peel.forall(deg(_) == 0) // no edge leaves this round
      peel.foreach(alive(_) = false)
      for (v <- peel; u <- adj(v) if alive(u)) deg(u) -= 1
      round += 1
    }
    requireFixpoint(converged, maxRounds)
    (0 until n).filter(alive).map(v => Row(names(v), deg(v).toLong))
  }

  /** Key types whose JVM values compare and hash as Spark's grouping
    * and equi-joins do, so a driver-local form can key by them. */
  private def driverKey(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => binaryString(t)
  }

  /** A string type under the default (binary) collation. */
  private def binaryString(t: DataType): Boolean = t match {
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** HITS hubs & authorities (X126) in EXACT integer arithmetic:
    * authority(v) = Σ hub(u) over in-edges u→v, hub(u) = Σ authority(v)
    * over out-edges, L∞-normalized after each half-step by integral
    * division floor(x·SCALE / max) — BIGINT sums and `div` only, so
    * every engine computes bit-identical scores (a float HITS would
    * hash-drift on sum order; the L∞ norm specifically because max is
    * order-free where an L1/L2 norm would be an unordered float sum).
    * Fixed `iters` full rounds (Kleinberg's power iteration, the
    * deterministic bounded form — same policy as the PageRank delta
    * series); vertices missing a side score 0 on it. Exact while
    * n·SCALE² < 2⁶³ (n < 9·10⁶ at SCALE 10⁶ — drop SCALE a decade per
    * decade of vertices beyond that).
    *
    * Scale shape: per half-step one edge-keyed partial-agg shuffle
    * (scores ride as one BIGINT per vertex) and one O(1)-result max
    * action; scores re-enter the plan by join, not literals, so the
    * driver never holds the vertex set. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .filter(col("_s") =!= col("_d")).distinct()
      .persistTracked()
    val verts = e.select(col("_s").as("name"))
      .unionByName(e.select(col("_d").as("name"))).distinct()
      .persistTracked()
    // no edges -> no vertices: the empty result with the right schema
    // (the max() below would read NULL off an empty aggregate)
    if (e.isEmpty)
      return verts.withColumn("authority", lit(0L)).withColumn("hub", lit(0L))
    def normalized(raw0: DataFrame, scoreName: String): DataFrame = {
      // materialize the edge-join + partial agg ONCE (r21, guide §1.2):
      // checkpointing the NORMALIZED frame after the max action computed
      // the same join+agg twice per half-step — checkpoint the RAW
      // scores instead, read the max off the checkpointed rows, and let
      // the vertex-sized normalize join pipeline into the next
      // half-step's job. Halves the per-iteration shuffle work; the
      // per-round lineage truncation the checkpoint exists for is
      // unchanged (raw is the only frame the next step references).
      val raw = raw0.localCheckpoint()
      // O(1)-result action; non-null because e is non-empty and hub
      // scores start positive
      val mx = raw.agg(max(col("_raw"))).first().getLong(0)
      // shuffle-hash pinned: both sides are vertex-sized
      verts.join(raw.hint("shuffle_hash"), Seq("name"), "left")
        .select(col("name"),
          coalesce(expr(s"_raw * ${scale}L div ${mx}L"), lit(0L)).as(scoreName))
    }
    var hub = verts.withColumn("hub", lit(scale))
    // assigned on the first half-step (iters >= 1) — only hubs seed
    // in Kleinberg's iteration; there is no authority seed
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = normalized(
        e.join(hub.withColumnRenamed("name", "_s").hint("shuffle_hash"), Seq("_s"))
          .groupBy(col("_d").as("name")).agg(sum(col("hub")).as("_raw")),
        "authority")
      hub = normalized(
        e.join(auth.withColumnRenamed("name", "_d").hint("shuffle_hash"), Seq("_d"))
          .groupBy(col("_s").as("name")).agg(sum(col("authority")).as("_raw")),
        "hub")
    }
    auth.join(hub, Seq("name"))
  }

  /** Weighted shortest path from `seeds` — bounded Bellman–Ford:
    * `rounds` synchronous relaxation supersteps over directed edges
    * with non-negative integer weights, so the result is the exact
    * min-cost distance among paths of ≤ `rounds` edges. Fixed round
    * count keeps the computation a pure function of (edges, seeds,
    * rounds) — the same recurrence an oracle can chase CTE-by-CTE.
    * BIGINT min-sums all the way: nothing to round, any engine agrees
    * bit-for-bit.
    *
    * Scale shape: at most `LocalGate.Threshold` edge rows with string
    * endpoints relax on the driver after one bounded collect (stopping
    * at the fixpoint, which later rounds would not change). Above it
    * each superstep is one frontier ⋈ edges equi-join + one min-agg
    * keyed by vertex — exactly a Pregel round's shuffle; state is one
    * (vertex, dist) row per reached vertex. Unreached vertices never
    * materialize. */
  def shortestPath(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[String], rounds: Int): DataFrame =
    shortestPath(edges, srcCol, dstCol, weightCol, seeds, rounds, LocalGate.Threshold)

  /** [[shortestPath]] with its gate at `localThreshold` edge rows (0
    * forces the distributed supersteps). */
  private[graft] def shortestPath(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[String], rounds: Int,
      localThreshold: Long): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val projected = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"),
      col(weightCol).cast("long").as("_w"))
    val stringEnds = Seq("_s", "_d").forall(c => binaryString(projected.schema(c).dataType))
    val gated =
      if (rounds == 0 || !stringEnds) None
      else LocalGate.collectAtMost(projected, localThreshold)
    gated match {
      case Some(rows) =>
        return spark.createDataFrame(shortestPathLocal(rows, seeds, rounds).asJava,
          StructType(Seq(StructField("name", StringType), StructField("dist", LongType))))
      case None =>
    }
    val e = projected.persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.toDF("name").withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, col("name") === col("_s"))
        .select(col("_d").as("name"), (col("dist") + col("_w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("name")).agg(min(col("dist")).as("dist"))
        // truncate lineage per round (same policy as
        // Dedup.connectedComponents): without it the nested
        // join+agg plan deepens every round and Catalyst/AQE re-plan
        // the whole history each superstep. Superseded rounds'
        // checkpoint blocks are RDD-level and ContextCleaner-reclaimed
        // (category 3 — see labelPropagation / CheckpointProbeSpec).
        .localCheckpoint()
    }
    // dist is localCheckpoint()ed each round, so the projected-edge
    // cache is safe to release here (hopDistance does the same) —
    // callers outside Bench's clearCache would otherwise leak it
    e.unpersist()
    dist
  }

  /** [[shortestPath]]'s relaxation rounds on the driver, SQL nulls
    * included: a null source never joins, a null weight relaxes to a
    * null candidate that min() skips unless nothing else reaches the
    * vertex. */
  private def shortestPathLocal(rows: Array[Row], seeds: Seq[String],
      rounds: Int): Seq[Row] = {
    var dist = new java.util.HashMap[String, java.lang.Long]()
    seeds.foreach(dist.put(_, Long.box(0L)))
    var round = 0
    var changed = true
    while (round < rounds && changed) {
      val next = new java.util.HashMap[String, java.lang.Long](dist)
      rows.foreach { r =>
        val s = r.getString(0)
        if (s != null && dist.containsKey(s)) {
          val ds = dist.get(s)
          val cand: java.lang.Long =
            if (ds == null || r.isNullAt(2)) null
            else Long.box(Math.addExact(ds.longValue, r.getLong(2)))
          val d = r.getString(1)
          val old = next.get(d)
          if (!next.containsKey(d) || old == null ||
              (cand != null && cand.longValue < old.longValue))
            next.put(d, cand)
        }
      }
      changed = next != dist
      dist = next
      round += 1
    }
    dist.asScala.map { case (name, d) => Row(name, d) }.toSeq
  }
}
