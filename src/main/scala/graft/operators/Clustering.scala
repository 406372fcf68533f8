package graft.operators

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact k-means (Lloyd's algorithm) — the centroid trainer for the IVF
  * coarse quantizer and the generic embedding-clustering primitive of a
  * training-data pipeline.
  *
  * Scale shape, small corpus: when the vectors fit the driver (at most
  * `LocalGate.Threshold` of them, their fixed-point rows within half of
  * `spark.driver.maxResultSize`, and at most [[LocalRoundWork]]
  * multiply-adds per Lloyd round) they come to the driver in one
  * bounded collect (job `graft.Clustering: local train`), and every
  * Lloyd round and [[kmeansFixedPoint]]'s final assignment run there
  * under the same rules (see [[lloyd]]): one job for the whole training
  * instead of one per round.
  *
  * Scale shape, above the gate (the broadcast-k-means plan):
  *  - centroids (k × dims values) live on the driver and are folded
  *    into the plan as literals each round — the cluster never shuffles
  *    vectors to compare them;
  *  - ASSIGNMENT is a pure map-side argmin against those literals
  *    (zero shuffle between the scan and the cluster id), exactly like
  *    [[Similarity.ivfTopK]]'s cell assignment;
  *  - the UPDATE is one partial-agg shuffle keyed by (cluster, dim):
  *    map-side combine reduces each partition to ≤ k·dims rows before
  *    the exchange, so shuffle volume is O(partitions · k · dims),
  *    independent of corpus size;
  *  - per round: one job; the quantized corpus is cached once.
  *
  * Arithmetic is EXACT fixed-point: vectors quantize to scaled BIGINT
  * (floor(x·scale + 0.5) — the same half-up form as
  * [[Similarity.quantizeInt8Vec]]), distances are integer sums of
  * squares, and centroid means are floor(Σ/n) — every engine computes
  * bit-identical results, which is what makes a distributed iterative
  * clusterer value-verifiable against an independent oracle. A float
  * variant would differ only in the element type; the plan is the
  * same.
  *
  * Seeding is deterministic: the k lowest-id vectors, cluster ids
  * 0..k-1 in that order. Ties in the argmin break to the lowest
  * cluster id; clusters that lose all members keep their previous
  * centroid (the standard empty-cluster rule, applied identically in
  * the oracle).
  */
object Clustering {

  /** Quantize array<float|double> to scaled fixed-point BIGINT. */
  def fixedPoint(vec: Column, scale: Double): Column =
    transform(vec, v => floor(v.cast("double") * scale + 0.5).cast("long"))

  /** Whether the session has the native `graft_sqdist_i64` kernel
    * (GraftExtensions), which wraps on Long overflow; without it the
    * distances are the portable HOF form, which raises under ANSI. */
  private[graft] def nativeSqDist(df: DataFrame): Boolean =
    df.sparkSession.catalog.functionExists("graft_sqdist_i64")

  /** Exact squared L2 distance to a literal centroid — the native
    * `graft_sqdist_i64` kernel when the session has GraftExtensions
    * (the zip_with/aggregate HOF form is CodegenFallback-interpreted,
    * and this runs k times per row in the assignment hot path); the
    * portable HOF otherwise. Integer arithmetic: identical values
    * either way, short of a Long overflow (see [[nativeSqDist]]). */
  private[operators] def sqDistToLit(df: DataFrame, qv: Column, cv: Array[Long]): Column =
    if (nativeSqDist(df))
      call_function("graft_sqdist_i64", qv, typedlit(cv.toSeq))
    else
      aggregate(
        zip_with(qv, typedlit(cv.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)

  private[operators] def assignTo(cents: Array[(Int, Array[Long])])(df: DataFrame): DataFrame = {
    val entries = cents.map { case (cid, cv) =>
      struct(sqDistToLit(df, col("qv"), cv).as("d"), lit(cid.toLong).as("c"))
    }
    // lexicographic struct sort: min distance, ties to lowest cluster
    df.withColumn("_best", sort_array(array(entries: _*)).getItem(0))
      .withColumn("cluster", col("_best").getField("c"))
      .withColumn("dist", col("_best").getField("d"))
      .drop("_best")
  }

  /** Job description of the bounded collect that brings a small
    * training corpus to the driver (and of the length probe before it,
    * when the caller does not know the vector length). */
  private[graft] val LocalTrainJob = "graft.Clustering: local train"

  /** The driver twin of [[fixedPoint]] for one element. */
  private[operators] def fixedPointLocal(x: Double, scale: Double): Long =
    math.floor(x * scale + 0.5).toLong

  /** Exact squared L2 distance as [[sqDistToLit]] computes it: Long
    * arithmetic that wraps on overflow like the native kernel, or with
    * `exact` fails loudly like the HOF form under ANSI. */
  private[operators] def sqDist(a: Array[Long], b: Array[Long], exact: Boolean): Long = {
    var acc = 0L
    var i = 0
    if (exact) while (i < a.length) {
      val d = Math.subtractExact(a(i), b(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    else while (i < a.length) {
      val d = a(i) - b(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Index of the centroid nearest to `v`, ties to the lowest index. */
  private[operators] def nearest(cents: Array[Array[Long]], v: Array[Long],
      exact: Boolean): Int = {
    var best = 0
    var bestD = sqDist(v, cents(0), exact)
    var c = 1
    while (c < cents.length) {
      val d = sqDist(v, cents(c), exact)
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Most multiply-adds (rows · k · dims) one driver Lloyd round may
    * cost. The driver loop was measured only up to curate_batch's
    * largest round, the IVF coarse training of 1,000 vectors × 8 cells
    * × 64 dims = 512,000; above this bound the distributed loop runs,
    * which spreads each round across executors. Widen it only after a
    * benchmark workload near the bound shows the driver loop still wins
    * there. */
  private[graft] val LocalRoundWork: Long = 1L << 19

  /** A training corpus on the driver: its (vec_id, fixed-point vector)
    * rows in id order, from one bounded collect of at most
    * `localThreshold` rows whose `dims`-long vectors fit
    * [[graft.core.LocalGate.resultBudget]] and whose rounds stay within
    * [[LocalRoundWork]], `roundWork(dims)` being the multiply-adds one
    * row costs in the largest Lloyd round the caller runs. Without
    * `dims` a one-row probe reads the first vector's length. None, and
    * the distributed loop runs, for more rows, an empty corpus, a null
    * id, a null vector or element, a vector of another length, a
    * repeated id, or a session without ANSI arithmetic: the inputs on
    * which the distributed seeding, argmin and sums have no exact driver
    * twin. */
  private[graft] def driverCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      scale: Double, dims: Option[Int], roundWork: Int => Long, localThreshold: Long)
      : Option[Array[(Long, Array[Long])]] =
    if (localThreshold <= 0 ||
        !corpus.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean) None
    else {
      val sc = corpus.sparkSession.sparkContext
      LocalGate.described(sc, LocalTrainJob) {
        dims.orElse(corpus.select(size(col(vecCol))).head(1).headOption
          .filterNot(_.isNullAt(0)).map(_.getInt(0)))
          .filter(_ >= 0)
          .flatMap { n =>
            val bound = LocalGate.rowsWithin(sc, 8L * (n + 1),
              math.min(localThreshold, LocalRoundWork / math.max(roundWork(n), 1L)))
            // vectors of another length come back null, so no row is
            // larger than the budget assumes
            if (bound < 1) None
            else LocalGate.collectAtMost(corpus.select(col(idCol).cast("long"),
              when(size(col(vecCol)) === n, fixedPoint(col(vecCol), scale))), bound)
          }
      }.filter(rows => rows.nonEmpty && rows.forall(r =>
        !r.isNullAt(0) && !r.isNullAt(1) && !r.getSeq[AnyRef](1).contains(null)))
        .map(_.map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1))
        .filter(rows => (1 until rows.length).forall(i => rows(i - 1)._1 != rows(i)._1))
    }

  /** Lloyd's algorithm on the driver with the distributed loop's rules:
    * the seeds are the first k rows (`rows` come in id order) with
    * cluster id = seed rank; each round assigns every vector to its
    * nearest centroid (exact squared distance as [[sqDist]] computes it
    * with `exact`, ties to the lowest cluster id) and sets each centroid
    * to floor(Σ / n) per dimension, Σ overflow-checked as ANSI `sum` is;
    * a cluster that loses every member keeps its centroid. Returns the
    * centroids after `iters - 1` updates. */
  private[operators] def lloyd(rows: Array[(Long, Array[Long])], k: Int,
      iters: Int, exact: Boolean): Array[(Int, Array[Long])] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    var cents = rows.take(k).map(_._2)
    val dims = if (rows.isEmpty) 0 else rows(0)._2.length
    var round = 1
    while (round < iters) {
      val sums = Array.fill(cents.length)(new Array[Long](dims))
      val counts = new Array[Long](cents.length)
      rows.foreach { case (_, v) =>
        val c = nearest(cents, v, exact)
        counts(c) += 1
        val s = sums(c)
        var i = 0
        while (i < dims) { s(i) = Math.addExact(s(i), v(i)); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(x => math.floor(x.toDouble / counts(c)).toLong)
      }.toArray
      round += 1
    }
    cents.zipWithIndex.map(_.swap)
  }

  /** The training: the centroids after `iters - 1` updates (the set the
    * final assignment round scores against), with the corpus rows when
    * the driver loop ran (Left) or the cached quantized corpus when the
    * distributed loop ran (Right). */
  private def trainLoop(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double, localThreshold: Long)
      : (Array[(Int, Array[Long])], Either[Array[(Long, Array[Long])], DataFrame]) = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    driverCorpus(corpus, idCol, vecCol, scale, None, k.toLong * _, localThreshold) match {
      case Some(rows) => return (lloyd(rows, k, iters, !nativeSqDist(corpus)), Left(rows))
      case None =>
    }
    val q = quantize(corpus, idCol, vecCol, scale).persistTracked()

    // deterministic seed: the k lowest-id vectors, cluster = seed rank
    var cents: Array[(Int, Array[Long])] =
      q.orderBy(col("vec_id")).limit(k).collect()
        .map(_.getSeq[Long](1).toArray)
        .zipWithIndex.map { case (v, i) => (i, v) }

    var round = 1
    while (round < iters) {
      // per-dimension exact mean: partial agg on (cluster, dim) — the
      // k·dims result is driver-bounded by construction
      val means = assignTo(cents)(q)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("i", "x")))
        .groupBy(col("cluster"), col("i"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("m"))
        .collect()
      val byCluster = means.groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        byCluster.get(cid.toLong) match {
          case Some(rows) =>
            (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
          case None => (cid, old) // empty cluster keeps its centroid
        }
      }
      round += 1
    }
    (cents, Right(q))
  }

  /** The corpus as (vec_id, qv) fixed-point rows; scale-adaptive
    * widening, so only single-split inputs pay the round-robin exchange
    * (see Tables.spreadIfNarrow). */
  private def quantize(corpus: DataFrame, idCol: String, vecCol: String,
      scale: Double): DataFrame =
    graft.core.Tables.spreadIfNarrow(
      corpus.select(col(idCol).cast("long").as("vec_id"),
        fixedPoint(col(vecCol), scale).as("qv")))

  /** Lloyd iterations over `corpus(idCol, vecCol)`; returns one row per
    * vector: (vec_id, cluster, dist) for the final assignment, with
    * `iters` assignment rounds and `iters - 1` centroid updates. Below
    * the gate the final assignment runs on the driver over the rows the
    * training collected, and the result is a local frame of that many
    * rows; above it, the distributed map-side argmin over the cached
    * quantized corpus. */
  def kmeansFixedPoint(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double = 1e6): DataFrame =
    kmeansFixedPoint(corpus, idCol, vecCol, k, iters, scale, LocalGate.Threshold)

  /** [[kmeansFixedPoint]] with its gate at `localThreshold` rows (0
    * forces the distributed loop). */
  private[graft] def kmeansFixedPoint(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double, localThreshold: Long): DataFrame =
    trainLoop(corpus, idCol, vecCol, k, iters, scale, localThreshold) match {
      case (cents, Left(rows)) =>
        val spark = corpus.sparkSession
        import spark.implicits._
        val exact = !nativeSqDist(corpus)
        val cv = cents.map(_._2)
        rows.toSeq.map { case (id, v) =>
          val c = nearest(cv, v, exact)
          (id, c.toLong, sqDist(v, cv(c), exact))
        }.toDF("vec_id", "cluster", "dist")
      case (cents, Right(q)) =>
        assignTo(cents)(q).select(col("vec_id"), col("cluster"), col("dist"))
    }

  /** Trained centroids in the original double domain (fixed-point /
    * scale — the exact division every engine computes identically):
    * the coarse quantizer for a k-means-trained IVF index. */
  def kmeansCentroidsDouble(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double = 1e6): Array[(Long, Array[Double])] =
    kmeansCentroidsFixed(corpus, idCol, vecCol, k, iters, scale)
      .map { case (cid, cv) => (cid.toLong, cv.map(_.toDouble / scale)) }

  /** Trained centroids in the fixed-point BIGINT domain — the form
    * [[assignCells]] consumes, so a bootstrap assignment and every
    * later incremental assignment run the SAME integer argmin against
    * the SAME quantized centroids (the frozen-quantizer contract an
    * incremental index needs: cell ids never drift between the batch
    * that trained the quantizer and the batches that only probe it). */
  def kmeansCentroidsFixed(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double = 1e6): Array[(Int, Array[Long])] =
    kmeansCentroidsFixed(corpus, idCol, vecCol, k, iters, scale, LocalGate.Threshold)

  /** [[kmeansCentroidsFixed]] with its gate at `localThreshold` rows (0
    * forces the distributed loop). */
  private[graft] def kmeansCentroidsFixed(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Double, localThreshold: Long): Array[(Int, Array[Long])] =
    trainLoop(corpus, idCol, vecCol, k, iters, scale, localThreshold)._1

  /** Map-side cell assignment against FROZEN fixed-point centroids —
    * the incremental half of the trainer: vectors quantize exactly as
    * [[kmeansFixedPoint]]'s corpus does and run the identical integer
    * argmin (ties to the lowest cluster id), so any vector gets the
    * same cell whether it was in the training corpus or arrives in a
    * later increment. Pure projection over `k·dims` plan literals:
    * zero shuffle between the scan and the cell id. Keeps the caller's
    * id and vector columns and appends `cell`. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Long])], scale: Double = 1e6): DataFrame = {
    require(cents.nonEmpty, "assignCells: empty centroid set")
    val q = df.select(col(idCol), col(vecCol),
      fixedPoint(col(vecCol), scale).as("qv"))
    assignTo(cents)(q)
      .select(col(idCol), col(vecCol), col("cluster").as("cell"))
  }

  /** [[assignCells]] keeping the winning centroid's EXACT integer
    * squared distance — the assignment-quality signal
    * [[graft.operators.Similarity.ivfDriftReport]] aggregates. Same
    * map-side literal-argmin plan; emits (idCol, cell, dist). */
  def assignCellsWithDist(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Long])], scale: Double = 1e6): DataFrame = {
    require(cents.nonEmpty, "assignCellsWithDist: empty centroid set")
    val q = df.select(col(idCol),
      fixedPoint(col(vecCol), scale).as("qv"))
    assignTo(cents)(q)
      .select(col(idCol), col("cluster").as("cell"), col("dist"))
  }
}
