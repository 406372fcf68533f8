package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.LocalGate
import graft.operators.Clustering

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def points(ps: (Long, Seq[Float])*) =
    ps.toDF("vec_id", "embedding")

  /** (vec_id, cluster, dist) rows of both sides of the k-means gate:
    * the driver loop's, required equal to the distributed loop's. */
  private def kmeansBoth(df: DataFrame, k: Int, iters: Int,
      scale: Double = 1e6): Seq[Row] = {
    def run(gate: Long) =
      Clustering.kmeansFixedPoint(df, "vec_id", "embedding", k, iters, scale, gate)
        .select("vec_id", "cluster", "dist").orderBy("vec_id").collect().toSeq
    val driver = run(LocalGate.Threshold)
    assert(driver == run(0L), "driver and distributed k-means disagree")
    driver
  }

  /** Trained fixed-point centroids of both sides of the gate, required
    * equal. */
  private def centroidsBoth(df: DataFrame, k: Int, iters: Int,
      scale: Double = 1e6): Seq[(Int, Seq[Long])] = {
    def run(gate: Long) =
      Clustering.kmeansCentroidsFixed(df, "vec_id", "embedding", k, iters, scale, gate)
        .map { case (c, v) => (c, v.toSeq) }.toSeq
    val driver = run(LocalGate.Threshold)
    assert(driver == run(0L), "driver and distributed centroids disagree")
    driver
  }

  private def clusters(rows: Seq[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kmeans separates two well-spaced blobs") {
    val df = points(
      1L -> Seq(0.0f, 0.1f), 2L -> Seq(0.1f, 0.0f),
      3L -> Seq(10.0f, 10.1f), 4L -> Seq(10.1f, 9.9f))
    val got = clusters(kmeansBoth(df, k = 2, iters = 3))
    assert(got.size == 4)
    assert(got(1L) == got(2L), "near-origin blob must share a cluster")
    assert(got(3L) == got(4L), "far blob must share a cluster")
    assert(got(1L) != got(3L), "blobs must separate")
  }

  test("kmeans is deterministic run-to-run") {
    val df = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run() = kmeansBoth(df, k = 4, iters = 2).toSet
    assert(run() == run())
    // the trained-IVF query's coarse quantizer (k = 8, 2 iterations)
    // trains the same on both sides of the gate
    centroidsBoth(df, k = 8, iters = 2)
  }

  test("kmeans final dist is the exact fixed-point distance to the winning centroid") {
    val df = points(
      1L -> Seq(0.0f, 0.0f), 2L -> Seq(1.0f, 0.0f), 3L -> Seq(0.0f, 2.0f))
    val got = kmeansBoth(df, k = 1, iters = 2).map(r => r.getLong(0) -> r.getLong(2)).toMap
    // single cluster: after the update the centroid is the exact
    // integer mean: x = floor((0+1e6+0)/3) = 333333, y = floor((0+0+2e6)/3) = 666666
    val cx = 333333L; val cy = 666666L
    def d(x: Long, y: Long) = (x - cx) * (x - cx) + (y - cy) * (y - cy)
    assert(got(1L) == d(0L, 0L))
    assert(got(2L) == d(1000000L, 0L))
    assert(got(3L) == d(0L, 2000000L))
  }

  test("kmeans survives empty clusters (k > distinct points)") {
    val df = points(1L -> Seq(0.0f, 0.0f), 2L -> Seq(0.0f, 0.0f),
      3L -> Seq(5.0f, 5.0f))
    assert(kmeansBoth(df, k = 3, iters = 3).size == 3)
  }

  test("trained-IVF finds each in-corpus query itself at rank 1") {
    val got = graft.queries.Extensions
      .embedIvfTrained(spark, "/root/testdata/sf0.001")
      .select("q_id", "vec_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      val r1 = rows.find(_._4 == 1).get
      // the query vector is in the corpus and probes its own cell:
      // exact self-match at rank 1 with cosine 1
      assert(r1._2 == q && r1._3 == 1.0, s"query $q: $r1")
      assert(rows.length <= 10)
    }
  }

  test("k above the vector count: every vector seeds and keeps its own cluster") {
    val df = points(3L -> Seq(1.0f, 2.0f), 1L -> Seq(-1.0f, 0.5f), 2L -> Seq(4.0f, 4.0f))
    assert(centroidsBoth(df, k = 5, iters = 3) == Seq(
      0 -> Seq(-1000000L, 500000L), 1 -> Seq(4000000L, 4000000L),
      2 -> Seq(1000000L, 2000000L)))
    assert(clusters(kmeansBoth(df, k = 5, iters = 3)) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("iters = 1: the centroids are the seeds, the k lowest ids in id order") {
    val df = points(5L -> Seq(5.0f), 2L -> Seq(2.0f), 9L -> Seq(9.0f), 1L -> Seq(1.0f))
    assert(centroidsBoth(df, k = 2, iters = 1) ==
      Seq(0 -> Seq(1000000L), 1 -> Seq(2000000L)))
    assert(clusters(kmeansBoth(df, k = 2, iters = 1)) ==
      Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("a cluster emptied in training keeps its centroid") {
    // seeds 1 and 2 coincide: the tie gives both vectors to cluster 0,
    // so cluster 1 has no member in any round
    val df = points(1L -> Seq(0.0f, 0.0f), 2L -> Seq(0.0f, 0.0f),
      3L -> Seq(5.0f, 5.0f), 4L -> Seq(6.0f, 6.0f))
    assert(centroidsBoth(df, k = 3, iters = 3) == Seq(
      0 -> Seq(0L, 0L), 1 -> Seq(0L, 0L), 2 -> Seq(5500000L, 5500000L)))
  }

  test("argmin ties go to the lowest cluster id") {
    // vector 3 is as far from seed 1 as from seed 2: it must join
    // cluster 0, which moves to its mean with vector 1
    val df = points(1L -> Seq(0.0f), 2L -> Seq(10.0f), 3L -> Seq(5.0f))
    assert(centroidsBoth(df, k = 2, iters = 2) ==
      Seq(0 -> Seq(2500000L), 1 -> Seq(10000000L)))
  }

  test("null ids, null vectors or elements, ragged and repeated ids take the distributed loop") {
    val base = Seq[(Option[Long], Option[Seq[Option[Double]]])](
      (Some(1L), Some(Seq(Some(0.0), Some(0.0)))),
      (Some(2L), Some(Seq(Some(10.0), Some(10.0)))),
      (Some(4L), Some(Seq(Some(1.0), Some(1.0)))),
      (Some(5L), Some(Seq(Some(9.0), Some(9.5)))))
    val odd = Seq[(Option[Long], Option[Seq[Option[Double]]])](
      (None, Some(Seq(Some(3.0), Some(3.0)))),
      (Some(3L), None),
      (Some(3L), Some(Seq(Some(2.0), None))),
      (Some(3L), Some(Seq(Some(2.0), Some(2.0), Some(2.0)))),
      (Some(4L), Some(Seq(Some(2.0), Some(2.0)))))
    assert(Clustering.driverCorpus(base.toDF("vec_id", "embedding"), "vec_id", "embedding",
      1e6, None, 2L * _, LocalGate.Threshold).isDefined)
    odd.foreach { row =>
      val df = (base :+ row).toDF("vec_id", "embedding")
      assert(Clustering.driverCorpus(df, "vec_id", "embedding", 1e6, None, 2L * _,
        LocalGate.Threshold).isEmpty, s"$row must leave the driver loop")
      // the default gate falls back, so both sides run the same loop
      centroidsBoth(df, k = 2, iters = 3)
    }
    // an empty corpus, too (the distributed loop rejects it for iters > 1)
    val none = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    assert(Clustering.driverCorpus(none, "vec_id", "embedding", 1e6, None, 2L * _,
      LocalGate.Threshold).isEmpty)
    assert(centroidsBoth(none, k = 2, iters = 1).isEmpty)
  }

  test("a Long overflow in the centroid sum fails loudly on both sides") {
    // scale 1: each vector is 4e18, so the sum of all three overflows
    val df = Seq((1L, Seq(4e18)), (2L, Seq(4e18)), (3L, Seq(4e18))).toDF("vec_id", "embedding")
    def overflowed(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
        e.isInstanceOf[ArithmeticException] ||
          String.valueOf(e.getMessage).contains("ARITHMETIC_OVERFLOW"))
    Seq(LocalGate.Threshold, 0L).foreach { gate =>
      val e = intercept[Exception] {
        Clustering.kmeansCentroidsFixed(df, "vec_id", "embedding", 1, 2, 1.0, gate)
      }
      assert(overflowed(e), s"gate $gate: $e")
    }
    // one round only assigns: nothing is summed
    assert(centroidsBoth(df, k = 1, iters = 1, scale = 1.0) == Seq(0 -> Seq(4000000000000000000L)))
  }

  test("rounds above LocalRoundWork take the distributed loop") {
    // curate_batch's IVF coarse training (1,000 vectors, 8 cells, 64
    // dims) is the largest round measured on the driver
    assert(1000L * 8 * 64 <= Clustering.LocalRoundWork)
    def vecs(n: Int) = spark.range(0, n, 1, 1).select(col("id").as("vec_id"),
      array((1 to 64).map(j => sin(col("id") * (0.37 * j)).cast("float")): _*).as("embedding"))
    def local(n: Int) = Clustering.driverCorpus(vecs(n), "vec_id", "embedding", 1e6,
      Some(64), _ => 8L * 64, LocalGate.Threshold)
    assert(local(1000).isDefined)
    assert(local(1100).isEmpty, "1,100 × 8 × 64 multiply-adds a round must leave the driver")
    centroidsBoth(vecs(1100), k = 8, iters = 2)
  }

  test("a squared-distance overflow fails loudly on both sides") {
    // scale 1: vectors 4e9 apart, so a squared distance leaves the Long
    // range; the native kernel raises, as the ANSI HOF form does
    val rows = Seq((1L, Seq(0.0)), (2L, Seq(4e9)), (3L, Seq(1.0)))
    val df = rows.toDF("vec_id", "embedding")
    assert(Clustering.driverCorpus(df, "vec_id", "embedding", 1.0, None, 2L * _,
      LocalGate.Threshold).isDefined)
    def overflowed(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
        e.isInstanceOf[ArithmeticException] ||
          String.valueOf(e.getMessage).contains("ARITHMETIC_OVERFLOW"))
    Seq(LocalGate.Threshold, 0L).foreach { gate =>
      val train = intercept[Exception] {
        Clustering.kmeansCentroidsFixed(df, "vec_id", "embedding", 2, 2, 1.0, gate)
      }
      assert(overflowed(train), s"gate $gate: $train")
      // one round: only the final assignment measures distances
      val assign = intercept[Exception] {
        Clustering.kmeansFixedPoint(df, "vec_id", "embedding", 2, 1, 1.0, gate).collect()
      }
      assert(overflowed(assign), s"gate $gate: $assign")
    }

    // without ANSI the driver twins do not hold: the distributed loop runs
    val plain = spark.newSession()
    plain.conf.set("spark.sql.ansi.enabled", "false")
    assert(Clustering.driverCorpus(plain.createDataFrame(rows).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 1.0, None, 2L * _, LocalGate.Threshold).isEmpty)
  }
}
