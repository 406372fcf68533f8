package graft

import org.apache.spark.sql.functions._
import graft.graph.Traversal

class TraversalSpec extends SparkSpec {
  import spark.implicits._

  /** Both sides of the driver-local gate: the default threshold and 0,
    * which forces the distributed supersteps. */
  private val gateSides = Seq(graft.core.LocalGate.Threshold, 0L)

  /** `run` on both gate sides; the rows must be equal (as multisets). */
  private def bothSides[T: Ordering](run: Long => Array[T]): Seq[T] = {
    val Seq(driver, dist) = gateSides.map(t => run(t).toSeq.sorted)
    assert(driver == dist, s"driver-local $driver != distributed $dist")
    driver
  }

  private def kCoreRows(edges: org.apache.spark.sql.DataFrame, k: Int,
      maxRounds: Int = 1000): Map[String, Long] =
    bothSides(t => Traversal.kCore(edges, "src", "dst", k, maxRounds, t)
      .as[(String, Long)].collect()).toMap

  private def shortestRows(edges: org.apache.spark.sql.DataFrame, seeds: Seq[String],
      rounds: Int): Map[String, Long] =
    bothSides(t => Traversal.shortestPath(edges, "src", "dst", "w", seeds, rounds, t)
      .as[(String, Long)].collect()).toMap

  test("hopDistance: chain graph gets exact levels, bound truncates") {
    // a -> b -> c -> d, plus e unreachable
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "e2"))
      .toDF("src", "dst")
    val full = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 5)
      .as[(String, Int)].collect().toMap
    assert(full == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    val bounded = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 2)
      .as[(String, Int)].collect().toMap
    assert(bounded == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("hopDistance: first-reach wins when paths of different length exist") {
    // a -> b directly AND a -> x -> b: b must report hop 1
    val edges = Seq(("a", "b"), ("a", "x"), ("x", "b")).toDF("src", "dst")
    val got = Traversal.hopDistance(edges, "src", "dst", Seq("a"), 4)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1, "x" -> 1))
  }

  test("labelPropagation: two cliques over a bridge keep distinct communities") {
    // 4-cliques: three in-clique neighbours outvote the one bridge
    // label by round 2 (in a 3-clique the round-1 counts tie and the
    // min tie-break lets the bridge label leak — inherent to any
    // deterministic tie-break, not a bug)
    def clique(p: String) = for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (s"$p$i", s"$p$j")
    val edges = (clique("a") ++ clique("b") :+ ("a1" -> "b1"))
      .toDF("src", "dst")
    val got = Traversal.labelPropagation(edges, "src", "dst", 3)
      .as[(String, String)].collect().toMap
    assert((1 to 4).map(i => got(s"a$i")).toSet == Set("a1"))
    assert((1 to 4).map(i => got(s"b$i")).toSet == Set("b1"))
  }

  test("labelPropagation is deterministic across runs") {
    val edges = graft.SparkEntry
      .nationTradeEdges(spark, "/root/testdata/sf0.001")
    def run() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src_nation").orderBy(desc("amount"), asc("dst_nation"))
      val top3 = edges.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3).select(col("src_nation"), col("dst_nation"))
      Traversal.labelPropagation(top3, "src_nation", "dst_nation", 3)
        .as[(String, String)].collect().toMap
    }
    assert(run() == run())
  }

  test("shortestPath prefers a cheap long path over a costly direct edge") {
    // s -> t direct costs 10; s -> a -> b -> t costs 3
    val edges = Seq(
      ("s", "t", 10L), ("s", "a", 1L), ("a", "b", 1L), ("b", "t", 1L))
      .toDF("src", "dst", "w")
    val got = shortestRows(edges, Seq("s"), 5)
    assert(got == Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "t" -> 3L))
    // with only 1 relaxation round the direct edge is the best ≤1-hop path
    val r1 = shortestRows(edges, Seq("s"), 1)
    assert(r1("t") == 10L)
  }

  test("shortestPath with unit weights equals BFS hop distance") {
    val edges = graft.SparkEntry
      .nationTradeEdges(spark, "/root/testdata/sf0.001")
      .select(col("src_nation").as("src"), col("dst_nation").as("dst"), lit(1L).as("w"))
    val hops = Traversal.hopDistance(edges, "src", "dst",
      Seq("NATION_0"), maxHops = 3)
      .as[(String, Int)].collect().toMap
    val sp = shortestRows(edges, Seq("NATION_0"), rounds = 3)
    assert(sp == hops.map { case (k, v) => k -> v.toLong })
  }

  test("shortestPath: a seed outside the graph, zero rounds, SQL nulls") {
    val edges = Seq[(String, String, java.lang.Long)](
      ("s", "a", 2L), ("a", "b", null), ("a", null, 1L), (null, "c", 1L),
      ("b", "d", 1L), ("a", "d", 7L))
      .toDF("src", "dst", "w")
    // a seed with no edge keeps distance 0 and reaches nothing
    assert(shortestRows(edges, Seq("zz"), 3) == Map("zz" -> 0L))
    assert(shortestRows(edges, Seq("s", "zz"), 0) == Map("s" -> 0L, "zz" -> 0L))
    // null weight: b is reached with a NULL distance and passes NULL on,
    // which min() skips next to d's real 9; a null destination is a
    // vertex of its own; a null source never relaxes
    val got = bothSides(t => Traversal.shortestPath(edges, "src", "dst", "w",
      Seq("s"), 4, t).as[(Option[String], Option[Long])].collect())
    assert(got.toMap == Map(Some("s") -> Some(0L), Some("a") -> Some(2L),
      Some("b") -> None, None -> Some(3L), Some("d") -> Some(9L)))
  }

  test("kCore: cascading peel reaches the exact core") {
    // 4-clique with a hanging tail: at k=3 the tail peels in cascade
    // (f first, then e), the clique survives at within-core degree 3
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "f"))
      .toDF("src", "dst")
    val got = kCoreRows(edges, k = 3)
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a 5-cycle at k=2 survives whole; a path peels to empty
    val cyc = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"), ("5", "1"))
      .toDF("src", "dst")
    val got2 = kCoreRows(cyc, 2)
    assert(got2.keySet.size == 5 && got2.values.forall(_ == 2L))
    val path = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    assert(kCoreRows(path, 2).isEmpty)
    for (t <- gateSides) {
      intercept[IllegalArgumentException] {
        Traversal.kCore(path, "src", "dst", 0, 1000, t)
      }
      // fail-loud on a maxRounds exit before the fixpoint: a 3-deep
      // cascade (tail f, then e, then the empty check) cannot finish in
      // one round — a silent non-fixpoint would leave degree-<k
      // vertices in the "core"
      val noFix = intercept[IllegalArgumentException] {
        Traversal.kCore(edges, "src", "dst", 3, 1, t)
      }
      assert(noFix.getMessage.contains("no fixpoint"))
    }
    // the same cascade fits in exactly 3 rounds on both sides
    assert(kCoreRows(edges, k = 3, maxRounds = 3) == got)
  }

  test("kCore: both gate sides agree on a layered graph, loops, duplicates, int keys") {
    // 60 vertices linking 1..5 times into the lower half: the k-cores
    // for k = 1..6 shrink 60, 52, 40, 31, 7, 0
    val layered = (1 until 60).flatMap { i =>
      (1 to i % 5 + 1).map(j => (s"v$i", s"v${(i * 3 + j * 7) % (i / 2 + 1)}"))
    }.toDF("src", "dst")
    assert((1 to 6).map(k => kCoreRows(layered, k).size) == Seq(60, 52, 40, 31, 7, 0))
    // self-loops and parallel/reversed edges count once; null endpoints drop
    val messy = Seq[(String, String)](("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
      ("b", "c"), ("c", "a"), ("c", null), (null, "a")).toDF("src", "dst")
    assert(kCoreRows(messy, 2) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val ints = Seq((1, 2L), (2, 3L), (3, 1L), (3, 4L)).toDF("src", "dst")
    assert(bothSides(t => Traversal.kCore(ints, "src", "dst", 2, 1000, t)
      .as[(Long, Long)].collect()) == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("hits: pure hubs and pure authorities separate, integer-exact and deterministic") {
    // h1, h2 point at a1, a2; nothing points at hubs, authorities
    // point nowhere -> hubs have authority 0, authorities have hub 0
    val edges = Seq(
      ("h1", "a1"), ("h1", "a2"), ("h2", "a1"))
      .toDF("src", "dst")
    val got = Traversal.hits(edges, "src", "dst", iters = 4)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> ((a, h)) }.toMap
    // a1 has in-degree 2 vs a2's 1 -> max authority; h1 links both
    // top authorities -> max hub
    assert(got("a1")._1 == 1000000L && got("a2")._1 < 1000000L && got("a2")._1 > 0L)
    assert(got("h1")._2 == 1000000L && got("h2")._2 < 1000000L && got("h2")._2 > 0L)
    assert(got("a1")._2 == 0L && got("a2")._2 == 0L)
    assert(got("h1")._1 == 0L && got("h2")._1 == 0L)
    // deterministic across runs
    val again = Traversal.hits(edges, "src", "dst", iters = 4)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> ((a, h)) }.toMap
    assert(again == got)
  }
}
