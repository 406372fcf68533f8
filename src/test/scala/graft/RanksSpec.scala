package graft

import graft.graph.Ranks

/** Graph-centrality checks against closed-form/reference-recurrence
  * values (SURVEY §5 item 5). */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  // 4-node graph: a->b, a->c, b->c, c->a, d->c (d dangling in-degree)
  private def edges = Seq(
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    .toDF("src", "dst")

  /** Scalar model of the GDS delta-propagation semantics the engine
    * implements (verified bit-exact vs golden in FactbookEtlSpec):
    * maxIterations=n -> rank = 0.15·Σ_{k=0..n-1}(0.85·Mᵀ)^k·1. */
  private def expectedSeries(iters: Int, denomAdd: Double): Map[String, Double] = {
    val out = Map("a" -> Seq("b", "c"), "b" -> Seq("c"), "c" -> Seq("a"), "d" -> Seq("c"))
    val verts = Seq("a", "b", "c", "d")
    var term = verts.map(_ -> 0.15).toMap
    var rank = term
    for (_ <- 1 until iters) {
      term = verts.map { v =>
        val in = out.collect { case (u, ns) if ns.contains(v) =>
          term(u) / (ns.size + denomAdd) }
        v -> 0.85 * in.sum
      }.toMap
      rank = verts.map(v => v -> (rank(v) + term(v))).toMap
    }
    rank
  }

  private def expectedPageRank(iters: Int): Map[String, Double] =
    expectedSeries(iters, 0.0)

  private def expectedArticleRank(iters: Int): Map[String, Double] = {
    val avgOutDeg = 5.0 / 4 // 5 edges, 4 vertices
    expectedSeries(iters, avgOutDeg)
  }

  test("PageRank matches the scalar power iteration within 1e-12") {
    val got = Ranks.rankTable(edges, "src", "dst")
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    val want = expectedPageRank(20)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"vertex $k")
  }

  test("ArticleRank matches the scalar recurrence within 1e-12") {
    val got = Ranks.rankTable(edges, "src", "dst")
      .select("name", "articlerank").as[(String, Double)].collect().toMap
    val want = expectedArticleRank(20)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"vertex $k")
  }

  test("rank ordering: heavy in-link vertex c ranks first") {
    val got = Ranks.rankTable(edges, "src", "dst")
      .select("name", "pagerank").as[(String, Double)].collect().toMap
    assert(got("c") > got("a") && got("a") > got("b") && got("b") > got("d"))
  }

  test("personalized PageRank with ALL vertices seeded equals global PageRank") {
    val ppr = Ranks.pprTable(edges, "src", "dst", Seq("a", "b", "c", "d"))
      .as[(String, Double)].collect().toMap
    val pr = expectedPageRank(20)
    for ((k, v) <- pr) assert(math.abs(ppr(k) - v) < 1e-12, s"vertex $k")
  }

  test("personalized PageRank: unreachable vertices rank exactly 0, seeds carry mass") {
    // from seed d, only c then a then b are reachable
    val ppr = Ranks.pprTable(edges, "src", "dst", Seq("d"))
      .as[(String, Double)].collect().toMap
    assert(ppr("d") == 1.0 - 0.85) // nothing links to d: restart mass only
    assert(ppr("c") > ppr("a") && ppr("a") > ppr("b") && ppr("b") > 0)
    // chain check: c gets 0.85 * d's term each round plus a's backflow
    val isolated = Ranks.pprTable(
      Seq(("x", "y"), ("d", "c")).toDF("src", "dst"), "src", "dst", Seq("d"))
      .as[(String, Double)].collect().toMap
    assert(isolated("x") == 0.0 && isolated("y") == 0.0)
  }

  test("weighted PageRank with uniform weights equals unweighted PageRank") {
    val w1 = edges.withColumn("w", org.apache.spark.sql.functions.lit(7.5))
    val got = Ranks.weightedRankTable(w1, "src", "dst", "w")
      .as[(String, Double)].collect().toMap
    // uniform weights cancel: w/W(u) == 1/outDeg(u)
    val want = expectedPageRank(20)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"vertex $k")
  }

  test("weighted PageRank: heavier edge pulls rank toward its target") {
    // a splits 9:1 between b and c -> b must outrank c's share from a
    val w = Seq(("a", "b", 9.0), ("a", "c", 1.0)).toDF("src", "dst", "w")
    val got = Ranks.weightedRankTable(w, "src", "dst", "w")
      .as[(String, Double)].collect().toMap
    assert(got("b") > got("c"))
    // closed form after 20 iters: only the first propagation matters
    // (b and c have no out-edges): rank(b) = 0.15 + 0.85*0.15*0.9
    assert(math.abs(got("b") - (0.15 + 0.85 * 0.15 * 0.9)) < 1e-12)
    assert(math.abs(got("c") - (0.15 + 0.85 * 0.15 * 0.1)) < 1e-12)
  }

  test("weighted PageRank: local and distributed paths agree") {
    val w = edges.withColumn("w",
      org.apache.spark.sql.functions.expr("length(src) + 0.5"))
    val local = Ranks.weightedRankTable(w, "src", "dst", "w")
      .as[(String, Double)].collect().toMap
    val dist = Ranks.weightedRankTable(w, "src", "dst", "w", localThreshold = 0)
      .as[(String, Double)].collect().toMap
    for ((k, v) <- local) assert(math.abs(dist(k) - v) < 1e-9, s"vertex $k")
  }

  test("personalized PageRank: local and distributed paths agree") {
    val local = Ranks.pprTable(edges, "src", "dst", Seq("a", "d"))
      .as[(String, Double)].collect().toMap
    val dist = Ranks.pprTable(edges, "src", "dst", Seq("a", "d"),
        localThreshold = 0)
      .as[(String, Double)].collect().toMap
    for ((k, v) <- local) assert(math.abs(dist(k) - v) < 1e-12, s"vertex $k")
  }

  test("resumeRankTable: warm continuation == longer cold run, bit-exact; guards loud") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("name", "pagerank", "articlerank")
        .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val cold25 = asMap(Ranks.rankTable(edges, "src", "dst", iters = 25))
    val state20 = Ranks.rankStateTable(edges, "src", "dst", iters = 20)
    val warm = asMap(Ranks.resumeRankTable(edges, "src", "dst",
      state20, extraRounds = 5))
    assert(warm == cold25, "warm(state20, 5) must be bit-exactly cold(25)")
    // zero extra rounds: the state's own ranks come straight back
    val warm0 = asMap(Ranks.resumeRankTable(edges, "src", "dst",
      state20, extraRounds = 0))
    assert(warm0 == asMap(Ranks.rankTable(edges, "src", "dst", iters = 20)))
    // a grown graph (vertex with no state row) fails loud
    val grown = edges.unionByName(Seq(("e", "a")).toDF("src", "dst"))
    val e1 = intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(grown, "src", "dst", state20, extraRounds = 1)
        .collect()
    }
    assert(e1.getMessage.contains("state row"))
    // the distributed-edge (driver-state) path that localThreshold = 0
    // selects must fail loud too: its edge blocks drop unresolved
    // endpoints. The GraphX fallback's guard is pinned in
    // RanksLocalDistSpec
    val e2 = intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(grown, "src", "dst", state20, extraRounds = 1,
        localThreshold = 0).collect()
    }
    assert(e2.getMessage.contains("state row"))
    intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(edges, "src", "dst",
        state20.drop("pr_term"), extraRounds = 1)
    }
    // duplicate state rows fail loud on BOTH paths: the local path
    // would emit duplicate output rows, the distributed path an
    // arbitrary copy via outerJoinVertices — either silently breaks
    // the bit-exact-continuation contract
    val dupState = state20.unionByName(state20.limit(1))
    val e3 = intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(edges, "src", "dst", dupState, extraRounds = 1)
    }
    assert(e3.getMessage.contains("duplicate state rows"))
    intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(edges, "src", "dst", dupState, extraRounds = 1,
        localThreshold = 0)
    }
  }

  test("resumeRankTable distributed path == local path (forced thresholds)") {
    val state = Ranks.rankStateTable(edges, "src", "dst", iters = 10)
    val local = Ranks.resumeRankTable(edges, "src", "dst", state, extraRounds = 3)
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val distState = Ranks.rankStateTable(edges, "src", "dst", iters = 10,
      localThreshold = 0)
    val dist = Ranks.resumeRankTable(edges, "src", "dst", distState,
      extraRounds = 3, localThreshold = 0)
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(local.keySet == dist.keySet)
    for ((k, (p, a)) <- local) {
      assert(math.abs(dist(k)._1 - p) < 1e-12, s"pagerank $k")
      assert(math.abs(dist(k)._2 - a) < 1e-12, s"articlerank $k")
    }
  }
}
