package graft

import org.apache.spark.sql.DataFrame

import graft.graph.Ranks

/** The rank series' three forms must agree: driver-local (edges
  * collected), driver-state (vertex state on the driver, edges in
  * distributed blocks) and the GraphX fallback. Identical series math;
  * the message sums fold in a different order, so agreement is to
  * 1e-12 relative, not bit-exact. */
class RanksLocalDistSpec extends SparkSpec {
  import spark.implicits._

  /** 80 vertices with uneven in/out degrees, sinks (every fifth vertex
    * has no out-edge) and parallel edges. */
  private lazy val graph = (0 until 80).flatMap { i =>
    if (i % 5 == 0) Nil
    else Seq(i -> (i * 7 + 1) % 80, i -> (i * 13 + 5) % 80, i -> (i * i) % 80)
      .filter { case (a, b) => a != b }
  }.map { case (a, b) => (s"v$a", s"v$b") }.toDF("src", "dst").cache()

  /** The same edges over 3 partitions, so the driver-state path sums
    * messages from several blocks. */
  private lazy val spread = {
    val df = graph.repartition(3).cache()
    assert(df.rdd.getNumPartitions >= 2)
    df
  }

  private def byName(df: DataFrame): Map[String, Seq[Double]] = {
    val cols = df.columns.filter(_ != "name").sorted
    df.select("name", cols.toSeq: _*).collect()
      .map(r => r.getString(0) -> cols.indices.map(i => r.getDouble(i + 1)).toSeq).toMap
  }

  private def assertClose(want: DataFrame, got: DataFrame, what: String): Unit = {
    val (w, g) = (byName(want), byName(got))
    assert(w.nonEmpty && w.keySet == g.keySet, s"$what: vertex sets differ")
    for ((k, ws) <- w; (x, y) <- ws.zip(g(k)))
      assert(math.abs(x - y) <= math.abs(x) * 1e-12, s"$what: $k $x vs $y")
  }

  test("local and GraphX paths agree on the nation trade graph") {
    val edges = SparkEntry.nationTradeEdges(spark, "/root/testdata/sf0.001")
    val local = Ranks.rankTable(edges, "src_nation", "dst_nation")
    // no vertex fits the driver bound: the GraphX supersteps run
    val graphX = Ranks.seriesTable(edges, "src_nation", "dst_nation",
      None, None, rounds = 19, damping = 0.85, emitTerms = false,
      localThreshold = 0L, maxDriverVertices = 0L)
    assertClose(local, graphX, "rankTable vs GraphX")
  }

  test("driver-state path == local path: rankTable and rankStateTable, cold") {
    assertClose(Ranks.rankTable(graph, "src", "dst"),
      Ranks.rankTable(spread, "src", "dst", localThreshold = 0L),
      "rankTable")
    assertClose(Ranks.rankStateTable(graph, "src", "dst", iters = 12),
      Ranks.rankStateTable(spread, "src", "dst", iters = 12,
        localThreshold = 0L),
      "rankStateTable")
  }

  test("driver-state path == local path: resumeRankTable, and resume == longer cold run") {
    val localState = Ranks.rankStateTable(graph, "src", "dst",
      iters = 10)
    val distState = Ranks.rankStateTable(spread, "src", "dst",
      iters = 10, localThreshold = 0L)
    val localResumed = Ranks.resumeRankTable(graph, "src", "dst",
      localState, extraRounds = 5)
    val distResumed = Ranks.resumeRankTable(spread, "src", "dst",
      distState, extraRounds = 5, localThreshold = 0L)
    assertClose(localResumed, distResumed, "resumed")
    // a state from either path resumes on the other
    assertClose(localResumed, Ranks.resumeRankTable(spread, "src", "dst",
      localState, extraRounds = 5, localThreshold = 0L), "local state, driver-state resume")
    assertClose(Ranks.rankTable(graph, "src", "dst", iters = 15),
      distResumed, "resume(10, 5) vs cold(15)")
  }

  test("GraphX fallback == local path: cold state and resume") {
    val localState = Ranks.rankStateTable(graph, "src", "dst",
      iters = 10)
    val graphXState = Ranks.seriesTable(spread, "src", "dst",
      None, None, rounds = 9, damping = 0.85, emitTerms = true,
      localThreshold = 0L, maxDriverVertices = 0L)
    assertClose(localState, graphXState, "state")
    val graphXResumed = Ranks.seriesTable(spread, "src", "dst",
      None, Some(graphXState), rounds = 5, damping = 0.85, emitTerms = false,
      localThreshold = 0L, maxDriverVertices = 0L)
    assertClose(Ranks.resumeRankTable(graph, "src", "dst",
      localState, extraRounds = 5), graphXResumed, "resumed")
  }

  test("GraphX fallback fails loud on a grown graph") {
    val state = Ranks.rankStateTable(graph, "src", "dst", iters = 5)
    val grown = spread.unionByName(Seq(("NEW_VERTEX", "v1")).toDF("src", "dst"))
      .repartition(3)
    val e = intercept[IllegalArgumentException] {
      Ranks.seriesTable(grown, "src", "dst", None, Some(state), rounds = 1,
        damping = 0.85, emitTerms = false, localThreshold = 0L,
        maxDriverVertices = 0L)
    }
    assert(e.getMessage.contains("state row") && e.getMessage.contains("NEW_VERTEX"))
  }

  test("superstep results over half of spark.driver.maxResultSize take GraphX") {
    // 2,000 vertices over 4 blocks: a superstep job returns 4 × 2 × 2,000
    // doubles (128 KB), twice the 64 KB limit set below, so the
    // driver-state path would abort; the series must run GraphX instead
    val wide = (0 until 2000).flatMap(i =>
      Seq(i -> (i * 7 + 1) % 2000, i -> (i * 11 + 3) % 2000))
      .map { case (a, b) => (s"w$a", s"w$b") }.toDF("src", "dst")
      .repartition(4).cache()
    wide.count()
    val graphX = org.apache.spark.LiveConf.withSetting(spark.sparkContext,
      "spark.driver.maxResultSize", "64k") {
      Ranks.rankStateTable(wide, "src", "dst", iters = 8, localThreshold = 0L)
    }
    assertClose(Ranks.rankStateTable(wide, "src", "dst", iters = 8), graphX,
      "GraphX under a small maxResultSize")
  }

  test("driver-state path fails loud on a grown graph and on duplicate state rows") {
    val state = Ranks.rankStateTable(spread, "src", "dst",
      iters = 5, localThreshold = 0L)
    val grown = spread.unionByName(Seq(("NEW_VERTEX", "v1")).toDF("src", "dst"))
      .repartition(3)
    val e1 = intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(grown, "src", "dst", state,
        extraRounds = 1, localThreshold = 0L)
    }
    assert(e1.getMessage.contains("state row") && e1.getMessage.contains("NEW_VERTEX"))
    val e2 = intercept[IllegalArgumentException] {
      Ranks.resumeRankTable(spread, "src", "dst",
        state.unionByName(state.limit(1)), extraRounds = 1, localThreshold = 0L)
    }
    assert(e2.getMessage.contains("duplicate state rows"))
  }
}
