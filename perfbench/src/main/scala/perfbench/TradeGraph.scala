package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Caches, Tables}
import graft.core.Caches.TrackedPersist
import graft.graph.{Ranks, Traversal}

/** The paper's own analytics over a generated star schema whose
  * nation graph has more distinct trade pairs than
  * `Ranks.LocalEdgeThreshold`, so the nation ranks take the
  * distributed GraphX path while the region rollup (a few hundred
  * edges) takes the driver-local one. One pass:
  * nationTradeEdges -> rankStateTable (nation) -> rankTable (region)
  * -> kCore / shortestPath on the top-3-partner backbone -> top-50
  * partners.
  *
  * Parameters are those of the library's gate compositions
  * (queries/RankQueries.scala), so the declared oracle SQL checks the
  * outputs. */
object TradeGraph extends Workload {
  val name = "trade_graph"

  val oracleKeys: Seq[String] = Seq("q_trade_ranks", "q_top50_partners", "q_kcore",
    "q_shortest_path")

  private var dir: String = _
  private var rows = 0L
  def inputRows: Long = rows

  def register(spark: SparkSession, d: String): Unit = {
    dir = d
    rows = Tables.lineitem(spark, d).count()
  }

  private def rounded(ranks: DataFrame): DataFrame =
    ranks.select(col("name"), round(col("pagerank"), 6).as("pagerank"),
      round(col("articlerank"), 6).as("articlerank"))

  def pass(spark: SparkSession, tr: Tracer): Outputs = {
    val out = new Outputs
    try {
      // one edge aggregation feeds every consumer, as in the gates
      val edges = tr.frame("entry.nationTradeEdges") {
        SparkEntry.nationTradeEdges(spark, dir)
      }.persistTracked()
      // the 20-iteration rank state carries the ranks themselves
      // (pagerank, articlerank) next to the series terms, so it answers
      // q_trade_ranks and q_top50_partners as rankTable would
      val state = tr.frame("graph.Ranks.rankStateTable") {
        Ranks.rankStateTable(edges, "src_nation", "dst_nation", iters = 20)
      }.persistTracked()
      out.add("q_trade_ranks", rounded(state))

      val regionOf = Tables.nation(spark, dir).join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
      val regionEdges = edges
        .join(broadcast(regionOf.withColumnRenamed("r_name", "src_region")),
          col("src_nation") === col("n_name")).drop("n_name")
        .join(broadcast(regionOf.withColumnRenamed("r_name", "dst_region")),
          col("dst_nation") === col("n_name")).drop("n_name")
        .filter(col("src_region") =!= col("dst_region"))
        .groupBy("src_region", "dst_region").agg(sum("amount").as("amount"))
      out.add("q_trade_ranks@region", rounded(tr.frame("graph.Ranks.rankTable.region") {
        Ranks.rankTable(regionEdges, "src_region", "dst_region")
      }))


      val w = Window.partitionBy("src_nation").orderBy(desc("amount"), asc("dst_nation"))
      val top3w = edges.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3)
        .select(col("src_nation"), col("dst_nation"), col("_rn").cast("long").as("w"))
        .persistTracked()
      val top3 = top3w.select("src_nation", "dst_nation")
      out.add("q_kcore", tr.frame("graph.Traversal.kCore") {
        Traversal.kCore(top3, "src_nation", "dst_nation", k = 3)
      })
      out.add("q_shortest_path", tr.frame("graph.Traversal.shortestPath") {
        Traversal.shortestPath(top3w, "src_nation", "dst_nation", "w",
          Seq("NATION_0"), rounds = 5)
      })

      // README headline: top 50 nations by PageRank with their top
      // export partner (the q_top50_partners composition)
      val top1 = edges
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("src_nation").as("name"), col("dst_nation").as("top_partner"),
          col("amount").as("partner_amount"))
      out.add("q_top50_partners", state
        .select(col("name"), round(col("pagerank"), 6).as("pagerank"))
        .withColumn("rrank", row_number().over(Window.orderBy(desc("pagerank"), asc("name"))))
        .filter(col("rrank") <= 50)
        .join(top1, Seq("name"), "left")
        .select("name", "pagerank", "rrank", "top_partner", "partner_amount"))
    } finally Caches.release(spark)
    out
  }
}
