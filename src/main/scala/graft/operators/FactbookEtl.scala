package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.FactbookSchemas._

/** The reference's full ETL (`preprocess_upload_neo4j.py:98-208`)
  * re-expressed as three lazy Spark plans: country nodes, trade edges,
  * goods groups. Verified against the golden CSVs
  * (`/root/reference/output/trade_partners.csv`,
  * `article_page_rank_countries.csv`) in FactbookEtlSpec.
  *
  * Scale notes: every join here is dimension-sided (countries ≈ 252)
  * so Catalyst broadcast-hash-joins them automatically; the only
  * shuffles are the W1/W2 window dedups keyed by country / country
  * pair, which hold at any scale because cardinality(key) grows with
  * the data. No collects, no driver loops.
  */
object FactbookEtl {

  case class Inputs(
      exports: DataFrame, imports: DataFrame,
      gdp: DataFrame, gdpPerCapita: DataFrame,
      realGdp: DataFrame, realGdpPerCapita: DataFrame,
      exportsPartners: DataFrame, importsPartners: DataFrame,
      exportsGoods: DataFrame, importsGoods: DataFrame,
      population: DataFrame, countryRegion: DataFrame,
      goodsGrouping: DataFrame)

  def readReference(spark: SparkSession, dir: String): Inputs = Inputs(
    exports = readCsv(spark, s"$dir/exports.csv", amountSeries),
    imports = readCsv(spark, s"$dir/imports.csv", amountSeries),
    gdp = readCsv(spark, s"$dir/gdp.csv", amountSeries),
    gdpPerCapita = readCsv(spark, s"$dir/gdp_per_capita.csv", amountSeries),
    realGdp = readCsv(spark, s"$dir/real_gdp.csv", amountSeries),
    realGdpPerCapita = readCsv(spark, s"$dir/real_gdp_per_capita.csv", amountSeries),
    exportsPartners = readCsv(spark, s"$dir/exports_partners.csv", partners),
    importsPartners = readCsv(spark, s"$dir/imports_partners.csv", partners),
    exportsGoods = readCsv(spark, s"$dir/exports_goods.csv", goods),
    importsGoods = readCsv(spark, s"$dir/imports_goods.csv", goods),
    population = readCsv(spark, s"$dir/population.csv", population),
    countryRegion = readCsv(spark, s"$dir/country_region.csv", countryRegion),
    goodsGrouping = readCsv(spark, s"$dir/goods_grouping.csv", goodsGrouping))

  /** Country node table (`preprocess_upload_neo4j.py:117-144`):
    * region rank==0 rows ⟕ population ⟕ five latest-per-country
    * metric series, with the reference's 0 / 1970.0 sentinel fills. */
  def countryTable(in: Inputs): DataFrame = {
    val base = in.countryRegion.filter(col("rank") === 0)
      .drop("_input_row_id")
    val pop = in.population.select("country", "population", "year")
      .withColumnRenamed("year", "year_population")
    val withPop = base.join(broadcast(pop), Seq("country"), "left")
      .na.fill(Map("year_population" -> 1970.0, "population" -> 0.0))

    // series order + the "gdp_per_capital" (sic) name follow the golden
    // article_page_rank_countries.csv header
    val series = Seq(
      in.exports -> "exports", in.imports -> "imports",
      in.gdp -> "gdp", in.gdpPerCapita -> "gdp_per_capital",
      in.realGdp -> "real_gdp",
      in.realGdpPerCapita -> "real_gdp_per_capita")

    series.foldLeft(withPop) { case (acc, (df, name)) =>
      val latest = EtlOps.latestPerGroup(df, Seq("country"), "year")
        .select(col("country"),
          col("amount").as(s"amount_$name"),
          col("year").as(s"year_$name"))
      acc.join(broadcast(latest), Seq("country"), "left")
        .na.fill(Map(s"amount_$name" -> 0.0, s"year_$name" -> 1970.0))
    }
  }

  /** Trade edge table (`preprocess_upload_neo4j.py:146-201`):
    * partner lists x latest totals -> directed exporter->importer
    * edges with conflict dedup, group ranks, recomputed percentages. */
  def tradeTable(in: Inputs, country: DataFrame): DataFrame = {
    def partnersSide(partners: DataFrame, totals: DataFrame,
        from: String, to: String): DataFrame = {
      val latestTotal = EtlOps.latestPerGroup(totals, Seq("country"), "year")
        .select(col("country"), col("amount").as("_total"))
      partners
        .join(broadcast(latestTotal), Seq("country"), "left")
        .withColumn("amount", col("_total") * col("percentage"))
        .drop("_total")
        .withColumnRenamed("country", from)
        .withColumnRenamed("trade_country", to)
    }

    val exp = partnersSide(in.exportsPartners, in.exports, "exports", "imports")
    // keep union-order determinism: imports rows sort after exports rows
    val imp = partnersSide(in.importsPartners, in.imports, "imports", "exports")
      .withColumn("_input_row_id", col("_input_row_id") + lit(1L << 40))

    val unioned = exp.unionByName(imp)
      .filter(col("imports").isNotNull && col("exports").isNotNull)

    val deduped = EtlOps.dedupByOrder(unioned,
        Seq("imports", "exports"),
        Seq(desc_nulls_last("year"), desc_nulls_last("amount"),
          asc("trade_type"), asc("_input_row_id")))
      .na.fill(Map("amount" -> 0.0))

    val ranked = EtlOps.groupRankDesc(
      EtlOps.groupRankDesc(deduped, "exports", "amount", "export_trade_rank"),
      "imports", "amount", "import_trade_rank")
      .na.fill(Map("year" -> 1970.0))
      .drop("percentage")

    // percentage recompute via country totals (dict-join J6 ->
    // broadcast joins). pandas divides with IEEE semantics (x/0 ->
    // inf, 0/0 -> NaN, NaN fillna'd to 0); Spark 4 ANSI mode throws on
    // /0, so the IEEE cases are spelled out (branches evaluate
    // lazily). Missing country (null total) -> null -> filled 0, like
    // pandas' .map() NaN.
    def ieeeDiv(num: Column, den: Column): Column =
      when(den.isNull, lit(null).cast("double"))
        .when(den === 0.0 && num === 0.0, lit(Double.NaN))
        .when(den === 0.0, lit(Double.PositiveInfinity))
        .otherwise(num / den)
    val expTot = country.select(col("country").as("exports"),
      col("amount_exports").as("_exp_total"))
    val impTot = country.select(col("country").as("imports"),
      col("amount_imports").as("_imp_total"))
    ranked
      .join(broadcast(expTot), Seq("exports"), "left")
      .join(broadcast(impTot), Seq("imports"), "left")
      .withColumn("percentage_exports", ieeeDiv(col("amount"), col("_exp_total")))
      .withColumn("percentage_imports", ieeeDiv(col("amount"), col("_imp_total")))
      .na.fill(Map("percentage_exports" -> 0.0, "percentage_imports" -> 0.0))
      .drop("_exp_total", "_imp_total", "_input_row_id")
  }

  /** Goods groups (`preprocess_upload_neo4j.py:146-157,203-208`):
    * union of goods sides ⟕ grouping dim, set-collect per category
    * (array sorted for determinism — the reference's `unique()` order
    * is input order, observably irrelevant downstream). */
  def goodsTable(in: Inputs): DataFrame = {
    def side(df: DataFrame) = df
      .na.fill(Map("year" -> 1970.0))
      .join(broadcast(in.goodsGrouping.drop("_input_row_id")), Seq("goods"), "left")
      .select("goods", "mapped_good")
    side(in.exportsGoods).unionByName(side(in.importsGoods))
      .groupBy("mapped_good")
      .agg(array_sort(collect_set("goods")).as("goods"))
  }
}
