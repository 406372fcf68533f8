package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library for the factbook pipelines (SURVEY §2.3).
  *
  * Everything here is a pure `Column` combinator over Spark built-ins —
  * whole-stage-codegen'd, no UDFs — so the functions stay inside
  * Catalyst and vectorize at 100 TB. The one genuine UDF the reference
  * needs (F5 population token scan, `scrape_cia.py:256-280`) is a
  * native codegen expression pair instead ([[Native.popValue]] /
  * [[Native.popYear]]).
  */
object FactbookFunctions {

  /** F1 — currency text to dollars (`scrape_cia.py:22-38`).
    * `"$23.97 billion (2017 est.)"` -> 2.397e10;
    * `"$2,732,370,000,000 (2020 est.)"` -> 2.73237e12 (unknown unit
    * token multiplies by 1); non-`^$digit` input -> null.
    */
  def currencyToDollars(c: Column): Column = {
    val stripped = regexp_replace(c, "^\\$", "")
    // items[0] / items[1] of the space-split, commas removed from amount
    val amount = regexp_replace(split(stripped, " ").getItem(0), ",", "")
      .cast("double")
    val unit = split(stripped, " ").getItem(1)
    val mult = when(unit === "million", 1e6)
      .when(unit === "billion", 1e9)
      .when(unit === "trillion", 1e12)
      .otherwise(1.0)
    when(c.rlike("^\\$\\d"), amount * mult)
  }

  /** F2 — year from `"... (2017 est.)"` (`scrape_cia.py:71-74`):
    * first 4 chars after the last-ish `" ("`; null unless 4 digits. */
  def yearFromParen(c: Column): Column = {
    val y = regexp_extract(c, "\\((\\d{4})", 1)
    when(y =!= "", y.cast("double"))
  }

  /** F3 — trailing-percentage parse (`scrape_cia.py:118-129`):
    * `"China 24%"` -> (0.24, "China"); `"almost entirely India"` ->
    * (0.9, "India"). Returns the percentage column. */
  def trailingPercentage(c: Column): Column = {
    val pct = regexp_extract(c, "(\\d+)%$", 1)
    when(c.contains("almost entirely"), 0.9)
      .when(pct =!= "", pct.cast("double") / 100.0)
  }

  /** F3 — partner name with the trailing `NN%` token / "almost
    * entirely" prefix removed. */
  def partnerName(c: Column): Column = {
    val noPct = when(c.rlike("\\d+%$"),
        // x.rsplit(" ", 1)[0].strip()
        trim(regexp_replace(c, "\\s+\\S+$", "")))
      .otherwise(c)
    when(noPct.contains("almost entirely"),
        trim(regexp_replace(noPct, "almost entirely", "")))
      .otherwise(noPct)
  }

  /** F6 — entity-name canonicalization (`scrape_cia.py:305-309`).
    * Small fixed map -> `CASE WHEN` chain (broadcast-free, codegen'd;
    * a 100 TB-scale dictionary would become a broadcast join —
    * see EtlOps.canonicalizeViaDim). */
  val countryFixes: Map[String, String] = Map(
    "Korea, South" -> "South Korea",
    "Korea, North" -> "North Korea",
    "Untied States" -> "United States",
    "US" -> "United States")

  def canonicalCountry(c: Column): Column =
    countryFixes.foldLeft(c) { case (acc, (from, to)) =>
      when(c === from, lit(to)).otherwise(acc)
    }

  /** F8 — monetary scaling for graph properties
    * (`preprocess_upload_neo4j.py:259-266,296`): dollars -> billions,
    * 3 decimals. */
  def toBillionsR3(c: Column): Column = round(c / 1e9, 3)
}
