package graft

import org.apache.spark.sql.functions._
import graft.functions.FactbookFunctions._

/** Unit tests for the factbook scalar-function library (SURVEY §2.3),
  * including the reference's documented edge cases. */
class FactbookFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def evalOne(input: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any = {
    val r = Seq(input).toDF("x").select(f(col("x")).as("y")).collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("F1 currency: billion unit") {
    assert(evalOne("$23.97 billion (2017 est.)", currencyToDollars) == 2.397e10)
  }
  test("F1 currency: million unit") {
    assert(evalOne("$5 million (2020 est.)", currencyToDollars) == 5e6)
  }
  test("F1 currency: trillion unit") {
    assert(evalOne("$1.5 trillion (2019 est.)", currencyToDollars) == 1.5e12)
  }
  test("F1 currency: comma full-form (scrape_cia.py:33-36 case)") {
    assert(evalOne("$2,732,370,000,000 (2020 est.)", currencyToDollars) == 2.73237e12)
  }
  test("F1 currency: non-dollar input -> null") {
    assert(evalOne("NA", currencyToDollars) == null)
    assert(evalOne("about $5 billion", currencyToDollars) == null)
  }

  test("F2 year extraction") {
    assert(evalOne("foo (2017 est.)", yearFromParen) == 2017.0)
    assert(evalOne("no year here", yearFromParen) == null)
  }

  test("F3 percentage: trailing percent") {
    assert(evalOne("China 24%", trailingPercentage) == 0.24)
    assert(evalOne("China 24%", partnerName) == "China")
  }
  test("F3 percentage: almost entirely -> 0.9") {
    assert(evalOne("almost entirely India", trailingPercentage) == 0.9)
    assert(evalOne("almost entirely India", partnerName) == "India")
  }
  test("F3 percentage: no percent -> null") {
    assert(evalOne("Germany", trailingPercentage) == null)
  }

  test("F6 canonicalization map") {
    assert(evalOne("Korea, South", canonicalCountry) == "South Korea")
    assert(evalOne("Korea, North", canonicalCountry) == "North Korea")
    assert(evalOne("US", canonicalCountry) == "United States")
    assert(evalOne("Untied States", canonicalCountry) == "United States")
    assert(evalOne("France", canonicalCountry) == "France")
  }

  test("F8 billions scaling") {
    assert(evalOne("", _ => toBillionsR3(lit(244834460000.0))) == 244.834)
  }

  // the native kernels the gates run, and the portable forms the
  // DuckDB oracle mirrors
  private val popScans = Seq(
    (graft.functions.Native.popValue _, graft.functions.Native.popYear _),
    (PortableTwins.populationValue _, PortableTwins.yearFromPopText _))

  test("F5 population/year scan: population then year") {
    popScans.foreach { case (populationValue, yearFromPopText) =>
      assert(evalOne("8,403,994 (July 2021 est.)", populationValue) == 8403994.0)
      assert(evalOne("8,403,994 (July 2021 est.)", yearFromPopText) == "2021")
    }
  }
  test("F5 population scan: no valid tokens -> null") {
    popScans.foreach { case (populationValue, _) =>
      assert(evalOne("uninhabited", populationValue) == null)
    }
  }
}
