package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](text: String, c: org.apache.spark.sql.Column): T =
    Seq(text).toDF("text").select(c.as("y")).collect()(0).getAs[T](0)

  test("tokenCount ignores leading/trailing/multiple whitespace") {
    assert(one[Int]("  the  quick   fox ", tokenCount(col("text"))) == 3)
    assert(one[Int]("", tokenCount(col("text"))) == 0)
  }

  test("bpeish token count splits letters/digits/punct") {
    assert(one[Int]("hello world42!", bpeishTokenCount(col("text"))) == 4)
  }

  test("punctRatio") {
    assert(one[Double]("ab,.", punctRatio(col("text"))) == 0.5)
  }

  test("stopwordRatio en") {
    assert(one[Double]("the cat and dog", stopwordRatio(col("text"), "en")) == 0.5)
  }

  test("langId picks language with most stopword hits, und on zero") {
    assert(one[String]("the cat is of the house", langIdHeuristic(col("text"))) == "en")
    assert(one[String]("el gato es un animal y no por eso", langIdHeuristic(col("text"))) == "es")
    assert(one[String]("zzz qqq", langIdHeuristic(col("text"))) == "und")
  }

  test("fingerprintMd5 is whitespace/case-insensitive") {
    val a = one[String]("The  Quick Fox", fingerprintMd5(col("text")))
    val b = one[String]("the quick fox", fingerprintMd5(col("text")))
    assert(a == b && a.length == 32)
  }

  test("rollingHash matches the scalar Rabin-Karp fold") {
    val norm = "the quick fox"
    val want = norm.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % 1000000007L)
    assert(one[Long]("  The   Quick FOX ", PortableTwins.rollingHash(col("text"))) == want)
    assert(one[Long]("  The   Quick FOX ", graft.functions.Native.rollingHash(
      array_join(tokens(lower(col("text"))), " "))) == want)
  }

  test("hexHash60 equals first-15-hex-chars of md5, base 16") {
    val got = one[Long]("abc", hexHash60(col("text"), 7))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("7:abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == java.lang.Long.parseLong(md.take(15), 16))
  }

  test("shingles produces overlapping n-grams") {
    val got = one[scala.collection.Seq[String]]("a b c d", PortableTwins.shingles(col("text"), 3))
    assert(got.toSeq == Seq("a b c", "b c d"))
    val nat = one[scala.collection.Seq[String]]("a b c d",
      graft.functions.Native.shingles(tokens(lower(col("text"))), 3))
    assert(nat.toSeq == got.toSeq)
  }

  test("qualityScore is in [0,1]") {
    val q = one[Double]("the quick brown fox and the lazy dog in a field", qualityScore(col("text")))
    assert(q >= 0.0 && q <= 1.0)
  }

  test("redactPii scrubs emails, SSNs, and phone numbers with typed tags") {
    val got = one[String](
      "mail a.user+x@sub.example.org or call 415-555-0142; ssn 123-45-6789 ok",
      redactPii(col("text")))
    assert(got == "mail <EMAIL> or call <PHONE>; ssn <SSN> ok")
  }

  test("redactPii leaves near-miss digit shapes alone") {
    // wrong group widths survive; letters are word chars, so x..y gives
    // no \b transition and the embedded phone shape survives too
    val s = "order 12-345-6789 and 1234-56-789 code x415-555-0142y"
    val got = one[String](s, redactPii(col("text")))
    assert(got == s)
  }

  test("piiCount counts matches per pattern") {
    val s = "a@b.co c@d.org 999-99-9999 111-222-3333 444-555-6666"
    assert(one[Int](s, piiCount(col("text"), EMAIL_RE)) == 2)
    assert(one[Int](s, piiCount(col("text"), SSN_RE)) == 1)
    assert(one[Int](s, piiCount(col("text"), PHONE_RE)) == 2)
  }
}
