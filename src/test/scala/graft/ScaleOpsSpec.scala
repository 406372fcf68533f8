package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ScaleOps}
import graft.core.LocalGate
import graft.functions.TextFunctions

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin attaches most recent right row at or before left") {
    val quotes = Seq( // key, t, price
      ("A", 1L, 10.0), ("A", 5L, 11.0), ("A", 9L, 12.0),
      ("B", 4L, 99.0))
      .toDF("sym", "t", "price")
    val trades = Seq( // key, t, qty
      ("A", 0L, 1L), ("A", 5L, 2L), ("A", 7L, 3L), ("A", 100L, 4L),
      ("B", 3L, 5L), ("B", 4L, 6L))
      .toDF("sym", "t", "qty")
    val got = ScaleOps.asOfJoin(trades, quotes, Seq("sym"), "t", "t",
      Map("price" -> "quote_price"))
      .select("sym", "t", "qty", "quote_price")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("A", 0L, 1L, None),          // no quote yet
      ("A", 5L, 2L, Some(11.0)),    // inclusive tie takes the t=5 quote
      ("A", 7L, 3L, Some(11.0)),
      ("A", 100L, 4L, Some(12.0)),
      ("B", 3L, 5L, None),
      ("B", 4L, 6L, Some(99.0))))
  }

  test("asOfJoinTolerance nulls matches beyond the gap cap") {
    val quotes = Seq(("A", 1L, 10.0), ("A", 5L, 11.0))
      .toDF("sym", "t", "price")
    val trades = Seq(("A", 2L, 1L), ("A", 7L, 2L), ("A", 100L, 3L))
      .toDF("sym", "t", "qty")
    val got = ScaleOps.asOfJoinTolerance(trades, quotes, Seq("sym"), "t", "t",
      Map("price" -> "quote_price"), tolerance = 3L)
      .select("sym", "t", "qty", "quote_price")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("A", 2L, 1L, Some(10.0)),  // gap 1 <= 3
      ("A", 7L, 2L, Some(11.0)),  // gap 2 <= 3
      ("A", 100L, 3L, None)))     // stale quote: gap 95 nulled
    // forward direction caps the forward gap the same way
    val fwd = ScaleOps.asOfJoinTolerance(trades, quotes, Seq("sym"), "t", "t",
      Map("price" -> "quote_price"), tolerance = 3L, forward = true)
      .select("sym", "t", "qty", "quote_price")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(fwd == Set(
      ("A", 2L, 1L, Some(11.0)),  // next quote at 5, gap 3 <= 3
      ("A", 7L, 2L, None),        // no future quote
      ("A", 100L, 3L, None)))
  }

  test("rangeJoin equals the theta-join, no cross join planned") {
    val points = Seq((1L, 5.0), (2L, 15.0), (3L, 25.0), (4L, 999.0))
      .toDF("id", "v")
    val intervals = Seq(("a", 0.0, 9.99), ("b", 10.0, 19.99), ("c", 20.0, 29.99))
      .toDF("band", "lo", "hi")
    val got = ScaleOps.rangeJoin(points, intervals, "v", "lo", "hi", 10.0)
      .select("id", "band").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val plan = ScaleOps.rangeJoin(points, intervals, "v", "lo", "hi", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join must not plan a cross join:\n$plan")
  }

  test("heavyHitters is exact: CMS candidates never drop a true heavy key") {
    // key 1 x5, key 2 x3, key 3 x1 — threshold 3 keeps {1, 2} exactly
    val df = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).toDF("k")
    val got = ScaleOps.heavyHitters(df, "k", minCount = 3L)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 5L), (2L, 3L)))
    // a sloppy sketch (huge eps -> everything collides) still yields
    // the exact answer: candidates are a superset, rescore is exact
    val sloppy = ScaleOps.heavyHitters(df, "k", minCount = 3L, eps = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(sloppy == got)
  }

  test("heavyHitters handles string keys and null keys exactly") {
    val df = (Seq.fill(5)(Some("alpha")) ++ Seq.fill(3)(Some("beta")) ++
      Seq(Some("gamma"), None, None)).toDF("k")
    val got = ScaleOps.heavyHitters(df, "k", minCount = 3L)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("alpha", 5L), ("beta", 3L)))
    // a near-useless sketch still rescinds nothing true: exact rescore
    val sloppy = ScaleOps.heavyHitters(df, "k", minCount = 3L, eps = 0.9)
      .as[(String, Long)].collect().toSet
    assert(sloppy == got)
  }

  test("sketch operators reject non-sketchable key types loudly") {
    val doubles = Seq(1.5, 1.5, 2.5).toDF("k")
    intercept[IllegalArgumentException] {
      ScaleOps.heavyHitters(doubles, "k", minCount = 2L)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.bloomPrunedJoin(doubles, doubles, "k")
    }
  }

  test("bloomPrunedJoin with string keys equals the plain join result") {
    val fact = Seq(("NATION_0", 1L), ("NATION_0", 2L), ("NATION_7", 3L),
      ("ATLANTIS", 4L), ("MORDOR", 5L)).toDF("n_name", "v")
    val dim = graft.core.Tables.nation(spark, "/root/testdata/sf0.001")
      .select("n_name", "n_nationkey")
    val plain = fact.join(dim, Seq("n_name"))
      .select("n_name", "v", "n_nationkey")
      .collect().map(_.toString).sorted.toSeq
    val joined = ScaleOps.bloomPrunedJoin(fact, dim, "n_name",
        expectedDimKeys = 100L)
    val bloomed = joined
      .select("n_name", "v", "n_nationkey")
      .collect().map(_.toString).sorted.toSeq
    assert(bloomed == plain && plain.nonEmpty,
      s"string-key bloom prune must not drop matches: $bloomed vs $plain")
    // and the probe really is the native codegen expression: a filter
    // condition holds it, and no typed Row => Boolean filter is planned
    // (the analyzed plan: the optimizer folds filters over this local fact)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, TypedFilter}
    val analyzed = joined.queryExecution.analyzed
    assert(analyzed.exists {
      case f: Filter => f.condition.exists(_.isInstanceOf[graft.functions.BloomContainsExpr])
      case _ => false
    }, analyzed.treeString)
    assert(!analyzed.exists(_.isInstanceOf[TypedFilter]), analyzed.treeString)
  }

  test("bloomPrunedJoin equals the plain join result") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey").as("s_suppkey"))
    val sup = graft.core.Tables.supplier(spark, "/root/testdata/sf0.001")
      .filter(col("s_nationkey") < 5).select("s_suppkey", "s_name")
    val plain = li.join(sup, Seq("s_suppkey"))
      .select("l_orderkey", "l_linenumber", "s_name")
      .collect().map(_.toString).sorted.toSeq
    val bloomed = ScaleOps.bloomPrunedJoin(li, sup, "s_suppkey",
        expectedDimKeys = 10000L)
      .select("l_orderkey", "l_linenumber", "s_name")
      .collect().map(_.toString).sorted.toSeq
    assert(bloomed == plain && plain.nonEmpty)
    // the filter really prunes: non-dim keys drop before the join
    val bloom = sup.stat.bloomFilter("s_suppkey", 10000L, 0.01)
    val keys = li.select("s_suppkey").distinct().as[Long].collect()
    assert(keys.exists(k => !bloom.mightContain(k)),
      "fixture should contain non-matching fact keys for the prune to matter")
  }

  test("contentDigest: partition-invariant, change-sensitive, duplicate-aware") {
    val rows = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
    val df = rows.toDF("id", "grp", "payload")
    def digests(d: org.apache.spark.sql.DataFrame) =
      ScaleOps.contentDigest(d, "grp", Seq("id", "payload"))
        .as[(String, Long, Long, Long)].collect().toSet
    val base = digests(df)
    // pure function of the row multiset: any partitioning/order agrees
    assert(digests(df.repartition(7)) == base)
    assert(digests(df.orderBy(desc("payload"))) == base)
    // one changed byte changes the group's digests, others untouched
    val changed = digests(Seq((1L, "a", "x!"), (2L, "a", "y"), (3L, "b", "z"))
      .toDF("id", "grp", "payload"))
    assert(changed != base &&
      changed.filter(_._1 == "b") == base.filter(_._1 == "b"))
    // an even repeat cancels in XOR but not in the mod-p sum
    val doubled = digests(df.unionAll(df.filter(col("id") === 3L)))
    val b0 = base.find(_._1 == "b").get
    val b2 = doubled.find(_._1 == "b").get
    assert(b2._2 == 2L && b2._3 == 0L && b2._4 != b0._4)
    // NULL payload differs from empty payload
    val withNull = digests(Seq((1L, "a", null.asInstanceOf[String]))
      .toDF("id", "grp", "payload"))
    val withEmpty = digests(Seq((1L, "a", "")).toDF("id", "grp", "payload"))
    assert(withNull != withEmpty)
    intercept[IllegalArgumentException] {
      ScaleOps.contentDigest(df, "grp", Seq.empty)
    }
    // only exactly-stringifying column types may be digested — a
    // double's rendering is engine-dependent, so the type gate fails
    // loud instead of emitting a manifest that can't cross engines
    val floaty = Seq((1L, "a", 0.1)).toDF("id", "grp", "score")
    val e = intercept[IllegalArgumentException] {
      ScaleOps.contentDigest(floaty, "grp", Seq("id", "score"))
    }
    assert(e.getMessage.contains("exactly-stringifying"))
  }

  test("skewReport: exact shares, hot-key ratio, leveling salt count; empty input empty") {
    // 8 rows of "hot", 1 each of "a" and "b": 10 rows, 3 distinct keys
    val rows = (Seq.fill(8)("hot") ++ Seq("a", "b")).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }
    val df = rows.toDF("id", "k")
    val got = ScaleOps.skewReport(df, "k", topN = 2)
      .as[(String, Long, Long, Long, Long)].collect()
    // top-2 cut, hottest first; ties below broken by key
    assert(got.length == 2 && got.head._1 == "hot")
    val hot = got.head
    assert(hot._2 == 8L)            // count
    assert(hot._3 == 8000L)         // 8/10 in bp
    assert(hot._4 == 240L)          // 8 / (10/3) = 2.4x mean, x100
    assert(hot._5 == 3L)            // ceil(8*3/10) salt buckets to level
    assert(got(1)._1 == "a" && got(1)._5 == 1L)
    assert(ScaleOps.skewReport(
      Seq.empty[(Long, String)].toDF("id", "k"), "k").count() == 0)
  }

  test("manifestDiff reports all four statuses, and only on real differences") {
    val oldRows = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"), (4L, "c", "w"))
    val newRows = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z!"), (5L, "d", "v"))
    val om = ScaleOps.contentDigest(oldRows.toDF("id", "grp", "p"), "grp", Seq("id", "p"))
    val nm = ScaleOps.contentDigest(newRows.toDF("id", "grp", "p"), "grp", Seq("id", "p"))
    val got = ScaleOps.manifestDiff(om, nm, "grp")
      .select("grp", "status").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "unchanged", "b" -> "changed",
      "c" -> "removed", "d" -> "added"))
    intercept[IllegalArgumentException] {
      ScaleOps.manifestDiff(om.drop("xor_digest"), nm, "grp")
    }
  }

  test("mergeManifests: merged tranche digests == full-scan digest, exactly") {
    val rows = (0 until 200).map(i =>
      (i.toLong, s"g${i % 3}", s"payload $i ${"x" * (i % 7)}"))
    val df = rows.toDF("id", "grp", "p")
    val cols = Seq("id", "p")
    // arbitrary 4-way split (uneven on purpose; one tranche empty)
    val tranches = Seq(
      df.filter(col("id") % 7 === 0),
      df.filter(col("id") % 7 === 1),
      df.filter(col("id") < 0), // empty tranche: contributes nothing
      df.filter(col("id") % 7 >= 2))
      .map(t => ScaleOps.contentDigest(t, "grp", cols))
      .reduce(_ unionByName _)
    val merged = ScaleOps.mergeManifests(tranches, "grp")
      .as[(String, Long, Long, Long)].collect().toSet
    val full = ScaleOps.contentDigest(df, "grp", cols)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged == full,
      "merge(digest(tranche_i)) must equal digest(union of tranches)")
    // duplicated tranche = duplicated rows, NOT a no-op (multiset law)
    val doubled = ScaleOps.mergeManifests(
      tranches.unionByName(tranches), "grp")
      .select(col("grp"), col("n_rows")).as[(String, Long)].collect().toMap
    assert(doubled.values.sum == 400)
    intercept[IllegalArgumentException] {
      ScaleOps.mergeManifests(
        ScaleOps.contentDigest(df, "grp", cols).drop("sum_digest"), "grp")
    }
  }

  test("retractManifest: exact un-merge, fail-loud on non-subset batches") {
    val rows = (0 until 120).map(i =>
      (i.toLong, s"g${i % 3}", s"payload $i"))
    val df = rows.toDF("id", "grp", "p")
    val cols = Seq("id", "p")
    def digest(d: org.apache.spark.sql.DataFrame) =
      ScaleOps.contentDigest(d, "grp", cols)
    val a = df.filter(col("id") % 2 === 0)
    val b = df.filter(col("id") % 2 =!= 0)
    val merged = ScaleOps.mergeManifests(
      digest(a).unionByName(digest(b)), "grp")
    // retract(merge(a, b), b) == digest(a), exactly
    val got = ScaleOps.retractManifest(merged, digest(b), "grp")
      .as[(String, Long, Long, Long)].collect().toSet
    val want = digest(a).as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
    // a group that empties CLEANLY drops out: g0 rows come only from
    // the retracted batch
    val aOnlyG0 = a.filter(col("grp") === "g0")
    val bNoG0 = b.filter(col("grp") =!= "g0")
    val m2 = ScaleOps.mergeManifests(
      digest(aOnlyG0).unionByName(digest(bNoG0)), "grp")
    val g2 = ScaleOps.retractManifest(m2, digest(aOnlyG0), "grp")
    assert(g2.select(col("grp")).as[String].collect().toSet == Set("g1", "g2"),
      "fully-retracted group must drop")
    // retracting a batch the manifest never ingested fails loud
    val foreign = digest(
      Seq((999L, "g9", "never ingested")).toDF("id", "grp", "p"))
    val e1 = intercept[Exception] {
      ScaleOps.retractManifest(merged, foreign, "grp").collect()
    }
    assert(e1.getMessage.contains("retracts more than"))
    // over-retraction (same group, more rows than ingested) fails loud
    val e2 = intercept[Exception] {
      ScaleOps.retractManifest(digest(aOnlyG0),
        digest(df.filter(col("grp") === "g0")), "grp").collect()
    }
    assert(e2.getMessage.contains("retracts more than"))
    // same count but DIFFERENT rows: the group would empty with
    // non-zero residual digests — proof the batch held foreign rows
    val fake = digest(aOnlyG0.withColumn("p", concat(col("p"), lit("!"))))
    val e3 = intercept[Exception] {
      ScaleOps.retractManifest(digest(aOnlyG0), fake, "grp").collect()
    }
    assert(e3.getMessage.contains("not a sub-multiset"))
    intercept[IllegalArgumentException] {
      ScaleOps.retractManifest(merged.drop("xor_digest"), digest(b), "grp")
    }
  }

  test("dqSuite/quarantine: exact metrics, NULL fails a predicate, split is a partition") {
    val df = Seq(
      (1L, Some("hello world"), Some("en")),
      (2L, Some(""), Some("de")),
      (3L, None: Option[String], Some("en")),
      (4L, Some("ok text"), None: Option[String]),
      (1L, Some("dup id"), Some("fr")))
      .toDF("id", "text", "lang")
    val checks = Seq(
      "text_nonempty" -> (col("text").isNotNull && length(col("text")) > 0),
      "lang_known" -> col("lang").isin("en", "de", "fr"))
    // NULL text fails text_nonempty; NULL lang fails lang_known
    val vio = ScaleOps.checkConstraints(df, checks)
      .select(col("id"), col("text"), array_join(col("_violations"), ","))
      .as[(Long, Option[String], String)].collect()
      .map(r => (r._1, r._2.getOrElse("")) -> r._3).toMap
    assert(vio((3L, "")) == "text_nonempty")
    assert(vio((2L, "")) == "text_nonempty")
    assert(vio((4L, "ok text")) == "lang_known")
    assert(vio((1L, "hello world")) == "")
    val (valid, quarantined) = ScaleOps.quarantineSplit(df, checks)
    assert(valid.count() + quarantined.count() == df.count())
    assert(valid.columns.toSeq == df.columns.toSeq, "valid side unchanged")
    assert(quarantined.count() == 3)
    val suite = ScaleOps.dqSuite(df, checks,
      completeness = Seq("text", "lang"), uniqueness = Seq(Seq("id")))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(suite("check:text_nonempty") == ((2L, 6000L, false)))
    assert(suite("check:lang_known") == ((1L, 8000L, false)))
    assert(suite("complete:text") == ((1L, 8000L, false)))
    assert(suite("complete:lang") == ((1L, 8000L, false)))
    // 5 rows over 4 distinct ids: 1 excess row, 4/5 distinct share
    assert(suite("unique:id") == ((1L, 8000L, false)))
    // all-passing frame: every constraint true, bp 10000
    val clean = ScaleOps.dqSuite(
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "text", "lang"),
      checks, completeness = Seq("text"), uniqueness = Seq(Seq("id")))
      .as[(String, Long, Long, Boolean)].collect()
    assert(clean.forall(r => r._2 == 0L && r._3 == 10000L && r._4))
    // empty input: zero totals answer bp 10000, passed
    val empty = ScaleOps.dqSuite(
      Seq.empty[(Long, String, String)].toDF("id", "text", "lang"),
      checks, uniqueness = Seq(Seq("id")))
      .as[(String, Long, Long, Boolean)].collect()
    assert(empty.length == 3 &&
      empty.forall(r => r._2 == 0L && r._3 == 10000L && r._4))
    intercept[IllegalArgumentException] {
      ScaleOps.checkConstraints(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
    intercept[IllegalArgumentException] { ScaleOps.dqSuite(df, Nil) }
  }

  test("dqApproxUniqueness: sketch == hllDistinct, NULL is a key, empty corpus passes") {
    val df = Seq(
      (1L, Some("a"), "en"), (2L, Some("a"), "en"), (3L, Some("b"), "de"),
      (4L, None: Option[String], "en"), (5L, Some("b"), "de"))
      .toDF("id", "src", "lang")
    val got = ScaleOps.dqApproxUniqueness(df,
      keySets = Seq(Seq("id"), Seq("src"), Seq("lang", "src")),
      minRatioBp = 9000)
      .as[(String, Long, Double, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // the estimate IS hllDistinct over the canonicalized key — same
    // registers, same integer fold (NULL src -> chr(0) counts as a key:
    // 3 distinct src values {a, b, NULL})
    import graft.operators.Sketches
    def est(c: org.apache.spark.sql.Column): Double =
      Sketches.hllDistinct(df.select(c.cast("string").as("_k")), Nil, "_k")
        .as[Double].head()
    val idEst = est(col("id"))
    val srcEst = est(coalesce(col("src"), lit("\u0000")))
    assert(got("approx_unique:id") ==
      ((5L, idEst, math.floor(idEst * 10000.0 / 5 + 0.5).toLong,
        math.floor(idEst * 10000.0 / 5 + 0.5) >= 9000)))
    assert(got("approx_unique:src")._2 == srcEst)
    // at these cardinalities linear counting is near-exact: 5 ids vs
    // 3 sources must order the ratios
    assert(got("approx_unique:id")._4 > got("approx_unique:src")._4)
    assert(got("approx_unique:lang,src")._2 > 0.0)
    // empty corpus: no registers -> 0 distinct, vacuous pass
    val empty = ScaleOps.dqApproxUniqueness(
      Seq.empty[(Long, String)].toDF("id", "src"),
      keySets = Seq(Seq("id")), minRatioBp = 9000)
      .as[(String, Long, Double, Long, Boolean)].head()
    assert(empty == (("approx_unique:id", 0L, 0.0, 10000L, true)))
    intercept[IllegalArgumentException] {
      ScaleOps.dqApproxUniqueness(df, Nil, 9000)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqApproxUniqueness(df, Seq(Seq("id")), 10001)
    }
  }

  test("schemaDrift: added/removed/type/null-shift precedence, identical frames report none") {
    val a = Seq((1L, Some("x"), 10L), (2L, Some("y"), 20L),
      (3L, None: Option[String], 30L), (4L, Some("z"), 40L))
      .toDF("id", "tag", "n")
    val b = a.drop("n")                               // removed
      .withColumn("extra", lit(1.5))                  // added
      .withColumn("id", col("id").cast("int"))        // type_changed
      .withColumn("tag",                              // nulls 1/4 -> 3/4
        when(col("id") > 1, lit(null).cast("string")).otherwise(col("tag")))
    val got = ScaleOps.schemaDrift(a, b, thresholdBp = 100)
      .as[(String, Option[String], Option[String], Option[Long], Option[Long], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("n") == ((Some("bigint"), None, Some(0L), None, "removed")))
    assert(got("extra") == ((None, Some("double"), None, Some(0L), "added")))
    assert(got("id") == ((Some("bigint"), Some("int"), Some(0L), Some(0L), "type_changed")))
    // 1/4 nulls (2500 bp) -> 3/4 (7500 bp): shift of 5000 bp
    assert(got("tag") == ((Some("string"), Some("string"), Some(2500L),
      Some(7500L), "null_rate_shift")))
    // identical frames: every column reports none
    val same = ScaleOps.schemaDrift(a, a, thresholdBp = 100)
      .select("drift").as[String].collect()
    assert(same.length == 3 && same.forall(_ == "none"))
    // a shift inside the threshold is none
    val mild = ScaleOps.schemaDrift(a,
      a.withColumn("tag", col("tag")), thresholdBp = 10000)
      .filter(col("column") === "tag").select("drift").as[String].head()
    assert(mild == "none")
    intercept[IllegalArgumentException] {
      ScaleOps.schemaDrift(a, b, thresholdBp = -1)
    }
  }

  test("waterFillBudget: exact level, remainder order, saturation, guards") {
    val dom = Seq(("a", 10L), ("b", 100L), ("c", 100L), ("d", 3L))
      .toDF("k", "t")
    // budget 120: d(3) and a(10) saturate (13 used), level for b/c =
    // (120-13) div 2 = 53 rem 1 -> b gets 54 (first unsaturated by
    // (t asc, key asc)), c gets 53
    val got = ScaleOps.waterFillBudget(dom, "k", "t", budget = 120L)
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("d") == ((3L, 3L, true)))
    assert(got("a") == ((10L, 10L, true)))
    assert(got("b") == ((100L, 54L, false)))
    assert(got("c") == ((100L, 53L, false)))
    // allocations sum exactly to the budget
    assert(got.values.map(_._2).sum == 120L)
    // budget >= total: everyone keeps everything
    val all = ScaleOps.waterFillBudget(dom, "k", "t", budget = 1000L)
      .as[(String, Long, Long, Boolean)].collect()
    assert(all.forall(r => r._3 == r._2 && r._4))
    // budget 0: nothing allocated (zero-token domains saturate at 0)
    val zero = ScaleOps.waterFillBudget(dom, "k", "t", budget = 0L)
      .select("allocation").as[Long].collect()
    assert(zero.forall(_ == 0L) && zero.length == 4)
    // guards: duplicate keys and negative tokens raise at evaluation
    val eDup = intercept[Exception] {
      ScaleOps.waterFillBudget(
        dom.unionByName(Seq(("a", 5L)).toDF("k", "t")), "k", "t", 120L)
        .collect()
    }
    assert(eDup.getMessage.contains("duplicate domain key"))
    val eNeg = intercept[Exception] {
      ScaleOps.waterFillBudget(
        Seq(("x", -1L)).toDF("k", "t"), "k", "t", 10L).collect()
    }
    assert(eNeg.getMessage.contains("negative tokens"))
    intercept[IllegalArgumentException] {
      ScaleOps.waterFillBudget(dom, "k", "t", budget = -1L)
    }
  }

  test("budgetTrim: hash-order prefix, boundary doc excluded, never overshoots") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "b", 5L)).toDF("id", "src", "w")
    // replicate the salted hash order for source a
    import graft.functions.TextFunctions
    val order = docs.filter(col("src") === "a")
      .select(col("id"),
        TextFunctions.hexHash60(col("id").cast("string"), 777).as("h"))
      .orderBy(col("h"), col("id")).select("id").as[Long].collect().toSeq
    // allocation 25 for a: first two docs in hash order fit (20), the
    // third would cross (30) and is EXCLUDED; b keeps its 5
    val alloc = Seq(("a", 25L), ("b", 5L)).toDF("src", "allocation")
    val kept = ScaleOps.budgetTrim(docs, "src", "id", "w", alloc)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(order(0), order(1), 4L), s"kept $kept order $order")
    // allocation 0: nothing kept for that source
    val none = ScaleOps.budgetTrim(docs, "src", "id", "w",
      Seq(("a", 0L), ("b", 5L)).toDF("src", "allocation"))
      .select("id").as[Long].collect().toSet
    assert(none == Set(4L))
    // composes with waterFillBudget's output shape directly, and the
    // kept weight never exceeds any domain's allocation
    val wf = ScaleOps.waterFillBudget(
      docs.groupBy(col("src")).agg(sum(col("w")).as("t")), "src", "t", 17L)
    val viaWf = ScaleOps.budgetTrim(docs, "src", "id", "w", wf)
      .groupBy(col("src")).agg(sum(col("w")).as("kept"))
      .join(wf.select(col("src"), col("allocation")), Seq("src"))
      .as[(String, Long, Long)].collect()
    assert(viaWf.nonEmpty && viaWf.forall(r => r._2 <= r._3))
    intercept[IllegalArgumentException] {
      ScaleOps.budgetTrim(docs, "src", "id", "w",
        alloc.withColumnRenamed("allocation", "alloc"))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.budgetTrim(docs.withColumn("_cum", lit(1)),
        "src", "id", "w", alloc)
    }
  }

  test("dqSuiteByGroup: per-group exact metrics, NULL group is a group, empty is empty") {
    val df = Seq(
      (1L, Some("hello"), Some("s1")),
      (2L, None: Option[String], Some("s1")),
      (1L, Some("dup"), Some("s1")),
      (3L, Some("ok"), None: Option[String]))
      .toDF("id", "text", "src")
    val checks = Seq("text_nonempty" ->
      (col("text").isNotNull && length(col("text")) > 0))
    val got = ScaleOps.dqSuiteByGroup(df, "src", checks,
      completeness = Seq("text"), uniqueness = Seq(Seq("id")))
      .as[(Option[String], String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // s1: 3 rows, 1 null text (fails check + completeness), 1 dup id
    assert(got((Some("s1"), "check:text_nonempty")) == ((1L, 6666L, false)))
    assert(got((Some("s1"), "complete:text")) == ((1L, 6666L, false)))
    assert(got((Some("s1"), "unique:id")) == ((1L, 6666L, false)))
    // the NULL source is its own group with clean verdicts
    assert(got((None, "check:text_nonempty")) == ((0L, 10000L, true)))
    assert(got((None, "unique:id")) == ((0L, 10000L, true)))
    // empty corpus: no groups -> EMPTY verdict table (not a vacuous pass)
    assert(ScaleOps.dqSuiteByGroup(
      Seq.empty[(Long, String, String)].toDF("id", "text", "src"),
      "src", checks, uniqueness = Seq(Seq("id"))).count() == 0)
    intercept[IllegalArgumentException] {
      ScaleOps.dqSuiteByGroup(df, "src", Nil)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqSuiteByGroup(df, "src", checks,
        uniqueness = Seq(Seq("src", "id")))
    }
  }

  test("dqDrift: trailing-window integer mean, first-batch no-evidence, window truncation") {
    val hist = Seq(
      ("check:a", -1L, 0L, 10000L),
      ("check:a", 0L, 0L, 10000L),
      ("check:a", 1L, 50L, 9000L),   // drops 1000 bp vs trail mean
      ("check:b", 0L, 0L, 9990L),
      ("check:b", 1L, 1L, 9960L))    // -30 bp: inside threshold
      .toDF("constraint", "batch", "n_bad", "value_bp")
    val got = ScaleOps.dqDrift(hist, windowBatches = 3, thresholdBp = 50)
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long], Boolean)]
      .collect().map(r => (r._1, r._2) -> ((r._5, r._6, r._7, r._8))).toMap
    // first verdict of a constraint: no history, no drift evidence
    assert(got(("check:a", -1L)) == ((0L, None, None, false)))
    assert(got(("check:b", 0L)) == ((0L, None, None, false)))
    // integer trailing mean over both priors; -1000 bp trips at 50
    assert(got(("check:a", 0L)) == ((1L, Some(10000L), Some(0L), false)))
    assert(got(("check:a", 1L)) == ((2L, Some(10000L), Some(-1000L), true)))
    assert(got(("check:b", 1L)) == ((1L, Some(9990L), Some(-30L), false)))
    // window truncation: windowBatches=1 sees only the previous batch
    val w1 = ScaleOps.dqDrift(hist, windowBatches = 1, thresholdBp = 50)
      .filter(col("constraint") === "check:a" && col("batch") === 1L)
      .select(col("n_trail"), col("trail_mean_bp"))
      .as[(Long, Long)].head()
    assert(w1 == ((1L, 10000L)))
    intercept[IllegalArgumentException] {
      ScaleOps.dqDrift(hist, windowBatches = 0, thresholdBp = 50)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqDrift(hist.drop("batch"), windowBatches = 3, thresholdBp = 50)
    }
  }

  test("dqGroupDrift flags a drifting tenant the corpus aggregate hides") {
    // two tenants, three batches: tenant A collapses at batch 1 while
    // tenant B improves by the same amount — the GLOBAL mean is flat,
    // so the corpus-level monitor must stay quiet while the keyed
    // monitor flags A (the exact blind spot X178's doc names)
    val hist = Seq(
      ("A", "check:q", -1L, 0L, 9000L),
      ("A", "check:q", 0L, 0L, 9000L),
      ("A", "check:q", 1L, 90L, 8000L),  // -1000 bp vs trail: drifts
      ("B", "check:q", -1L, 0L, 9000L),
      ("B", "check:q", 0L, 0L, 9000L),
      ("B", "check:q", 1L, 0L, 10000L))  // +1000 bp: drifts the other way
      .toDF("src", "constraint", "batch", "n_bad", "value_bp")
    val keyed = ScaleOps.dqGroupDrift(hist, "src",
      windowBatches = 2, thresholdBp = 50)
      .as[(String, String, Long, Long, Long, Long, Option[Long], Option[Long], Boolean)]
      .collect().map(r => (r._1, r._3) -> ((r._6, r._7, r._8, r._9))).toMap
    assert(keyed(("A", 1L)) == ((2L, Some(9000L), Some(-1000L), true)),
      "the collapsing tenant must be flagged")
    assert(keyed(("B", 1L)) == ((2L, Some(9000L), Some(1000L), true)))
    assert(keyed(("A", -1L)) == ((0L, None, None, false)),
      "first verdict of a (group, constraint) has no drift evidence")
    // the aggregated (corpus-level) history over the same batches:
    // global value_bp = integer mean of the tenants' bps — flat 9000,
    // so dqDrift sees nothing
    val agg = hist.groupBy(col("constraint"), col("batch"))
      .agg(sum("n_bad").as("n_bad"),
        expr("sum(value_bp) div count(1)").as("value_bp"))
    val global = ScaleOps.dqDrift(agg, windowBatches = 2, thresholdBp = 50)
      .filter(col("anomaly")).count()
    assert(global == 0L,
      "the corpus aggregate must stay quiet on offsetting tenant drifts")
    intercept[IllegalArgumentException] {
      ScaleOps.dqGroupDrift(hist, "nope", windowBatches = 2, thresholdBp = 50)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqGroupDrift(hist.drop("batch"), "src",
        windowBatches = 2, thresholdBp = 50)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqGroupDrift(hist, "src", windowBatches = 0, thresholdBp = 50)
    }
  }

  test("dqReferentialIntegrity: orphans (NULL FK counts), coverage, clean relation passes") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val got = ScaleOps.dqReferentialIntegrity(
      child, parent, Seq("fk"), Seq("pk"), "c->p")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // 4 child rows: fk=9 orphan + NULL fk orphan -> 2 bad, 5000 bp
    assert(got("ref_orphans:c->p") == ((4L, 2L, 5000L, false)))
    // 3 parents: 2 and 3 unreferenced -> 2 bad, 3333 bp
    assert(got("ref_coverage:c->p") == ((3L, 2L, 3333L, false)))
    // a clean relation passes both ways
    val clean = ScaleOps.dqReferentialIntegrity(
      Seq(1L, 2L, 3L, 3L).toDF("fk"), parent, Seq("fk"), Seq("pk"), "ok")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(clean == Map("ref_orphans:ok" -> true, "ref_coverage:ok" -> true))
    // empty child: vacuous orphans pass, full coverage failure
    val empty = ScaleOps.dqReferentialIntegrity(
      Seq.empty[Long].toDF("fk"), parent, Seq("fk"), Seq("pk"), "e")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(empty("ref_orphans:e") == ((0L, 0L, 10000L, true)))
    assert(empty("ref_coverage:e") == ((3L, 3L, 0L, false)))
    intercept[IllegalArgumentException] {
      ScaleOps.dqReferentialIntegrity(child, parent, Nil, Nil, "bad")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqReferentialIntegrity(child, parent,
        Seq("fk"), Seq("pk", "pk2"), "bad")
    }
  }

  test("waterFillBudgetByGroup: per-group exact sums, guards; hierarchical total exact") {
    val dom = Seq(
      ("en", "a", 100L), ("en", "b", 10L), ("en", "c", 50L),
      ("de", "x", 30L), ("de", "y", 30L))
      .toDF("g", "k", "tokens")
    val budgets = Seq(("en", 80L), ("de", 100L), ("fr", 7L)) // fr: pre-provisioned, unused
      .toDF("g", "budget")
    val got = ScaleOps.waterFillBudgetByGroup(dom, "g", "k", "tokens", budgets)
      .as[(String, String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    // en: budget 80 < 160 total; b saturates at 10, level splits 70
    // between a and c: λ = 35 -> a 35, c 35
    assert(got(("en", "b")) == ((10L, true)))
    assert(got(("en", "a")) == ((35L, false)) && got(("en", "c")) == ((35L, false)))
    // de: budget covers everything -> both saturated
    assert(got(("de", "x")) == ((30L, true)) && got(("de", "y")) == ((30L, true)))
    // per-group sums are exactly min(budget_g, Σ tokens_g)
    val sums = ScaleOps.waterFillBudgetByGroup(dom, "g", "k", "tokens", budgets)
      .groupBy("g").agg(sum("allocation").as("s"))
      .as[(String, Long)].collect().toMap
    assert(sums == Map("en" -> 80L, "de" -> 60L))
    // keyed form over ONE group == the global parent
    val one = dom.filter(col("g") === "en")
    val parent = ScaleOps.waterFillBudget(one, "k", "tokens", 80L)
      .select("k", "allocation").as[(String, Long)].collect().toSet
    val keyed = ScaleOps.waterFillBudgetByGroup(one, "g", "k", "tokens",
      Seq(("en", 80L)).toDF("g", "budget"))
      .select("k", "allocation").as[(String, Long)].collect().toSet
    assert(keyed == parent)
    // hierarchical: total allocation == min(B, Σ) exactly
    val hier = ScaleOps.hierarchicalWaterFill(dom, "g", "k", "tokens", 90L)
    assert(hier.agg(sum("allocation")).as[Long].head() == 90L)
    // a domain group with no budget row fails loud
    val eMiss = intercept[Exception] {
      ScaleOps.waterFillBudgetByGroup(dom, "g", "k", "tokens",
        Seq(("en", 80L)).toDF("g", "budget")).collect()
    }
    assert(eMiss.getMessage != null && eMiss.getMessage.contains("no budget row"))
    // duplicate budget rows fail loud
    val eDup = intercept[Exception] {
      ScaleOps.waterFillBudgetByGroup(dom, "g", "k", "tokens",
        Seq(("en", 80L), ("en", 80L), ("de", 1L)).toDF("g", "budget")).collect()
    }
    assert(eDup.getMessage != null && eDup.getMessage.contains("duplicate budget"))
    intercept[IllegalArgumentException] {
      ScaleOps.waterFillBudgetByGroup(dom, "g", "k", "tokens",
        budgets.withColumnRenamed("budget", "b"))
    }
  }

  test("embeddingChecks: ragged, NaN/Inf, zero-vector, NULL all fail their rows") {
    val rows = Seq(
      (1L, Some(Seq(1.0f, 2.0f))),                       // clean
      (2L, Some(Seq(1.0f, 2.0f, 3.0f))),                 // ragged
      (3L, Some(Seq(Float.NaN, 1.0f))),                  // NaN
      (4L, Some(Seq(Float.PositiveInfinity, 1.0f))),     // +Inf
      (5L, Some(Seq(0.0f, 0.0f))),                       // zero vector
      (6L, None: Option[Seq[Float]]))                    // NULL
      .toDF("vec_id", "embedding")
    val got = ScaleOps.dqSuite(rows,
      rowChecks = ScaleOps.embeddingChecks("embedding", 2),
      completeness = Seq("embedding"))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    // dims: ragged + NULL fail; finite: NaN + Inf + NULL; nonzero:
    // zero-vector + NULL
    assert(got("check:embedding_dims_2") == 2L, s"got $got")
    assert(got("check:embedding_finite") == 3L)
    assert(got("check:embedding_nonzero") == 2L)
    assert(got("complete:embedding") == 1L)
    intercept[IllegalArgumentException] {
      ScaleOps.embeddingChecks("embedding", 0)
    }
  }

  test("histogramDrift: TV distance exact, NULL bin, negative floor, empty sides") {
    def drift(a: Seq[Option[Long]], b: Seq[Option[Long]], w: Long = 10L) =
      ScaleOps.histogramDrift(a.toDF("v"), b.toDF("v"), "v", w, 100L, "t")
        .as[(String, Long, Long, Long, Long, Boolean)].head()
    // identical multisets -> 0 bp
    val same = Seq(Some(1L), Some(15L), Some(15L), None: Option[Long])
    assert(drift(same, same) == (("dist_drift:t", 3L, 4L, 4L, 0L, false)))
    // disjoint bins -> full drift
    assert(drift(Seq(Some(1L)), Seq(Some(100L)))._5 == 10000L)
    // hand-computed: a = {bin0:2, bin1:0}, b = {bin0:1, bin1:1}
    // TV = (|2*2-1*2| + |0*2-1*2|)*1e4 / (2*2*2) = 4e4/8 = 5000
    assert(drift(Seq(Some(1L), Some(2L)), Seq(Some(1L), Some(15L)))._5 == 5000L)
    // a NULL-rate shift IS drift: the sentinel bin diverges
    assert(drift(Seq(Some(1L), None), Seq(Some(1L), Some(2L)))._5 == 5000L)
    // negative values bin DOWN (floor), not toward zero: -1 and -10
    // share bin -1 at width 10; +1 is bin 0 -> disjoint from -1
    assert(drift(Seq(Some(-1L)), Seq(Some(-10L)))._5 == 0L)
    assert(drift(Seq(Some(-1L)), Seq(Some(1L)))._5 == 10000L)
    // empty vs non-empty = full drift; both empty = no drift
    assert(drift(Nil, Seq(Some(1L))) ==
      (("dist_drift:t", 1L, 0L, 1L, 10000L, true)))
    assert(drift(Nil, Nil) == (("dist_drift:t", 0L, 0L, 0L, 0L, false)))
    intercept[IllegalArgumentException] {
      ScaleOps.histogramDrift(Seq(1L).toDF("v"), Seq(1L).toDF("v"),
        "v", 0L, 100L, "t")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.histogramDrift(Seq(1L).toDF("v"), Seq(1L).toDF("v"),
        "v", 10L, 20000L, "t")
    }
  }

  test("histogramStoreDrift: trailing merge, no-history exemption, anomaly flags") {
    // batch -1: {bin0: 4}; batch 0: {bin1: 4} (disjoint -> full drift
    // vs trail); batch 1: {bin0: 2, bin1: 2} (half-overlaps the merged
    // trail {bin0: 4, bin1: 4} -> TV 0)
    val store = Seq(
      (-1L, 0L, 4L),
      (0L, 1L, 4L),
      (1L, 0L, 2L), (1L, 1L, 2L))
      .toDF("batch", "bin", "n")
    val got = ScaleOps.histogramStoreDrift(store, windowBatches = 3,
      thresholdBp = 100L)
      .as[(Long, Long, Long, Long, Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._4, r._5, r._6, r._7))).toMap
    // batch -1: no trailing history -> no evidence
    assert(got(-1L) == ((0L, 0L, None, false)))
    // batch 0 vs batch -1: disjoint bins -> 10000 bp, flagged
    assert(got(0L) == ((4L, 1L, Some(10000L), true)))
    // batch 1 vs merged {-1, 0}: p = (.5, .5) both sides -> 0 bp
    assert(got(1L) == ((8L, 2L, Some(0L), false)))
    // window truncation: w=1 makes batch 1 compare against batch 0
    // only: cur (.5, .5) vs ref (0, 1) -> TV = 5000 bp
    val w1 = ScaleOps.histogramStoreDrift(store, windowBatches = 1,
      thresholdBp = 100L)
      .filter(col("batch") === 1L).select("tv_bp").as[Long].head()
    assert(w1 == 5000L)
    intercept[IllegalArgumentException] {
      ScaleOps.histogramStoreDrift(store, 0, 100L)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.histogramStoreDrift(store.drop("bin"), 3, 100L)
    }
  }

  test("histogramStoreDriftByGroup flags a tenant swap the global fold hides") {
    // batch 1 swaps the tenants' distributions: each tenant fully
    // drifts (TV 10000), but the SUMMED corpus histogram is identical
    // across batches — the global monitor must stay quiet
    val store = Seq(
      (0L, "A", 0L, 4L), (0L, "B", 1L, 4L),
      (1L, "A", 1L, 4L), (1L, "B", 0L, 4L))
      .toDF("batch", "g", "bin", "n")
    val keyed = ScaleOps.histogramStoreDriftByGroup(store, "g",
      windowBatches = 2, thresholdBp = 100L)
      .as[(String, Long, Long, Long, Long, Long, Option[Long], Boolean)]
      .collect().map(r => (r._1, r._2) -> ((r._6, r._7, r._8))).toMap
    assert(keyed(("A", 1L)) == ((1L, Some(10000L), true)),
      s"the swapped tenant must be flagged: $keyed")
    assert(keyed(("B", 1L)) == ((1L, Some(10000L), true)))
    assert(keyed(("A", 0L)) == ((0L, None, false)),
      "first batch of a tenant has no drift evidence")
    // the global fold over the summed histograms sees no movement
    val global = ScaleOps.histogramStoreDrift(
      store.groupBy("batch", "bin").agg(sum("n").as("n")),
      windowBatches = 2, thresholdBp = 100L)
      .filter(col("anomaly")).count()
    assert(global == 0L,
      "offsetting tenant drifts must net the corpus fold flat")
    intercept[IllegalArgumentException] {
      ScaleOps.histogramStoreDriftByGroup(store.drop("g"), "g", 2, 100L)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.histogramStoreDriftByGroup(store, "g", 0, 100L)
    }
  }

  test("dqMonotonic: inversions, NULL-fails, first-row exempt, direction, guards") {
    // key a: 1,3,2,NULL -> inversion at seq 3 (2 < 3), NULL fails
    // key b: 5,5 -> holds; singleton key c contributes nothing
    val df = Seq(
      ("a", 1L, Some(1L)), ("a", 2L, Some(3L)), ("a", 3L, Some(2L)),
      ("a", 4L, None: Option[Long]),
      ("b", 1L, Some(5L)), ("b", 2L, Some(5L)),
      ("c", 1L, Some(9L)))
      .toDF("k", "seq", "v")
    val got = ScaleOps.dqMonotonic(df, Seq("k"), "seq", "v", "t")
      .as[(String, Long, Long, Long, Boolean)].head()
    // comparable rows: a@2, a@3, a@4, b@2 = 4; bad: a@3 + a@4 (NULL)
    assert(got == (("monotonic:t", 4L, 2L, 5000L, false)), s"got $got")
    // the row AFTER a NULL value also fails (NULL predecessor can't affirm)
    val afterNull = Seq(("a", 1L, None: Option[Long]), ("a", 2L, Some(1L)))
      .toDF("k", "seq", "v")
    assert(ScaleOps.dqMonotonic(afterNull, Seq("k"), "seq", "v", "t")
      .select("n_bad").as[Long].head() == 1L)
    // non-increasing direction
    val dec = ScaleOps.dqMonotonic(
      Seq(("a", 1L, 5L), ("a", 2L, 3L), ("a", 3L, 4L)).toDF("k", "seq", "v"),
      Seq("k"), "seq", "v", "d", nonDecreasing = false)
      .as[(String, Long, Long, Long, Boolean)].head()
    assert(dec == (("monotonic:d", 2L, 1L, 5000L, false)))
    // duplicate (key, seq): previous row is ambiguous -> raise
    val eDup = intercept[Exception] {
      ScaleOps.dqMonotonic(
        Seq(("a", 1L, 1L), ("a", 1L, 2L)).toDF("k", "seq", "v"),
        Seq("k"), "seq", "v", "t").collect()
    }
    assert(eDup.getMessage != null && eDup.getMessage.contains("ambiguous"))
    // NULL seq: no position -> raise
    val eNull = intercept[Exception] {
      ScaleOps.dqMonotonic(
        Seq(("a", Some(1L), 1L), ("a", None: Option[Long], 2L))
          .toDF("k", "seq", "v"),
        Seq("k"), "seq", "v", "t").collect()
    }
    assert(eNull.getMessage != null && eNull.getMessage.contains("no position"))
    intercept[IllegalArgumentException] {
      ScaleOps.dqMonotonic(df, Nil, "seq", "v", "t")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqMonotonic(df, Seq("seq"), "seq", "v", "t")
    }
  }

  test("dqFunctionalDependency: repair cost, NULL-as-value, empty corpus, guards") {
    // group a: 3 rows, rhs {x, x, y} -> majority x, repair cost 1
    // group b: 2 rows, rhs {z, z}    -> holds
    // group NULL: 2 rows, rhs {x, NULL} -> NULL is ONE value -> cost 1
    val df = Seq(
      (Some("a"), Some("x")), (Some("a"), Some("x")), (Some("a"), Some("y")),
      (Some("b"), Some("z")), (Some("b"), Some("z")),
      (None: Option[String], Some("x")), (None: Option[String], None: Option[String]))
      .toDF("k", "v")
    val got = ScaleOps.dqFunctionalDependency(df, Seq("k"), Seq("v"), "k->v")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("fd_rows:k->v") == ((7L, 2L, 7142L, false)),
      s"repair cost must count only disagreeing minorities: $got")
    assert(got("fd_groups:k->v") == ((3L, 2L, 3333L, false)))
    // a clean dependency passes both rows
    val clean = ScaleOps.dqFunctionalDependency(
      df.filter(col("k") === "b"), Seq("k"), Seq("v"), "ok")
      .as[(String, Long, Long, Long, Boolean)].collect().map(r => r._1 -> r._5).toMap
    assert(clean == Map("fd_rows:ok" -> true, "fd_groups:ok" -> true))
    // empty corpus: vacuous pass (the dqSuite empty-verdict rule)
    val empty = ScaleOps.dqFunctionalDependency(
      Seq.empty[(String, String)].toDF("k", "v"), Seq("k"), Seq("v"), "e")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(empty("fd_rows:e") == ((0L, 0L, 10000L, true)))
    assert(empty("fd_groups:e") == ((0L, 0L, 10000L, true)))
    intercept[IllegalArgumentException] {
      ScaleOps.dqFunctionalDependency(df, Seq("k"), Seq("k", "v"), "bad")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.dqFunctionalDependency(df, Nil, Seq("v"), "bad")
    }
  }

  test("retractDeadLetter: reviewed ids leave, re-admission is never self-shadowed") {
    val checks = Seq("text_nonempty" ->
      (col("text").isNotNull && length(col("text")) > 0))
    // doc 2 fails the gate; doc 1 passes and enters the dedup store
    val batch = Seq((1L, "unique kept text"), (2L, ""))
      .toDF("doc_id", "text")
    val (valid, dead) = ScaleOps.quarantineSplit(batch, checks)
    assert(dead.select("doc_id").as[Long].collect().toSet == Set(2L))
    // retract the reviewed id: store empties; multi-batch rows would
    // all leave (ids are retracted, not (id, batch) pairs)
    val remaining = ScaleOps.retractDeadLetter(dead, Seq(2L).toDF("doc_id"))
    assert(remaining.count() == 0)
    assert(remaining.columns.toSeq == dead.columns.toSeq,
      "retraction must preserve the dead-letter schema")
    // NO SELF-SHADOWING: the corrected row's text is brand new, and its
    // quarantined first arrival left no fingerprint — it must be KEPT
    // by the increment against the store built from batch-1 survivors
    val storeFps = valid
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp")).distinct()
    val corrected = Seq((2L, "corrected doc 2")).toDF("doc_id", "text")
    val survivors = Dedup.incrementalExactDedup(
      corrected, storeFps, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(2L),
      s"a corrected re-arrival must not be shadowed by its quarantined first arrival: $survivors")
    // ...but a correction colliding with KEPT content is a genuine dup
    val collide = Seq((3L, "unique kept text")).toDF("doc_id", "text")
    assert(Dedup.incrementalExactDedup(collide, storeFps, "text", "doc_id")
      .count() == 0)
    // unknown review id: the drift guard rides the filter — even a
    // bare count trips it
    val e = intercept[Exception] {
      ScaleOps.retractDeadLetter(dead, Seq(999L).toDF("doc_id")).count()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("not in the dead-letter store"),
      s"expected the drift guard, got: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      ScaleOps.retractDeadLetter(dead, Seq(2L).toDF("rid"))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.retractDeadLetter(dead.drop("doc_id"), Seq(2L).toDF("doc_id"))
    }
  }

  test("retractDeadLetter: a NULL-id store row is retained, never a phantom orphan") {
    // a genuinely quarantined row can carry a NULL doc_id (the id
    // extraction itself failed the gate) — orphan detection must use
    // the added marker, not the raw id's nullness
    val dead = Seq((Some(1L), "bad text"), (None, "bad id"), (Some(2L), "bad lang"))
      .toDF("doc_id", "reason")
    val remaining = ScaleOps.retractDeadLetter(dead, Seq(1L).toDF("doc_id"))
    assert(remaining.count() == 2)
    assert(remaining.filter(col("doc_id").isNull).count() == 1,
      "the NULL-id dead-letter row must survive an unrelated retraction")
    assert(remaining.columns.toSeq == dead.columns.toSeq)
  }

  test("intervalOverlapJoin == brute-force theta join, boundary-exact") {
    val a = Seq((1L, 0L, 10L), (2L, 95L, 105L), (3L, 200L, 200L))
      .toDF("aid", "sa", "ea")
    val b = Seq((10L, 10L, 20L), (11L, 99L, 99L), (12L, 150L, 199L),
      (13L, 201L, 300L)).toDF("bid", "sb", "eb")
    val got = ScaleOps.intervalOverlapJoin(a, "sa", "ea", b, "sb", "eb", 50L)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    // closed intervals: touching endpoints DO overlap (1×10 at t=10);
    // [200,200] touches neither [150,199] nor [201,300]
    assert(got == Set((1L, 10L), (2L, 11L)))
    // parity with the plain theta join at several cell sizes,
    // including cells straddled by every interval
    val brute = a.crossJoin(b)
      .filter(col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    for (cs <- Seq(1L, 7L, 1000L)) {
      val g = ScaleOps.intervalOverlapJoin(a, "sa", "ea", b, "sb", "eb", cs)
        .select("aid", "bid").as[(Long, Long)].collect().toSet
      assert(g == brute, s"cellSize=$cs")
    }
    intercept[IllegalArgumentException] {
      ScaleOps.intervalOverlapJoin(a, "sa", "ea", b, "sb", "eb", 0L)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.intervalOverlapJoin(a, "sa", "ea",
        b.withColumnRenamed("bid", "aid"), "sb", "eb", 10L)
    }
  }

  test("calibratedQualityFilter: smallest ties-inclusive head covering the fraction") {
    val docs = Seq(
      // source A: scores 10,9,8,7,6,5,4,3,2,1 -> 30% of 10 = 3 -> t=8
      (1L, "A", 10L), (2L, "A", 9L), (3L, "A", 8L), (4L, "A", 7L),
      (5L, "A", 6L), (6L, "A", 5L), (7L, "A", 4L), (8L, "A", 3L),
      (9L, "A", 2L), (10L, "A", 1L),
      // source B: ties at the cut — scores 5,5,5,1: target=ceil(4*0.3)=2,
      // cum at score 5 is 3 >= 2 -> t=5, all three ties kept
      (11L, "B", 5L), (12L, "B", 5L), (13L, "B", 5L), (14L, "B", 1L))
      .toDF("doc_id", "source", "s")
    val th = ScaleOps.calibratedKeepThresholds(docs, "source", col("s"), 3000)
      .select(col("source"), col("threshold"), col("n_docs"), col("n_keep_min"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (src, t, n, k) => src -> ((t, n, k)) }.toMap
    assert(th == Map("A" -> ((8L, 10L, 3L)), "B" -> ((5L, 4L, 3L))))
    val kept = ScaleOps.calibratedQualityFilter(docs, "doc_id", "source",
      col("s"), 3000).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 11L, 12L, 13L))
    // keepBp = 10000 keeps everything; per-source share >= fraction
    assert(ScaleOps.calibratedQualityFilter(docs, "doc_id", "source",
      col("s"), 10000).count() == 14L)
    intercept[IllegalArgumentException] {
      ScaleOps.calibratedKeepThresholds(docs, "source", col("s"), 0)
    }
  }

  test("packBestFit: exact best-fit-decreasing trajectory in one group") {
    import spark.implicits._
    // one group (numGroups = 1) so the trajectory is hand-checkable:
    // sorted desc: 70(a) 50(b) 40(c) 30(d) 20(e) 10(f), ctx = 100
    //   70 -> bin0[70]; 50 -> bin1[50]; 40 -> bin1[90] (rem 10 < bin0's 30... no:
    //   rem0 = 100-70-40 < 0 -> only bin1 fits (rem 10)); 30 -> bin0[100];
    //   20 -> no bin fits (rem0 -20, rem1 -10) -> bin2[20]; 10 -> bin1[100]
    //   (rem1 0 beats bin2's 70)
    val docs = Seq((1L, 70L), (2L, 50L), (3L, 40L), (4L, 30L),
      (5L, 20L), (6L, 10L))
      .toDF("doc_id", "nt")
    val got = graft.operators.ScaleOps.packBestFit(docs, "doc_id",
      col("nt"), ctxLen = 100L, numGroups = 1)
      .select("doc_id", "bin_idx").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L,
      5L -> 2L, 6L -> 1L), s"got $got")
  }

  test("packBestFit: never splits a doc, never overfills a bin, covers every doc") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, 10 + (i * 37) % 90))
      .toDF("doc_id", "nt")
    val got = graft.operators.ScaleOps.packBestFit(docs, "doc_id",
      col("nt"), ctxLen = 128L, numGroups = 4)
    val rows = got.as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 200 && rows.map(_._1).distinct.length == 200,
      "every doc packed exactly once")
    // bin loads never exceed ctx
    val loads = rows.groupBy(r => (r._2, r._3)).map(_._2.map(_._4).sum)
    assert(loads.forall(_ <= 128L), s"overfilled bin: ${loads.max}")
    // determinism
    val again = graft.operators.ScaleOps.packBestFit(docs, "doc_id",
      col("nt"), ctxLen = 128L, numGroups = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // fill sanity: best-fit-decreasing wastes little on this mix
    val fill = rows.map(_._4).sum.toDouble / (loads.size * 128L)
    assert(fill > 0.85, s"fill rate suspiciously low: $fill")
    // an oversize doc fails loud
    val bad = Seq((1L, 200L)).toDF("doc_id", "nt")
    val ex = intercept[Exception] {
      graft.operators.ScaleOps.packBestFit(bad, "doc_id", col("nt"),
        ctxLen = 100L, numGroups = 1).collect()
    }
    assert(ex.getMessage != null)
  }

  test("tokenBudgetFilter: greedy head == naive priority-ordered running sum") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val tc = graft.functions.TextFunctions.tokenCount(col("text"))
    val budget = 5000L
    val kept = ScaleOps.tokenBudgetFilter(docs, "doc_id", tc, tc, budget)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"prefix sum must not plan a window:\n$plan")
    val got = kept.as[(Long, Long, Long, Long)].collect().toSet
    // naive reference: one global window over (priority desc, id asc)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("p").desc, col("doc_id").asc).rowsBetween(Long.MinValue, 0)
    val ref = docs.select(col("doc_id"), tc.cast("long").as("n"), tc.cast("long").as("p"))
      .withColumn("e", sum(col("n")).over(w))
      .filter(col("e") <= budget)
      .select(col("doc_id"), col("p"), col("n"), col("e"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == ref && ref.nonEmpty)
    // the head is maximal: adding the next doc in priority order would
    // cross the budget
    val all = docs.select(col("doc_id"), tc.cast("long").as("n")).as[(Long, Long)]
      .collect().sortBy { case (id, n) => (-n, id) }
    val total = got.toSeq.map(_._3).sum
    val next = all.drop(got.size).headOption
    next.foreach { case (_, n) => assert(total + n > budget) }
    // zero budget keeps nothing
    assert(ScaleOps.tokenBudgetFilter(docs, "doc_id", tc, tc, 0L).count() == 0)
  }

  test("packSequences: driver pack == two-phase plan; negative counts take the two-phase plan") {
    def run(rows: Seq[(Long, Long)], ctxLen: Long, gate: Long) =
      ScaleOps.packSequences(rows.toDF("id", "n").repartition(3), "id", col("n"), ctxLen, gate)
    def both(rows: Seq[(Long, Long)], ctxLen: Long): Set[(Long, Long, Long, Long)] = {
      val driver = run(rows, ctxLen, LocalGate.Threshold)
      val twoPhase = run(rows, ctxLen, 0L)
      assert(driver.schema == twoPhase.schema)
      // the driver holds one row per document: the windows expand in
      // the plan, as in the two-phase form
      assert(rows.isEmpty || driver.queryExecution.optimizedPlan.toString.contains("Generate"))
      val got = driver.as[(Long, Long, Long, Long)].collect().toSet
      assert(got == twoPhase.as[(Long, Long, Long, Long)].collect().toSet, s"$rows / $ctxLen")
      got
    }
    // ids out of order; a zero count emits nothing; one document spans
    // four windows
    val rows = Seq(7L -> 3L, 2L -> 10L, 5L -> 0L, 9L -> 25L, 4L -> 1L)
    assert(both(rows, 8L) == Set(
      (2L, 0L, 0L, 10L), (2L, 1L, 0L, 10L), (4L, 1L, 10L, 1L), (7L, 1L, 11L, 3L),
      (9L, 1L, 14L, 25L), (9L, 2L, 14L, 25L), (9L, 3L, 14L, 25L), (9L, 4L, 14L, 25L)))
    assert(both(rows, 1000L).map(_._2) == Set(0L))
    assert(both(Seq.empty, 8L).isEmpty)
    // the two-phase offsets are per-partition MAXIMA of the running sum,
    // so with a negative count the result depends on the range
    // boundaries: the driver does not reproduce it and hands over
    val negative = run(rows :+ (3L -> -4L), 8L, LocalGate.Threshold)
    assert(negative.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("packSequences: two-phase prefix sum == naive global window") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val tc = graft.functions.TextFunctions.tokenCount(col("text"))
    val packed = ScaleOps.packSequences(docs, "doc_id", tc, ctxLen = 512L)
    val twoPhase = ScaleOps.packSequences(docs, "doc_id", tc, 512L, localThreshold = 0L)
    // two-phase plan: one range exchange, NO per-pid window re-shuffle
    val plan = twoPhase.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"prefix sum must not plan a window:\n$plan")
    val got = packed.as[(Long, Long, Long, Long)].collect().toSet
    // the driver pack (below the gate) == the two-phase plan
    assert(packed.schema == twoPhase.schema)
    assert(got == twoPhase.as[(Long, Long, Long, Long)].collect().toSet)
    // naive reference: one global window (fine at spec scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("doc_id")).rowsBetween(Long.MinValue, 0)
    val ref = docs.select(col("doc_id"), tc.cast("long").as("n"))
      .withColumn("e", sum(col("n")).over(w))
      .filter(col("n") > 0)
      .withColumn("token_start", col("e") - col("n"))
      .withColumn("pack_id", explode(sequence(
        floor(col("token_start") / 512.0).cast("long"),
        floor((col("e") - 1) / 512.0).cast("long"))))
      .select(col("doc_id"), col("pack_id"), col("token_start"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == ref && ref.nonEmpty)
    // every pack except possibly the last holds exactly ctxLen tokens:
    // sum over per-doc overlap with each window == 512
    val packTokens = got.toSeq.groupBy(_._2).map { case (pack, rows) =>
      pack -> rows.map { case (_, _, start, n) =>
        val lo = math.max(start, pack * 512L)
        val hi = math.min(start + n, (pack + 1) * 512L)
        hi - lo
      }.sum
    }
    val lastPack = packTokens.keys.max
    packTokens.foreach { case (pack, tot) =>
      if (pack != lastPack) assert(tot == 512L, s"pack $pack holds $tot tokens") }
  }

  test("hashSplit is stable: a row's split never changes as data grows") {
    val small = (0L until 100L).toDF("id")
    val big = (0L until 1000L).toDF("id")
    def splits(df: org.apache.spark.sql.DataFrame) =
      ScaleOps.hashSplit(df, "id", holdoutPct = 10)
        .as[(Long, String)].collect().toMap
    val s1 = splits(small)
    val s2 = splits(big)
    assert(s1.forall { case (k, v) => s2(k) == v },
      "growing the corpus must not move any row across the split")
    val holdout = s2.values.count(_ == "holdout")
    assert(holdout > 50 && holdout < 150, s"~10% of 1000 expected, got $holdout")
  }

  test("stratifiedSample: per-stratum rates hold, membership is stable") {
    val rows = (0L until 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    val df = rows.toDF("id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val kept = ScaleOps.stratifiedSample(df, "id", "lang", rates, 0.0)
      .as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // 2000 per stratum; md5 buckets are uniform -> ±35% tolerance
    assert(byLang("en") > 650 && byLang("en") < 1350, s"en kept ${byLang("en")}")
    assert(byLang("de") > 130 && byLang("de") < 270, s"de kept ${byLang("de")}")
    // growing the corpus never changes an existing row's membership
    val small = ScaleOps.stratifiedSample(df.filter(col("id") < 1000),
      "id", "lang", rates, 0.0).as[(Long, String)].collect().map(_._1).toSet
    val bigSubset = kept.map(_._1).filter(_ < 1000).toSet
    assert(small == bigSubset)
    // sampling salt differs from the split salt: the two decisions
    // must not be the same row set (independence of hash uses)
    val holdout = ScaleOps.hashSplit(df.filter(col("id") < 1000), "id", 50)
      .filter(col("split") === "holdout").as[(Long, String, String)]
      .collect().map(_._1).toSet
    assert(small != holdout)
  }

  test("shuffleShards is a reproducible permutation: every row once, dense per-shard positions") {
    val df = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = ScaleOps.shuffleShards(df, "doc_id", 8)
      .as[(Long, Long, Int)].collect()
    val b = ScaleOps.shuffleShards(df, "doc_id", 8)
      .as[(Long, Long, Int)].collect()
    assert(a.toSet == b.toSet, "permutation must be run-to-run stable")
    assert(a.map(_._1).distinct.length == df.count(), "every doc exactly once")
    a.groupBy(_._2).foreach { case (_, rows) =>
      // positions within a shard are dense 1..n
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // the permutation actually breaks id order: within some shard, the
    // doc_id sequence ordered by pos is not sorted
    val shuffled = a.groupBy(_._2).values
      .exists(rows => {
        val ids = rows.sortBy(_._3).map(_._1).toSeq
        ids != ids.sorted
      })
    assert(shuffled, "at least one shard must be out of id order")
  }

  test("exactKSample returns exactly k per stratum (or the whole stratum) deterministically") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sizes = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val a = ScaleOps.exactKSample(docs, "doc_id", "lang", 5)
      .as[(String, Long, Int)].collect()
    val b = ScaleOps.exactKSample(docs, "doc_id", "lang", 5)
      .as[(String, Long, Int)].collect()
    assert(a.toSet == b.toSet, "selection must be deterministic")
    a.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == math.min(5L, sizes(lang)),
        s"$lang: got ${rows.length} of stratum size ${sizes(lang)}")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    assert(a.map(_._1).distinct.sorted.toSeq == sizes.keys.toSeq.sorted,
      "every stratum sampled")
  }

  test("saltedJoin equals the plain join result") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_linenumber", "l_partkey")
    val parts = graft.core.Tables.part(spark, "/root/testdata/sf0.001")
      .select("p_partkey", "p_name")
    val plain = li.join(parts, li("l_partkey") === parts("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_name")
      .collect().map(_.toString).sorted.toSeq
    val salted = ScaleOps.saltedJoin(
      li.withColumnRenamed("l_partkey", "p_partkey"), parts,
      Seq("p_partkey"), saltBuckets = 8)
      .select("l_orderkey", "l_linenumber", "p_name")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("profileColumns counts nulls/distincts and stringifies extremes") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("c")), (None, Some("a")))
      .toDF("k", "s")
    val got = ScaleOps.profileColumns(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") == (("k", 4L, 3L, 2L, Some("1"), Some("2"))))
    assert(got("s") == (("s", 4L, 3L, 2L, Some("a"), Some("c"))))
  }

  test("resampleForwardFill: gaps carry the last value, leading gaps stay null") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // key a: buckets 0 and 3 (gap at 1,2); key b: first event in bucket 2;
    // bucket 0 has TWO a-events — the later one (id 2) must win
    val ev = Seq(
      ("a", 1L, ts(10), 1.0), ("a", 2L, ts(20), 2.0),
      ("a", 3L, ts(190), 9.0),
      ("b", 4L, ts(130), 5.0))
      .toDF("k", "event_id", "ts", "value")
    val got = ScaleOps.resampleForwardFill(ev, "k", "ts", "event_id", "value",
        bucketSec = 60)
      .select("k", "bucket", "value_raw", "value_ff")
      .as[(String, Long, Option[Double], Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("a", 0L)) == ((Some(2.0), Some(2.0)))) // later event wins
    assert(got(("a", 1L)) == ((None, Some(2.0))))      // gap carried
    assert(got(("a", 2L)) == ((None, Some(2.0))))
    assert(got(("a", 3L)) == ((Some(9.0), Some(9.0))))
    assert(got(("b", 0L)) == ((None, None)))           // before first: null
    assert(got(("b", 1L)) == ((None, None)))
    assert(got(("b", 2L)) == ((Some(5.0), Some(5.0))))
    assert(got(("b", 3L)) == ((None, Some(5.0))))
    assert(got.size == 8) // dense spine: 2 keys x 4 buckets
  }
  test("domainMix: unclipped sources keep everything, clipped get floor-bp rates") {
    val df = ((1L to 10L).map(i => (i, "big", 10L)) ++
      (11L to 14L).map(i => (i, "small", 10L))).toDF("id", "src", "toks")
    // budget 50: big actual=100 -> 5000bp; small actual=40 -> 10000bp (capped)
    val got = ScaleOps.domainMix(df, "id", "src", col("toks"), 50L)
      .as[(Long, String, Long)].collect()
    val bySrc = got.groupBy(_._2)
    assert(bySrc("small").map(_._1).toSet == (11L to 14L).toSet) // all kept
    assert(bySrc("small").forall(_._3 == 10000L))
    assert(bySrc.get("big").forall(_.forall(_._3 == 5000L)))
    assert(got.count(_._2 == "big") <= 10)
    // determinism: same call, same membership
    val again = ScaleOps.domainMix(df, "id", "src", col("toks"), 50L)
      .as[(Long, String, Long)].collect()
    assert(got.toSet == again.toSet)
  }
  test("dsirLogRatioWeights: full bucket spine, target-like grams weigh positive") {
    val target = (1L to 10L).map(i => (i, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = ((1L to 10L).map(i => (i, "alpha beta gamma")) ++
      (11L to 30L).map(i => (i, "noise junk filler"))).toDF("doc_id", "text")
    val w = ScaleOps.dsirLogRatioWeights(target, raw, "text", buckets = 64)
      .as[(Long, Long)].collect().toMap
    assert(w.size == 64, "weights must cover the full bucket spine")
    // a bucket holding only target-favored grams weighs positive; one
    // holding only raw-side grams weighs negative
    def bucket(g: String, seed: Int = 91): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$g".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.substring(0, 15), 16) % 64
    }
    assert(w(bucket("alpha")) > 0, "target-favored gram must weigh positive")
    assert(w(bucket("noise")) < 0, "raw-only gram must weigh negative")
  }

  test("dsirResample: deterministic k-set, target-like docs out-weigh gibberish") {
    val docs = ((1L to 10L).map(i => (i, "alpha beta gamma")) ++
      (11L to 30L).map(i => (i, "noise junk filler"))).toDF("doc_id", "text")
    val target = docs.filter(col("doc_id") <= 10L)
    val w = ScaleOps.dsirLogRatioWeights(target, docs, "text", buckets = 64)
    val sel = ScaleOps.dsirResample(docs, "doc_id", "text", w,
      k = 5, buckets = 64)
    val rows = sel.as[(Long, Long, Long)].collect()
    assert(rows.length == 5)
    // re-running selects the identical set (pure function of seeds)
    val again = ScaleOps.dsirResample(docs, "doc_id", "text", w,
      k = 5, buckets = 64).as[(Long, Long, Long)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // importance weights separate the classes: every target doc's
    // log-w exceeds every gibberish doc's
    val all = ScaleOps.dsirResample(docs, "doc_id", "text", w,
      k = 30, buckets = 64).as[(Long, Long, Long)].collect()
    val tW = all.filter(_._1 <= 10L).map(_._2).min
    val rW = all.filter(_._1 > 10L).map(_._2).max
    assert(tW > rW, s"target docs must out-weigh gibberish ($tW vs $rW)")
  }

  test("dsirLogRatioWeights: zero-gram classes still yield defined weights") {
    // non-empty frames whose docs tokenize to nothing: N collapses to
    // 0, weights stay finite (add-one smoothing over B buckets), and
    // nothing goes NULL — the silent-uniform-sampling hazard
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val raw = Seq((3L, "actual words here")).toDF("doc_id", "text")
    // decoding to (Long, Long) throws if any weight is NULL — success
    // of the collect IS the no-null assertion
    val w = ScaleOps.dsirLogRatioWeights(blank, raw, "text", buckets = 16)
      .as[(Long, Long)].collect()
    assert(w.length == 16)
    val wNullSide = ScaleOps.dsirLogRatioWeights(raw, blank, "text", buckets = 16)
      .as[(Long, Long)].collect()
    assert(wNullSide.length == 16)
    // antisymmetric to the swapped call within the quantizer ulp
    val m1 = w.toMap; val m2 = wNullSide.toMap
    assert(m1.keys.forall(b => math.abs(m1(b) + m2(b)) <= 1L))
  }

  test("dsirLogRatioWeights: empty classes fail loud") {
    val docs = Seq((1L, "text")).toDF("doc_id", "text")
    val none = docs.filter(col("doc_id") < 0)
    assert(intercept[IllegalArgumentException] {
      ScaleOps.dsirLogRatioWeights(none, docs, "text")
    }.getMessage.contains("empty target"))
    assert(intercept[IllegalArgumentException] {
      ScaleOps.dsirLogRatioWeights(docs, none, "text")
    }.getMessage.contains("empty raw"))
  }

  test("asOfJoin forward attaches the nearest right row at or after") {
    val quotes = Seq(("A", 1L, 10.0), ("A", 5L, 11.0), ("A", 9L, 12.0),
      ("B", 4L, 99.0)).toDF("sym", "t", "price")
    val trades = Seq(("A", 0L, 1L), ("A", 5L, 2L), ("A", 7L, 3L),
      ("A", 100L, 4L), ("B", 3L, 5L), ("B", 5L, 6L)).toDF("sym", "t", "qty")
    val got = ScaleOps.asOfJoin(trades, quotes, Seq("sym"), "t", "t",
      Map("price" -> "quote_price"), forward = true)
      .select("sym", "t", "qty", "quote_price")
      .as[(String, Long, Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("A", 0L, 1L, Some(10.0)),   // next quote is t=1
      ("A", 5L, 2L, Some(11.0)),   // inclusive tie
      ("A", 7L, 3L, Some(12.0)),
      ("A", 100L, 4L, None),       // nothing after
      ("B", 3L, 5L, Some(99.0)),
      ("B", 5L, 6L, None)))
  }
}
