package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** `GraftExtensions` sizes Spark's generated-class cache so that a
  * repeated pass reuses its compiled classes instead of recompiling
  * every one of them. */
class CodegenCacheSpec extends SparkSpec {

  private val key = GraftExtensions.CodegenCacheKey

  test("the session reports the extension's generated-class cache bound") {
    assert(spark.conf.get(key) == GraftExtensions.CodegenCacheMaxEntries.toString)
    assert(spark.sparkContext.getConf.get(key) ==
      GraftExtensions.CodegenCacheMaxEntries.toString)
  }

  test("a conf that already sets the bound keeps its value") {
    val unset = new SparkConf(false)
    GraftExtensions.sizeCodegenCache(unset)
    assert(unset.get(key) == GraftExtensions.CodegenCacheMaxEntries.toString)
    val set = new SparkConf(false).set(key, "77")
    GraftExtensions.sizeCodegenCache(set)
    assert(set.get(key) == "77")
  }

  test("a composition of more than 100 classes compiles none when it runs again") {
    // gates whose plans, and so whose generated source, repeat exactly
    // run to run (q_ann_recall and q_bm25 re-plan some stages
    // differently from run to run and compile a few new classes)
    val gates = Seq("q_curate_full", "q_minhash_pairs", "q_soft_dedup",
      "q_decontaminate", "q_quality_dedup", "q_embed_topk",
      "q_embed_ann_multi", "q_embed_ivf", "q_embed_pq", "q_embed_ivfpq")
    def compiledBy(run: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def pass(): Unit = gates.foreach { g =>
      SparkEntry.queries(g)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    // empty the JVM-wide cache so the first pass compiles each distinct
    // class of the composition exactly once, whatever earlier specs ran
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val distinct = compiledBy(pass())
    info(s"${gates.mkString(", ")} at sf0.001: $distinct distinct generated classes")
    assert(distinct > 100, "the composition must overflow Spark's default bound of 100")
    val again = compiledBy(pass())
    assert(again == 0, s"second pass recompiled $again of $distinct classes")
  }
}
