package graft

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions

/** Root-package alias so configs can say
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Besides registering the `graft_*` SQL functions it sizes Spark's
  * generated-class cache ([[CodegenCacheMaxEntries]]) and makes
  * whole-stage class names id-free ([[ClassNameIdKey]]) on the starting
  * context's conf. Spark applies the extension inside `getOrCreate`,
  * before `SharedState` copies the static SQL confs and before the first
  * code generation builds `CodeGenerator`'s JVM-wide cache, so when the
  * session that starts the context carries the extension the bound holds
  * for the whole JVM. A value the user or the cluster already set wins. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private val inner = new graft.functions.GraftFunctionExtensions
  override def apply(ext: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach { env =>
      GraftExtensions.sizeCodegenCache(env.conf)
      GraftExtensions.idFreeClassNames(env.conf)
    }
    inner(ext)
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Bound on Spark's cache of compiled generated classes. Spark's
    * default of 100 is split by Guava into 4 separately LRU-evicted
    * segments of 25; the largest composition or gate here compiles
    * 187–188 distinct classes per pass (`curate_batch`, `q_ann_recall`
    * at sf0.001), so each segment evicts before its classes come round
    * again and every repeated pass recompiles all of them, 13–20 ms
    * each. 1024 gives each segment 256 entries, room for such a pass
    * with margin. An entry averages 5.2 KB of source plus 2.2 KB of
    * bytecode, so a full cache holds about 10 MB. */
  val CodegenCacheMaxEntries = 1024

  /** Set [[CodegenCacheMaxEntries]] unless `conf` already names the key. */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing(CodegenCacheKey, CodegenCacheMaxEntries.toString)

  /** Whether a whole-stage class name carries its `codegenStageId`. The
    * id is part of the generated source, which keys the class cache, and
    * AQE numbers stages in the order they finish: two pipelines that
    * finish in either order (the train and eval sides of
    * `q_decontaminate`) swap ids from run to run and recompile. */
  val ClassNameIdKey = "spark.sql.codegen.useIdInClassName"

  /** Turn [[ClassNameIdKey]] off unless `conf` already names the key. */
  def idFreeClassNames(conf: SparkConf): Unit = conf.setIfMissing(ClassNameIdKey, "false")
}
