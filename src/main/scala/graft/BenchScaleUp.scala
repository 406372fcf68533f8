package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-more-decade scale harness (VERDICT r18 #5): the standing
  * BenchScale α rows fit the sf0.01 → sf0.1 decade; the decode-bound
  * and scan-term families (video near-dup, PCA projection, the ingest
  * compositions) carry "healthy linear map-side term" adjudications
  * that one more decade either confirms or kills. No sf1 test data
  * exists, so this main MATERIALIZES one — ten id-offset replicas of
  * the sf0.1 `documents`/`embeddings` tables (offset 10⁷ dwarfs every
  * real id; content columns are carried verbatim, so near-dup cluster
  * structure densifies ×10, exactly the hot-key regime the df caps
  * exist for) — then times the named queries at sf0.1 and sf1
  * (untimed warm pass, min-of-two per cell) and prints the fitted
  * per-decade exponent.
  *
  * Read the rows with two caveats, both adjudicated in PLANS.md:
  * (1) gates that derive their query set from the corpus (`%50` /
  * `%100` slices) scale the SERVING LOAD ×10 along with the store, so
  * a perfectly linear index shows α ≈ 2 raw — the per-query
  * normalization is done in the write-up, not hidden in the harness;
  * (2) the decode-once signature memo means near-dup gate cells time
  * the post-materialization pipeline (the production shape), while
  * the live-decode gates (q_media_decode and siblings) measure the
  * codec scan term itself.
  *
  * `runMain graft.BenchScaleUp [q_x ...]` — defaults below. The sf1
  * copy lands under target/sf1 (override: SPARK_GRAFT_SF1_DIR) and is
  * reused across runs.
  */
object BenchScaleUp {
  private val DEFAULTS = Seq(
    // decode/codec scan terms (live decode, no memo)
    "q_media_decode", "q_audio_decode", "q_image_phash",
    // fingerprint families over the decode-once tables
    "q_image_neardup", "q_audio_neardup", "q_video_neardup_capped",
    // the UNCAPPED increment measured α 1.77 on the ×10 corpus (the
    // class² hazard, on record in PLANS r19) — the capped serving
    // configuration is the standing row
    "q_incremental_video_neardup_capped", "q_multimodal_search",
    // PCA training + projection scan
    "q_embed_pca", "q_incremental_pca",
    // filtered serving (query load scales with corpus — see caveat 1)
    "q_filtered_ann",
    // the composed ingest increments
    "q_ingest_quartet", "q_ingest_weighted")

  /** Materialize the sf1 decade corpus if absent: ten id-offset
    * replicas of the base `documents`/`embeddings` tables (offset 10⁷
    * dwarfs every real id; content columns carried verbatim). Shared
    * by the bench decade ([[BenchScaleUp]]) and the sf1 ORACLE slice
    * ([[VerifyScaleUp]]) so both measure the SAME corpus. */
  def ensureReplicas(spark: SparkSession, base: String, sf1: String,
      parts: Int): Unit = {
    // completeness = the _SUCCESS marker of the LAST-written table (a
    // run killed mid-write must rebuild, not silently reuse a partial
    // corpus) and a sentinel recording the BASE dir (changing
    // SPARK_GRAFT_SF_DIR between runs must not silently keep replicas
    // of the old base) — r20 advisor finding
    val sentinel = java.nio.file.Paths.get(s"$sf1/_graft_base")
    val complete =
      new java.io.File(s"$sf1/embeddings.parquet/_SUCCESS").exists() &&
        java.nio.file.Files.exists(sentinel) &&
        new String(java.nio.file.Files.readAllBytes(sentinel), "UTF-8") == base
    if (!complete) {
      System.err.println(s"[scaleup] materializing $sf1 from $base (x10)")
      val reps = spark.range(0, 10).select(col("id").as("_rep"))
      def amp(table: String, idCol: String): Unit =
        graft.core.Tables.load(spark, base, table)
          .crossJoin(reps)
          .withColumn(idCol, col(idCol) + col("_rep") * 10000000L)
          .drop("_rep")
          .repartition(parts)
          .write.mode("overwrite").parquet(s"$sf1/$table.parquet")
      amp("documents", "doc_id")
      amp("embeddings", "vec_id")
      java.nio.file.Files.createDirectories(sentinel.getParent)
      java.nio.file.Files.write(sentinel, base.getBytes("UTF-8"))
    }
  }

  def main(args: Array[String]): Unit = {
    val queryNames = if (args.nonEmpty) args.toSeq else DEFAULTS
    // same contract as Bench.scala: the decade's BASE scale comes from
    // the environment (ADVICE r19 — a hardcoded base silently diverges
    // from what the driver benches)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ensureReplicas(spark, base, sf1, cpus.toInt)

    def time(name: String, sfDir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }

    // untimed warm pass at BOTH scales (JVM/codegen warmup + the
    // decode-once memo build must not land on a timed cell — the sf1
    // memo build is corpus-sized, so warming only the base scale would
    // charge it to the first timed sf1 cell; ADVICE r19)
    queryNames.foreach { q => time(q, base); time(q, sf1) }
    println(f"${"query"}%-28s ${"sf0.1"}%8s ${"sf1"}%8s ${"alpha"}%7s")
    queryNames.foreach { q =>
      val t01 = math.min(time(q, base), time(q, base))
      val t1 = math.min(time(q, sf1), time(q, sf1))
      val alpha = math.log10(t1 / t01)
      println(f"$q%-28s $t01%8.2f $t1%8.2f $alpha%7.2f")
    }
    spark.stop()
  }
}
