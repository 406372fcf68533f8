package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Dev harness behind the PLANS.md ANN parameter tables: measures
  * recall@10 of IVF-PQ configurations (raw vs normalized ingest,
  * nprobe / codes / coarseK grid) against the brute-force cosine
  * ground truth on one SF dir. `runMain graft.AnnSweep [sfDir]`.
  * Measurement tool only — the shipped configs live in Extensions. */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.core.Caches.persistTracked(
      graft.core.Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding")))
    val qs = graft.core.Caches.persistTracked(
      emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))
    val bf = graft.core.Caches.persistTracked(
      Similarity.bruteForceTopK(emb, qs, k = 10))

    val embN = graft.core.Caches.persistTracked(
      emb.select(col("vec_id"),
        Similarity.normalizeFixedPoint(col("embedding"))
          .cast("array<double>").as("embedding")))
    val qsN = graft.core.Caches.persistTracked(
      qs.select(col("q_id"),
        Similarity.normalizeFixedPoint(col("q_vec"))
          .cast("array<double>").as("q_vec")))

    def meanRecall(ann: DataFrame): Double =
      Similarity.recallAtK(bf, ann)
        .agg(avg(col("recall"))).head().getDouble(0)

    def sweep(label: String, corpus: DataFrame, queries: DataFrame,
        scale: Double, cells: Int, codes: Int,
        nprobes: Seq[Int], coarseKs: Seq[Int]): Unit = {
      val (coarse, books) = Similarity.ivfPqIndex(corpus, "vec_id",
        "embedding", dims = 64, cells = cells, cellIters = 2,
        m = 4, codes = codes, pqIters = 2, scale = scale)
      for (np <- nprobes; ck <- coarseKs) {
        val t0 = System.nanoTime()
        val r = meanRecall(Similarity.ivfPqTopK(corpus, queries, k = 10,
          coarse, books, nprobe = np, coarseK = ck, scale = scale))
        println(f"$label%-10s cells=$cells codes=$codes nprobe=$np%2d coarseK=$ck%4d " +
          f"recall@10=$r%.3f (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      }
    }

    val (nps, cks) = (Seq(1, 2, 4, 8), Seq(50, 100))
    sweep("raw", emb, qs, 1e6, cells = 8, codes = 16, nps, cks)
    sweep("norm", embN, qsN, 1.0, cells = 8, codes = 16, nps, cks)
    sweep("norm", embN, qsN, 1.0, cells = 8, codes = 64, Seq(2, 4), cks)
    sweep("norm", embN, qsN, 1.0, cells = 16, codes = 16, Seq(2, 4), cks)
    // X157 random-projection tier: recall vs (outDims, coarseK)
    for (od <- Seq(8, 16, 32); ck <- Seq(20, 50, 100)) {
      val t0 = System.nanoTime()
      val r = meanRecall(Similarity.rpTopK(emb, qs, k = 10,
        outDims = od, dims = 64, coarseK = ck))
      println(f"rp         outDims=$od%2d coarseK=$ck%4d " +
        f"recall@10=$r%.3f (${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    // X162 binary sign tier: recall vs coarseK — the single knob of
    // the 1-bit rung (no training, no dims trade; the coarse budget
    // IS the recall budget)
    for (ck <- Seq(20, 50, 100, 200)) {
      val t0 = System.nanoTime()
      val r = meanRecall(Similarity.binaryRerankTopK(emb, qs,
        coarseK = ck, k = 10, dims = 64))
      println(f"binary     coarseK=$ck%4d " +
        f"recall@10=$r%.3f (${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    // X158 MMR: the relevance/diversity trade vs lambda — mean
    // selected relevance (rel6/1e6) against mean pairwise cosine of
    // each query's selected set (the redundancy MMR suppresses)
    for (lam <- Seq(100, 85, 70, 50, 30)) {
      val t0 = System.nanoTime()
      val sel = Similarity.mmrTopK(emb, qs, k = 10, fetchK = 50,
        lambdaPct = lam)
      val meanRel = sel.agg(avg(col("rel") / 1e6)).head().getDouble(0)
      val withVec = sel.select(col("q_id"), col("vec_id")).join(emb, Seq("vec_id"))
      val a = withVec.select(col("q_id"), col("vec_id").as("_a"),
        col("embedding").as("_va"))
      val b = withVec.select(col("q_id"), col("vec_id").as("_b"),
        col("embedding").as("_vb"))
      val meanPairSim = a.join(b, Seq("q_id"))
        .filter(col("_a") < col("_b"))
        .agg(avg(Similarity.cosineAuto(col("_va"), col("_vb"))))
        .head().getDouble(0)
      println(f"mmr        lambda=$lam%3d meanRel=$meanRel%.3f " +
        f"meanPairSim=$meanPairSim%.3f (${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    spark.stop()
  }
}
