package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}
import graft.core.Caches.TrackedPersist
import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup, ScaleOps, Similarity}

/** One batch curation pass over a generated corpus with planted exact
  * and near-duplicate clusters, a held-out eval slice that overlaps
  * train, and clustered embeddings:
  * filter -> exactDedup -> minhashNearDupPairs -> connectedComponents
  * -> softDedupFromPairs -> contaminationHits -> packSequences, plus
  * an IVF-PQ index + search with a brute-force ground truth.
  *
  * Parameters are those of the library's gate compositions
  * (q_curate_full, q_soft_dedup, q_embed_topk, q_embed_ivfpq), so the declared oracle SQL checks the outputs. The
  * near-duplicate pairs are mined once over the whole corpus: LSH
  * pair membership depends only on the two documents, so the pairs of
  * the exact-deduped subset are the corpus pairs with both ends in it
  * — the q_curate_full oracle checks that identity on every pass. */
object CurateBatch extends Workload {
  val name = "curate_batch"

  val oracleKeys: Seq[String] = Seq("q_curate_full", "q_soft_dedup", "q_embed_topk",
    "q_embed_ivfpq")

  // gate parameters (queries/ExtDedupGates.scala, ExtResolveGates.scala,
  // ExtSimilarityGates.scala)
  private val Bands = 4
  private val RowsPerBand = 3
  private val BlockedSources = Seq("src13", "src17")
  private val Dims = 64
  private val Cells = 8
  private val CellIters = 2
  private val PqM = 4
  private val PqCodes = 16
  private val PqIters = 2
  private val Nprobe = 2
  private val CoarseK = 50

  private var dir: String = _
  private var rows = 0L
  def inputRows: Long = rows

  def register(spark: SparkSession, d: String): Unit = {
    dir = d
    rows = Tables.documents(spark, d).count() + Tables.embeddings(spark, d).count()
  }

  /** The Gopher shape rules of the q_curate_full composition, as one
    * per-row predicate. */
  private def gopherKeep(df: DataFrame): Column = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val meanLen = round(length(array_join(toks, "")).cast("double") / greatest(nTok, lit(1)), 6)
    val sh = Dedup.shinglesAuto(df, "text", 3)
    val dupFrac = round(when(size(sh) > 0,
      lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh)).otherwise(0.0), 6)
    nTok >= 5 && meanLen >= 3.0 && meanLen <= 10.0 && dupFrac < 0.3
  }

  def queries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  def pass(spark: SparkSession, tr: Tracer): Outputs = {
    val out = new Outputs
    try {
      val docs = Tables.documents(spark, dir)
      val clean = tr.frame("operators.Corpus.blocklistFilter") {
        Corpus.blocklistFilter(Tables.spreadIfNarrow(docs), "source", BlockedSources)
          .filter(gopherKeep(docs)).select("doc_id", "text")
      }
      val ded = tr.frame("operators.Dedup.exactDedup") {
        Dedup.exactDedup(clean, "text", "doc_id").select("doc_id", "text")
      }.persistTracked()
      val pairs = tr.frame("operators.Dedup.minhashNearDupPairs") {
        Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7,
          shingleN = 3, bands = Bands, rowsPerBand = RowsPerBand)
          .select("id1", "id2")
      }.persistTracked()
      val dedIds = ded.select("doc_id")
      val dedPairs = pairs
        .join(dedIds.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
        .join(dedIds.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_semi")
        .select("id1", "id2")
      val dupIds = tr.frame("operators.Dedup.connectedComponents") {
        Dedup.connectedComponents(dedPairs, "id1", "id2")
      }.filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      val soft = tr.frame("operators.Dedup.softDedupFromPairs") {
        Dedup.softDedupFromPairs(docs.select("doc_id"), "doc_id", pairs)
      }
      out.add("q_soft_dedup", soft)

      val canon = ded.join(dupIds, Seq("doc_id"), "left_anti")
      val train0 = ScaleOps.hashSplit(canon, "doc_id", holdoutPct = 10)
        .filter(col("split") === "train").select("doc_id", "text").persistTracked()
      val evalDocs = ScaleOps.hashSplit(docs, "doc_id", holdoutPct = 10)
        .filter(col("split") === "holdout")
      val contaminated = tr.frame("operators.Corpus.contaminationHits") {
        Corpus.contaminationHits(train0, evalDocs, "doc_id", "text", n = 13,
          spreadTrain = false)
      }.select("doc_id")
      val slim = train0.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
        .persistTracked()
      out.add("q_curate_full", tr.frame("operators.ScaleOps.packSequences") {
        ScaleOps.packSequences(slim, "doc_id", col("nt"), ctxLen = 512L)
      })

      val emb = Tables.embeddings(spark, dir)
      val (coarse, books) = tr.call("operators.Similarity.ivfPqIndex") {
        Similarity.ivfPqIndex(emb, "vec_id", "embedding", dims = Dims, cells = Cells,
          cellIters = CellIters, m = PqM, codes = PqCodes, pqIters = PqIters)
      }
      out.addRows("ivfpq_index", coarse.map { case (c, v) => Seq(-1, c, v.toSeq) } ++
        books.zipWithIndex.flatMap { case (b, i) => b.map { case (c, v) => Seq(i, c, v.toSeq) } })
      val qs = queries(emb)
      val ann = tr.frame("operators.Similarity.ivfPqTopK") {
        Similarity.ivfPqTopK(emb, qs, k = 10, coarse, books, nprobe = Nprobe, coarseK = CoarseK)
          .select("q_id", "vec_id", "score", "rank")
      }
      out.add("q_embed_ivfpq", ann)
      val bf = tr.frame("operators.Similarity.bruteForceTopK") {
        Similarity.bruteForceTopK(emb, qs, k = 10).select("q_id", "vec_id", "score", "rank")
      }
      out.add("q_embed_topk", bf)
      lastIndex = (coarse, books)
    } finally Caches.release(spark)
    out
  }

  private var lastIndex: (Array[(Int, Array[Long])], Array[Array[(Int, Array[Long])]]) = _

  /** Corpus rows the IVF probe scores per query: the sizes of each
    * query's `Nprobe` nearest cells, nearest by the operator's integer
    * argmin (fixed point at scale 1e6, ties to the lower cell id). */
  private def candidatesPerQuery(emb: DataFrame): Double = {
    val (coarse, books) = lastIndex
    val cellSize = Similarity.ivfPqCodes(emb, "vec_id", "embedding", coarse, books)
      .groupBy("cell").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qs = queries(emb).collect().map(_.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val probed = qs.map { q =>
      coarse.map { case (c, cv) =>
        (q.indices.map { i => val d = q(i) - cv(i); d * d }.sum, c)
      }.sorted.take(Nprobe).map { case (_, c) => cellSize.getOrElse(c.toLong, 0L) }.sum
    }
    probed.sum.toDouble / math.max(1, probed.length)
  }

  override def tracedProbe(spark: SparkSession, tr: Tracer): (Map[String, Double], Seq[String]) =
    tr.call("ingest")(IngestProbe.run(spark, tr, dir, lastIndex))

  override def layerExtras(spark: SparkSession): Map[String, Double] = {
    val docs = Tables.documents(spark, dir).persist()
    val emb = Tables.embeddings(spark, dir).persist()
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7,
      shingleN = 3, bands = Bands, rowsPerBand = RowsPerBand).count()
    val candidates = Dedup.lshCandidatePairs(docs, "doc_id", "text", shingleN = 3,
      bands = Bands, rowsPerBand = RowsPerBand).count()
    val (coarse, books) = lastIndex
    val qs = queries(emb)
    val recall = Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, qs, k = 10),
      Similarity.ivfPqTopK(emb, qs, k = 10, coarse, books, nprobe = Nprobe, coarseK = CoarseK))
      .agg(avg("recall")).head().getDouble(0)
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    def nsPerRow(df: DataFrame, n: Double): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      ts.sorted.apply(1) / n
    }
    val m = Map(
      "functions.shingles.ns_per_row" ->
        nsPerRow(docs.select(Dedup.shinglesAuto(docs, "text", 3)), nDocs),
      "functions.minhash.ns_per_row" ->
        nsPerRow(docs.select(call_function("graft_minhash", Dedup.shinglesAuto(docs, "text", 3),
          lit(Bands * RowsPerBand))), nDocs),
      "functions.simhash60.ns_per_row" ->
        nsPerRow(docs.select(Dedup.simhash60Auto(docs, "text")), nDocs),
      "functions.dot.ns_per_row" ->
        nsPerRow(emb.select(Similarity.dotAuto(emb, col("embedding"), col("embedding"))), nEmb),
      "operators.Dedup.lsh_pair_precision" ->
        (if (candidates == 0) 0.0 else pairs.toDouble / candidates),
      "operators.Similarity.recall_at_k" -> recall,
      "operators.Similarity.candidates_per_query" -> candidatesPerQuery(emb))
    docs.unpersist()
    emb.unpersist()
    m
  }
}
