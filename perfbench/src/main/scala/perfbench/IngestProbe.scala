package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Tables
import graft.operators.{Dedup, Similarity}
import graft.streaming.EventsStreaming

/** The write path beside the reads, traced once per traced curate_batch
  * run: the corpus lands as a bootstrap slice plus `Batches` landing
  * batches, and each batch is maintained into on-disk stores by the
  * streaming operators (soft-dedup weights from its near-duplicate
  * pairs, IVF-PQ codes from its embeddings, each an AvailableNow run
  * over the landing directory). After each commit the stores are read
  * back and serve a filtered IVF-PQ lookup. After the last batch both
  * stores are compacted and a retraction list is forgotten.
  *
  * Checks, each a failure when it does not hold: the final stores equal
  * the batch operators over everything landed, and the retractions
  * equal the batch operators over the survivors. */
object IngestProbe {
  val Batches = 2

  private val pairSchema = StructType(Seq(
    StructField("id1", LongType), StructField("id2", LongType)))

  def run(spark: SparkSession, tr: Tracer, dir: String,
      index: (Array[(Int, Array[Long])], Array[Array[(Int, Array[Long])]]))
      : (Map[String, Double], Seq[String]) = {
    val (coarse, books) = index
    val base = Files.createTempDirectory("perfbench-ingest").toString
    val (wStore, cStore) = (s"$base/weights", s"$base/codes")
    val (pLand, vLand) = (s"$base/land/pairs", s"$base/land/vecs")
    // slot 0 bootstraps the stores; slot b lands with batch b
    def slot(c: Column): Column = pmod(c, lit(Batches + 1))
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7,
      shingleN = 3, bands = 4, rowsPerBand = 3).select("id1", "id2").localCheckpoint()
    val ids = docs.select(col("doc_id").as("id"))
    Dedup.softDedupFromPairs(ids.filter(slot(col("id")) === 0), "id",
        pairs.filter(slot(col("id1")) === 0 && slot(col("id2")) === 0))
      .write.parquet(s"$wStore/batch=-1")
    Similarity.ivfPqCodes(emb.filter(slot(col("vec_id")) === 0), "vec_id", "embedding",
      coarse, books).write.parquet(s"$cStore/batch=-1")
    val qs = CurateBatch.queries(emb)

    val errors = mutable.ArrayBuffer[String]()
    val batchS = mutable.ArrayBuffer[Double]()
    val filesAfter = mutable.ArrayBuffer[Int](storeFiles(base))
    var landedBytes = 0L
    for (b <- 1 to Batches) {
      // a pair lands with its later endpoint; a pair-free document
      // lands as a self-loop so it still enters the weight store
      pairs.filter(greatest(slot(col("id1")), slot(col("id2"))) === b)
        .unionByName(docs.filter(slot(col("doc_id")) === b)
          .select(col("doc_id").as("id1"), col("doc_id").as("id2")))
        .coalesce(1).write.mode("append").parquet(pLand)
      emb.filter(slot(col("vec_id")) === b).coalesce(1).write.mode("append").parquet(vLand)
      landedBytes = dirBytes(s"$base/land")
      val t0 = System.nanoTime()
      await(EventsStreaming.streamingSoftDedupMaintenance(
          spark.readStream.schema(pairSchema).parquet(pLand), wStore)((_, _) => ()),
        s"$base/ckpt/weights")
      await(EventsStreaming.streamingIncrementalIvfPqCodes(
          spark.readStream.schema(emb.schema).parquet(vLand), cStore, coarse, books)((_, _) => ()),
        s"$base/ckpt/codes")
      batchS += (System.nanoTime() - t0) / 1e9
      filesAfter += storeFiles(base)
      // serve: latest weights and the codes store, then a filtered lookup
      val weights = latestSnapshot(tr.frame("streaming.EventsStreaming.readWeightStore") {
        EventsStreaming.readWeightStore(spark, wStore)
      })
      val codes = tr.frame("streaming.EventsStreaming.readCodesStore") {
        EventsStreaming.readCodesStore(spark, cStore)
      }.drop("batch")
      val landed = emb.filter(slot(col("vec_id")) <= b)
      tr.frame("operators.Similarity.filteredIvfPqTopKFromCodes") {
        Similarity.filteredIvfPqTopKFromCodes(codes, landed, qs, k = 10, coarse, books,
          nprobe = 2, coarseK = 50, pred = col("vec_id") % 2 === 0)
      }.collect()
      weights.collect()
    }
    val storeMb = dirBytes(wStore) / Tracer.MB + dirBytes(cStore) / Tracer.MB
    val storeFileCount = storeFiles(base)

    tr.call("streaming.EventsStreaming.compactStore") {
      EventsStreaming.compactStore(spark, wStore, snapshotLayout = true)
      EventsStreaming.compactStore(spark, cStore, snapshotLayout = false)
    }
    val weights = EventsStreaming.readWeightStore(spark, wStore).drop("batch")
    val codes = EventsStreaming.readCodesStore(spark, cStore).drop("batch")
    def same(what: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (Digest.of(got.select(want.columns.map(col): _*)), Digest.of(want))
      if (g != w) errors += s"ingest $what: store $g != batch form $w"
    }
    same("weights", weights, Dedup.softDedupFromPairs(ids, "id", pairs))
    same("codes", codes, Similarity.ivfPqCodes(emb, "vec_id", "embedding", coarse, books))

    val gone = ids.filter(slot(col("id")) =!= 0 && col("id") % 7 === 0)
    val keptPairs = pairs.join(gone.withColumnRenamed("id", "id1"), Seq("id1"), "left_anti")
      .join(gone.withColumnRenamed("id", "id2"), Seq("id2"), "left_anti").select("id1", "id2")
    same("retracted weights", tr.frame("operators.Dedup.retractSoftDedup") {
      Dedup.retractSoftDedup(weights, pairs, gone)
    }, Dedup.softDedupFromPairs(ids.join(gone, Seq("id"), "left_anti"), "id", keptPairs))
    val goneVecs = emb.select("vec_id")
      .join(gone.select(col("id").as("vec_id")), Seq("vec_id"), "left_semi")
    same("retracted codes", tr.frame("operators.Similarity.retractIvfPqCodes") {
      Similarity.retractIvfPqCodes(codes, goneVecs)
    }, Similarity.ivfPqCodes(emb.join(goneVecs, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", coarse, books))
    deleteRecursively(new File(base))
    tr.drain()

    val sorted = batchS.sorted
    val metrics = Map(
      "streaming.batch_s_p50" -> sorted(sorted.size / 2),
      "sources.store_mb" -> storeMb,
      "sources.store_files" -> storeFileCount.toDouble,
      "sources.files_per_batch" -> (filesAfter.last - filesAfter.head).toDouble / Batches,
      "sources.write_mb" -> tr.totalsUnder("ingest").written / Tracer.MB,
      "sources.store_bytes_per_input_byte" -> storeMb * Tracer.MB / math.max(1L, landedBytes),
      "streaming.compact_rewrite_mb" ->
        tr.writtenBy("streaming.EventsStreaming.compactStore") / Tracer.MB)
    (metrics, errors.toSeq)
  }

  private def await(w: org.apache.spark.sql.streaming.DataStreamWriter[_], ckpt: String): Unit = {
    val q = w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def latestSnapshot(store: DataFrame): DataFrame = {
    val latest = store.agg(max(col("batch"))).head().getAs[Number](0).longValue
    store.filter(col("batch") === latest).drop("batch")
  }

  private def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(dir))
  }

  private def storeFiles(base: String): Int =
    files(s"$base/weights").size + files(s"$base/codes").size

  private def dirBytes(dir: String): Long = files(dir).map(_.length).sum

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
