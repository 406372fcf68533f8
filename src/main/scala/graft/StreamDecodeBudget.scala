package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming decode budget (VERDICT r19 #4): the streaming video
  * near-dup gate carries a per-micro-batch in-DAG decode term that
  * was pinned as the designed behavior but never BUDGETED. This main
  * measures the codec pass itself — `videoMediaFromDocuments` →
  * `videoFrameSignatures` (ImageIO decode + block-mean grid hash in
  * ONE typed mapPartitions, payloads never shuffling) — at sf0.1 and
  * the sf1 replica decade, in both shapes:
  *
  *  - BATCH: the decode expression over the streamed slice
  *    (`doc_id % 3 != 0`) as a plain count — frames/sec with the scan
  *    parallelized by `spark.sql.files.maxPartitionBytes`.
  *  - STREAMING: the same slice through a real file-source
  *    AvailableNow query (the gate's `readStream` shape), timing each
  *    micro-batch in `foreachBatch` — frames/sec as the micro-batch
  *    pipeline delivers them, and the number of input partitions the
  *    decode stage actually got (the saturation question: a
  *    small-file source gives the codec pass only as many tasks as
  *    the source has splits, whatever the executor count).
  *
  * Prints one line per (scale, shape): frames, seconds, frames/sec,
  * batches. Adjudication lands in PLANS.md ("Round-20: streaming
  * decode budget").
  */
object StreamDecodeBudget {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    BenchScaleUp.ensureReplicas(spark, base, sf1, cpus.toInt)

    def sigCount(docs: org.apache.spark.sql.DataFrame): Long =
      operators.Multimodal.videoFrameSignatures(
        operators.Multimodal.videoMediaFromDocuments(docs),
        operators.Multimodal.VideoFrameBytes).toDF()
        .filter(col("decoded")).count()

    for ((name, dir) <- Seq("sf0.1" -> base, "sf1" -> sf1)) {
      val slice = graft.core.Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 =!= 0)
      // batch shape: untimed warm pass, then min of two
      sigCount(slice)
      def one(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = sigCount(slice)
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val (n1, s1) = one(); val (_, s2) = one()
      val bs = math.min(s1, s2)
      println(f"[decode-budget] $name batch frames=$n1 secs=$bs%.2f fps=${n1 / bs}%.0f")

      // streaming shape: the gate's source, decode, AvailableNow
      val schema = graft.core.Tables.documents(spark, dir).schema
      val src = operators.Multimodal.videoFrameSignatures(
        operators.Multimodal.videoMediaFromDocuments(
          spark.readStream.schema(schema)
            .parquet(s"$dir/documents.parque[t]")
            .filter(col("doc_id") % 3 =!= 0)),
        operators.Multimodal.VideoFrameBytes).toDF()
        .filter(col("decoded"))
      var frames = 0L
      var batches = 0
      var parts = 0
      val t0 = System.nanoTime()
      val q = src.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          parts = math.max(parts, df.rdd.getNumPartitions)
          frames += df.count()
          batches += 1
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-ckpt-sdb").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ss = (System.nanoTime() - t0) / 1e9
      println(f"[decode-budget] $name stream frames=$frames secs=$ss%.2f " +
        f"fps=${frames / ss}%.0f batches=$batches decodeParts=$parts")
    }
    spark.stop()
  }
}
