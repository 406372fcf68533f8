package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** One store family of the streaming increment protocol: the declared
  * `schema` of its records and whether each batch APPENDS rows or
  * writes a whole-table SNAPSHOT.
  *
  * The protocol, stated once for every `streaming*` maintenance form
  * in [[EventsStreaming]]:
  *
  *  - LAYOUT. A store is a parquet directory of `batch=<id>`
  *    partitions; micro-batch `b` owns `batch=b`. A store bootstrapped
  *    before the stream lives under a NEGATIVE id (a write at batch
  *    `-1`): partition discovery rejects flat files mixed with
  *    partition directories, and negative ids never trip the lineage
  *    guard below.
  *  - READ ([[read]]). Partition discovery exposes the partitions as a
  *    `batch` column. A missing path is the stream-first bootstrap and
  *    reads as the empty frame with the declared schema — unless an
  *    interrupted [[EventsStreaming.compactStore]] swap left a
  *    `.old` / `.compacting` copy next door, which fails loud (starting
  *    empty would re-admit every duplicate). The catch is narrow: only
  *    the no-data-at-path conditions; a corrupt store fails the batch.
  *  - PRIOR STATE ([[prior]]). A batch reads the store WITHOUT its own
  *    partition: every other partition for an append store, the latest
  *    other snapshot for a snapshot store. `foreachBatch` is
  *    at-least-once, so a replayed batch then sees exactly what its
  *    first attempt saw instead of self-matching against its own
  *    partial write. Streaming batches commit in order, so a partition
  *    BEYOND the current batch id proves the store belongs to another
  *    checkpoint (ids reset to 0 on a fresh one) — writing on would
  *    overwrite that run's partitions, so it fails loud (one checkpoint
  *    per store; compaction re-bootstraps a store for a new one). Both
  *    probes parse the driver-side file listing: no job, no data page.
  *  - WRITE ([[Store.write]]). Each batch OVERWRITES its own partition,
  *    so a retry replaces the failed attempt's rows.
  *  - MATERIALIZATION. An increment whose plan reads the store path is
  *    materialized (`localCheckpoint`, eager) before the write:
  *    Spark's recacheByPath would otherwise recompute it against the
  *    store it just extended, and every row would match itself.
  *    Increments that read only the batch need no checkpoint.
  *  - SCOPE. [[Store.maintain]] runs each batch under
  *    `Caches.releaseScoped`, so the caches an increment tracks are
  *    freed when its batch ends.
  *
  * The layout is fixed by the family, never by a caller: there is no
  * option to turn any of this off. */
final case class Store(schema: StructType, snapshot: Boolean = false) {

  /** The whole store, `batch` column included when partitioned. */
  def read(spark: SparkSession, path: String): DataFrame =
    try spark.read.option("basePath", path).parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Seq("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
            .exists(c => Option(e.getCondition).exists(_.startsWith(c))) =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val debris = Seq(".old", ".compacting")
          .map(s => new org.apache.hadoop.fs.Path(path + s))
          .filter(fs.exists)
        if (debris.nonEmpty) throw new IllegalStateException(
          s"store at $path is missing but an interrupted compactStore " +
            s"swap left ${debris.mkString(", ")} — recover the interrupted " +
            "swap by renaming the surviving copy back to the store path; " +
            "bootstrapping empty would re-admit every duplicate")
        empty(spark)
    }

  /** The state batch `batchId` builds on, without the `batch` column:
    * the lineage guard, then every other partition (append) or the
    * latest other snapshot (snapshot). */
  def prior(spark: SparkSession, path: String, batchId: Long): DataFrame = {
    val store = read(spark, path)
    if (!store.columns.contains("batch")) return store
    val ids = Store.batchIds(store)
    val beyond = ids.filter(_ > batchId)
    require(beyond.isEmpty,
      s"streaming store at $path: found batch=${beyond.max} beyond this " +
        s"run's batch id $batchId — the store was written by a different " +
        "checkpoint lineage (one checkpoint per store); restarting with a " +
        "fresh checkpoint needs the store compacted and re-bootstrapped " +
        "under batch=<negative id>")
    if (!snapshot) store.filter(col("batch") =!= batchId).drop("batch")
    else ids.filter(_ != batchId).reduceOption(_ max _) match {
      case Some(latest) => store.filter(col("batch") === latest).drop("batch")
      case None => empty(spark)
    }
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}

object Store {

  /** Overwrite partition `batch=<batchId>` of the store at `path` with
    * `df`; a bootstrap is a write at batch `-1`. */
  def write(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** The batch ids of a partitioned store's files, parsed from its
    * file listing on the driver (no job). The LAST `batch=` segment of
    * a path wins, so a store rooted under a `batch=` directory still
    * parses its own partitions; a partition without files is absent. */
  private[streaming] def batchIds(store: DataFrame): Seq[Long] = {
    val re = "/batch=(-?\\d+)/".r
    store.inputFiles.toSeq
      .flatMap(f => re.findAllMatchIn(f).toSeq.lastOption.map(_.group(1).toLong))
  }

  /** The streaming writer that runs `step(batch, batchId)` once per
    * micro-batch under a scoped cache release; the caller starts it
    * with its own trigger and checkpoint. */
  def maintain(stream: DataFrame)(step: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      graft.core.Caches.releaseScoped[Unit](step(batch.toDF(), batchId))
    }
}
