package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (SURVEY §2.9 —
  * designed-for capability; the reference is batch-only).
  *
  * Shapes provided:
  *  - event-time tumbling-window aggregation with a watermark (the
  *    canonical readStream → window().agg → writeStream pipeline);
  *  - stateful sessionization via flatMapGroupsWithState (custom
  *    per-key state, event-time timeout);
  *  - batch-equivalent forms of both, used by the correctness oracle
  *    (same logical result as running the stream to completion with
  *    Trigger.AvailableNow).
  *
  * At scale: state is keyed by (window/user), so the state store
  * shards with the shuffle partitioning; the watermark bounds state
  * size; no per-batch collects.
  */
object EventsStreaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a parquet directory. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** The driver's events.parquet `ts` physical type has varied across
    * generations (TIMESTAMP(NANOS), non-UTC-adjusted TIMESTAMP(MICROS)
    * = TIMESTAMP_NTZ, plain timestamp). A streaming source needs its
    * schema DECLARED, so probe the footer with one batch read (schema
    * only — no data scan) and stream with the matching declared type,
    * normalizing to TimestampType like Tables.events. */
  val eventSchemaNanos: StructType = StructType(eventSchema.map {
    case f if f.name == "ts" => StructField("ts", LongType)
    case f => f
  })

  val eventSchemaNtz: StructType = StructType(eventSchema.map {
    case f if f.name == "ts" => StructField("ts", TimestampNTZType)
    case f => f
  })

  def readDriverEventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // empty / not-yet-populated directory (stream-first pattern): no
    // footer to probe — default to the current driver generation (NTZ
    // micros) rather than failing before the stream even starts. The
    // catch is NARROW (exactly the no-footer-to-probe conditions): a
    // transient probe failure over a real NANOS directory must fail
    // HERE, at stream setup, not later as a per-batch parquet type
    // error under a silently-wrong declared schema.
    val probed =
      try spark.read.parquet(path).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Seq("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")
              .exists(c => Option(e.getCondition).exists(_.startsWith(c))) =>
          TimestampNTZType
      }
    probed match {
      case LongType =>
        spark.readStream.schema(eventSchemaNanos).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        spark.readStream.schema(eventSchemaNtz).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        spark.readStream.schema(eventSchema).parquet(path)
    }
  }

  /** Tumbling 5-minute window counts/sums per event_type with a
    * 10-minute watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Batch-equivalent of windowedAgg (what the finished stream
    * equals); used for the DuckDB-oracle check. */
  def windowedAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Run the streaming aggregation to completion over static input
    * (Trigger.AvailableNow) and return the result table. */
  def runWindowedAggToCompletion(spark: SparkSession, eventsDir: String,
      checkpoint: String): DataFrame = {
    val q = windowedAgg(readEventsStream(spark, eventsDir))
      .writeStream
      .format("memory")
      .queryName("events_windowed")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("events_windowed")
  }

  /** Stream-static enrichment join + windowed agg: the always-on
    * pipeline shape where each event is enriched against a slowly-
    * changing dimension before aggregation. The static side
    * broadcasts (no stream-side shuffle for the join, no state) —
    * at scale the dim re-broadcasts per micro-batch, which is exactly
    * the semantics wanted for a refreshable lookup table. Tumbling
    * 10-minute windows per enriched category; decimal sum keeps the
    * total exact in any accumulation order. */
  def enrichedWindowedAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "10 minutes"), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("category"),
        col("n"), col("total"))

  /** Streaming exact-dedup: content-fingerprinted documents deduped
    * incrementally — the shape an always-on ingest pipeline uses.
    * `dropDuplicatesWithinWatermark` specifically: plain
    * `dropDuplicates(fp)` never evicts state unless the EVENT-TIME
    * column is part of the key set, so its fingerprint state grows
    * with the corpus forever — the within-watermark variant is the
    * API whose state actually IS bounded by the watermark (one
    * fingerprint per document seen in the last hour, the guarantee an
    * always-on 100 TB/day ingest needs). Duplicates separated by more
    * than the watermark delay re-emit; cross-window history is the
    * STORE's job ([[streamingIncrementalDedup]]). */
  def streamingDedup(docs: DataFrame, tsCol: String, fpCol: String): DataFrame =
    docs.withWatermark(tsCol, "1 hour")
      .dropDuplicatesWithinWatermark(Seq(fpCol))

  /** Streaming incremental exact dedup (X122) — the always-on form of
    * [[graft.operators.Dedup.incrementalExactDedup]], and the same
    * Bloom-prefiltered shape: a driver-merged Bloom filter over the
    * store's fingerprints (bits ≪ keys, built ONCE at stream setup)
    * splits each micro-batch map-side into a definitely-fresh slice
    * and a Bloom-maybe slice; only the maybe slice (true dupes + the
    * fpp fraction of fresh rows) pays the stream-static LEFT ANTI
    * join against the store, pinned shuffle-hash — the store is
    * corpus-sized by this op's own contract, so it must NEVER ride a
    * per-micro-batch BroadcastExchange (a ~10⁹-row store re-broadcast
    * every batch is a driver/executor OOM; the batch sibling X112
    * proves the Bloom shape). Bloom's no-false-negatives guarantee
    * keeps the split exact: every stored fingerprint is maybe-routed,
    * so the result equals the plain anti-join. WITHIN-stream repeats
    * then resolve via `dropDuplicatesWithinWatermark` (NOT plain
    * `dropDuplicates`, whose state never evicts without the event-time
    * column in the key set) — state holds one fingerprint per
    * fresh-and-recent doc, genuinely watermark-bounded; store
    * fingerprints never enter streaming state.
    *
    * Snapshot contract: the anti-join's static side re-plans every
    * micro-batch (a store the ingest job appends to is picked up on
    * refresh), but the Bloom is a STREAM-START snapshot — a
    * fingerprint first ingested by THIS stream routes fresh on
    * recurrence, so its dedup window is the watermark until the
    * stream (or its Bloom) restarts. The broadcast form had the same
    * hand-off bounded by one micro-batch instead of one stream
    * lifetime; an always-on deployment restarts on its store-compact
    * cadence, which refreshes the Bloom. Sizing follows X112:
    * `expectedStoreKeys = 0` derives the key count from the store
    * itself (one bounded count at setup — a 10⁹-row store gets a
    * 10⁹-key Bloom instead of a silently saturated guess); pass a
    * positive value to skip the count job. */
  def streamingIncrementalDedup(docs: DataFrame, priorFps: DataFrame,
      tsCol: String, fpCol: String,
      expectedStoreKeys: Long = 0L, fpp: Double = 0.01): DataFrame = {
    require(expectedStoreKeys >= 0L,
      s"expectedStoreKeys must be >= 0 (0 = derive from the store), got $expectedStoreKeys")
    val storeFps = priorFps.select(col(fpCol))
    val wm = docs.withWatermark(tsCol, "1 hour")
    // empty store: everything is fresh — and stat.bloomFilter NPEs on
    // an empty frame (null aggregation buffer), so this guard is a
    // correctness path, not just a fast one (first-increment /
    // stream-first deployments start here)
    if (storeFps.isEmpty)
      return wm.dropDuplicatesWithinWatermark(Seq(fpCol))
    val keys =
      if (expectedStoreKeys > 0L) expectedStoreKeys
      else math.max(storeFps.count(), 1L)
    val bloom = storeFps.stat.bloomFilter(fpCol, keys, fpp)
    val (maybe, fresh) = graft.operators.ScaleOps.bloomSplit(wm, bloom, fpCol)
    val confirmedNew = maybe.join(
      storeFps.select(col(fpCol).as("_pfp")).hint("shuffle_hash"),
      col(fpCol) === col("_pfp"), "left_anti")
    confirmedNew.unionByName(fresh)
      .dropDuplicatesWithinWatermark(Seq(fpCol))
  }

  // ---------------- store-maintenance streams ----------------
  //
  // Every form below is one [[Store.maintain]] step over `batch=<id>`
  // stores; the protocol (layout, self-excluded prior reads, per-batch
  // overwrite, negative-id bootstrap, pre-write checkpoint, scoped
  // release) is stated once on [[Store]]. Each scaladoc says only what
  // its family adds. `sink` receives the batch's result and id; the
  // caller starts the returned writer with its own trigger and
  // checkpoint.

  private val nearDupStore = Store(new StructType().add("id", LongType)
    .add("shingles", ArrayType(StringType)).add("sig", ArrayType(StringType)))
  private val exactStore = Store(new StructType().add("fp", StringType))
  private val ttlStore = Store(new StructType().add("fp", StringType).add("last_ts", LongType))
  private val semanticStore = Store(new StructType().add("id", LongType)
    .add("embedding", ArrayType(FloatType)).add("cell", LongType))
  private val codesStore = Store(new StructType().add("vec_id", LongType)
    .add("cell", LongType).add("codes", ArrayType(LongType)))
  private val videoSigStore = Store(new StructType().add("media_id", LongType)
    .add("fhash", LongType))
  private val substringStore = Store(new StructType().add("gh", StringType))
  private val fingerprintStore = Store(new StructType().add("id", LongType).add("sig", LongType))
  private val labelStore = Store(new StructType().add("id", LongType)
    .add("cluster_id", LongType), snapshot = true)
  private val pickStore = Store(new StructType().add("cluster_id", LongType)
    .add("canonical_id", LongType).add("score", LongType), snapshot = true)
  private val weightStore = Store(new StructType().add("id", LongType)
    .add("cluster_id", LongType).add("cluster_size", LongType)
    .add("weight_bp", LongType).add("keep", BooleanType), snapshot = true)
  private val wordCountStore = Store(new StructType().add("w", StringType).add("f", LongType))
  private val momentStore = Store(new StructType().add("i", IntegerType)
    .add("j", IntegerType).add("s", DecimalType(38, 0)))
  private val histogramStore = Store(new StructType().add("bin", LongType).add("n", LongType))
  private val dqFields = new StructType().add("constraint", StringType)
    .add("n_bad", LongType).add("value_bp", LongType).add("passed", BooleanType)
  private val dqStore = Store(dqFields)
  // the group key bootstraps as STRING, contentDigest's most common key
  // type; integral keys read back fine from real partitions
  private def manifestStore(groupCol: String) = Store(new StructType()
    .add(groupCol, StringType).add("n_rows", LongType)
    .add("xor_digest", LongType).add("sum_digest", LongType))
  private def dqGroupStore(groupCol: String) =
    Store(StructType(StructField(groupCol, StringType) +: dqFields.fields))
  private def deadLetterStore(rowSchema: StructType) =
    Store(rowSchema.add("_violations", ArrayType(StringType)))

  /** Streaming incremental NEAR-dup (X134): each micro-batch runs
    * [[graft.operators.Dedup.incrementalNearDup]] verbatim against the
    * store — append-mode streaming SQL cannot express X113's
    * candidate-verify joins plus per-doc aggregation — and appends its
    * survivors' index records (id, shingles, sig). The hand-off is
    * exact per micro-batch: a near-dup of any earlier survivor drops
    * however far apart the two arrive, with no watermark window. Each
    * batch's plan inherits every X113 pin (shuffle-hash store joins,
    * banding fail-fast, budget-gated candidate broadcasts). `sink`
    * receives the survivors (original columns + shingles/sig). */
  def streamingIncrementalNearDup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 3)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val store = nearDupStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = Dedup.incrementalNearDup(batch, store,
        textCol, idCol, threshold, shingleN, bands, rowsPerBand).localCheckpoint()
      Store.write(survivors.select(col(idCol).cast("long").as("id"),
        col("shingles"), col("sig")), storePath, batchId)
      sink(survivors.drop("band_keys"), batchId)
    }

  /** Streaming incremental EXACT dedup, micro-batch-composed (X145):
    * [[graft.operators.Dedup.incrementalExactDedup]] per batch, its
    * Bloom rebuilt from the store and sized by the store's count every
    * batch, so a fingerprint first ingested by THIS stream is caught on
    * any later recurrence (the DSL form [[streamingIncrementalDedup]]
    * re-emits for its stream lifetime). The trade is one extra store
    * scan per micro-batch; the store holds the survivors' `fp`. */
  def streamingIncrementalExactDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val store = exactStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = Dedup.incrementalExactDedup(batch, store,
        textCol, idCol).localCheckpoint()
      Store.write(survivors.select(col("fp")), storePath, batchId)
      sink(survivors, batchId)
    }

  /** Streaming TTL dedup (X203): each micro-batch runs
    * [[graft.operators.Dedup.incrementalTtlDedup]] against the folded
    * (fp, last_ts) store — a within-window repeat drops across any
    * batch gap, a post-expiry re-arrival is readmitted — and appends
    * [[graft.operators.Dedup.ttlStoreRecords]] (the batch's per-fp max
    * observation: observations, not survivors, advance the chain). The
    * read folds max(last_ts) per fp across partitions, exact because
    * the chain is monotone; out-of-order arrival fails loud inside the
    * increment. The batch is checkpointed too: it feeds two plans. */
  def streamingTtlDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, tsCol: String, ttlSeconds: Long)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val folded = ttlStore.prior(batch.sparkSession, storePath, batchId)
        .groupBy(col("fp")).agg(max(col("last_ts")).as("last_ts"))
      val b = batch.localCheckpoint()
      val survivors = Dedup.incrementalTtlDedup(b, folded,
        textCol, idCol, tsCol, ttlSeconds).localCheckpoint()
      Store.write(Dedup.ttlStoreRecords(b, textCol, tsCol), storePath, batchId)
      sink(survivors, batchId)
    }

  /** The TTL-dedup observation store (fp, last_ts — micros). */
  def readTtlStore(spark: SparkSession, path: String): DataFrame = ttlStore.read(spark, path)

  /** Streaming incremental SEMANTIC dedup (X146):
    * [[graft.operators.Similarity.incrementalSemanticDedup]] per batch
    * under the caller's FROZEN quantizer (X116 — centroids ride the
    * closure as plan literals, so every batch's cell assignment is
    * bit-identical to the one that built the store); appends the
    * survivors' (id, embedding, cell). */
  def streamingIncrementalSemanticDedup(docs: DataFrame, storePath: String,
      cents: Array[(Int, Array[Long])], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val store = semanticStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = graft.operators.Similarity.incrementalSemanticDedup(
        batch, store, cents, threshold, idCol, vecCol).localCheckpoint()
      Store.write(survivors, storePath, batchId)
      sink(survivors, batchId)
    }

  /** Streaming IVF-PQ serving-store maintenance (X200): each batch
    * encodes MAP-SIDE under the caller's FROZEN (centroids, codebooks),
    * bit-identical to a full rebuild's codes, and appends (id, cell,
    * codes). The duplicate-id guard of
    * [[graft.operators.Similarity.incrementalIvfPqCodes]] runs against
    * the prior store every batch (a serving store is id-keyed). */
  def streamingIncrementalIvfPqCodes(vecs: DataFrame, storePath: String,
      coarseCents: Array[(Int, Array[Long])],
      codebooks: Array[Array[(Int, Array[Long])]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Double = 1e6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(vecs) { (batch, batchId) =>
      val store = codesStore.prior(batch.sparkSession, storePath, batchId)
      val newRows = graft.operators.Similarity.guardedIvfPqEncode(store, batch,
        idCol, vecCol, coarseCents, codebooks, scale).localCheckpoint()
      Store.write(newRows, storePath, batchId)
      sink(newRows, batchId)
    }

  /** The IVF-PQ codes store (vec_id, cell, codes). */
  def readCodesStore(spark: SparkSession, path: String): DataFrame = codesStore.read(spark, path)

  /** Streaming incremental VIDEO near-dup (X207): each batch of
    * frame-signature rows (decode + hash run UPSTREAM in the streaming
    * DAG; payloads never reach the store) runs
    * [[graft.operators.Multimodal.incrementalVideoNearDup]] against the
    * kept (media_id, fhash) rows by frame-set Jaccard and appends its
    * survivors' signature rows.
    *
    * SERVING CONTRACT (r20 decade, PLANS.md "streaming video cap"):
    * pass a FINITE `maxFrameDf` in any always-on composition — the
    * increment's inverted-index pair term grows with dup-class² on a
    * densifying corpus uncapped (the uncapped streaming gate hit α 1.54
    * across sf0.1→sf1, 5.4 s → 187 s; the capped form stays flat). The
    * uncapped default exists for mining/parity runs only. */
  def streamingIncrementalVideoNearDup(sigs: DataFrame, storePath: String,
      threshold: Double, idCol: String = "media_id",
      sigCol: String = "fhash", maxFrameDf: Long = Long.MaxValue)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(sigs) { (batch, batchId) =>
      val store = videoSigStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = graft.operators.Multimodal.incrementalVideoNearDup(batch,
        store, threshold, idCol, sigCol, maxFrameDf).localCheckpoint()
      Store.write(survivors.select(col(idCol).as("media_id"),
        col(sigCol).as("fhash")), storePath, batchId)
      sink(survivors, batchId)
    }

  /** The video frame-signature store (media_id, fhash). */
  def readVideoSigStore(spark: SparkSession, path: String): DataFrame =
    videoSigStore.read(spark, path)

  /** Streaming incremental SUBSTRING dedup (X147):
    * [[graft.operators.Dedup.incrementalSubstringDedup]] per batch
    * against the store's distinct window-hash index, appending
    * `substringStoreRecords(batch)` — the BATCH's original windows, not
    * the survivors' (X132: a span removed as a later occurrence stays
    * covered through its first occurrence's record). The records plan
    * is checkpointed too, so the tokenize work runs once. */
  def streamingIncrementalSubstringDedup(docs: DataFrame, storePath: String,
      textCol: String, idCol: String, L: Int,
      posBase: Long = 100000L)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val store = substringStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = Dedup.incrementalSubstringDedup(batch, store,
        idCol, textCol, L, posBase).localCheckpoint()
      val records = Dedup.substringStoreRecords(batch, idCol,
        textCol, L, posBase).localCheckpoint()
      Store.write(records, storePath, batchId)
      sink(survivors, batchId)
    }

  /** ALWAYS-ON COMPOSED INGESTION, quartet form (X156): the full X139
    * pipeline per micro-batch — exact → (near-dup ∥ substring, both
    * over the stage-1 survivors) → semantic over the docs both keep —
    * each stage on its own store under `basePath/{exact,neardup,
    * substring,semantic}`, so a doc that near-dups a batch-1 survivor
    * and substring-dups batch-2 windows still drops in batch 3.
    *
    * Per stage the store gets what its singleton appends: exact the
    * stage-1 survivors' fingerprints; near-dup the stage-2 survivors'
    * (id, shingles, sig); substring the stage INPUT's original windows
    * (X132); semantic the final survivors' (id, embedding, cell) under
    * the caller's FROZEN quantizer. Embeddings ride a stream-static
    * left-semi join on the shared id space, so the stream carries text
    * only. Every stage is checkpointed before any write (each reads a
    * path some write extends); the three stage-1 consumers and the
    * four writes (disjoint paths) run concurrently. [[compactStore]]
    * (append layout) compacts all four. `sink` receives the final
    * survivors (id, cell, n_kept) — the X139 output shape. */
  def streamingIngestQuartet(docs: DataFrame, basePath: String,
      emb: DataFrame, cents: Array[(Int, Array[Long])],
      textCol: String, idCol: String, threshold: Double,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      L: Int, semThreshold: Double, posBase: Long = 100000L,
      embIdCol: String = "vec_id", embVecCol: String = "embedding")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      val spark = batch.sparkSession
      val (exactPath, ndPath, subPath, semPath) = (s"$basePath/exact",
        s"$basePath/neardup", s"$basePath/substring", s"$basePath/semantic")
      val exactPrior = exactStore.prior(spark, exactPath, batchId)
      val ndPrior = nearDupStore.prior(spark, ndPath, batchId)
      val subPrior = substringStore.prior(spark, subPath, batchId)
      val semPrior = semanticStore.prior(spark, semPath, batchId)
      // r22 note: a per-batch tokenBase/FromToks rewrite was MEASURED and
      // reverted — the extra eager checkpoint per micro-batch outweighed
      // the saved re-splits of a bounded batch
      val s1 = Dedup.incrementalExactDedup(batch, exactPrior,
        textCol, idCol).localCheckpoint()
      // plans built HERE (construction runs the budget probes on the
      // batch thread, the releaseScoped contract), materialized
      // concurrently
      val s2Plan = Dedup.incrementalNearDup(s1, ndPrior, textCol, idCol,
        threshold, shingleN, bands, rowsPerBand)
      val subPlan = Dedup.incrementalSubstringDedup(s1, subPrior,
        idCol, textCol, L, posBase)
        .filter(col("n_kept") > 0)
        .select(col("id").as(idCol), col("n_kept"))
      val recPlan = Dedup.substringStoreRecords(s1, idCol, textCol,
        L, posBase)
      val cps = graft.core.Caches.runConcurrently[DataFrame](Seq(
        () => s2Plan.localCheckpoint(),
        () => subPlan.localCheckpoint(),
        () => recPlan.localCheckpoint()))
      val (s2, sub, records) = (cps(0), cps(1), cps(2))
      val s3 = sub.join(s2.select(col(idCol)), Seq(idCol)).localCheckpoint()
      val batchEmb = emb.join(
        s3.select(col(idCol).cast("long").as(embIdCol)),
        Seq(embIdCol), "left_semi")
      val sem = graft.operators.Similarity.incrementalSemanticDedup(
        batchEmb, semPrior, cents, semThreshold, embIdCol, embVecCol)
        .localCheckpoint()
      graft.core.Caches.runConcurrently[Unit](Seq(
        () => Store.write(s1.select(col("fp")), exactPath, batchId),
        () => Store.write(s2.select(col(idCol).cast("long").as("id"),
          col("shingles"), col("sig")), ndPath, batchId),
        () => Store.write(records, subPath, batchId),
        () => Store.write(sem, semPath, batchId)))
      sink(sem.select(col("id").as(idCol), col("cell"))
        .join(s3, Seq(idCol))
        .select(col(idCol), col("cell"), col("n_kept")), batchId)
    }

  /** Streaming incremental CLUSTER maintenance (X152): each batch of
    * verified duplicate PAIRS folds into the stored labels by graph
    * contraction ([[graft.operators.Dedup.incrementalConnectedComponents]]
    * — CC over the batch-bounded contracted graph, zero corpus-sized
    * shuffles). SNAPSHOT store: labels are replaced, not appended, so
    * each batch writes the complete updated label table; older
    * snapshots are retry history that [[compactStore]] (snapshot
    * layout) collapses to the newest. */
  def streamingIncrementalClusters(pairs: DataFrame, storePath: String,
      id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(pairs) { (batch, batchId) =>
      val prior = labelStore.prior(batch.sparkSession, storePath, batchId)
      val updated = Dedup.incrementalConnectedComponents(
        prior, batch, id1, id2).localCheckpoint()
      Store.write(updated, storePath, batchId)
      sink(updated, batchId)
    }

  /** The cluster-label snapshot store (id, cluster_id). */
  def readLabelStore(spark: SparkSession, path: String): DataFrame = labelStore.read(spark, path)

  /** Streaming CANONICAL maintenance (X197): each batch of verified
    * duplicate PAIRS folds into the label snapshot (the X152
    * contraction) AND re-elects canonical picks for touched clusters
    * only ([[graft.operators.Dedup.incrementalCanonical]]), writing
    * both tables as snapshots from one contraction per batch. The pick
    * store is what serving reads; after any batch it equals the full
    * argmax over the current labels.
    * `scores` is a STATIC id-keyed table (quality scores are per-doc
    * ingest facts). */
  def streamingCanonicalMaintenance(pairs: DataFrame,
      labelStorePath: String, pickStorePath: String, scores: DataFrame,
      idCol: String, scoreCol: String,
      id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(pairs) { (batch, batchId) =>
      val spark = batch.sparkSession
      val priorLabels = labelStore.prior(spark, labelStorePath, batchId)
      val priorPicks = pickStore.prior(spark, pickStorePath, batchId)
      // the pair columns as incrementalLabelsAndPicks reads them
      val b = batch.select(col(id1).as("id1"), col(id2).as("id2"))
        .localCheckpoint()
      // one contraction feeds both snapshots. Checkpointing and writing
      // them concurrently measured no faster (sf0.01, 6 paired runs), so
      // they run in turn
      val (lblPlan, pickPlan) = Dedup.incrementalLabelsAndPicks(
        priorLabels, priorPicks, b, scores, idCol, scoreCol)
      val updatedLabels = lblPlan.localCheckpoint()
      val updatedPicks = pickPlan.localCheckpoint()
      Store.write(updatedLabels, labelStorePath, batchId)
      Store.write(updatedPicks, pickStorePath, batchId)
      sink(updatedPicks, batchId)
    }

  /** Streaming SOFT-DEDUP weight maintenance (X217): each batch of
    * verified duplicate PAIRS folds in through
    * [[graft.operators.Dedup.incrementalSoftDedup]]
    * (affected-component-bounded re-weight, one map-side store scan).
    * SNAPSHOT store: a cluster merge rewrites every member's weight
    * (1/size), so the weight table a trainer reads is replaced per
    * batch. A pair-free new document streams as a SELF-LOOP (id, id):
    * the operator drops the loop but the endpoint enters the batch
    * spine, which derives as the non-stored endpoints — doc-level
    * re-arrival protection lives in the upstream doc-dedup streams.
    * After any batch the store equals the batch operator over
    * everything streamed. */
  def streamingSoftDedupMaintenance(pairs: DataFrame,
      weightStorePath: String, id1: String = "id1", id2: String = "id2")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(pairs) { (batch, batchId) =>
      val prior = weightStore.prior(batch.sparkSession, weightStorePath, batchId)
      val b = batch.select(col(id1).cast("long").as("id1"),
        col(id2).cast("long").as("id2")).localCheckpoint()
      val ends = b.select(explode(array(col("id1"), col("id2"))).as("id"))
        .distinct()
      val storedEnds = prior.join(broadcast(ends), Seq("id")).select(col("id"))
      val updated = graft.operators.Dedup.incrementalSoftDedup(
        prior, b, ends.exceptAll(storedEnds)).localCheckpoint()
      Store.write(updated, weightStorePath, batchId)
      sink(updated, batchId)
    }

  /** The soft-dedup weight snapshot store (softDedup's schema). */
  def readWeightStore(spark: SparkSession, path: String): DataFrame = weightStore.read(spark, path)

  /** The canonical-pick snapshot store (cluster_id, canonical_id, score). */
  def readPickStore(spark: SparkSession, path: String): DataFrame = pickStore.read(spark, path)

  /** The substring-dedup window-hash store (gh). */
  def readSubstringStore(spark: SparkSession, path: String): DataFrame =
    substringStore.read(spark, path)

  /** Compact a store's `batch=<id>` partitions into ONE bootstrap
    * partition `batch=<keepBatch>`:
    *
    *  - APPEND layout: the UNION of every partition's rows — a pure
    *    merge, read-equivalent before and after.
    *  - SNAPSHOT layout: only the newest snapshot's rows; older
    *    snapshots are retry history whose use ends once their batch
    *    commits.
    *
    * keepBatch must be negative, the bootstrap-id convention: a NEW
    * checkpoint restarts at batch 0, and a store whose only partition
    * is negative never sits beyond it, so compacting is the sanctioned
    * way to hand a store to a fresh checkpoint (the lineage guard's
    * error points here).
    *
    * Scale shape: one store scan + one write + three filesystem
    * metadata ops. Content is written to a SIBLING `<store>.compacting`
    * and swapped in fail-safe: the live store renames to `<store>.old`,
    * the temp dir renames into place, then `.old` deletes. The operator
    * never reads a path it is rewriting, and at every crash point a
    * complete copy survives on disk; [[Store.read]] refuses to start
    * empty while that debris exists, and so does this operator. Run it
    * only while the stream is stopped. A flat store or a missing path
    * is a no-op. */
  def compactStore(spark: SparkSession, storePath: String,
      snapshotLayout: Boolean, keepBatch: Long = -1L): Unit = {
    require(keepBatch < 0,
      s"compacted partition must use a bootstrap (negative) batch id " +
        s"so the lineage guard accepts a fresh checkpoint, got $keepBatch")
    // a missing store reads as a column-less frame: nothing to compact
    val store = Store(new StructType()).read(spark, storePath)
    if (!store.columns.contains("batch")) return // missing or already flat
    val content =
      if (snapshotLayout) Store.batchIds(store).reduceOption(_ max _) match {
        case Some(mb) => store.filter(col("batch") === mb).drop("batch")
        case None => store.drop("batch") // partitions exist but hold no files
      }
      else store.drop("batch")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val storeP = new org.apache.hadoop.fs.Path(storePath)
    val fs = storeP.getFileSystem(hadoopConf)
    val tmp = new org.apache.hadoop.fs.Path(storePath + ".compacting")
    val oldP = new org.apache.hadoop.fs.Path(storePath + ".old")
    fs.delete(tmp, true)
    Store.write(content, tmp.toString, keepBatch)
    fs.delete(oldP, true) // debris from a crash AFTER a completed swap
    if (!fs.rename(storeP, oldP))
      throw new IllegalStateException(
        s"compactStore: rename $storeP -> $oldP failed; the live store " +
          "is untouched and the compacted content is intact at " +
          s"$tmp — nothing to recover")
    if (!fs.rename(tmp, storeP))
      throw new IllegalStateException(
        s"compactStore: rename $tmp -> $storeP failed after the live " +
          s"store moved to $oldP; recover by renaming $oldP back to " +
          s"$storeP (the compacted content stays at $tmp)")
    fs.delete(oldP, true)
  }

  /** Streaming MANIFEST maintenance (X160): each batch appends its
    * content-digest manifest (#groups rows — counts, 60-bit XOR, mod-p
    * sum); the corpus manifest at any moment is [[mergedManifest]]
    * over the store, EXACTLY a full-corpus digest, so validation and
    * X129 diffs never rescan what the stream ingested. Compaction
    * merges partition rows and the merge-at-read collapses them,
    * order-free by construction. The manifest reads only the batch:
    * the prior read is the lineage guard alone, and no checkpoint. */
  def streamingManifestMaintenance(docs: DataFrame, storePath: String,
      groupCol: String, cols: Seq[String])(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      manifestStore(groupCol).prior(batch.sparkSession, storePath, batchId)
      val manifest = graft.operators.ScaleOps.contentDigest(batch, groupCol, cols)
      Store.write(manifest, storePath, batchId)
      sink(manifest, batchId)
    }

  /** Streaming PCA training-state maintenance (X221): the X160 pattern
    * on the X220 moment algebra — each batch appends its
    * (dims+1)²-row moment table (exact mergeable partials), and
    * components trained from [[foldedMoments]] are BIT-EQUAL to a
    * full-corpus retrain. Guard-only prior read, no checkpoint. */
  def streamingPcaMoments(vectors: DataFrame, storePath: String,
      vecCol: String, dims: Int, scale: Double = 1e6)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(vectors) { (batch, batchId) =>
      momentStore.prior(batch.sparkSession, storePath, batchId)
      val m = graft.operators.Similarity.pcaMomentRecords(batch, vecCol, dims, scale)
      Store.write(m, storePath, batchId)
      sink(m, batchId)
    }

  /** STREAMING unigram-LM training-state maintenance (X225): the X221
    * pattern on the tokenizer's word dict — each batch appends its
    * (w, f) counts ([[graft.operators.Corpus.unigramWordCounts]], exact
    * mergeable partials), and a model trained from [[foldedWordCounts]]
    * is BIT-equal to a full retrain over everything streamed.
    * Guard-only prior read, no checkpoint. */
  def streamingUnigramCounts(docs: DataFrame, storePath: String,
      textCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      wordCountStore.prior(batch.sparkSession, storePath, batchId)
      val c = graft.operators.Corpus.unigramWordCounts(batch, textCol)
      Store.write(c, storePath, batchId)
      sink(c, batchId)
    }

  /** The per-batch word-count store (w, f). */
  def readWordCountStore(spark: SparkSession, path: String): DataFrame =
    wordCountStore.read(spark, path)

  /** The tokenizer training state AS OF NOW: every batch partition's
    * dict folded word-wise — feed it to
    * [[graft.operators.Corpus.unigramLmTrainFromCounts]]. */
  def foldedWordCounts(spark: SparkSession, path: String): DataFrame =
    readWordCountStore(spark, path).drop("batch")
      .groupBy(col("w")).agg(sum(col("f")).as("f"))

  /** The per-batch PCA moment store (i, j, s). */
  def readMomentStore(spark: SparkSession, path: String): DataFrame =
    momentStore.read(spark, path)

  /** The corpus training state AS OF NOW: every batch partition's
    * moment table folded cell-wise — a (dims+1)²·#batches-row
    * aggregation, never a vector scan. */
  def foldedMoments(spark: SparkSession, path: String): DataFrame =
    readMomentStore(spark, path).drop("batch")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))

  /** The per-batch manifest store (groupCol, n_rows, xor_digest,
    * sum_digest); the group column bootstraps as STRING. */
  def readManifestStore(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    manifestStore(groupCol).read(spark, path)

  /** The corpus manifest AS OF NOW: every batch partition's manifest
    * folded by [[graft.operators.ScaleOps.mergeManifests]] — a
    * #groups·#batches-row aggregation, never a corpus scan. */
  def mergedManifest(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    graft.operators.ScaleOps.mergeManifests(
      readManifestStore(spark, path, groupCol).drop("batch"), groupCol)

  /** TIME-TRAVEL manifest read (X163): the corpus manifest AS OF batch
    * `batch` — fold only the store partitions with `batch <= batch`,
    * which by the per-batch append contract is EXACTLY the digest of
    * everything ingested through that batch (bootstrap partitions ride
    * at negative ids, so `manifestAsOf(path, -1)` is the pre-stream
    * snapshot and `manifestAsOf(path, Long.MaxValue)` ≡
    * [[mergedManifest]]). Snapshot validation and X129 diffs against
    * ANY historical ingest point stay a #groups·#batches-row fold —
    * never a corpus rescan, never a store rewrite (the history IS the
    * retained partitions; X155 compaction trades that history away
    * only when an operator explicitly asks). An as-of EARLIER than
    * every retained partition is the empty manifest — same answer an
    * empty store gives, because both mean "nothing ingested yet". */
  def manifestAsOf(spark: SparkSession, path: String, groupCol: String,
      batch: Long): DataFrame = {
    val store = readManifestStore(spark, path, groupCol)
    val upTo =
      if (store.columns.contains("batch"))
        store.filter(col("batch").cast("long") <= batch).drop("batch")
      else store // empty bootstrap: no partitions exist at all
    graft.operators.ScaleOps.mergeManifests(upTo, groupCol)
  }

  /** Streaming DATA-QUALITY maintenance (X168): each batch appends the
    * #constraints-row [[graft.operators.ScaleOps.dqSuite]] verdict
    * table; the store is the constraint HISTORY, and
    * [[graft.operators.ScaleOps.dqDrift]] over it is the Deequ-style
    * "quality moved" signal. Per batch: dqSuite's one aggregation pass
    * (+ one short-key shuffle per uniqueness key set) and a
    * #constraints-row write. Guard-only prior read, no checkpoint. */
  def streamingDqMaintenance(docs: DataFrame, storePath: String,
      rowChecks: Seq[(String, org.apache.spark.sql.Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      dqStore.prior(batch.sparkSession, storePath, batchId)
      val verdict = graft.operators.ScaleOps.dqSuite(
        batch, rowChecks, completeness, uniqueness)
      Store.write(verdict, storePath, batchId)
      sink(verdict, batchId)
    }

  /** Streaming HISTOGRAM maintenance (X191): each batch appends its
    * [[graft.operators.ScaleOps.binnedCounts]] partial (one (bin, n)
    * row per occupied bin); the store is the per-batch histogram
    * history, and [[graft.operators.ScaleOps.histogramStoreDrift]] over
    * it is the "did the values move" signal. Histograms merge
    * downstream by plain summation. Guard-only prior read, no
    * checkpoint. */
  def streamingHistogramMaintenance(docs: DataFrame, storePath: String,
      valueCol: String, binWidth: Long)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      histogramStore.prior(batch.sparkSession, storePath, batchId)
      val h = graft.operators.ScaleOps.binnedCounts(batch, valueCol, binWidth)
      Store.write(h, storePath, batchId)
      sink(h, batchId)
    }

  /** The per-batch histogram store (bin, n). */
  def readHistogramStore(spark: SparkSession, path: String): DataFrame =
    histogramStore.read(spark, path)

  /** Streaming PER-GROUP DQ maintenance (X184): the keyed form of
    * [[streamingDqMaintenance]] — each batch appends the
    * (group × constraint)-row [[graft.operators.ScaleOps.dqSuiteByGroup]]
    * verdicts, and [[graft.operators.ScaleOps.dqGroupDrift]] over the
    * keyed history is the per-TENANT anomaly signal that catches a
    * drifting source the global report averages away. Guard-only prior
    * read, no checkpoint. */
  def streamingDqByGroupMaintenance(docs: DataFrame, storePath: String,
      groupCol: String,
      rowChecks: Seq[(String, org.apache.spark.sql.Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      dqGroupStore(groupCol).prior(batch.sparkSession, storePath, batchId)
      val verdict = graft.operators.ScaleOps.dqSuiteByGroup(
        batch, groupCol, rowChecks, completeness, uniqueness)
      Store.write(verdict, storePath, batchId)
      sink(verdict, batchId)
    }

  /** The per-batch KEYED DQ verdict store — [[readDqStore]]'s layout
    * with the group column (as string) in front. */
  def readDqGroupStore(spark: SparkSession, path: String,
      groupCol: String): DataFrame =
    dqGroupStore(groupCol).read(spark, path)

  /** Streaming incremental FINGERPRINT near-dup (X169): the
    * perceptual-hash family's stream form. The input is HASH records
    * (idCol, hashCol) — decode/phash are map-side projections composed
    * upstream, so payloads never reach the store or the shuffle. Each
    * batch runs [[graft.operators.Dedup.incrementalFingerprintNearDup]]
    * against the store (band keys bit-sliced from STORED hashes) and
    * appends its survivors. */
  def streamingIncrementalFingerprintNearDup(hashes: DataFrame,
      storePath: String, idCol: String, hashCol: String, bits: Int,
      bands: Int, maxDist: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(hashes) { (batch, batchId) =>
      val store = fingerprintStore.prior(batch.sparkSession, storePath, batchId)
      val survivors = Dedup.incrementalFingerprintNearDup(batch, store,
        idCol, hashCol, bits, bands, maxDist).localCheckpoint()
      Store.write(survivors, storePath, batchId)
      sink(survivors, batchId)
    }

  /** The fingerprint near-dup store (id, sig — one hash per object). */
  def readFingerprintStore(spark: SparkSession, path: String): DataFrame =
    fingerprintStore.read(spark, path)

  /** Streaming QUARANTINE routing (X177): each batch splits on the row
    * checks (map-side — routing adds no shuffle), valid rows flow to
    * `valid`, and quarantined rows land in a DEAD-LETTER store with
    * their `_violations` reason list — the audit trail a review loop
    * replays. The dead-letter schema is the batch's own plus
    * `_violations`. Guard-only prior read, no checkpoint. */
  def streamingQuarantine(docs: DataFrame, deadLetterPath: String,
      checks: Seq[(String, org.apache.spark.sql.Column)])(
      valid: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    Store.maintain(docs) { (batch, batchId) =>
      deadLetterStore(batch.schema).prior(batch.sparkSession, deadLetterPath, batchId)
      val (ok, bad) = graft.operators.ScaleOps.quarantineSplit(batch, checks)
      Store.write(bad, deadLetterPath, batchId)
      valid(ok, batchId)
    }

  /** The dead-letter store: the routed rows' schema `rowSchema` plus
    * their `_violations` reason list. */
  def readDeadLetterStore(spark: SparkSession, path: String,
      rowSchema: StructType): DataFrame =
    deadLetterStore(rowSchema).read(spark, path)

  /** The per-batch DQ verdict store (constraint, n_bad, value_bp, passed). */
  def readDqStore(spark: SparkSession, path: String): DataFrame = dqStore.read(spark, path)

  /** The semantic-dedup store (id, embedding, cell). */
  def readSemanticStore(spark: SparkSession, path: String): DataFrame =
    semanticStore.read(spark, path)

  /** The exact-dedup fingerprint store (fp). */
  def readExactStore(spark: SparkSession, path: String): DataFrame = exactStore.read(spark, path)

  /** The near-dup index store (id, shingles, sig). */
  def readNearDupStore(spark: SparkSession, path: String): DataFrame =
    nearDupStore.read(spark, path)

  // ---------------- sessionization ----------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Stateful sessionization: events for a user belong to one session
    * while gaps stay ≤ `gapMinutes`; a session closes when the
    * event-time watermark passes its end + gap. Custom state via
    * flatMapGroupsWithState (SURVEY §2.9 mapping).
    *
    * Session identity works on floored epoch-SECONDS, matching the
    * batch form's `unix_timestamp` arithmetic exactly, so
    * stream-to-completion ⊆ batch gaps-and-islands holds precisely. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = gapMinutes * 60L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil).map(s =>
              Session(user, new java.sql.Timestamp(s.start * 1000L),
                new java.sql.Timestamp(s.last * 1000L), s.n, s.total))
            state.remove()
            out.iterator
          } else {
            // merge new events into open sessions (events may arrive
            // in any order within the batch — sort by ts)
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var sessions = state.getOption.getOrElse(Nil)
            for (e <- sorted) {
              val t = Math.floorDiv(e.ts.getTime, 1000L)
              sessions.find(s => t >= s.start - gapSec && t <= s.last + gapSec) match {
                case Some(s) =>
                  val merged = SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1, s.total + e.value)
                  sessions = merged :: sessions.filterNot(_ == s)
                case None =>
                  sessions = SessionState(t, t, 1, e.value) :: sessions
              }
            }
            state.update(sessions)
            val horizon = (sessions.map(_.last).max + gapSec + 1) * 1000L
            state.setTimeoutTimestamp(horizon)
            Iterator.empty
          }
      }
  }

  // ---------------- transformWithState running totals ----------------

  case class RunIn(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  case class RunTotals(n: Long, cents: Long)
  case class RunOut(event_id: Long, user_id: Long, run_n: Long, run_sum: Double)

  /** Per-user RUNNING totals via Spark 4's arbitrary-state API
    * (`transformWithState` + RocksDB state store — the successor to
    * flatMapGroupsWithState): every event is emitted with the count
    * and value-sum of its user so far. State = one (n, cents) pair
    * per user.
    *
    * Deterministic by construction: rows sort per (key, batch) on
    * (event-time, event_id) before folding, and the money sum
    * accumulates in integer CENTS (the source values are 2-decimal),
    * so no floating-point fold-order noise — the emitted run_sum is
    * bit-equal to the batch cumulative-window oracle in any engine. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RunIn, RunOut] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[RunTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[RunTotals]("totals",
        org.apache.spark.sql.Encoders.product[RunTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RunIn],
        timers: TimerValues): Iterator[RunOut] = {
      val sorted = rows.toArray.sortBy(r =>
        (r.ts.getTime, r.ts.getNanos, r.event_id))
      var st = if (totals.exists()) totals.get() else RunTotals(0L, 0L)
      val out = sorted.map { r =>
        st = RunTotals(st.n + 1, st.cents + math.round(r.value * 100))
        RunOut(r.event_id, key, st.n, st.cents / 100.0)
      }
      totals.update(st)
      out.iterator
    }
  }

  /** The running totals as a streaming Dataset (append mode, no time
    * semantics — pure keyed state). */
  def runningTotals(events: DataFrame): Dataset[RunOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[RunIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** NATIVE session windows (X118): Spark's built-in `session_window`
    * operator — gap-merged event-time sessions per key with the engine
    * maintaining the merging session state, vs [[sessionize]]'s custom
    * flatMapGroupsWithState. In batch this plans as a sort-based
    * within-key merge; in streaming the state store keeps one merging
    * session per (key, open window) and the watermark both finalizes
    * sessions and bounds state — no custom state code at all, which is
    * why it is the FIRST choice for plain gap sessionization at scale
    * (the FMGWS form stays for semantics session_window can't express:
    * per-session running payloads, multi-timeout state machines).
    * `session_end` is Spark's window end = last event + gap (NOT the
    * last event time, which [[sessionizeBatch]] reports), and an event
    * at EXACTLY end merges (eventTime <= sessionEnd — same strict->
    * break rule as [[sessionizeBatch]]'s `> gapSec`); the decimal
    * sum keeps totals exact in any merge order. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** [[sessionWindowAgg]] with the streaming contract attached: the
    * caller passes a streaming frame; a watermark finalizes sessions
    * once event time passes end + delay. Append mode — only finalized
    * sessions emit, so a run over static input equals the batch form
    * RESTRICTED to sessions the final watermark passed (pinned in
    * StreamingSpec with a sentinel flush event). */
  def sessionWindowAggStream(events: DataFrame, gapMinutes: Int,
      delay: String = "10 minutes"): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", delay), gapMinutes)

  /** Batch-equivalent sessionization via the gaps-and-islands window
    * pattern (lag + cumulative sum) — same sessions as the stream
    * produces once the watermark passes everything. SQL-expressible,
    * so this is the oracle form. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("_prev")) > gapSec, 1)
          .otherwise(0))
      .withColumn("_sess", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("_sess"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,2)")).cast("double").as("total_value"))
      .drop("_sess")
  }
}
