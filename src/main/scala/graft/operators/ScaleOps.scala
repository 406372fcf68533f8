package graft.operators

import graft.core.Caches.TrackedPersist
import graft.core.LocalGate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-pattern operators Spark lacks as built-ins (SURVEY custom-op
  * ladder rung (a): composed from existing operators, no custom
  * physical plan needed).
  */
object ScaleOps {

  /** As-of join: for each left row, attach the most recent right row
    * with `rightOn <= leftOn` within the same `keys` group (inclusive;
    * null right columns when no prior right row exists).
    *
    * Plan shape (the only one that survives 100 TB): tag and UNION the
    * two sides, one shuffle on `keys`, and a carry-forward
    * `last(_, ignoreNulls)` window ordered by (on, side) — right rows
    * sort before left rows at equal `on`, so "inclusive" ties work.
    * No range-explosion, no per-key collect, state is one row per
    * carried column.
    *
    * `rightCols`: right-side payload columns to carry (renamed as
    * given). `on` must be orderable (numeric/timestamp). */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftOn: String, rightOn: String,
      rightCols: Map[String, String],
      forward: Boolean = false): DataFrame = {
    // the union+carry plan stages rows through these two markers — a
    // caller column of the same name would be silently clobbered
    val reserved = Set("_on", "_isLeft")
    val clash = (left.columns ++ right.columns).filter(reserved).distinct
    require(clash.isEmpty,
      s"asOfJoin: input columns ${clash.mkString(", ")} collide with internal markers")
    val leftCols = left.columns.filterNot(c => keys.contains(c) || c == leftOn).toSeq
    val lTagged = left.select(
      keys.map(col) ++
        Seq(col(leftOn).as("_on"), lit(1).as("_isLeft")) ++
        leftCols.map(col) ++
        rightCols.values.toSeq.map(c => lit(null).as(c)): _*)
    val rTagged = right.select(
      keys.map(col) ++
        Seq(col(rightOn).as("_on"), lit(0).as("_isLeft")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.toSeq.map { case (src, dst) => col(src).as(dst) }: _*)
    // backward: most recent right row at-or-before (carry forward in
    // ascending order). forward: nearest right row at-or-after (same
    // carry, descending order). Either way the right row sorts before
    // a same-_on left row (_isLeft asc) so ties stay inclusive.
    val onOrd = if (forward) col("_on").desc else col("_on").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(onOrd, col("_isLeft").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.values.foldLeft(lTagged.unionByName(rTagged)) {
      case (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("_isLeft") === 1)
      .drop("_isLeft")
      .withColumnRenamed("_on", leftOn)
  }

  /** As-of join with a max-gap TOLERANCE (pandas
    * `merge_asof(tolerance=…)` / kdb wj window cap): the same
    * single-shuffle union+carry plan as [[asOfJoin]] — the matched
    * right `on` value rides along with the payload, and matches whose
    * gap from the left row exceeds `tolerance` null out, so stale
    * matches don't attribute. `on` columns must be numeric;
    * `tolerance` is in the same units. Zero extra shuffles over the
    * plain as-of. */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftOn: String, rightOn: String, rightCols: Map[String, String],
      tolerance: Long, forward: Boolean = false): DataFrame = {
    require(tolerance >= 0, s"tolerance must be >= 0, got $tolerance")
    // a fixed temp name would silently shadow a real right-side column
    // of the same name and corrupt the gap computation — derive one
    // that provably collides with nothing in either input
    val taken = (left.columns ++ right.columns ++ rightCols.values).toSet
    val onCarry = Iterator.from(0).map(i => s"_matched_on$i")
      .find(!taken(_)).get
    val joined = asOfJoin(left, right.withColumn(onCarry, col(rightOn)),
      keys, leftOn, rightOn, rightCols + (onCarry -> onCarry), forward)
    val gap =
      if (forward) col(onCarry) - col(leftOn) else col(leftOn) - col(onCarry)
    val keep = col(onCarry).isNotNull && gap <= tolerance
    rightCols.values
      .foldLeft(joined) { (df, c) => df.withColumn(c, when(keep, col(c))) }
      .drop(onCarry)
  }

  /** Range (interval-containment) join: left rows matched to right
    * intervals with `lo <= leftVal <= hi`, WITHOUT the O(n·m) cross
    * join a naive theta-join plans. Both sides discretize to
    * `bucketWidth` buckets — intervals explode to every bucket they
    * cover — and the match becomes a bucket equi-join plus an exact
    * residual filter. Shuffle keys are bucket ids; cost scales with
    * interval span / bucketWidth, tunable per workload. */
  def rangeJoin(left: DataFrame, right: DataFrame, leftVal: String,
      lo: String, hi: String, bucketWidth: Double): DataFrame = {
    require(!(left.columns ++ right.columns).contains("_bucket"),
      "rangeJoin: input column _bucket collides with the internal bucket key")
    val l = left.withColumn("_bucket",
      floor(col(leftVal) / bucketWidth).cast("long"))
    val r = right.withColumn("_bucket",
      explode(sequence(floor(col(lo) / bucketWidth).cast("long"),
        floor(col(hi) / bucketWidth).cast("long"))))
    l.join(r, Seq("_bucket"))
      .filter(col(leftVal) >= col(lo) && col(leftVal) <= col(hi))
      .drop("_bucket")
  }

  /** Skew-salted equi-join of a (possibly skewed) fact side against a
    * modest dim side: the fact's rows fan out over `saltBuckets`
    * deterministic salts (hash of the whole row — reproducible, no
    * rand()), the dim side replicates `saltBuckets`×, and the join key
    * becomes (key, salt) — a single hot key now spreads over
    * `saltBuckets` reducers. Result set identical to the plain join.
    *
    * Use when one key dominates (AQE skew-join handles moderate skew;
    * salting is the deterministic heavy hammer for pathological
    * keys). */
  /** Join-key SKEW report (X142) — the diagnostic that decides between
    * a plain shuffle, AQE skew splitting, and [[saltedJoin]]'s heavy
    * hammer: the `topN` hottest keys with their row counts, corpus
    * share in basis points (integral division — exact), the ratio of
    * each key to the MEAN key's load (×100, integral), and the salt
    * bucket count that would level the key to the mean
    * (ceil(count·distinct/total)). All-integer arithmetic, so the ops
    * report is a hash row like everything else.
    *
    * Scale shape: one key-partial-agg shuffle (map-side combine — hot
    * keys pre-reduce in every input partition, so the shuffle carries
    * ≤ #distinct·#partitions rows however skewed the data), one 1-row
    * totals aggregate attached by broadcast, and a TakeOrdered top-N —
    * the report never sorts the key table globally. */
  def skewReport(df: DataFrame, keyCol: String, topN: Int = 20): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = graft.core.Caches.persistTracked(
      Dedup.spread(df).groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as("n")))
    val totals = counts.agg(
      coalesce(sum(col("n")), lit(0L)).as("_total"),
      count(lit(1)).as("_distinct"))
    counts.crossJoin(broadcast(totals))
      .filter(col("_total") > 0)
      // DECIMAL(38) products: n·distinct·100 overflows BIGINT exactly
      // at the 100 TB scale this report targets (1e8 hot rows × 1e9
      // distinct keys = 1e19 > Long.Max — the hottest keys would show
      // wrapped garbage); `div` on decimals stays an exact integral
      // division (the groupedOls overflow convention)
      .withColumn("share_bp", expr("n * 10000L div _total"))
      .withColumn("vs_mean_x100",
        expr("CAST(n AS DECIMAL(38,0)) * _distinct * 100 div _total"))
      .withColumn("salt_buckets",
        expr("(CAST(n AS DECIMAL(38,0)) * _distinct + _total - 1) div _total"))
      // nulls LAST explicitly: Spark's asc defaults nulls-first where
      // DuckDB's defaults nulls-last — a NULL key (the classic skew
      // key!) tying at the cut would otherwise diverge from the oracle
      .orderBy(col("n").desc, col("key").asc_nulls_last)
      .limit(topN)
      .select(col("key"), col("n"), col("share_bp"),
        col("vs_mean_x100"), col("salt_buckets"))
  }

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: Seq[String],
      saltBuckets: Int): DataFrame = {
    require(!(fact.columns ++ dim.columns).contains("_salt"),
      "saltedJoin: input column _salt collides with the internal salt key")
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(saltBuckets)).cast("int"))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(saltedDim, key :+ "_salt").drop("_salt")
  }

  /** Two-pass heavy hitters — the 100 TB shape for "keys with count ≥
    * t" when the distinct-key set dwarfs memory: pass 1 builds a
    * Count-Min sketch (mergeable partials, driver-merged — AQE-style
    * bounded stats, never the full key set) and keeps only keys whose
    * ESTIMATE reaches the threshold (CMS never underestimates, so the
    * candidate set is a SUPERSET of the truth); pass 2 exact-counts
    * candidates only. Output is therefore EXACT and deterministic —
    * the sketch narrows work, it never decides membership. */
  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    requireSketchableKey(df, keyCol, "heavyHitters")
    // nulls are excluded end-to-end: the sketch agg skips them, a typed
    // probe on them would NPE, and an equi-semi-join drops them anyway
    val nonNull = df.filter(col(keyCol).isNotNull)
    val sketch = nonNull.stat.countMinSketch(keyCol, eps, confidence, seed)
    val bc = spark.sparkContext.broadcast(sketch)
    // sketch probe is a library call, not expressible as Columns — a
    // typed filter over the broadcast sketch. `estimateCount(Any)`
    // dispatches by runtime type (string → UTF-8 bytes, integral →
    // long), matching exactly what the sketch builder inserted — never
    // re-cast the key here or insert and probe disagree.
    val candidates = nonNull.select(col(keyCol)).distinct()
      .filter((r: org.apache.spark.sql.Row) =>
        bc.value.estimateCount(r.get(0)) >= minCount)
    df.join(candidates.hint("broadcast"), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** GPT-style sequence packing: documents concatenate (in `idCol`
    * order) into one token stream sliced into fixed `ctxLen` windows;
    * emits one row per (document × window it overlaps) — the
    * pack-with-spillover layout a pretraining loader consumes.
    *
    * Scale shape: at most `LocalGate.Threshold` (id, tokens) rows come
    * to the driver in one bounded collect (job `graft.ScaleOps: local
    * pack`); the running sum runs there in id order, and its (id,
    * tokens, end) rows go back as a local frame that the windows expand
    * from on the executors, so the driver holds no more rows than came
    * in. Above the gate the global prefix-sum is TWO-PHASE —
    * range-partition by id, per-partition running sum, then the P
    * per-partition TOTALS (not rows) come to the driver and go back as
    * broadcast offsets. No single-partition global window, which is
    * what a naive `Window.orderBy(id)` would plan. For
    * non-negative counts the result is independent of where the range
    * boundaries fall, so it is deterministic even though range
    * partitioning samples. Inputs the driver form does not reproduce
    * take the two-phase plan below the gate too: repeated ids (their
    * order is left open by the sort), a negative count (the totals are
    * per-partition maxima, which then depend on the boundaries), and
    * ctxLen <= 0. */
  def packSequences(df: DataFrame, idCol: String, tokenCount: Column,
      ctxLen: Long): DataFrame =
    packSequences(df, idCol, tokenCount, ctxLen, LocalGate.Threshold)

  /** Job description of [[packSequences]]' bounded collect. */
  private[graft] val LocalPackJob = "graft.ScaleOps: local pack"

  /** [[packSequences]] with its gate at `localThreshold` rows (0 forces
    * the two-phase plan). */
  private[graft] def packSequences(df: DataFrame, idCol: String, tokenCount: Column,
      ctxLen: Long, localThreshold: Long): DataFrame = {
    requireIntegralId(df, idCol, "packSequences")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(col(idCol).cast("long"), tokenCount.cast("long")).as[(Long, Long)]
    val gated =
      if (localThreshold <= 0 || ctxLen <= 0) None
      else LocalGate.described(spark.sparkContext, LocalPackJob) {
        LocalGate.collectAtMost(counts,
          LocalGate.rowsWithin(spark.sparkContext, 16L, localThreshold))
      }.map(_.sortBy(_._1))
        .filter(rows => rows.forall(_._2 >= 0) &&
          (1 until rows.length).forall(i => rows(i - 1)._1 != rows(i)._1))
    gated match {
      case Some(rows) =>
        var end = 0L
        val ends = rows.toSeq.map { case (id, n) => end = Math.addExact(end, n); (id, n, end) }
        return packWindows(ends.toDF(idCol, "_n", "_end"), idCol, ctxLen)
      case None =>
    }
    val parts = spark.sparkContext.defaultParallelism
    // Range-partition + in-partition sort, then a SINGLE-PASS running
    // sum per partition (mapPartitions — genuine per-partition
    // imperative logic; a Window.partitionBy(pid) would force a second
    // full-data hash exchange right after the range exchange). The
    // result MUST be cached: the offsets collected below are only
    // valid for this materialized partitioning — range boundaries are
    // re-sampled per job, so an uncached recompute could move rows
    // across partitions and silently corrupt the prefix sum.
    val local = counts.toDF(idCol, "_n")
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
      .as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (id, n) => acc += n; (id, n, acc) }
      }
      .toDF(idCol, "_n", "_local_end")
      .withColumn("_pid", spark_partition_id())
      .persistTracked()
    // P partial rows cross this shuffle (map-side combine), nothing more
    val totals = local.groupBy("_pid").agg(max(col("_local_end")).as("_tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val offsets =
      if (totals.isEmpty) Seq.empty[(Int, Long)]
      else totals.scanLeft((Int.MinValue, 0L)) {
        case ((_, acc), (pid, tot)) => (pid, acc + tot)
      }.sliding(2).map { case Array((_, prev), (pid, _)) => (pid, prev) }.toSeq
    val offDf = broadcast(offsets.toDF("_pid", "_off"))
    packWindows(local.join(offDf, Seq("_pid"))
      .withColumn("_end", col("_local_end") + col("_off")), idCol, ctxLen)
  }

  /** [[packSequences]]' rows from (idCol, _n, _end) rows, `_end` the
    * running token sum through each document: per document with tokens,
    * one row per `ctxLen` window it overlaps. */
  private def packWindows(ends: DataFrame, idCol: String, ctxLen: Long): DataFrame =
    ends.filter(col("_n") > 0)
      .withColumn("token_start", col("_end") - col("_n"))
      .withColumn("pack_id", explode(sequence(
        floor(col("token_start") / ctxLen.toDouble).cast("long"),
        floor((col("_end") - 1) / ctxLen.toDouble).cast("long"))))
      .select(col(idCol), col("pack_id"), col("token_start"),
        col("_n").as("n_tokens"))

  /** BOUNDARY-RESPECTING best-fit packing (X215; Ding et al. 2024,
    * arXiv:2404.10830 "Fewer Truncations Improve Language Modeling"):
    * pack WHOLE documents into fixed `ctxLen` token bins —
    * [[packSequences]] (X31) concatenates and chunks, so ~one document
    * per context window is truncated mid-thought; best-fit packing
    * never splits a document, trading a few percent of fill for intact
    * training examples (the paper's measured quality win).
    *
    * Algorithm: best-fit-DECREASING within deterministic salted-md5
    * groups — docs hash to `numGroups` groups (salt "pack:", so
    * grouping is independent of the split/mix/shard/soft salts), each
    * group sorts by (tokens DESC, id ASC) and places every doc into
    * the bin with the SMALLEST remaining capacity that still fits
    * (ties → lowest bin index), opening a new bin when none fits. The
    * whole trajectory is integer comparisons on a deterministic order,
    * so the (group, bin) assignment is engine-exact and the oracle
    * replays it as a recursive CTE carrying the bin-load list.
    *
    * Scale shape: global FFD/BFD is inherently sequential, so the
    * distributed form packs within BOUNDED groups — the standard
    * practical scheme: `numGroups` is the caller's parallelism ×
    * group-size knob (n/numGroups docs per group must fit one task —
    * the X176 giant-domain caveat applies; at 100 TB pick numGroups so
    * groups hold ~10⁴–10⁵ docs). ONE group-keyed exchange + an
    * in-memory per-group pack (`flatMapGroups` — genuine per-group
    * imperative logic, the mapPartitions rule); random group mixing
    * keeps each group length-diverse, so per-group BFD fill tracks
    * global BFD closely. A doc longer than `ctxLen` cannot pack and
    * raises (compose [[Corpus.chunkDocuments]]/X31 upstream for those).
    * Emits (id, pack_group, bin_idx, n_tokens). */
  def packBestFit(df: DataFrame, idCol: String, tokenCount: Column,
      ctxLen: Long, numGroups: Int): DataFrame = {
    require(ctxLen >= 1, s"ctxLen must be >= 1, got $ctxLen")
    require(numGroups >= 1, s"numGroups must be >= 1, got $numGroups")
    requireIntegralId(df, idCol, "packBestFit")
    val spark = df.sparkSession
    import spark.implicits._
    val grp = conv(substring(
      md5(concat(lit("pack:"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long") % numGroups
    val ctx = ctxLen
    df.select(col(idCol).cast("long"), tokenCount.cast("long"), grp)
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (g, it) =>
        val docs = it.toArray.sortBy(r => (-r._2, r._1))
        val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.iterator.map { case (id, tok, _) =>
          require(tok <= ctx && tok >= 0,
            s"packBestFit: doc $id carries $tok tokens, outside [0, $ctx] " +
              "— chunk oversize docs upstream (chunkDocuments/packSequences)")
          var best = -1
          var bestRem = Long.MaxValue
          var i = 0
          while (i < bins.length) {
            val rem = ctx - bins(i) - tok
            if (rem >= 0 && rem < bestRem) { best = i; bestRem = rem }
            i += 1
          }
          if (best < 0) { bins += tok; best = bins.length - 1 }
          else bins(best) += tok
          (id, g, best.toLong, tok)
        }
      }
      .toDF(idCol, "pack_group", "bin_idx", "n_tokens")
  }

  /** Token-budget head selection (X119): keep documents in priority
    * order — (`priority` DESC, id ASC) — while the cumulative token
    * count stays ≤ `budget`; the first document that would cross the
    * budget, and everything after it, is cut. This is the exact-budget
    * greedy companion of the RATE-based mixers ([[domainMix]] /
    * [[temperatureMix]] / [[epochMix]]): "give me the best B tokens",
    * the final sizing pass a pretraining data order runs.
    *
    * Scale shape: the same TWO-PHASE global prefix sum as
    * [[packSequences]] — range-partition by the priority order,
    * per-partition running sum in one pass, P partition TOTALS (not
    * rows) to the driver and back as broadcast offsets. No
    * single-partition global window. `priority` must be deterministic
    * and integer-valued (it is cast to long): float priorities would
    * make the order — and therefore the cut point — engine-dependent.
    * Emits (id, priority, n_tokens, cum_tokens) for the kept head. */
  def tokenBudgetFilter(df: DataFrame, idCol: String, tokenCount: Column,
      priority: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    requireIntegralId(df, idCol, "tokenBudgetFilter")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    // cached for the same reason as packSequences: range boundaries
    // re-sample per job, so the collected offsets are only valid for
    // THIS materialization
    val local = df.select(col(idCol).cast("long").as("_id"),
      tokenCount.cast("long").as("_n"), priority.cast("long").as("_p"))
      .repartitionByRange(parts, col("_p").desc, col("_id").asc)
      .sortWithinPartitions(col("_p").desc, col("_id").asc)
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (id, n, p) => acc += n; (id, n, p, acc) }
      }
      .toDF(idCol, "_n", "_p", "_local_end")
      .withColumn("_pid", spark_partition_id())
      .persistTracked()
    val totals = local.groupBy("_pid").agg(max(col("_local_end")).as("_tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val offsets =
      if (totals.isEmpty) Seq.empty[(Int, Long)]
      else totals.scanLeft((Int.MinValue, 0L)) {
        case ((_, acc), (pid, tot)) => (pid, acc + tot)
      }.sliding(2).map { case Array((_, prev), (pid, _)) => (pid, prev) }.toSeq
    val offDf = broadcast(offsets.toDF("_pid", "_off"))
    local.join(offDf, Seq("_pid"))
      .withColumn("cum_tokens", col("_local_end") + col("_off"))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("_p").as("priority"),
        col("_n").as("n_tokens"), col("cum_tokens"))
  }

  /** Per-group corpus content digest (X128) — the snapshot-validation
    * manifest a 100 TB data-versioning pass runs: one scan reduces
    * each group to (row count, XOR digest, modular-sum digest) over a
    * canonical 60-bit row hash (md5 of the 0x01-joined stringified
    * columns, NULL as 0x00 so NULL ≠ empty ≠ "null"). Both combiners
    * are ORDER-FREE and PARTITIONING-FREE — the digest is a pure
    * function of the row multiset, so two snapshots compare by their
    * manifest rows alone, never by rescanning each other. XOR is the
    * cheap equality probe (but self-cancelling on even repeats —
    * documented); the mod-p multiset sum (p = 1e9+7, summed exactly in
    * DECIMAL(38) before one final mod) catches what XOR cancels.
    * Checksums, not commitments: change DETECTION, not proof. */
  def contentDigest(df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "contentDigest: need at least one column")
    // the digest hashes cast(col as string) — only EXACTLY-stringifying
    // types may enter, or the digest depends on engine float/timestamp/
    // array rendering and the cross-engine manifest comparison the
    // operator exists for silently breaks (fail loud, like
    // requireIntegralId). Quantize/cast explicitly first.
    cols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = df.schema(c).dataType
      val ok = dt match {
        case ByteType | ShortType | IntegerType | LongType |
             StringType | BooleanType | DateType => true
        case _ => false
      }
      require(ok, s"contentDigest: column $c has type ${dt.simpleString} — " +
        "digest columns must be exactly-stringifying (integral, string, " +
        "boolean, date); cast or fixed-point-quantize it explicitly first")
    }
    val P = 1000000007L
    val canon = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val h = conv(substring(md5(canon), 1, 15), 16, 10).cast("long")
    df.select(col(groupCol), h.as("_h"))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(_h)").as("xor_digest"),
        (sum((col("_h") % P).cast("decimal(38,0)")) % P).cast("long")
          .as("sum_digest"))
  }

  /** Manifest diff (X129) — the consumer of [[contentDigest]]: compare
    * two snapshot manifests group by group and report
    * added / removed / changed / unchanged. This is the whole point of
    * the manifest design: the 100 TB-vs-100 TB comparison costs a
    * #groups-row join, and only groups reported `changed` need any
    * data-level follow-up. Equality requires all three digest
    * components (count, XOR, mod-p sum) to agree. */
  def manifestDiff(oldManifest: DataFrame, newManifest: DataFrame,
      groupCol: String): DataFrame = {
    val needed = Set("n_rows", "xor_digest", "sum_digest")
    for (m <- Seq(oldManifest, newManifest))
      require(needed.subsetOf(m.columns.toSet),
        s"manifestDiff: inputs must be contentDigest manifests, got ${m.columns.mkString(", ")}")
    val o = oldManifest.select(col(groupCol).as("_og"), col("n_rows").as("_on"),
      col("xor_digest").as("_ox"), col("sum_digest").as("_os"))
    val n = newManifest.select(col(groupCol).as("_ng"), col("n_rows").as("_nn"),
      col("xor_digest").as("_nx"), col("sum_digest").as("_ns"))
    // NULL-SAFE key equality: contentDigest emits a manifest row for a
    // NULL group, and a plain equi-join would report it as simultaneous
    // removed+added — a false change signal — instead of matching it
    o.join(n, col("_og") <=> col("_ng"), "full_outer")
      .select(coalesce(col("_og"), col("_ng")).as(groupCol),
        when(col("_on").isNull, lit("added"))
          .when(col("_nn").isNull, lit("removed"))
          .when(col("_on") === col("_nn") && col("_ox") === col("_nx") &&
            col("_os") === col("_ns"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("_on"), lit(0L)).as("old_rows"),
        coalesce(col("_nn"), lit(0L)).as("new_rows"))
  }

  /** Manifest MERGE (X159) — the incremental-maintenance half of the
    * [[contentDigest]] design, exploiting that all three digest
    * components are MERGEABLE partials: counts add, the 60-bit XOR
    * folds by XOR (associative/commutative), and the mod-p sums add
    * under one final mod (each input < p, so a DECIMAL(38) partial sum
    * is exact for any realistic batch count). Per-batch manifests —
    * one cheap scan each at ingest time — fold into the corpus
    * manifest with a #groups·#batches-row aggregation, so a 100 TB
    * snapshot digest is maintained WITHOUT ever rescanning the corpus:
    * merge(digest(b₁), …, digest(bₙ)) ≡ digest(b₁ ∪ … ∪ bₙ), exactly
    * (spec-pinned as frame equality; the gate row re-verifies it
    * against the full-scan digest in-query). Input: a union of
    * contentDigest outputs over the same group key. */
  def mergeManifests(manifests: DataFrame, groupCol: String): DataFrame = {
    val needed = Set("n_rows", "xor_digest", "sum_digest")
    require(needed.subsetOf(manifests.columns.toSet),
      s"mergeManifests: input must be a union of contentDigest " +
        s"manifests (need ${needed.mkString(", ")}), got " +
        manifests.columns.mkString(", "))
    val P = 1000000007L
    manifests.groupBy(col(groupCol)).agg(
      sum(col("n_rows")).cast("long").as("n_rows"),
      expr("bit_xor(xor_digest)").as("xor_digest"),
      (sum(col("sum_digest").cast("decimal(38,0)")) % P).cast("long")
        .as("sum_digest"))
  }

  /** Manifest RETRACTION (X161) — the subtraction half of the digest
    * algebra, completing merge ([[mergeManifests]]) with exact
    * un-merge: counts subtract, the 60-bit XOR retracts by XOR (its
    * own inverse), the mod-p sum subtracts under one final mod — so
    * removing an ingested batch's contribution from a 100 TB corpus
    * manifest costs a #groups-row join, never a rescan, and
    * retract(merge(m, b), b) ≡ m EXACTLY (spec-pinned).
    *
    * Fail-loud, not silently wrong (the repo convention): a batch
    * group the manifest never saw, a count going negative, or a
    * group emptying with NON-zero residual digests (the batch was not
    * a sub-multiset of what the manifest ingested — XOR/sum residue
    * proves foreign rows) all raise instead of emitting a manifest
    * that no longer digests any real corpus. Groups that empty
    * cleanly drop out. The guards ride the FILTER column, so Catalyst
    * cannot prune a violating row before its guard evaluates. */
  def retractManifest(manifest: DataFrame, batchManifest: DataFrame,
      groupCol: String): DataFrame = {
    val needed = Set("n_rows", "xor_digest", "sum_digest")
    for (m <- Seq(manifest, batchManifest))
      require(needed.subsetOf(m.columns.toSet),
        s"retractManifest: inputs must be contentDigest manifests, got " +
          m.columns.mkString(", "))
    val P = 1000000007L
    val m = manifest.select(col(groupCol).as("_mg"), col("n_rows").as("_mn"),
      col("xor_digest").as("_mx"), col("sum_digest").as("_ms"))
    val b = batchManifest.select(col(groupCol).as("_bg"),
      col("n_rows").as("_bn"), col("xor_digest").as("_bx"),
      col("sum_digest").as("_bs"))
    // null-safe key equality, like manifestDiff: a NULL group is a
    // legitimate manifest row and must match, not double-report
    val joined = m.join(b, col("_mg") <=> col("_bg"), "full_outer")
    val n = col("_mn") - coalesce(col("_bn"), lit(0L))
    val x = coalesce(col("_mx"), lit(0L))
      .bitwiseXOR(coalesce(col("_bx"), lit(0L)))
    val sm = ((coalesce(col("_ms"), lit(0L)) - coalesce(col("_bs"), lit(0L)))
      % P + P) % P
    val nGuard = when(col("_mn").isNull || n < 0,
      raise_error(concat(
        lit("retractManifest: batch retracts more than the manifest " +
          "ingested for group "),
        coalesce(coalesce(col("_mg"), col("_bg")).cast("string"), lit("NULL")),
        lit(" (manifest n_rows="),
        coalesce(col("_mn").cast("string"), lit("none")),
        lit(", batch n_rows="), coalesce(col("_bn").cast("string"), lit("0")),
        lit(")"))))
      .otherwise(n)
    val consistent = when(nGuard === 0 && (x =!= 0L || sm =!= 0L),
      raise_error(concat(
        lit("retractManifest: group "),
        coalesce(col("_mg").cast("string"), lit("NULL")),
        lit(" empties with non-zero residual digests — the batch " +
          "manifest is not a sub-multiset of this manifest's rows"))))
      .otherwise(nGuard)
    joined
      .select(col("_mg").as(groupCol), consistent.as("n_rows"),
        x.as("xor_digest"), sm.as("sum_digest"))
      .filter(col("n_rows") > 0)
  }

  /** Interval-overlap join (X127): all (left, right) pairs whose
    * CLOSED intervals [ls, le] × [rs, re] overlap — the interval ×
    * interval sibling of [[rangeJoin]]'s point-in-interval. The theta
    * join becomes an equi-join by GRID BUCKETING: each interval
    * explodes to the cells it covers (cell = t div cellSize, integral
    * division), candidates meet on the cell key, the exact overlap
    * predicate verifies, and `distinct` collapses pairs that co-occupy
    * several cells. Pinned shuffle-hash — both sides are data-sized.
    *
    * `cellSize` trades fan-out against candidate precision: cells ≪
    * interval length multiply the explode; cells ≫ length pack
    * unrelated intervals into one bucket (the quadratic term). Size it
    * near the TYPICAL interval length; skewed long intervals explode
    * proportionally to the spans they genuinely cover — at 100 TB
    * that is the property that keeps candidates near-linear where a
    * sort-merge theta join would be quadratic. Bounds must be
    * non-negative integers (epochs); column names must be disjoint. */
  def intervalOverlapJoin(left: DataFrame, ls: String, le: String,
      right: DataFrame, rs: String, re: String, cellSize: Long): DataFrame = {
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    val clash = left.columns.toSet.intersect(right.columns.toSet)
    require(clash.isEmpty,
      s"intervalOverlapJoin: column names must be disjoint, got ${clash.mkString(", ")}")
    def gridded(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("_cell", explode(sequence(
        expr(s"$s div $cellSize"), expr(s"$e div $cellSize"))))
    gridded(left, ls, le).hint("shuffle_hash")
      .join(gridded(right, rs, re), Seq("_cell"))
      .filter(col(ls) <= col(re) && col(rs) <= col(le))
      .drop("_cell").distinct()
  }

  /** Per-source calibrated keep-thresholds (X120, the FineWeb-style
    * adaptive quality cut): for each source, the threshold is the
    * HIGHEST score value whose at-or-above population reaches
    * `ceil(n_s · keepBp / 10000)` documents — i.e. the smallest
    * ties-inclusive head that covers the target fraction. Returns one
    * row per source: (source, threshold, n_docs, n_keep_min).
    *
    * Scale shape — this is why thresholds are computed on the
    * (source, score) FREQUENCY table, not by ranking documents: the
    * corpus reduces map-side to per-(source, score) counts (one
    * partial-agg shuffle, output bounded by #sources · |score domain|,
    * NOT corpus size), the cumulative scan runs as a window over that
    * small table, and the application below is a broadcast join + map
    * filter. A per-source row_number over the raw corpus — the obvious
    * alternative — sorts every document of the hottest domain in one
    * partition, which is exactly the skew a 100 TB web crawl hits
    * (one domain can be percents of the corpus). Scores must be
    * integer-valued (cast to long): float scores would make threshold
    * equality engine-dependent. */
  def calibratedKeepThresholds(df: DataFrame, sourceCol: String,
      score: Column, keepBp: Int): DataFrame = {
    require(keepBp >= 1 && keepBp <= 10000,
      s"keepBp must be in [1, 10000], got $keepBp")
    val counts = df.select(col(sourceCol).as("_src"), score.cast("long").as("_score"))
      .groupBy(col("_src"), col("_score")).agg(count(lit(1)).as("_c"))
    val byScoreDesc = Window.partitionBy(col("_src"))
      .orderBy(col("_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySrc = Window.partitionBy(col("_src"))
    counts
      .withColumn("_cum", sum(col("_c")).over(byScoreDesc))
      .withColumn("_n", sum(col("_c")).over(bySrc))
      // cum >= ceil(n*bp/1e4)  <=>  cum*1e4 >= n*bp  (integer cum)
      .filter(col("_cum") * 10000 >= col("_n") * keepBp)
      .groupBy(col("_src"))
      .agg(max(col("_score")).as("threshold"),
        max(col("_n")).as("n_docs"),
        min(col("_cum")).as("n_keep_min"))
      .withColumnRenamed("_src", sourceCol)
  }

  /** Apply [[calibratedKeepThresholds]]: keep every document scoring
    * ≥ its source's threshold (ties all pass — the head is the
    * smallest ties-inclusive cover of the keep fraction, so the kept
    * share per source is ≥ keepBp/10000 and minimal given ties). The
    * thresholds table is #sources rows — broadcast — so the corpus
    * pass is a map-side filter; the corpus never sorts or shuffles. */
  def calibratedQualityFilter(df: DataFrame, idCol: String, sourceCol: String,
      score: Column, keepBp: Int): DataFrame = {
    val th = calibratedKeepThresholds(df, sourceCol, score, keepBp)
      .select(col(sourceCol), col("threshold"))
    df.select(col(idCol), col(sourceCol), score.cast("long").as("quality"))
      .join(broadcast(th), Seq(sourceCol))
      .filter(col("quality") >= col("threshold"))
      .select(col(idCol), col(sourceCol), col("quality"), col("threshold"))
  }

  /** The two-phase prefix-sum operators cast the id to long for the
    * typed per-partition pass — a non-integral id would silently cast
    * to NULL, corrupting both the output ids and the deterministic
    * (priority, id) total order. Fail loud instead. */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"$op: $idCol must be an integral id column (got $dt) — " +
        "the two-phase prefix sum casts it to long")
  }

  /** Deterministic content-hash train/holdout split: bucket = first 4
    * md5 hex chars of the id, mod 100. Pure map — no rand(), no
    * shuffle, no global sort — so a document's split NEVER changes
    * across runs, engines, partitionings, or corpus growth (the
    * property that keeps a 100 TB eval set uncontaminated as training
    * data accretes). md5-derived like every other hash here, so any
    * engine reproduces the assignment bit-for-bit. */
  def hashSplit(df: DataFrame, idCol: String, holdoutPct: Int,
      splitCol: String = "split"): DataFrame =
    df.withColumn(splitCol,
      when(conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % 100 < holdoutPct, lit("holdout"))
        .otherwise(lit("train")))

  /** Deterministic stratified sampling: each stratum keeps its own
    * fraction of rows, selected by a content-hash bucket of the id —
    * the domain-mixing primitive of a training-data pipeline ("keep
    * 50% of en, 10% of everything else"). Pure map like [[hashSplit]]
    * (no rand(), no shuffle, membership stable under corpus growth,
    * repartitioning, and engine choice), with a DIFFERENT hash salt
    * ("strat:") so sampling stays independent of the train/holdout
    * assignment — salting both from the same bytes would correlate
    * the two decisions. Bucket resolution: 1/10000 (0.01%). */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit("strat:"), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    // fold in sorted-key order so the generated plan is deterministic
    val keepBelow = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRate * 10000)) { case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(rate * 10000)).otherwise(acc)
      }
    df.filter(bucket < keepBelow)
  }

  /** EXACT-k deterministic per-stratum sample — eval-set construction
    * ("exactly 20 held-out docs per language"), where
    * [[stratifiedSample]]'s rate form gives only expected sizes. The k
    * smallest salted hashes per stratum win; selection is a pure
    * function of ids (stable under corpus growth only for the ids that
    * remain, which is the most any exact-k sample can promise — rate
    * sampling is the growth-stable variant).
    *
    * Scale shape: the bounded-heap aggregator, NOT a per-stratum
    * window — strata are few, so a window would funnel each stratum's
    * entire row set through one task; the heap shuffles ≤ k entries
    * per (stratum × partition). */
  def exactKSample(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    val scored = df.select(col(strataCol).cast("string").as("_stratum"),
      (-graft.functions.TextFunctions.hexHash60(col(idCol).cast("string"), 777))
        .cast("double").as("_score"),
      col(idCol))
    TopK.topKPerGroupStr(scored, "_stratum", idCol, "_score", k)
      .select(col("_stratum").as(strataCol), col(idCol),
        col("rank"))
  }

  /** Weighted systematic (PPS) sampling: lay rows on a cumulative-
    * weight axis ordered by id, take one sample at every crossing of
    * stride = ⌊ΣW / k⌋ — each row's inclusion probability is
    * proportional to its weight, and unlike the float-key A-ES scheme
    * the selection is EXACT integer arithmetic (BIGINT cumsum +
    * floor-division crossings), so any engine reproduces it
    * bit-for-bit. Rows heavier than the stride land multiple hits
    * (`n_hits` > 1) — standard PPS-with-replacement accounting.
    *
    * Scale shape: the global prefix sum is the same two-phase plan as
    * [[packSequences]] — range-partition by id, per-partition running
    * sum, P partial totals to the driver, broadcast offsets back. No
    * single-partition window, no global sort; the only full-data
    * exchange is the range partition any global order must pay. */
  def weightedSystematicSample(df: DataFrame, idCol: String,
      weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    val local = df.select(col(idCol).cast("long"), weightCol.cast("long"))
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(col(idCol))
      .as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (id, w) => acc += w; (id, w, acc) }
      }
      .toDF(idCol, "w", "_local_end")
      .withColumn("_pid", spark_partition_id())
      .persistTracked()
    val totals = local.groupBy("_pid").agg(max(col("_local_end")).as("_tot"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val grandTotal = totals.map(_._2).sum
    val stride = math.max(grandTotal / k, 1L)
    val offsets =
      if (totals.isEmpty) Seq.empty[(Int, Long)]
      else totals.scanLeft((Int.MinValue, 0L)) {
        case ((_, acc), (pid, tot)) => (pid, acc + tot)
      }.sliding(2).map { case Array((_, prev), (pid, _)) => (pid, prev) }.toSeq
    val offDf = broadcast(offsets.toDF("_pid", "_off"))
    local.join(offDf, Seq("_pid"))
      .withColumn("cum", col("_local_end") + col("_off"))
      .withColumn("n_hits",
        expr(s"cum div ${stride}L") - expr(s"(cum - w) div ${stride}L"))
      .filter(col("n_hits") > 0)
      .select(col(idCol), col("w"), col("cum"), col("n_hits"))
  }

  /** DSIR importance-weight TRAINING (Xie et al. 2023,
    * arXiv:2302.03169): bag-of-hashed-ngrams log-likelihood ratios
    * between a TARGET (seed) distribution and the RAW pool. Unigrams +
    * word bigrams hash (portable md5-derived 60-bit, seeded) into
    * `buckets` buckets; per bucket b,
    * w(b) = ln((c_t(b)+1)/(N_t+B)) − ln((c_r(b)+1)/(N_r+B))
    * (add-one smoothing over the B-bucket support), quantized to 1e-6
    * fixed-point BIGINT. Returns ALL B buckets (spine join), so
    * scoring needs no out-of-vocabulary default — the smoothed weight
    * of an empty bucket is already in the table.
    *
    * Scale shape: two gram-explode partial-agg shuffles that reduce to
    * ≤ B rows each (the hashing trick bounds the model by `buckets`,
    * NOT by vocabulary — the property DSIR exists for), both persisted
    * (count + total consumers); a B-row spine join and a broadcast
    * 1-row (N_t, N_r) scalar. Output is B rows by construction. */
  def dsirLogRatioWeights(target: DataFrame, raw: DataFrame,
      textCol: String, buckets: Int = 256, seed: Int = 91): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    require(!target.isEmpty, "dsirLogRatioWeights: empty target corpus")
    require(!raw.isEmpty, "dsirLogRatioWeights: empty raw corpus")
    val spark = target.sparkSession
    import spark.implicits._
    def bucketCounts(df: DataFrame, cName: String): DataFrame =
      Dedup.spread(df).select(
        explode(concat(graft.functions.TextFunctions.tokens(lower(col(textCol))),
          Dedup.shinglesAuto(df, textCol, 2))).as("g"))
        .select((graft.functions.TextFunctions.hexHash60(col("g"), seed)
          % buckets).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(cName))
    val tc = bucketCounts(target, "_tc").persistTracked()
    val rc = bucketCounts(raw, "_rc").persistTracked()
    // coalesce: a non-empty class whose docs all tokenize to ZERO
    // grams yields an empty count frame and a NULL sum — without the
    // guard every weight goes NULL and downstream scoring silently
    // degrades to uniform sampling, while the oracle (which
    // coalesces) computes real weights
    val scal = tc.agg(coalesce(sum(col("_tc")), lit(0L)).cast("long").as("_nt"))
      .crossJoin(rc.agg(coalesce(sum(col("_rc")), lit(0L)).cast("long").as("_nr")))
    spark.range(buckets).toDF("bucket")
      .join(tc, Seq("bucket"), "left")
      .join(rc, Seq("bucket"), "left")
      .crossJoin(broadcast(scal))
      .select(col("bucket"), floor((
        log((coalesce(col("_tc"), lit(0L)) + lit(1L)).cast("double") /
          (col("_nt") + lit(buckets.toLong)).cast("double")) -
        log((coalesce(col("_rc"), lit(0L)) + lit(1L)).cast("double") /
          (col("_nr") + lit(buckets.toLong)).cast("double"))) * lit(1e6)
        + lit(0.5)).cast("long").as("w"))
  }

  /** DSIR importance RESAMPLING (Xie et al. 2023 §3): select `k`
    * documents with probability proportional to their importance
    * weight via the Gumbel top-k trick — per doc,
    * key = log w(doc) + Gumbel(0,1), take the k largest. The Gumbel
    * noise is deterministic (md5-derived uniform in (0,1), seeded by
    * doc id — the repo's salted-sampling convention), so the selected
    * SET is a pure function of (corpus, weights, seeds) and
    * hash-verifiable. log w(doc) = Σ_grams w(bucket(g)) summed exactly
    * in fixed-point BIGINT; the final key quantizes to 1e-6 BIGINT
    * (`gumbel_key`) before the top-k, ties broken by id.
    *
    * Scale shape: one gram-explode → B-row broadcast join → per-doc
    * partial-agg shuffle, then TakeOrdered(k) — the corpus never
    * shuffles whole rows and the driver sees k rows. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, k: Int, buckets: Int = 256,
      bucketSeed: Int = 91, gumbelSeed: Int = 92): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val perDoc = Dedup.spread(docs).select(col(idCol),
      explode(concat(graft.functions.TextFunctions.tokens(lower(col(textCol))),
        Dedup.shinglesAuto(docs, textCol, 2))).as("g"))
      .select(col(idCol),
        (graft.functions.TextFunctions.hexHash60(col("g"), bucketSeed)
          % buckets).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol)).agg(sum(col("w")).as("_lw"))
    // u in (0,1) with EXACT double arithmetic: reduce the 60-bit md5
    // hash to 52 bits (2^52 fits the double mantissa, so h, h+1 and
    // the 2^52+2 denominator are all exact — no rounding can push u to
    // 0 or 1, keeping -ln(-ln(u)) finite on every engine)
    val u = ((graft.functions.TextFunctions.hexHash60(
      col(idCol).cast("string"), gumbelSeed) % lit(4503599627370496L))
      .cast("double") + lit(1.0)) / lit(4503599627370498.0)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lw"), lit(0L)).as("log_w_fp"))
      .withColumn("gumbel_key",
        floor((col("log_w_fp").cast("double") / lit(1e6) - log(-log(u)))
          * lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Pretraining domain mixing: given a per-source token budget,
    * compute each source's keep-rate = min(1, budget/actual) from the
    * corpus itself and apply it as a deterministic hash sample — the
    * op that turns "40% web, 30% code, 30% books" targets into an
    * actual reweighted corpus. Rates quantize to 1/10000 buckets
    * (floor) and the bucket test reuses the salted-md5 machinery of
    * [[stratifiedSample]] ("mix:" salt — independent of split and
    * sampling decisions), so membership is exact, engine-portable,
    * and stable under reruns.
    *
    * Plan: one source-keyed partial agg for the actual sizes (rows =
    * #sources), broadcast back into a pure map-side filter — the
    * corpus itself is never shuffled. */
  def domainMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCount: Column, budgetPerSource: Long): DataFrame = {
    // a zero-token source keeps everything EXPLICITLY (there is nothing
    // to downsample): without the guard, Spark's `div 0` yields NULL and
    // least() skipping NULLs happens to give 10000, but an oracle
    // engine's division-by-zero is not guaranteed to agree
    val actual = df.groupBy(col(sourceCol))
      .agg(sum(tokenCount.cast("long")).as("_actual"))
      .withColumn("_keep_bp",
        when(col("_actual") > 0,
          least(lit(10000L),
            expr(s"${budgetPerSource}L * 10000L div _actual")))
          .otherwise(lit(10000L)))
    val bucket = conv(substring(
      md5(concat(lit("mix:"), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    df.join(broadcast(actual), Seq(sourceCol))
      .filter(bucket < col("_keep_bp"))
      .select(col(idCol), col(sourceCol), col("_keep_bp").as("keep_bp"))
  }

  /** TEMPERATURE-weighted domain mixing (the mT5/XLM-R sampling rule
    * at τ = 0.5): source i keeps tokens in proportion to
    * p_i ∝ √n_i (upweights small sources, downweights the giant head),
    * with keep-rate_i = min(1, totalBudget·p_i / n_i) applied as the
    * same deterministic salted-md5 hash sample as [[domainMix]].
    *
    * τ is FIXED at 0.5 because √ is the one power IEEE-754 requires
    * correctly rounded — `pow(x, τ)` for general τ is not guaranteed
    * to agree across libm implementations, and a last-ulp disagreement
    * flips quantized keep-rates. For the same reason √n_i quantizes to
    * 1e-6 fixed-point BIGINT BEFORE the normalizing sum (float sums
    * are order-nondeterministic; BIGINT sums are exact in any order),
    * so the final keep-rate arithmetic is a deterministic chain of
    * exact integers and two IEEE divisions.
    *
    * Plan: identical to [[domainMix]] — one source-keyed partial agg
    * (rows = #sources), broadcast back into a map-side filter; the
    * corpus never shuffles. */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCount: Column, totalBudget: Long): DataFrame = {
    val actual = df.groupBy(col(sourceCol))
      .agg(sum(tokenCount.cast("long")).as("_actual"))
      .withColumn("_w6",
        floor(sqrt(col("_actual").cast("double")) * 1e6 + 0.5).cast("long"))
    val wsum = actual.agg(sum(col("_w6")).as("_wsum"))
    val rates = actual.crossJoin(broadcast(wsum))
      .withColumn("_keep_bp",
        when(col("_actual") > 0,
          least(lit(10000L),
            floor(lit(totalBudget.toDouble * 10000.0) * col("_w6") /
              col("_wsum") / col("_actual")).cast("long")))
          .otherwise(lit(10000L)))
    val bucket = conv(substring(
      md5(concat(lit("tmix:"), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(bucket < col("_keep_bp"))
      .select(col(idCol), col(sourceCol), col("_keep_bp").as("keep_bp"))
  }

  /** EPOCH (repeat-factor) mixing — the UPSAMPLING counterpart of
    * [[domainMix]] (LLaMA/DoReMi-style source weighting): each source
    * repeats until it hits `budgetPerSource` tokens, capped at
    * `maxEpochs` passes. The repeat factor quantizes to basis points
    * (floor); every document emits `bp div 10000` full copies plus one
    * extra copy iff its salted-md5 bucket falls under `bp mod 10000` —
    * so the FRACTIONAL epoch is a deterministic hash-sample of the
    * source, not a truncation, and expected token counts hit the
    * budget exactly.
    *
    * Plan: one source-keyed partial agg (#sources rows) broadcast back
    * into a map-side explode — the corpus never shuffles; output size
    * is input × repeat factor by construction. */
  def epochMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCount: Column, budgetPerSource: Long, maxEpochs: Int): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val actual = df.groupBy(col(sourceCol))
      .agg(sum(tokenCount.cast("long")).as("_actual"))
      .withColumn("_rf_bp",
        when(col("_actual") > 0,
          least(lit(maxEpochs * 10000L),
            expr(s"${budgetPerSource}L * 10000L div _actual")))
          .otherwise(lit(10000L)))
    val bucket = conv(substring(
      md5(concat(lit("epoch:"), col(idCol).cast("string"))), 1, 4), 16, 10)
      .cast("long") % 10000
    df.join(broadcast(actual), Seq(sourceCol))
      .withColumn("_n_copies",
        expr("_rf_bp div 10000L") +
          when(bucket < col("_rf_bp") % 10000, 1L).otherwise(0L))
      .filter(col("_n_copies") > 0)
      .select(col(idCol), col(sourceCol), col("_rf_bp").as("rf_bp"),
        explode(sequence(lit(1L), col("_n_copies"))).as("copy_idx"))
  }

  /** Deterministic corpus shuffle into training shards — the
    * training-order materialization step of a pretraining pipeline
    * (a model must NOT see documents in crawl/source order, and the
    * order must be reproducible run-to-run). Each row gets a salted
    * md5 sort key ("shuf:" — independent of the split and sampling
    * salts); shard = key prefix mod numShards, position = rank of the
    * key within the shard.
    *
    * Scale shape: ONE exchange keyed by shard + a per-shard sort —
    * exactly the shuffle any training-order materialization must pay
    * (it IS a global permutation); shard count controls the sort
    * width. No rand(): the permutation is a pure function of ids. */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val key = md5(concat(lit("shuf:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("_k"), col(idCol))
    df.select(col(idCol), key.as("_k"))
      .withColumn("shard",
        conv(substring(col("_k"), 1, 4), 16, 10).cast("long") % numShards)
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Column profiler — the warehouse data-quality utility: per column,
    * row/non-null/exact-distinct counts and min/max (stringified for a
    * uniform long schema).
    *
    * Deliberately TWO aggregates over two scans, joined as 1-row
    * results: the counts pass is the multi-column-distinct Expand
    * rewrite (row × k fan-out, all-numeric buffers → HashAggregate);
    * the extremes pass is a plain keyless partial agg. Fusing them
    * into one aggregate poisons the whole plan — string min/max
    * buffers force SortAggregate, which then full-sorts the EXPANDED
    * rows on every dedup key (measured 10× slower than the two hash
    * passes at sf0.1). Swap the distincts for the portable HLL sketch
    * when approximate is acceptable at 100 TB. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    val countAggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(col(c)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd"))
    }
    val extremeAggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    // 1-row × 1-row: the bounded broadcast-scalar join (PlanGuardSpec
    // whitelists it like the TF-IDF/BM25 corpus-stats attaches)
    val one = df.agg(countAggs.head, countAggs.tail: _*)
      .crossJoin(df.agg(extremeAggs.head, extremeAggs.tail: _*))
    // stack generator: melts the single row in place — a union of k
    // selects would re-evaluate the whole aggregate k times
    val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', `${c}__rows`, `${c}__nn`, `${c}__nd`, `${c}__min`, `${c}__max`")
      .mkString(", ") +
      ") as (col_name, n_rows, n_nonnull, n_distinct, min_val, max_val)"
    one.select(expr(stackExpr))
  }

  /** Time-series resample + forward fill (gap fill): bucket events to
    * a fixed grid, keep the LATEST value per (key, bucket) — latest by
    * (ts, tie-break id), via one lexicographic struct-max partial agg —
    * then join a dense calendar spine and carry the last non-null
    * value forward per key. Buckets before a key's first event stay
    * null (nothing to carry).
    *
    * Scale shape: one partial-agg shuffle keyed by (key, bucket) for
    * the latest-per-bucket, one keyed window for the carry; the spine
    * is (time-range/bucket × keys) rows — a function of calendar span
    * and key count, independent of event volume, which is what makes
    * resampling tractable at 100 TB of raw events. */
  def resampleForwardFill(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, bucketSec: Long): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    val evB = events.withColumn("_b",
      expr(s"unix_timestamp($tsCol) div $bucketSec"))
    val latest = evB.groupBy(col(keyCol), col("_b"))
      .agg(max(struct(col(tsCol), col(idCol), col(valueCol)))
        .getField(valueCol).as("value_raw"))
    val bounds = evB.agg(min(col("_b")).as("_lo"), max(col("_b")).as("_hi"))
    val keys = events.select(col(keyCol)).distinct()
    val spine = keys.crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("_lo"), col("_hi"))).as("_b"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(latest, Seq(keyCol, "_b"), "left")
      .withColumn("value_ff", last(col("value_raw"), ignoreNulls = true).over(w))
      .withColumnRenamed("_b", "bucket")
  }

  /** Bloom-pruned join — the manual runtime-filter pattern: build a
    * Bloom filter over the dim side's keys (mergeable partials,
    * driver-merged, bits ≪ key set), broadcast it, and drop fact rows
    * that cannot match BEFORE the join shuffle. No false negatives ⇒
    * result identical to the plain join; false-positive rows are
    * removed by the join itself. This is what
    * `spark.sql.optimizer.runtime.bloomFilter` injects automatically —
    * exposed as an operator for sources/planners that miss it. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
      expectedDimKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val spark = fact.sparkSession
    requireSketchableKey(dim, key, "bloomPrunedJoin")
    requireSketchableKey(fact, key, "bloomPrunedJoin")
    // the filter inserts integral keys as longs and string keys as
    // UTF-8 bytes; the probe column must present the SAME encoding
    // (integral → cast long, string → as-is) or pruning silently
    // yields false negatives and the "result identical to the plain
    // join" contract breaks
    val bloom = dim.stat.bloomFilter(key, expectedDimKeys, fpp)
    val (pruned, _) = bloomSplit(fact, bloom, key)
    pruned.join(dim, Seq(key))
  }

  /** Split `df` into (bloom-MAYBE, definitely-FRESH) slices on
    * `colName` — the shared probe machinery behind [[bloomPrunedJoin]]
    * and `Dedup.incrementalExactDedup`. PRECONDITION: `df`'s plan must
    * be DETERMINISTIC up to and including `colName` (the two slices
    * are two independent evaluations of the same unpersisted plan — a
    * nondeterministic expression could route a row into both slices or
    * neither, breaking the exact-complement contract that
    * incrementalExactDedup's "identical to the plain anti-join"
    * guarantee rests on). All current callers feed deterministic
    * column pipelines; persist the input first if yours does not.
    * Probe encoding matches the
    * build side's insert encoding (integral → long, string → as-is;
    * see [[requireSketchableKey]]) or pruning silently yields false
    * negatives. NULL keys always route to the FRESH side: a null never
    * matches any stored key, and neither probe path can evaluate null
    * (the native call returns SQL NULL — which would drop the row from
    * BOTH slices — and `BloomFilter.mightContain(null)` throws). The
    * native codegen probe rides inside the whole-stage codegen span; a
    * typed Row=>Boolean filter would deserialize every row and split
    * the span, so it is only the no-extensions fallback. */
  private[graft] def bloomSplit(df: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      colName: String): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val probeCol = df.schema(colName).dataType match {
      case org.apache.spark.sql.types.StringType => col(colName)
      case _ => col(colName).cast("long")
    }
    if (spark.catalog.functionExists("graft_bloom_contains")) {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      // isNotNull first makes the probe total (false for null rows,
      // never SQL NULL), so filter(!probe) is an exact complement
      val probe = col(colName).isNotNull &&
        call_function("graft_bloom_contains", probeCol, lit(bos.toByteArray))
      (df.filter(probe), df.filter(!probe))
    } else {
      val bc = spark.sparkContext.broadcast(bloom)
      (df.filter((r: org.apache.spark.sql.Row) =>
        r.getAs[Any](colName) != null &&
          bc.value.mightContain(r.getAs[Any](colName))),
        df.filter((r: org.apache.spark.sql.Row) =>
          r.getAs[Any](colName) == null ||
            !bc.value.mightContain(r.getAs[Any](colName))))
    }
  }

  /** Row-level data-quality routing (X165): append `_violations`, the
    * names of the row checks this row FAILS, in declaration order. A
    * check evaluating NULL counts as failed (Deequ semantics: a
    * predicate that cannot affirm the row does not pass it) — so
    * `lang.isin(...)` on a NULL lang routes to quarantine instead of
    * silently passing three-valued logic. Pure map-side projection:
    * quarantine routing adds ZERO shuffles to an ingest. */
  def checkConstraints(df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "checkConstraints: no checks given")
    require(!df.columns.contains("_violations"),
      "checkConstraints: input already has a _violations column — " +
        "withColumn would silently overwrite it (and quarantineSplit " +
        "would then drop caller data from the valid side)")
    val names = checks.map(_._1)
    require(names.distinct.size == names.size,
      s"checkConstraints: duplicate check names in ${names.mkString(", ")}")
    df.withColumn("_violations", array_compact(array(checks.map {
      case (name, pred) =>
        when(!coalesce(pred, lit(false)), lit(name))
    }: _*)))
  }

  /** Quarantine split — the dead-letter half of a fail-loud-or-route
    * ingest: rows passing every check flow on unchanged (valid),
    * violating rows land in a quarantine table carrying their reason
    * list. One predicate evaluation per side off a shared
    * [[checkConstraints]] projection; both sides stay map-side. */
  def quarantineSplit(df: DataFrame,
      checks: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val checked = checkConstraints(df, checks)
    (checked.filter(size(col("_violations")) === 0).drop("_violations"),
      checked.filter(size(col("_violations")) > 0))
  }

  /** DEAD-LETTER retraction (X180) — the review loop's second half:
    * once a quarantined row has been reviewed (corrected and
    * re-ingested, or judged unrecoverable), its audit rows leave the
    * dead-letter store so the review queue only ever shows OPEN
    * cases. One id-keyed pinned shuffle-hash equi-join (no broadcast
    * assumption on either side); an id quarantined in several batches
    * retracts ALL its rows; the caller persists the returned frame
    * (the X155 compaction path).
    *
    * Fail-loud: retracting an id the dead-letter store never held
    * means the review list drifted from the quarantine record — the
    * raise_error guard rides the row FILTER (the retractManifest
    * convention), so any evaluation of the frame trips it regardless
    * of which output columns a consumer prunes.
    *
    * The re-admission contract this composes with (gate + spec): a
    * quarantined row never entered any dedup store — routing is
    * upstream of fingerprinting — so a CORRECTED re-arrival dedups
    * only against genuinely-kept content and is never shadowed by its
    * own quarantined first arrival. */
  def retractDeadLetter(deadLetter: DataFrame, ids: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    require(deadLetter.columns.contains(idCol),
      s"retractDeadLetter: dead-letter store has no '$idCol' column " +
        s"(got ${deadLetter.columns.mkString(", ")})")
    require(ids.columns.contains(idCol),
      s"retractDeadLetter: review list has no '$idCol' column " +
        s"(got ${ids.columns.mkString(", ")})")
    require(!deadLetter.columns.contains("_rid") &&
      !deadLetter.columns.contains("_dlm"),
      "retractDeadLetter: dead-letter store columns '_rid'/'_dlm' " +
        "collide with the internal markers")
    val r = ids.select(col(idCol).cast("long").as("_rid")).distinct()
    // Orphan detection uses an added ALWAYS-NON-NULL marker (_dlm, the
    // retractFingerprints _sid pattern), NOT the raw id's nullness: a
    // genuine dead-letter row whose doc_id is NULL must remain a
    // retractable store row, not a phantom orphan.
    val dl = deadLetter.withColumn("_dlm", lit(1))
    val joined = dl.join(r.hint("shuffle_hash"),
      dl(idCol).cast("long") === r("_rid"), "full_outer")
    val keep = when(col("_dlm").isNull,
      raise_error(concat(
        lit("retractDeadLetter: id "), col("_rid").cast("string"),
        lit(" is not in the dead-letter store — reviewing a row that " +
          "was never quarantined means the review list drifted from " +
          "the quarantine record")))
        .cast("boolean"))
      .otherwise(col("_rid").isNull)
    joined.filter(keep).drop("_rid", "_dlm")
  }

  /** Data-quality constraint SUITE (X165) — the dataset-level verdict
    * a Deequ-style expectations gate publishes per snapshot: one row
    * per constraint with exact integral metrics (basis points via
    * integer division — hash-portable, no float shares) and a passed
    * flag.
    *
    *  - row checks: n_bad = rows failing the predicate (NULL fails);
    *    passed iff n_bad == 0
    *  - completeness: n_bad = NULL rows in the column; value_bp =
    *    non-null share; passed iff no NULLs
    *  - uniqueness: n_bad = rows IN EXCESS of one per key (what a
    *    dedup would drop); value_bp = distinct-key share; passed iff
    *    no duplicates. NULL-keyed rows group together, like dedup.
    *
    * Scale shape: all row checks + completeness fold into ONE
    * aggregation pass over the corpus (a single-row agg of exact
    * counters, then a #constraints-row unpivot — the corpus is read
    * once no matter how many constraints ride); each uniqueness key
    * set adds one short-key partial-agg shuffle (count per key →
    * #keys-row summary), the same shape as exact dedup. */
  def dqSuite(df: DataFrame, rowChecks: Seq[(String, Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil): DataFrame = {
    require(rowChecks.nonEmpty || completeness.nonEmpty || uniqueness.nonEmpty,
      "dqSuite: no constraints given")
    val spark = df.sparkSession
    // coalesce: sum over ZERO rows is SQL NULL — an empty corpus must
    // report n_bad=0 / passed=true, not a NULL verdict (the uniqueness
    // branch below already guards the same way)
    val rowAggs = rowChecks.map { case (name, pred) =>
      coalesce(sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)),
        lit(0L)).as(s"check:$name")
    }
    val compAggs = completeness.map(c =>
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
        .as(s"complete:$c"))
    val base = df.agg((rowAggs ++ compAggs :+
      count(lit(1)).as("_total")).head,
      (rowAggs ++ compAggs :+ count(lit(1)).as("_total")).tail: _*)
    val constraints = rowChecks.map(c => s"check:${c._1}") ++
      completeness.map(c => s"complete:$c")
    // `div`, not `/`: long/long must stay EXACT integer division —
    // float division + floor can flip at an integer boundary once
    // totals pass ~5e11 rows
    val scan = base.select(col("_total"), expr(
      s"stack(${constraints.size}, " +
        constraints.map(c => s"'$c', `$c`").mkString(", ") +
        ") AS (constraint, n_bad)"))
      .select(col("constraint"), col("n_bad"),
        when(col("_total") > 0,
          expr("(_total - n_bad) * 10000 div _total"))
          .otherwise(10000L).as("value_bp"),
        (col("n_bad") === 0L).as("passed"))
    val uniq = uniqueness.map { keys =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .agg(coalesce(sum(col("_n") - 1L), lit(0L)).as("n_bad"),
          count(lit(1)).as("_distinct"),
          coalesce(sum(col("_n")), lit(0L)).as("_total"))
        .select(lit(s"unique:${keys.mkString(",")}").as("constraint"),
          col("n_bad"),
          when(col("_total") > 0, expr("_distinct * 10000 div _total"))
            .otherwise(10000L).as("value_bp"),
          (col("n_bad") === 0L).as("passed"))
    }
    (scan +: uniq).reduce(_ unionByName _)
  }

  /** Per-GROUP DQ constraint suite (X178) — the multi-tenant form of
    * [[dqSuite]]: one verdict row per (group, constraint), so a
    * multi-source ingest publishes per-tenant quality instead of one
    * corpus blur (a failing source must not hide inside a passing
    * aggregate). Same scale shape, now keyed: all row checks +
    * completeness fold into ONE partial-agg pass keyed by the group
    * column (#groups rows out — the corpus is read once no matter how
    * many constraints ride), each uniqueness key set adds one
    * (group, keys) partial-agg shuffle. A NULL group is a legitimate
    * group and gets its own verdicts (the dedup NULL-key rule); an
    * empty corpus has no groups and reports an EMPTY verdict table
    * (unlike the global suite's vacuous pass — no tenants, no
    * verdicts; spec-pinned). */
  def dqSuiteByGroup(df: DataFrame, groupCol: String,
      rowChecks: Seq[(String, Column)],
      completeness: Seq[String] = Nil,
      uniqueness: Seq[Seq[String]] = Nil): DataFrame = {
    require(rowChecks.nonEmpty || completeness.nonEmpty || uniqueness.nonEmpty,
      "dqSuiteByGroup: no constraints given")
    require(!uniqueness.exists(_.contains(groupCol)),
      s"dqSuiteByGroup: uniqueness keys must not include the group " +
        s"column '$groupCol' (already the partition of every check)")
    val rowAggs = rowChecks.map { case (name, pred) =>
      coalesce(sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)),
        lit(0L)).as(s"check:$name")
    }
    val compAggs = completeness.map(c =>
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
        .as(s"complete:$c"))
    val base = df.groupBy(col(groupCol)).agg(
      (rowAggs ++ compAggs :+ count(lit(1)).as("_total")).head,
      (rowAggs ++ compAggs :+ count(lit(1)).as("_total")).tail: _*)
    val constraints = rowChecks.map(c => s"check:${c._1}") ++
      completeness.map(c => s"complete:$c")
    val scan =
      if (constraints.isEmpty)
        base.select(col(groupCol)).limit(0)
          .withColumn("constraint", lit(""))
          .withColumn("n_bad", lit(0L))
          .withColumn("value_bp", lit(0L))
          .withColumn("passed", lit(true))
      else base.select(col(groupCol), col("_total"), expr(
        s"stack(${constraints.size}, " +
          constraints.map(c => s"'$c', `$c`").mkString(", ") +
          ") AS (constraint, n_bad)"))
        .select(col(groupCol), col("constraint"), col("n_bad"),
          when(col("_total") > 0,
            expr("(_total - n_bad) * 10000 div _total"))
            .otherwise(10000L).as("value_bp"),
          (col("n_bad") === 0L).as("passed"))
    val uniq = uniqueness.map { keys =>
      df.groupBy((groupCol +: keys).map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .groupBy(col(groupCol))
        .agg(coalesce(sum(col("_n") - 1L), lit(0L)).as("n_bad"),
          count(lit(1)).as("_distinct"),
          coalesce(sum(col("_n")), lit(0L)).as("_total"))
        .select(col(groupCol),
          lit(s"unique:${keys.mkString(",")}").as("constraint"),
          col("n_bad"),
          when(col("_total") > 0, expr("_distinct * 10000 div _total"))
            .otherwise(10000L).as("value_bp"),
          (col("n_bad") === 0L).as("passed"))
    }
    (scan +: uniq).reduce(_ unionByName _)
  }

  /** REFERENTIAL-INTEGRITY DQ constraint (X182) — the cross-TABLE half
    * of the [[dqSuite]] family (row checks / completeness /
    * uniqueness are all single-table): for a declared relation
    * child.childKeys → parent.parentKeys, emit two verdict rows in
    * the suite's exact layout:
    *
    *  - `ref_orphans:<relation>` — child ROWS whose key matches no
    *    parent (n_bad); a NULL child key cannot reference anything
    *    and counts as an orphan (the dqSuite NULL-fails rule);
    *    value_bp = non-orphan share.
    *  - `ref_coverage:<relation>` — parent rows no child references
    *    (n_bad); the dangling-dimension signal; value_bp = referenced
    *    share.
    *
    * The classic silent killer this catches at 100 TB: a partial
    * upstream load drops a parent partition and every child row in it
    * silently falls out of inner joins downstream.
    *
    * Scale shape: parent keys reduce to ONE distinct partial-agg
    * (short keys), then one shuffle-hash anti-join per direction —
    * never a broadcast assumption on either side, never a payload
    * column in a shuffle (both sides project to keys first). */
  def dqReferentialIntegrity(child: DataFrame, parent: DataFrame,
      childKeys: Seq[String], parentKeys: Seq[String],
      relation: String): DataFrame = {
    require(childKeys.nonEmpty && childKeys.size == parentKeys.size,
      s"dqReferentialIntegrity: key lists must be non-empty and equal " +
        s"length, got $childKeys vs $parentKeys")
    val ck = child.select(childKeys.map(col): _*).toDF(parentKeys: _*)
    val pk = parent.select(parentKeys.map(col): _*)
    val pkDistinct = pk.distinct()
    // NULL child keys never equi-match -> anti-join keeps them: orphans
    val orphanStats = ck.join(pkDistinct.hint("shuffle_hash"),
        parentKeys, "left_anti")
      .agg(count(lit(1)).as("_bad"))
      .crossJoin(ck.agg(count(lit(1)).as("_n")))
    val childlessStats = pk.join(ck.distinct().hint("shuffle_hash"),
        parentKeys, "left_anti")
      .agg(count(lit(1)).as("_bad"))
      .crossJoin(pk.agg(count(lit(1)).as("_n")))
    def row(df: DataFrame, name: String): DataFrame =
      df.select(lit(name).as("constraint"),
        col("_n").as("n_rows"), col("_bad").as("n_bad"),
        when(col("_n") > 0, expr("(_n - _bad) * 10000 div _n"))
          .otherwise(10000L).as("value_bp"),
        (col("_bad") === 0L).as("passed"))
    row(orphanStats, s"ref_orphans:$relation")
      .unionByName(row(childlessStats, s"ref_coverage:$relation"))
  }

  /** EMBEDDING-column DQ check set (X188) — the vector-specific
    * expectations a scalar suite cannot express, packaged as
    * [[dqSuite]]/[[dqSuiteByGroup]]/streaming rowChecks so the whole
    * DQ machinery (keyed suites, drift, quarantine, gated ingest)
    * applies to vector columns unchanged:
    *
    *  - `<col>_dims_<d>`: exactly d elements (a ragged vector
    *    silently breaks every dot product downstream);
    *  - `<col>_finite`: no NaN/±Inf element (one NaN poisons a whole
    *    centroid in training and every cosine it touches);
    *  - `<col>_nonzero`: some element ≠ 0 (a zero vector has no
    *    direction — cosine against it is undefined).
    *
    * A NULL vector fails all three (the suite's NULL-fails rule; pair
    * with a completeness row for the explicit null count). All pure
    * map-side HOFs over the array — zero shuffles beyond the suite's
    * own one-pass aggregation. */
  def embeddingChecks(vecCol: String, dims: Int): Seq[(String, Column)] = {
    require(dims >= 1, s"embeddingChecks: dims must be >= 1, got $dims")
    Seq(
      s"${vecCol}_dims_$dims" -> (size(col(vecCol)) === dims),
      s"${vecCol}_finite" -> forall(col(vecCol), x =>
        !isnan(x) && x > lit(Float.NegativeInfinity) &&
          x < lit(Float.PositiveInfinity)),
      s"${vecCol}_nonzero" -> exists(col(vecCol), x => x =!= lit(0.0f)))
  }

  /** DISTRIBUTION-DRIFT DQ constraint (X187) — the VALUE-distribution
    * half of snapshot comparison (X173 schemaDrift answers "did the
    * shape/null-rates change", X168 tracks constraint trends; this
    * answers "did the values move"): TOTAL-VARIATION distance between
    * two snapshots' binned histograms of one column, in exact basis
    * points. TV = ½·Σ|p_i − q_i| is the PSI/KL alternative that needs
    * NO logarithm, so the whole metric stays integer cross-
    * multiplication: tv_bp = Σ|c_a·N_b − c_b·N_a|·10⁴ div (2·N_a·N_b),
    * folded in DECIMAL(38,0) so 10¹²-row snapshots cannot overflow.
    *
    * Bins are floor(value/binWidth) with the pmod floor-division (a
    * negative value bins DOWN, not toward zero). NULLs get their own
    * sentinel bin (a null-rate shift IS distribution drift). An empty
    * side vs a non-empty side is FULL drift (10000 bp); two empty
    * sides are no drift (both spec-pinned).
    *
    * Scale shape: one per-side bin partial-agg (#bins rows out of a
    * corpus scan) + a #bins-row full-outer join + a 1-row fold —
    * mergeable per-partition histograms are the 100 TB path, and the
    * drift fold itself never touches the corpus. */
  /** The X187 binning, factored for every histogram consumer: pmod
    * FLOOR-division buckets (negatives bin down), NULLs at the
    * Long.MinValue sentinel bin. Returns the (bin, n) partial — the
    * mergeable per-snapshot histogram record. */
  def binnedCounts(df: DataFrame, valueCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1,
      s"binnedCounts: binWidth must be >= 1, got $binWidth")
    df.select(col(valueCol).cast("long").as("_v"))
      .select(when(col("_v").isNull, lit(Long.MinValue))
        .otherwise(expr(s"(_v - pmod(_v, ${binWidth}L)) div ${binWidth}L"))
        .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** Keyed [[binnedCounts]]: one mergeable (group, bin, n) histogram
    * partial per group — the per-tenant snapshot record. */
  def binnedCountsByGroup(df: DataFrame, groupCol: String,
      valueCol: String, binWidth: Long): DataFrame = {
    require(binWidth >= 1,
      s"binnedCountsByGroup: binWidth must be >= 1, got $binWidth")
    df.select(col(groupCol), col(valueCol).cast("long").as("_v"))
      .select(col(groupCol),
        when(col("_v").isNull, lit(Long.MinValue))
          .otherwise(expr(s"(_v - pmod(_v, ${binWidth}L)) div ${binWidth}L"))
          .as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("n"))
  }

  /** Per-GROUP histogram-store drift (X194) — [[histogramStoreDrift]]
    * keyed by tenant, closing the same blind spot X179 closed for
    * constraint drift: offsetting tenant distribution shifts net the
    * corpus histogram flat, so a tenant whose values moved is
    * invisible to the GLOBAL monitor (spec-pinned: a full per-tenant
    * swap flagged keyed while the global fold over the summed
    * histograms stays quiet). Every fold from [[histogramStoreDrift]]
    * runs keyed by (group): trailing merge, totals, the DECIMAL(38,0)
    * TV — one (group, batch) verdict row each. Same offsets-explode
    * equi-join for the window; everything runs over STORE rows. */
  def histogramStoreDriftByGroup(store: DataFrame, groupCol: String,
      windowBatches: Int, thresholdBp: Long): DataFrame = {
    require(windowBatches >= 1,
      s"histogramStoreDriftByGroup: windowBatches must be >= 1, got $windowBatches")
    require(thresholdBp >= 0 && thresholdBp <= 10000,
      s"histogramStoreDriftByGroup: thresholdBp must be 0..10000, got $thresholdBp")
    require(Set("batch", groupCol, "bin", "n").subsetOf(store.columns.toSet),
      s"histogramStoreDriftByGroup: store must carry (batch, $groupCol, " +
        s"bin, n), got ${store.columns.mkString(", ")}")
    val hist = store.select(col("batch").cast("long").as("_hb"),
      col(groupCol).as("_g"), col("bin").cast("long").as("bin"),
      col("n").cast("long").as("n"))
      .persistTracked()
    // a (group, batch) participates iff the group REPORTED a
    // histogram in that batch — trailing membership per group
    val gBatches = hist.select(col("_g"), col("_hb").as("batch")).distinct()
    val pairs = gBatches.select(col("_g"), col("batch"),
      explode(array((1 to windowBatches).map(o => col("batch") - o): _*))
        .as("_hb"))
    val trail = pairs.join(
        gBatches.select(col("_g"), col("batch").as("_hb")).distinct(),
        Seq("_g", "_hb"))
      .groupBy(col("_g"), col("batch")).agg(count(lit(1)).as("n_trail"))
    val ref = pairs.join(hist, Seq("_g", "_hb"))
      .groupBy(col("_g"), col("batch"), col("bin"))
      .agg(sum(col("n")).as("_cb"))
    val cur = hist.select(col("_g"), col("_hb").as("batch"), col("bin"),
      col("n").as("_ca"))
    val merged = cur
      .select(col("_g"), col("batch"), col("bin"), col("_ca"),
        lit(0L).as("_cb"))
      .unionByName(ref.select(col("_g"), col("batch"), col("bin"),
        lit(0L).as("_ca"), col("_cb")))
      .groupBy(col("_g"), col("batch"), col("bin"))
      .agg(sum(col("_ca")).cast("decimal(38,0)").as("_ca"),
        sum(col("_cb")).cast("decimal(38,0)").as("_cb"))
    val totals = merged.groupBy(col("_g"), col("batch")).agg(
      coalesce(sum(col("_ca")), lit(0L).cast("decimal(38,0)")).as("_na"),
      coalesce(sum(col("_cb")), lit(0L).cast("decimal(38,0)")).as("_nb"),
      count(lit(1)).as("n_bins"))
    merged.join(totals.hint("shuffle_hash"), Seq("_g", "batch"))
      .groupBy(col("_g"), col("batch"))
      .agg(
        coalesce(sum(abs(col("_ca") * col("_nb") - col("_cb") * col("_na"))),
          lit(0L).cast("decimal(38,0)")).as("_num"),
        max(col("_na")).as("_na"), max(col("_nb")).as("_nb"),
        max(col("n_bins")).as("n_bins"))
      .join(trail.hint("shuffle_hash"), Seq("_g", "batch"), "left")
      .select(col("_g").as(groupCol), col("batch"),
        col("n_bins"),
        col("_na").cast("long").as("n_cur"),
        col("_nb").cast("long").as("n_ref"),
        coalesce(col("n_trail"), lit(0L)).as("n_trail"),
        when(coalesce(col("n_trail"), lit(0L)) === 0L,
          lit(null).cast("long"))
          .when(col("_na") === 0 && col("_nb") === 0, lit(0L))
          .when(col("_na") === 0 || col("_nb") === 0, lit(10000L))
          .otherwise(expr(
            "CAST((_num * 10000) div (2 * _na * _nb) AS BIGINT)"))
          .as("tv_bp"))
      .withColumn("anomaly",
        coalesce(col("tv_bp") > thresholdBp, lit(false)))
  }

  def histogramDrift(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Long, thresholdBp: Long, name: String): DataFrame = {
    require(binWidth >= 1,
      s"histogramDrift: binWidth must be >= 1, got $binWidth")
    require(thresholdBp >= 0 && thresholdBp <= 10000,
      s"histogramDrift: thresholdBp must be 0..10000, got $thresholdBp")
    def bins(df: DataFrame, cName: String): DataFrame =
      binnedCounts(df, valueCol, binWidth)
        .select(col("bin").as("_bin"), col("n").as(cName))
    val ha = bins(a, "_ca")
    val hb = bins(b, "_cb")
    // the joined histogram is #bins rows and feeds the totals fold AND
    // the cross-multiplied TV fold — persist once (registry-released)
    val joined = ha.join(hb, Seq("_bin"), "full_outer")
      .select(col("_bin"),
        coalesce(col("_ca"), lit(0L)).cast("decimal(38,0)").as("_ca"),
        coalesce(col("_cb"), lit(0L)).cast("decimal(38,0)").as("_cb"))
      .persistTracked()
    val totals = joined.agg(
      coalesce(sum(col("_ca")), lit(0L).cast("decimal(38,0)")).as("_na"),
      coalesce(sum(col("_cb")), lit(0L).cast("decimal(38,0)")).as("_nb"),
      count(lit(1)).as("n_bins"))
    joined.crossJoin(totals)
      .agg(
        coalesce(sum(abs(col("_ca") * col("_nb") - col("_cb") * col("_na"))),
          lit(0L).cast("decimal(38,0)")).as("_num"),
        max(col("_na")).as("_na"), max(col("_nb")).as("_nb"),
        max(col("n_bins")).as("n_bins"))
      .select(lit(s"dist_drift:$name").as("constraint"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        coalesce(col("_na"), lit(0L).cast("decimal(38,0)"))
          .cast("long").as("n_a"),
        coalesce(col("_nb"), lit(0L).cast("decimal(38,0)"))
          .cast("long").as("n_b"),
        when(col("_na").isNull || (col("_na") === 0 && col("_nb") === 0),
          lit(0L))
          .when(col("_na") === 0 || col("_nb") === 0, lit(10000L))
          .otherwise(expr(
            "CAST((_num * 10000) div (2 * _na * _nb) AS BIGINT)"))
          .as("tv_bp"))
      .withColumn("drifted", col("tv_bp") > thresholdBp)
  }

  /** Histogram-STORE drift (X191) — the [[histogramDrift]] TV fold
    * over a per-batch histogram HISTORY (one (bin, n) partial per
    * ingest batch — the streaming histogram store's layout): each
    * batch's value distribution compares against the MERGED trailing
    * `windowBatches` histograms, in the same exact DECIMAL(38,0)
    * basis-point arithmetic. A batch with no trailing history reports
    * n_trail=0 / NULL tv / anomaly=false — no history is no evidence
    * (the X168 rule).
    *
    * Scale shape: everything runs over STORE rows (#bins·#batches
    * short rows, never the corpus — the corpus was paid for by the
    * per-batch [[binnedCounts]] partials, which merge by plain
    * summation). The trailing window materializes as an offsets
    * EXPLODE + equi-join (batch − 1 … batch − w), so no non-equi join
    * and no nested loop anywhere. */
  def histogramStoreDrift(store: DataFrame, windowBatches: Int,
      thresholdBp: Long): DataFrame = {
    require(windowBatches >= 1,
      s"histogramStoreDrift: windowBatches must be >= 1, got $windowBatches")
    require(thresholdBp >= 0 && thresholdBp <= 10000,
      s"histogramStoreDrift: thresholdBp must be 0..10000, got $thresholdBp")
    require(Set("batch", "bin", "n").subsetOf(store.columns.toSet),
      s"histogramStoreDrift: store must carry (batch, bin, n), got " +
        store.columns.mkString(", "))
    // store rows feed the current side, the trailing side, and the
    // batch list — short rows, persist once (registry-released)
    val hist = store.select(col("batch").cast("long").as("_hb"),
      col("bin").cast("long").as("bin"), col("n").cast("long").as("n"))
      .persistTracked()
    val batches = hist.select(col("_hb").as("batch")).distinct()
    // trailing membership as an offsets explode -> EQUI-join
    val pairs = batches.select(col("batch"),
      explode(array((1 to windowBatches).map(o => col("batch") - o): _*))
        .as("_hb"))
    val trail = pairs.join(hist.select(col("_hb")).distinct(), Seq("_hb"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_trail"))
    val ref = pairs.join(hist, Seq("_hb"))
      .groupBy(col("batch"), col("bin")).agg(sum(col("n")).as("_cb"))
    val cur = hist.select(col("_hb").as("batch"), col("bin"),
      col("n").as("_ca"))
    val merged = cur
      .select(col("batch"), col("bin"), col("_ca"), lit(0L).as("_cb"))
      .unionByName(ref.select(col("batch"), col("bin"),
        lit(0L).as("_ca"), col("_cb")))
      .groupBy(col("batch"), col("bin"))
      .agg(sum(col("_ca")).cast("decimal(38,0)").as("_ca"),
        sum(col("_cb")).cast("decimal(38,0)").as("_cb"))
    val totals = merged.groupBy(col("batch")).agg(
      coalesce(sum(col("_ca")), lit(0L).cast("decimal(38,0)")).as("_na"),
      coalesce(sum(col("_cb")), lit(0L).cast("decimal(38,0)")).as("_nb"),
      count(lit(1)).as("n_bins"))
    merged.join(totals.hint("shuffle_hash"), Seq("batch"))
      .groupBy(col("batch"))
      .agg(
        coalesce(sum(abs(col("_ca") * col("_nb") - col("_cb") * col("_na"))),
          lit(0L).cast("decimal(38,0)")).as("_num"),
        max(col("_na")).as("_na"), max(col("_nb")).as("_nb"),
        max(col("n_bins")).as("n_bins"))
      .join(trail.hint("shuffle_hash"), Seq("batch"), "left")
      .select(col("batch"),
        col("n_bins"),
        col("_na").cast("long").as("n_cur"),
        col("_nb").cast("long").as("n_ref"),
        coalesce(col("n_trail"), lit(0L)).as("n_trail"),
        when(coalesce(col("n_trail"), lit(0L)) === 0L,
          lit(null).cast("long"))
          .when(col("_na") === 0 && col("_nb") === 0, lit(0L))
          .when(col("_na") === 0 || col("_nb") === 0, lit(10000L))
          .otherwise(expr(
            "CAST((_num * 10000) div (2 * _na * _nb) AS BIGINT)"))
          .as("tv_bp"))
      .withColumn("anomaly",
        coalesce(col("tv_bp") > thresholdBp, lit(false)))
  }

  /** MONOTONICITY (ordering) DQ constraint (X185) — the sequence-
    * validity expectation the row-local suite checks cannot express:
    * within each key, walking the rows in `seqCol` order, `valCol`
    * must never move the wrong way (event time never runs backwards
    * within a session, a version counter never decreases). Emits one
    * suite-layout verdict row: n_rows = rows WITH a predecessor (the
    * comparable population — a key's first row can't violate), n_bad
    * = inversions, value_bp / passed as usual. A comparison that
    * cannot affirm (NULL value on either side) counts as a violation
    * — the dqSuite NULL-fails rule.
    *
    * Fail-loud (guards ride the violation indicator, so the single
    * aggregation evaluates them): a NULL `seqCol` has no position and
    * raises; a DUPLICATE (key, seq) makes "previous row" ambiguous —
    * lag() would answer nondeterministically — and raises instead of
    * guessing.
    *
    * Scale shape: ONE key-partitioned window sort (the W1 shape — a
    * pathological giant key pays its own sort; the X31 two-phase
    * rewrite is the escape hatch) + a single-row aggregation. The
    * shuffle carries (keys, seq, val) only. */
  def dqMonotonic(df: DataFrame, keys: Seq[String], seqCol: String,
      valCol: String, name: String,
      nonDecreasing: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "dqMonotonic: keys must be non-empty")
    require(!keys.contains(seqCol) && !keys.contains(valCol),
      s"dqMonotonic: seq/value columns must not be keys (got keys=$keys)")
    val wSeq = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    val dupN = count(lit(1))
      .over(Window.partitionBy((keys :+ seqCol).map(col): _*))
    val prevVal = lag(col(valCol), 1).over(wSeq)
    val prevSeq = lag(col(seqCol), 1).over(wSeq)
    val ok = if (nonDecreasing) col(valCol) >= prevVal
      else col(valCol) <= prevVal
    val bad = when(col(seqCol).isNull,
      raise_error(lit(s"dqMonotonic: NULL $seqCol has no position in " +
        "the sequence — fill or filter upstream")).cast("long"))
      .when(dupN > 1,
        raise_error(concat(lit(s"dqMonotonic: duplicate (key, $seqCol) "),
          col(seqCol).cast("string"),
          lit(" — the previous row is ambiguous"))).cast("long"))
      .when(prevSeq.isNull, lit(null).cast("long")) // first row: exempt
      .otherwise(when(!coalesce(ok, lit(false)), 1L).otherwise(0L))
    df.select(bad.as("_bad"))
      .agg(count(col("_bad")).as("_n"),
        coalesce(sum(col("_bad")), lit(0L)).as("_nb"))
      .select(
        lit(s"monotonic:$name").as("constraint"),
        col("_n").as("n_rows"), col("_nb").as("n_bad"),
        when(col("_n") > 0, expr("(_n - _nb) * 10000 div _n"))
          .otherwise(10000L).as("value_bp"),
        (col("_nb") === 0L).as("passed"))
  }

  /** FUNCTIONAL-DEPENDENCY DQ constraint (X183) — the "one value per
    * key" expectation the single-column suite rows cannot express:
    * lhs → rhs holds iff every lhs group carries exactly one distinct
    * rhs combination (a customer has one region, a doc_id has one
    * source). Emits two suite-layout verdict rows per dependency:
    *
    *  - `fd_rows:<name>` — n_bad = the REPAIR COST: rows that would
    *    have to change for the dependency to hold = Σ over groups
    *    (group rows − majority-rhs rows). Counts only disagreeing
    *    minorities, so one bad row in a million-row group costs 1,
    *    not the group.
    *  - `fd_groups:<name>` — n_bad = lhs groups with > 1 distinct
    *    rhs; n_rows = total lhs groups.
    *
    * NULLs canonicalize like contentDigest (NULL → chr(0) sentinel,
    * columns joined by chr(1)) so a NULL rhs is ONE value, not a
    * wildcard, and a NULL lhs is a legitimate group (the dedup
    * NULL-key rule).
    *
    * Scale shape: two stacked partial-agg shuffles on short canonical
    * keys — groupBy(lhs, rhs).count, then groupBy(lhs) folding
    * (Σcnt, max cnt, distinct-rhs count) — never a window, never a
    * per-group sort; the majority count needs no tie-break because
    * only its SIZE enters the metric. */
  def dqFunctionalDependency(df: DataFrame, lhs: Seq[String],
      rhs: Seq[String], name: String): DataFrame = {
    require(lhs.nonEmpty && rhs.nonEmpty,
      s"dqFunctionalDependency: lhs and rhs must be non-empty, got " +
        s"lhs=$lhs rhs=$rhs")
    require(lhs.intersect(rhs).isEmpty,
      s"dqFunctionalDependency: lhs and rhs overlap on " +
        s"${lhs.intersect(rhs).mkString(", ")} — the dependency is vacuous there")
    def canon(cols: Seq[String]): Column = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val counts = df.select(canon(lhs).as("_l"), canon(rhs).as("_r"))
      .groupBy(col("_l"), col("_r")).agg(count(lit(1)).as("_c"))
    val groups = counts.groupBy(col("_l"))
      .agg(sum(col("_c")).as("_rows"), max(col("_c")).as("_maj"),
        count(lit(1)).as("_d"))
    val stats = groups.agg(
      coalesce(sum(col("_rows")), lit(0L)).as("_total"),
      coalesce(sum(col("_rows") - col("_maj")), lit(0L)).as("_badRows"),
      count(lit(1)).as("_nGroups"),
      coalesce(sum(when(col("_d") > 1, 1L).otherwise(0L)), lit(0L))
        .as("_badGroups"))
    // `div`: exact integer basis points (the dqSuite convention); both
    // verdict rows ride ONE explode off the single stats row, so the
    // corpus is aggregated once, not once per verdict
    stats.select(col("_total"), col("_badRows"), col("_nGroups"),
        col("_badGroups"),
        when(col("_total") > 0,
          expr("(_total - _badRows) * 10000 div _total"))
          .otherwise(10000L).as("_bpRows"),
        when(col("_nGroups") > 0,
          expr("(_nGroups - _badGroups) * 10000 div _nGroups"))
          .otherwise(10000L).as("_bpGroups"))
      .select(explode(array(
        struct(lit(s"fd_rows:$name").as("constraint"),
          col("_total").as("n_rows"), col("_badRows").as("n_bad"),
          col("_bpRows").as("value_bp"),
          (col("_badRows") === 0L).as("passed")),
        struct(lit(s"fd_groups:$name").as("constraint"),
          col("_nGroups").as("n_rows"), col("_badGroups").as("n_bad"),
          col("_bpGroups").as("value_bp"),
          (col("_badGroups") === 0L).as("passed")))).as("_row"))
      .select(col("_row.constraint").as("constraint"),
        col("_row.n_rows").as("n_rows"), col("_row.n_bad").as("n_bad"),
        col("_row.value_bp").as("value_bp"), col("_row.passed").as("passed"))
  }

  /** DQ DRIFT report (X168) — the "quality moved" signal over a
    * [[dqSuite]] verdict HISTORY (one row per constraint per batch,
    * the streaming DQ store's layout): for each (constraint, batch),
    * compare `value_bp` against the mean of the constraint's trailing
    * `windowBatches` verdicts — all INTEGER arithmetic (basis-point
    * sums + integer division), so the anomaly flags are hash-portable
    * facts, not float judgement calls. A batch with no trailing
    * history (the first verdict of a constraint) reports n_trail=0
    * with NULL trail/delta and anomaly=false — no history is no
    * evidence of drift.
    *
    * Scale shape: the input is #constraints·#batches SHORT rows (the
    * verdict history, never the corpus), the window partitions by
    * constraint — one short-key shuffle over a table that grows by
    * #constraints rows per ingest batch. At 100 TB the drift monitor
    * costs nothing measurable; the corpus was already paid for by the
    * per-batch suites. */
  def dqDrift(history: DataFrame, windowBatches: Int,
      thresholdBp: Long): DataFrame = {
    require(windowBatches >= 1,
      s"dqDrift: windowBatches must be >= 1, got $windowBatches")
    require(thresholdBp >= 0,
      s"dqDrift: thresholdBp must be >= 0, got $thresholdBp")
    require(history.columns.contains("batch"),
      "dqDrift: history must carry the batch partition column " +
        "(the streaming DQ store layout)")
    val w = Window.partitionBy("constraint")
      .orderBy(col("batch").cast("long"))
      .rowsBetween(-windowBatches, -1)
    history
      .select(col("constraint"), col("batch").cast("long").as("batch"),
        col("n_bad"), col("value_bp"))
      .withColumn("_ts", sum(col("value_bp")).over(w))
      .withColumn("n_trail", count(lit(1)).over(w))
      // `div`: exact integer division (the dqSuite convention) —
      // value_bp sums are non-negative so floor/truncate agree
      .withColumn("trail_mean_bp",
        when(col("n_trail") > 0, expr("_ts div n_trail")))
      .withColumn("delta_bp",
        when(col("n_trail") > 0, col("value_bp") - col("trail_mean_bp")))
      .withColumn("anomaly",
        coalesce(abs(col("delta_bp")) > thresholdBp, lit(false)))
      .select(col("constraint"), col("batch"), col("n_bad"),
        col("value_bp"), col("n_trail"), col("trail_mean_bp"),
        col("delta_bp"), col("anomaly"))
  }

  /** Per-GROUP DQ drift (X179) — [[dqSuiteByGroup]] × [[dqDrift]]:
    * the trailing-window anomaly fold over a PER-TENANT verdict
    * history (one row per (group, constraint, batch) — the keyed DQ
    * store layout), window keyed by (group, constraint). This closes
    * the blind spot the two parents leave open when used alone: a
    * drifting tenant inside a stable corpus is exactly as invisible
    * to the GLOBAL drift monitor as the failing tenant X178 was built
    * to expose — per-tenant shares can swing wildly while the corpus
    * aggregate nets out flat (spec-pinned: a tenant collapse flagged
    * here while [[dqDrift]] over the aggregated history stays quiet).
    *
    * Same exact-integer arithmetic as [[dqDrift]] (basis-point sums +
    * `div`); a (group, constraint) pair's first verdict has no
    * trailing history → n_trail=0, NULL trail/delta, anomaly=false.
    * Scale shape: input is #groups·#constraints·#batches SHORT rows
    * (never the corpus), one short-key window shuffle keyed by
    * (group, constraint) — per-tenant monitoring costs nothing
    * measurable at 100 TB; the corpus was paid for by the per-batch
    * keyed suites. */
  def dqGroupDrift(history: DataFrame, groupCol: String,
      windowBatches: Int, thresholdBp: Long): DataFrame = {
    require(windowBatches >= 1,
      s"dqGroupDrift: windowBatches must be >= 1, got $windowBatches")
    require(thresholdBp >= 0,
      s"dqGroupDrift: thresholdBp must be >= 0, got $thresholdBp")
    require(history.columns.contains("batch"),
      "dqGroupDrift: history must carry the batch partition column " +
        "(the keyed DQ store layout)")
    require(history.columns.contains(groupCol),
      s"dqGroupDrift: history has no group column '$groupCol' — " +
        "build it with dqSuiteByGroup, not the global suite")
    val w = Window.partitionBy(col(groupCol), col("constraint"))
      .orderBy(col("batch").cast("long"))
      .rowsBetween(-windowBatches, -1)
    history
      .select(col(groupCol), col("constraint"),
        col("batch").cast("long").as("batch"),
        col("n_bad"), col("value_bp"))
      .withColumn("_ts", sum(col("value_bp")).over(w))
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("trail_mean_bp",
        when(col("n_trail") > 0, expr("_ts div n_trail")))
      .withColumn("delta_bp",
        when(col("n_trail") > 0, col("value_bp") - col("trail_mean_bp")))
      .withColumn("anomaly",
        coalesce(abs(col("delta_bp")) > thresholdBp, lit(false)))
      .select(col(groupCol), col("constraint"), col("batch"),
        col("n_bad"), col("value_bp"), col("n_trail"),
        col("trail_mean_bp"), col("delta_bp"), col("anomaly"))
  }

  /** APPROXIMATE uniqueness DQ constraints (X170) — the 100 TB form
    * of [[dqSuite]]'s uniqueness rows: exact uniqueness shuffles one
    * short key PER ROW (the dedup shape — O(corpus) shuffle volume
    * per key set), while the portable-HLL form ships 256 mergeable
    * register maxes per key set ([[Sketches.hllDistinct]]'s layout:
    * md5-derived registers, all-integer harmonic sum, one IEEE
    * division at the edge — the estimate is a hash-portable FACT,
    * not an engine-dependent approximation). This is the Deequ
    * `approxCountDistinct` trade: ±~6% standard error at m=256 in
    * exchange for per-day / per-partition sketches that combine by
    * register max without rescanning anything.
    *
    * Key sets canonicalize like contentDigest: values cast to
    * strings, NULL → chr(0) sentinel, joined by chr(1) — so NULL
    * keys count as one key (the exact branch's dedup semantics) and
    * multi-column sets hash as one value. Emits one row per key set:
    * (constraint, n_rows, est_distinct, ratio_bp, passed) with
    * ratio_bp = floor(est·10⁴/n + 0.5) from the ALREADY-4dp-ROUNDED
    * estimate (identical IEEE ops in any engine) and passed iff
    * ratio_bp ≥ minRatioBp. An empty corpus reports est 0.0 /
    * ratio 10000 / passed — the [[dqSuite]] empty-verdict rule. */
  def dqApproxUniqueness(df: DataFrame, keySets: Seq[Seq[String]],
      minRatioBp: Long, hashSeed: Int = 777): DataFrame = {
    require(keySets.nonEmpty, "dqApproxUniqueness: no key sets given")
    require(minRatioBp >= 0 && minRatioBp <= 10000,
      s"dqApproxUniqueness: minRatioBp must be 0..10000, got $minRatioBp")
    val total = df.agg(count(lit(1)).as("_total"))
    val rows = keySets.map { keys =>
      require(keys.nonEmpty, "dqApproxUniqueness: empty key set")
      val canon = concat_ws("\u0001",
        keys.map(k => coalesce(col(k).cast("string"), lit("\u0000"))): _*)
      Sketches.hllDistinct(df.select(canon.as("_k")), Nil, "_k", hashSeed)
        .select(
          lit(s"approx_unique:${keys.mkString(",")}").as("constraint"),
          // empty corpus: no registers -> NULL estimate -> 0 distinct
          coalesce(col("hll_distinct"), lit(0.0)).as("est_distinct"))
    }.reduce(_ unionByName _)
    // 1-row corpus total attached to the #keySets-row estimate table
    // (the q_profile scalar-broadcast shape)
    rows.crossJoin(total)
      .select(col("constraint"), col("_total").as("n_rows"),
        col("est_distinct"),
        when(col("_total") > 0,
          floor(col("est_distinct") * 10000.0 / col("_total") + 0.5)
            .cast("long"))
          .otherwise(10000L).as("ratio_bp"))
      .withColumn("passed", col("ratio_bp") >= minRatioBp)
  }

  /** SCHEMA DRIFT report (X173) — the structural half of snapshot
    * comparison (X129's contentDigest diff answers "did the rows
    * change"; this answers "did the SHAPE change"): per column across
    * two snapshots, presence, Catalyst type, and NULL share in exact
    * basis points, classified by precedence added / removed /
    * type_changed / null_rate_shift (|Δbp| > thresholdBp) / none.
    * The classic silent killers of a 100 TB ingest — a producer
    * dropping a column, widening a type, or starting to emit NULLs —
    * become one #columns-row report.
    *
    * Scale shape: types come from the DRIVER-side schema (no data
    * pass at all); null rates fold into ONE single-row aggregation
    * pass per side (the dqSuite arrangement — every column's counter
    * rides the same scan), then a stack unpivot and a #columns-row
    * full-outer join. Two corpus scans total, zero per-row shuffles,
    * all-integer metrics. */
  def schemaDrift(a: DataFrame, b: DataFrame,
      thresholdBp: Long = 100L): DataFrame = {
    require(thresholdBp >= 0,
      s"schemaDrift: thresholdBp must be >= 0, got $thresholdBp")
    require(a.columns.nonEmpty && b.columns.nonEmpty,
      "schemaDrift: both sides need at least one column")
    val spark = a.sparkSession
    import spark.implicits._
    def stats(df: DataFrame, nullsName: String,
        bpName: String): DataFrame = {
      val cols = df.columns
      require(cols.forall(c => !c.contains("`") && !c.contains("'")),
        "schemaDrift: column names must not contain quotes/backticks")
      val aggs = cols.map(c =>
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"_n_$c")) :+ count(lit(1)).as("_total")
      df.agg(aggs.head, aggs.tail: _*)
        .select(col("_total"), expr(
          s"stack(${cols.length}, " +
            cols.map(c => s"'$c', `_n_$c`").mkString(", ") +
            ") AS (column, _nulls)"))
        .select(col("column"), col("_nulls").as(nullsName),
          when(col("_total") > 0, expr(s"_nulls * 10000 div _total"))
            .otherwise(0L).as(bpName))
    }
    def types(df: DataFrame, name: String): DataFrame =
      df.schema.fields.toSeq
        .map(f => (f.name, f.dataType.catalogString))
        .toDF("column", name)
    val sa = stats(a, "nulls_a", "null_bp_a")
      .join(types(a, "type_a"), Seq("column"))
    val sb = stats(b, "nulls_b", "null_bp_b")
      .join(types(b, "type_b"), Seq("column"))
    sa.join(sb, Seq("column"), "full_outer")
      .select(col("column"), col("type_a"), col("type_b"),
        col("null_bp_a"), col("null_bp_b"),
        when(col("type_a").isNull, lit("added"))
          .when(col("type_b").isNull, lit("removed"))
          .when(col("type_a") =!= col("type_b"), lit("type_changed"))
          .when(abs(col("null_bp_b") - col("null_bp_a")) > thresholdBp,
            lit("null_rate_shift"))
          .otherwise(lit("none")).as("drift"))
  }

  /** WATER-FILLING token-budget allocation (X175) — the fair-share
    * mixing primitive the per-domain cap family (X95/X104/X119)
    * composes with: given per-domain available tokens t_i and a total
    * budget B, allocate a_i = min(t_i, λ) with the water level λ
    * chosen so Σa_i = min(B, Σt_i) — small domains keep everything,
    * large domains cap at the level, no domain starves another. ALL
    * INTEGER: λ = (B − P_k) div (n − k) after saturating the k
    * domains with t ≤ λ, with the remainder distributed +1 to the
    * first `rem` unsaturated domains in (tokens asc, key asc) order —
    * the allocation is an exact deterministic fact, not a float
    * heuristic.
    *
    * Closed form, not iteration: sort by (tokens asc, key asc), prefix
    * sums; a domain at rank j is saturated iff
    * P_{j−1} + (n−j+1)·t_j ≤ B (monotone in j, so k = count of
    * saturated rows — one window pass + a 1-row stats attach). The
    * window is a single global order over #domains rows — domains are
    * bounded by construction (sources/languages, not documents); the
    * corpus itself was already reduced by the caller's groupBy.
    *
    * Fail-loud (guards ride the allocation column): duplicate keys
    * (double-allocation) and negative token counts raise. */
  def waterFillBudget(domains: DataFrame, keyCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"waterFillBudget: budget must be >= 0, got $budget")
    val w = Window.orderBy(col(tokensCol).asc, col(keyCol).asc)
    val base = domains
      .select(col(keyCol), col(tokensCol).cast("long").as(tokensCol))
      .withColumn("_dupn",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("_rank", row_number().over(w))
      .withColumn("_pprev", coalesce(
        sum(col(tokensCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_sat",
        col("_pprev") + (col("_n") - col("_rank") + 1) * col(tokensCol)
          <= budget)
    val stats = base.agg(
      coalesce(sum(when(col("_sat"), 1L)), lit(0L)).as("_k"),
      coalesce(sum(when(col("_sat"), col(tokensCol))), lit(0L)).as("_pk"))
    // `div`/`%`, not float division: the level must stay EXACT integer
    // arithmetic (only evaluated on unsaturated rows, where _n - _k >= 1)
    val baseAlloc = when(col("_sat"), col(tokensCol)).otherwise(
      expr(s"(${budget}L - _pk) div (_n - _k)") +
        when(col("_rank") - col("_k") <=
          expr(s"(${budget}L - _pk) % (_n - _k)"), 1L).otherwise(0L))
    val guarded = when(col("_dupn") > 1,
      raise_error(concat(lit("waterFillBudget: duplicate domain key "),
        col(keyCol).cast("string"),
        lit(" — one row per domain required (double-allocation)"))))
      // NULL tokens (e.g. sum() over an all-NULL group upstream) would
      // sort first, get _sat = NULL, and silently skew the level — and
      // `NULL < 0` is NULL, so the negative branch cannot catch them
      .when(col(tokensCol).isNull,
        raise_error(concat(lit("waterFillBudget: NULL tokens for "),
          coalesce(col(keyCol).cast("string"), lit("NULL")))))
      .when(col(tokensCol) < 0,
        raise_error(concat(lit("waterFillBudget: negative tokens for "),
          col(keyCol).cast("string"))))
      .otherwise(baseAlloc)
    base.crossJoin(stats)
      .select(col(keyCol), col(tokensCol),
        guarded.cast("long").as("allocation"), col("_sat").as("saturated"))
  }

  /** PER-GROUP water-filling (X190) — [[waterFillBudget]] keyed by a
    * partition column, with per-group budgets: the inner stage of
    * HIERARCHICAL mixing (allocate the global budget across languages
    * with X175, then fair-share each language's allocation across its
    * domains here — [[hierarchicalWaterFill]] composes exactly that).
    * The closed form is unchanged, evaluated per group: sort by
    * (tokens asc, key asc) WITHIN the group, saturation by the same
    * monotone prefix test against the group's budget, integer level +
    * deterministic remainder. Per-group allocations sum to
    * min(budget_g, Σ tokens_g) exactly.
    *
    * Budgets arrive as a (group, budget) table — #groups rows,
    * broadcast onto the domain rows. Fail-loud (riding the allocation
    * column): duplicate (group, key), NULL/negative tokens, a domain
    * group with NO budget row (silent zero-allocation would starve a
    * tenant), a NULL/negative budget, and a duplicate budget row
    * (double allocation). EXTRA budget rows (groups with no domains
    * yet) are permitted — pre-provisioning is legitimate.
    *
    * Scale shape: windows keyed by the group column (no global
    * window at all — the keyed form scales better than its parent),
    * one broadcast join of the #groups-row budget table. */
  def waterFillBudgetByGroup(domains: DataFrame, groupCol: String,
      keyCol: String, tokensCol: String, budgets: DataFrame): DataFrame = {
    require(Set(groupCol, "budget").subsetOf(budgets.columns.toSet),
      s"waterFillBudgetByGroup: budgets must carry ($groupCol, budget), " +
        s"got ${budgets.columns.mkString(", ")}")
    val b = budgets
      .withColumn("_bdup",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .select(col(groupCol), col("budget").cast("long").as("_budget"),
        col("_bdup"))
    val wg = Window.partitionBy(col(groupCol))
      .orderBy(col(tokensCol).asc, col(keyCol).asc)
    val wgAll = Window.partitionBy(col(groupCol))
    val base = domains
      .select(col(groupCol), col(keyCol),
        col(tokensCol).cast("long").as(tokensCol))
      .join(broadcast(b), Seq(groupCol), "left")
      .withColumn("_dupn", count(lit(1)).over(
        Window.partitionBy(col(groupCol), col(keyCol))))
      .withColumn("_rank", row_number().over(wg))
      .withColumn("_pprev", coalesce(
        sum(col(tokensCol)).over(
          wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", count(lit(1)).over(wgAll))
      .withColumn("_sat",
        col("_pprev") + (col("_n") - col("_rank") + 1) * col(tokensCol)
          <= col("_budget"))
      .withColumn("_k", coalesce(
        sum(when(col("_sat"), 1L)).over(wgAll), lit(0L)))
      .withColumn("_pk", coalesce(
        sum(when(col("_sat"), col(tokensCol))).over(wgAll), lit(0L)))
    val baseAlloc = when(col("_sat"), col(tokensCol)).otherwise(
      expr("(_budget - _pk) div (_n - _k)") +
        when(col("_rank") - col("_k") <= expr("(_budget - _pk) % (_n - _k)"),
          1L).otherwise(0L))
    // _bdup first: duplicate budget rows FAN OUT the join, so the
    // (group, key) duplicate guard below would fire with the wrong
    // diagnosis if it ran first
    val guarded = when(col("_bdup") > 1,
      raise_error(concat(
        lit("waterFillBudgetByGroup: duplicate budget rows for group "),
        coalesce(col(groupCol).cast("string"), lit("NULL")))))
      .when(col("_dupn") > 1,
        raise_error(concat(
          lit("waterFillBudgetByGroup: duplicate (group, key) "),
          coalesce(col(groupCol).cast("string"), lit("NULL")), lit("/"),
          col(keyCol).cast("string"),
          lit(" — one row per domain required (double-allocation)"))))
      .when(col(tokensCol).isNull,
        raise_error(concat(lit("waterFillBudgetByGroup: NULL tokens for "),
          coalesce(col(keyCol).cast("string"), lit("NULL")))))
      .when(col(tokensCol) < 0,
        raise_error(concat(
          lit("waterFillBudgetByGroup: negative tokens for "),
          col(keyCol).cast("string"))))
      .when(col("_budget").isNull,
        raise_error(concat(
          lit("waterFillBudgetByGroup: group "),
          coalesce(col(groupCol).cast("string"), lit("NULL")),
          lit(" has no budget row — a silent zero allocation would " +
            "starve the tenant"))))
      .when(col("_budget") < 0,
        raise_error(concat(
          lit("waterFillBudgetByGroup: negative budget for group "),
          coalesce(col(groupCol).cast("string"), lit("NULL")))))
      .otherwise(baseAlloc)
    base.select(col(groupCol), col(keyCol), col(tokensCol),
      guarded.cast("long").as("allocation"), col("_sat").as("saturated"))
  }

  /** HIERARCHICAL water-filling (X190): fair-share the global budget
    * across level-1 groups (languages) by their token totals, then
    * fair-share each group's allocation across its level-2 domains —
    * the two-stage mixing recipe that keeps a giant language from
    * starving small ones AND a giant domain from eating its own
    * language's share. Level-1 runs [[waterFillBudget]] over #groups
    * rows; level-2 runs the keyed form above. Total allocation still
    * sums to min(budget, Σ tokens) exactly (spec-pinned). */
  def hierarchicalWaterFill(domains: DataFrame, lvl1Col: String,
      lvl2Col: String, tokensCol: String, budget: Long): DataFrame = {
    val lvl1 = domains.groupBy(col(lvl1Col))
      .agg(sum(col(tokensCol).cast("long")).as(tokensCol))
    val budgets = waterFillBudget(lvl1, lvl1Col, tokensCol, budget)
      .select(col(lvl1Col), col("allocation").as("budget"))
    waterFillBudgetByGroup(domains, lvl1Col, lvl2Col, tokensCol, budgets)
  }

  /** Deterministic BUDGET TRIM (X176) — the apply half of [[
    * waterFillBudget]]: given a per-domain allocation, keep each
    * domain's docs in salted-md5 hash order (a stable pseudo-random
    * shuffle — no RNG, any engine derives the same order) until the
    * cumulative weight would exceed the allocation. The kept set is
    * an exact deterministic fact: doc d survives iff its inclusive
    * hash-order running weight ≤ the domain's allocation (the
    * boundary doc that would cross is EXCLUDED — trims never
    * overshoot; spec-pinned with the exact boundary case).
    *
    * Scale shape: one per-domain window (partitionBy key, orderBy
    * (hash, id) — the W1 window-dedup shape; a pathologically giant
    * domain pays its own sort, the X31 two-phase prefix-sum rewrite
    * applies if one domain outgrows a partition) + the #domains-row
    * allocation broadcast into the filter. No collect, no RNG, no
    * float. */
  def budgetTrim(docs: DataFrame, keyCol: String, idCol: String,
      weightCol: String, alloc: DataFrame,
      hashSeed: Int = 777): DataFrame = {
    require(alloc.columns.contains(keyCol) &&
      alloc.columns.contains("allocation"),
      s"budgetTrim: alloc must carry ($keyCol, allocation) — " +
        "waterFillBudget's output shape")
    val clash = docs.columns.filter(Set("_h", "_cum", "allocation")).distinct
    require(clash.isEmpty,
      s"budgetTrim: input columns ${clash.mkString(", ")} collide with internal markers")
    // explicit ROWS frame: the default RANGE frame makes ordering
    // peers (duplicate (hash, id) rows) share one inclusive running
    // total, diverging from the per-row boundary-excluded semantics
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("_h", graft.functions.TextFunctions.hexHash60(
        col(idCol).cast("string"), hashSeed))
      .withColumn("_cum", sum(col(weightCol)).over(w))
      .join(broadcast(alloc.select(col(keyCol), col("allocation"))),
        Seq(keyCol))
      .filter(col("_cum") <= col("allocation"))
      .drop("_h", "_cum", "allocation")
  }

  /** Both sketch-backed operators (CMS, Bloom) insert by runtime type:
    * integral columns as longs, strings as UTF-8 bytes. Any other type
    * (double, decimal, binary, struct…) has no guaranteed insert/probe
    * agreement across the build and probe paths, so reject it loudly
    * instead of silently dropping rows. */
  private def requireSketchableKey(df: DataFrame, key: String,
      op: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"$op: key column '$key' has type $other — only integral and " +
          "string keys are supported (sketch insert and probe must " +
          "hash the same encoding)")
    }
  }
}
