package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Structured Streaming wrappers (SURVEY §2.10): the reference is batch-
  * only, so streaming enters through the §7.4 extension surface — tumbling
  * event-time windows with watermarks over the events stream. The batch
  * and streaming variants share the same aggregation expression, so batch
  * results are the exact replay semantics of the stream.
  */
object StreamOps {

  /** Shared tumbling-window aggregation: count + sum/avg of value per
    * (window, event_type). */
  private def windowAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"), avg("value").as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("avg_value"))

  /** Batch variant (driver-checkable against the SQL oracle). */
  def tumblingWindowBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    windowAgg(events, windowLen).orderBy("window_start", "event_type")

  /** Tumbling-window distribution moments per (window, group) — the
    * streaming-friendly face of G2 (SURVEY §2.10): the bias-corrected
    * skew/kurt corrections are pure aggregate expressions, so they work
    * unchanged under incremental execution. */
  private def momentsAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(col("value")).as("n"),
        avg("value").as("mean"),
        stddev_samp("value").as("std"),
        graft.ops.Moments.sampleSkew(col("value")).as("skew"),
        graft.ops.Moments.sampleKurt(col("value")).as("kurtosis"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("mean"), col("std"), col("skew"), col("kurtosis"))

  def momentsBatch(events: DataFrame, windowLen: String = "1 day"): DataFrame =
    momentsAgg(events, windowLen).orderBy("window_start", "event_type")

  def momentsStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      windowLen: String = "1 day",
      watermark: String = "2 days"): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
    momentsAgg(stream, windowLen)
      .writeStream.outputMode("complete").format("memory").queryName(sinkTable).start()
  }

  /** Shared sliding-window aggregation — overlapping windows of
    * `windowLen` starting every `slide` (epoch-aligned, like tumbling);
    * each event lands in windowLen/slide windows. Same partial-aggregate
    * shape as the tumbling variant: the explode-to-windows step is
    * map-side, so the shuffle carries one partial per (window, group) per
    * partition, not per event. */
  private def slidingAgg(events: DataFrame, windowLen: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"), avg("value").as("avg_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("avg_value"))

  /** Batch variant (driver-checkable: the oracle unnests each event into
    * its windowLen/slide covering hourly starts). */
  def slidingWindowBatch(events: DataFrame, windowLen: String = "2 hours",
      slide: String = "1 hour"): DataFrame =
    slidingAgg(events, windowLen, slide).orderBy("window_start", "event_type")

  /** Streaming variant — same aggregation expression over a watermarked
    * file stream; complete-mode memory sink for test replay equality. */
  def slidingWindowStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      windowLen: String = "2 hours",
      slide: String = "1 hour",
      watermark: String = "4 hours"): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
    slidingAgg(stream, windowLen, slide)
      .writeStream.outputMode("complete").format("memory").queryName(sinkTable).start()
  }

  /** Shared gap-based session-window aggregation: count + sum of value per
    * (session, event_type). A session closes when no event arrives within
    * `gap` of the latest event; `session_window.end` = last event + gap. */
  private def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Batch variant — identical replay semantics; DuckDB-oracle-able as a
    * gaps-and-islands query (new session ⇔ Δts ≥ gap). */
  def sessionWindowBatch(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessionAgg(events, gap).orderBy("event_type", "session_start")

  /** Streaming variant: session windows require a watermark; complete-mode
    * memory sink for test replay equality. */
  def sessionWindowStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
    sessionAgg(stream, gap)
      .writeStream.outputMode("complete").format("memory").queryName(sinkTable).start()
  }

  /** Streaming exact dedup — the custom-state face of
    * `Dedup.dropExactDuplicates` via `flatMapGroupsWithState`: keyed on
    * the content hash, a Boolean per-key GroupState marks hashes already
    * emitted; the first micro-batch containing a hash emits that batch's
    * lowest-id row, later occurrences are dropped. Identical to the batch
    * operator whenever a hash's first appearance batch contains its
    * global minimum id (always true in the single-batch replay the test
    * runs); across micro-batches, first-arrival wins — the inherent
    * streaming semantics.
    *
    * State is one Boolean per distinct hash and is BOUNDED by default:
    * `stateTtl` sets a processing-time timeout, refreshed every time the
    * hash is seen (sliding expiry), after which the entry is dropped and
    * a later duplicate re-admits — the standard bounded-state trade for
    * an open-ended corpus. Pass `stateTtl = None` for exact unbounded
    * dedup. A timed-out entry is only reaped when a trigger fires after
    * expiry, per flatMapGroupsWithState semantics.
    *
    * Engine consequence of ProcessingTimeTimeout (Spark's
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
    * unconditionally true for it): the engine keeps scheduling
    * timeout-processing micro-batches even with no new data, so (a) set
    * `triggerInterval` to pace them — the default here is 500 ms rather
    * than the ASAP trigger precisely so an idle TTL stream doesn't
    * busy-spin empty batches — and (b) `processAllAvailable()` never
    * observes a quiescent stream and will NOT return; tests must poll the
    * sink with a deadline instead. Neither applies when `stateTtl = None`
    * (NoTimeout ⇒ ASAP trigger, processAllAvailable safe). */
  def dedupStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      stateTtl: Option[String] = Some("24 hours"),
      triggerInterval: String = "500 milliseconds"): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val hashed = spark.readStream.schema(schema).parquet(sourceDir)
      .select(col(idCol).cast("long").as("id"),
        sha2(col(textCol), 256).as("h"))
      .as[(Long, String)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val deduped = hashed
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, timeoutConf) {
        (h: String, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // reap: the next occurrence of this hash re-admits
            Iterator.empty
          } else {
            val first = !state.exists
            if (first) state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            if (first) Iterator.single((rows.minBy(_._1)._1, h)) else Iterator.empty
          }
      }
      .toDF("id", "h")
    val writer = deduped.writeStream
      .outputMode("append").format("memory").queryName(sinkTable)
    val paced =
      if (stateTtl.isDefined)
        writer.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerInterval))
      else writer
    paced.start()
  }

  /** Streaming NEAR-duplicate ingestion — the `foreachBatch` + persistent
    * signature-store pattern, which is how a continuous corpus pipeline
    * runs near-dedup at scale: the similarity join is too stateful for
    * built-in streaming state, so each micro-batch is processed with the
    * full BATCH operator set against an accumulated signature table.
    *
    * Per micro-batch: (1) within-batch SimHash near-dedup (band
    * pigeonhole candidates → Hamming ≤ maxHamming pairs → connected
    * components → keep the min id per cluster); (2) drop every surviving
    * doc whose SimHash is within maxHamming of ANY previously-admitted
    * signature (16-bit band equijoin against the store — bucket-local,
    * never all-pairs); (3) append the admitted docs to `sinkDir` and
    * their signatures to `stateDir`.
    *
    * NULL-text docs produce no tokens and no SimHash — they pass through
    * unrecorded (nothing to be near). EMPTY text tokenizes to one empty
    * token (the dedup-family convention), so empty docs carry a shared
    * degenerate signature and dedup against each other like any other
    * doc. Two store layouts, identical admissions (spec-asserted):
    *
    *   - default (RECOMMENDED): append-only parquet of (id, simhash)
    *     rows, band expansion recomputed per batch in codegen. The
    *     round-9 pre-seeded probe grid (1M and 4M store signatures)
    *     shows this layout cheaper at EVERY measured size, and the
    *     batch-vs-store join plans as a BroadcastHashJoin with the
    *     batch side as build — the store never shuffles, so the
    *     linear-in-store-size term is a pure map-side scan that
    *     parallelizes embarrassingly on a real cluster;
    *   - `bandedStore = true` (opt-in, measured SLOWER at 90k, 1M and
    *     4M signatures — see ARCHITECTURE.md round-9 crossover note):
    *     PRE-EXPANDED band rows persist, hash-partitioned by (band,
    *     bucket-group), with a `compactEvery`-batch rewrite bounding
    *     file-listing growth. It reads 4× the rows the default scans
    *     and its compaction is O(store); the partition pruning it buys
    *     only materializes for near-single-doc trickle batches at the
    *     8-group granularity (finer granularity drowns in small files
    *     on a real FS). Kept as the layout shape a compacting TABLE
    *     FORMAT (incremental maintenance, cheap small files) would
    *     make viable; the swap is not atomic to concurrent readers
    *     (the single-writer foreachBatch loop is the only consumer
    *     mid-stream).
    *
    * The state is 16 bytes/doc (×4 band rows when banded), corpus-sized.
    * First-arrival wins across batches, exactly like [[dedupStream]]. */
  def nearDedupForeachBatch(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkDir: String,
      stateDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      bandedStore: Boolean = false,
      compactEvery: Int = 16): StreamingQuery = {
    graft.ext.Dedup.requireSimhashRadius(maxHamming) // fail at start, not first batch
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        processNearDedupBatch(batch.toDF(), sinkDir, stateDir, idCol, textCol, maxHamming,
          bandedStore, compactEvery, bid)
      }
      .start()
  }

  /** Number of on-disk bucket groups per band in the banded store:
    * partition column `bg = bucket % 8`, so the store has ≤ 4×8 = 32
    * partition directories and a batch's store read prunes to the groups
    * its own buckets hash into. Deliberately coarse: the first 50-batch
    * probe ran 64 groups (256 dirs) and the per-batch append fanned one
    * file into every touched dir — ~256 new files/batch swamped the
    * local-FS listing and made the banded store SLOWER than the default
    * layout at 90k signatures. 32 partitions keep appends (with the
    * pre-append repartition) at ≤ 32 files/batch while preserving
    * band-level layout + group pruning for trickle batches. */
  val StoreBucketGroups = 8

  /** `signatureFn` swaps the SimHash arithmetic while keeping every
    * structural stage (within-batch dedup, band-bucketed store join,
    * first-arrival wins, sink/state appends) on the production path:
    * the default is the xxhash64 [[graft.ext.Dedup.simhash]]; the driver's
    * oracled replay passes [[graft.ext.Dedup.simhashReplayable]] so the
    * ENTIRE two-batch admission decision is DuckDB-verified
    * (q_neardup_stream_docs) — the q_minhash_replay_docs recipe applied
    * to the streaming store. */
  private[graft] def processNearDedupBatch(
      batch: DataFrame, sinkDir: String, stateDir: String,
      idCol: String, textCol: String, maxHamming: Int,
      bandedStore: Boolean = false, compactEvery: Int = 16,
      batchId: Long = 0L,
      signatureFn: (DataFrame, String, String) => DataFrame =
        graft.ext.Dedup.simhash(_, _, _)): Unit = {
    import graft.ext.Dedup
    Dedup.requireSimhashRadius(maxHamming)
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // Signatures computed ONCE and pinned: they feed the within-batch
    // pair join (twice, self-join), the store join, and the state append
    // — without the pin the tokenize+UDAF pass re-ran per consumer (the
    // same multi-consumer re-execution the LSH signature frame had).
    // State is one (id, long) row per batch doc.
    val sh = graft.core.Ckpt.pin(
      signatureFn(batch, idCol, textCol)
        .select(col("doc_id").cast("long").as("doc_id"), col("simhash")))
    // 1 — within-batch near-dedup (min id per near-dup cluster wins)
    val losers = Dedup.connectedComponents(
        Dedup.simhashPairsFromSignatures(sh, maxHamming).select("doc_a", "doc_b"))
      .filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
    val sigs = sh.join(losers, Seq("doc_id"), "left_anti")
    // 2 — vs the accumulated store: the SAME band scheme as the batch
    // operator (shared Dedup.simhashBands), Hamming verify
    // First batch: the store doesn't exist yet. Probe the filesystem
    // (one RPC, scheme-aware — works on HDFS/object stores) instead of
    // read-and-catch, which depends on how Spark wraps the missing-path
    // error and logs a scary FileNotFoundException stack en route. The
    // catch stays as a second line of defense: an existing dir with no
    // readable parquet (e.g. only `_temporary/` after a killed write)
    // throws schema-inference AnalysisException, and treating that as an
    // empty store keeps the stream self-healing instead of crash-looping.
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val stateFs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state =
      if (!stateFs.exists(statePath)) None
      else try Some(spark.read.parquet(stateDir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val batchBands = Dedup.simhashBands(sigs)
      .withColumn("bg", pmod(col("bucket"), lit(StoreBucketGroups.toLong)).cast("int"))
    val nearState = state match {
      case Some(st) if bandedStore =>
        // store already holds band rows; prune its read to the partition
        // groups the batch's own buckets touch (model-sized isin — ≤ 64
        // values — resolved at planning time against the (band, bg)
        // partition columns)
        val groups = batchBands.select("bg").distinct().collect().map(_.getInt(0))
        batchBands.as("l")
          .join(st.filter(col("bg").isin(groups.map(Integer.valueOf): _*))
            .select(col("band"), col("bucket"), col("simhash").as("st_sh")).as("r"),
            Seq("band", "bucket"))
          .filter(bit_count(col("simhash").bitwiseXOR(col("st_sh"))) <= maxHamming)
          .select(col("doc_id")).distinct()
      case Some(st) =>
        Dedup.simhashBands(sigs).as("l")
          .join(Dedup.simhashBands(st.select(col("doc_id"), col("simhash")))
            .select(col("band"), col("bucket"), col("simhash").as("st_sh")).as("r"),
            Seq("band", "bucket"))
          .filter(bit_count(col("simhash").bitwiseXOR(col("st_sh"))) <= maxHamming)
          .select(col("doc_id")).distinct()
      case None => sigs.select("doc_id").limit(0)
    }
    // two consumers below; also pins before the state append. Ckpt.pin —
    // not a raw localCheckpoint — so the session's reliable-checkpoint
    // policy covers this call site too (round-8 audit: it was the one
    // pin outside the policy).
    val admittedSigs = graft.core.Ckpt.pin(sigs.join(nearState, Seq("doc_id"), "left_anti"))
    // 3 — append admitted docs to the sink and their signatures to the
    // store. The sink drops within-batch losers and store near-dups by
    // id; token-less (null-text) docs — which have no signature and are
    // in neither drop set — pass through as documented.
    val dropIds = losers.union(nearState).select(col("doc_id").as(idCol))
    batch.join(dropIds, Seq(idCol), "left_anti")
      .write.mode("append").parquet(sinkDir)
    if (bandedStore) {
      // repartition on the partition columns BEFORE the partitioned
      // append: each (band, bg) then lands in exactly one task, so one
      // batch appends ≤ one file per touched partition dir instead of
      // (tasks × dirs) fragments
      Dedup.simhashBands(admittedSigs)
        .withColumn("bg", pmod(col("bucket"), lit(StoreBucketGroups.toLong)).cast("int"))
        .repartition(col("band"), col("bg"))
        .write.mode("append").partitionBy("band", "bg").parquet(stateDir)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        compactBandedStore(spark, stateDir)
    } else {
      admittedSigs.write.mode("append").parquet(stateDir)
    }
  }

  /** Rewrite the banded store to ONE file per (band, bucket-group)
    * partition — the hash repartition routes each group to exactly one
    * task. Bounds file-listing growth between compactions at
    * `compactEvery × groups-touched` delta files. Write-to-temp, rename
    * the live store aside, rename the temp in, drop the aside copy (the
    * compactPostings ordering — a crash mid-swap leaves the full
    * pre-compaction store at `__old` instead of a deleted canonical
    * path); single-writer (the foreachBatch loop), so the non-atomic
    * swap never races a reader. */
  private[graft] def compactBandedStore(spark: SparkSession, stateDir: String): Unit = {
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = new org.apache.hadoop.fs.Path(stateDir + "__compacting")
    val aside = new org.apache.hadoop.fs.Path(stateDir + "__old")
    spark.read.parquet(stateDir)
      .repartition(col("band"), col("bg"))
      .write.mode("overwrite").partitionBy("band", "bg").parquet(tmpPath.toString)
    if (fs.exists(aside)) fs.delete(aside, true)
    if (!fs.rename(statePath, aside))
      throw new java.io.IOException(s"compaction aside failed: $statePath -> $aside")
    if (!fs.rename(tmpPath, statePath)) {
      fs.rename(aside, statePath) // best-effort restore of the live store
      throw new java.io.IOException(s"compaction swap failed: $tmpPath -> $statePath")
    }
    fs.delete(aside, true)
  }

  /** Standing-store health for the banded near-dup store — the
    * compaction TRIGGER read-out (the [[graft.ext.Search.postingsStats]]
    * twin): one metadata row plus `compact_recommended` when the file
    * count exceeds `compactFileThreshold`. Each batch appends ≤ one file
    * per touched (band, bucket-group) partition, so between
    * `compactEvery` firings the listing grows by up to batches ×
    * groups-touched delta files; candidate lookups list and open every
    * file of the touched partitions, so read cost tracks file count —
    * recommend compaction when the listing outgrows a few files per
    * partition dir (default 64 ≈ 4 per band at the 16-band default). */
  def nearDupStoreStats(spark: SparkSession, stateDir: String,
      compactFileThreshold: Int = 64): DataFrame = {
    require(compactFileThreshold >= 1,
      s"compactFileThreshold must be >= 1, got $compactFileThreshold")
    graft.core.StoreStats.parquetStoreStats(spark, stateDir)
      .withColumn("compact_recommended",
        col("n_files") > compactFileThreshold.toLong)
  }

  /** Streaming variant: parquet-source file stream with a watermark.
    * Returns the started query writing to an in-memory sink table named
    * `sinkTable` (append mode is wrong for aggregations without watermark
    * expiry semantics in tests, so complete mode is used). */
  def tumblingWindowStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
    windowAgg(stream, windowLen)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sinkTable)
      .start()
  }

  /** APPEND-mode tumbling windows — the production sink shape: a window
    * row is emitted exactly once, when the watermark passes its end, and
    * events arriving with event time behind the watermark are DROPPED
    * (complete mode, above, keeps all state forever and re-emits — fine
    * for memory-sink tests, wrong for an unbounded pipeline writing to
    * parquet/Kafka). State is bounded by windows-in-flight per group:
    * watermark delay ÷ window length rows, independent of stream length.
    * Late-drop semantics are pinned in TextExtSpec. */
  def tumblingWindowStreamAppend(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      sinkTable: String,
      windowLen: String = "1 hour",
      watermark: String = "1 hour"): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
    windowAgg(stream, windowLen)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkTable)
      .start()
  }

  // ---- streaming sketch stores ---------------------------------------------

  /** Replace `storeDir` with `merged`, which MUST be model-sized: the
    * rows are collected to the driver (legitimately — a sketch is ≤
    * depth·width cells by construction) so the store can be overwritten
    * without the read-while-overwriting-self hazard of a lazy plan over
    * the same path. Production note: on a real cluster back the store
    * with a table format whose replace is atomic; plain parquet
    * mode=overwrite has a delete-then-write window (same caveat as the
    * near-dedup signature store above). */
  private def replaceStore(merged: DataFrame, storeDir: String): DataFrame = {
    val spark = merged.sparkSession
    val rows = merged.collect()
    val out = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), merged.schema)
    out.coalesce(1).write.mode("overwrite").parquet(storeDir)
    out
  }

  /** Fold one micro-batch of documents into a persistent count–min
    * counter store — continuously-updated corpus token statistics, the
    * streaming face of [[graft.ext.Sketches.cmsCounters]]. Correct by the
    * CMS merge law (counters are additive), so processing a corpus in ANY
    * batch decomposition yields the bit-identical store as one batch
    * pass: stream ≡ batch is a theorem here, and the spec asserts it.
    * Returns the merged counters. */
  def cmsUpdateBatch(batch: DataFrame, textCol: String, storeDir: String,
      width: Int, depth: Int): DataFrame = {
    import graft.ext.{Dedup, Sketches}
    val spark = batch.sparkSession
    val toks = batch.select(explode(Dedup.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val fresh = Sketches.cmsCounters(toks, "tok", width, depth)
    val merged =
      if (new java.io.File(storeDir).exists())
        Sketches.cmsMergeCounters(
          spark.read.parquet(storeDir)
            .select(col("r").cast("int").as("r"), col("bucket"), col("cnt")),
          fresh)
      else fresh
    replaceStore(
      merged.select(col("r").cast("int").as("r"), col("bucket"), col("cnt")),
      storeDir)
  }

  /** Same discipline for the Broder bottom-k resemblance sample: each
    * micro-batch's bottom-k of its distinct keys merges into the
    * persistent sample by the bottom-k merge law (bottomK(A∪B) =
    * bottomK(bottomK(A) ∪ bottomK(B))), so ANY batch decomposition
    * yields the bit-identical ≤ k-row store as a one-shot
    * [[graft.ext.Sketches.bottomKSample]] over the whole corpus — the
    * live side of snapshot-vs-snapshot
    * [[graft.ext.Sketches.resemblanceFromSamples]]. */
  def bottomKUpdateBatch(batch: DataFrame, keyExpr: org.apache.spark.sql.Column,
      storeDir: String, k: Int): DataFrame = {
    import graft.ext.Sketches
    val spark = batch.sparkSession
    val fresh = Sketches.bottomKSample(batch.select(keyExpr.as("key")), "key", k)
    val merged =
      if (new java.io.File(storeDir).exists())
        Sketches.mergeBottomK(spark.read.parquet(storeDir), fresh, k)
      else fresh
    replaceStore(merged.select(col("h"), col("id")), storeDir)
  }

  /** Same discipline for the Efraimidis–Spirakis weighted reservoir: each
    * micro-batch's exact-k weighted sample ([[graft.ext.Sampling
    * .weightedSample]]) merges into the persistent ≤ k-row store by the
    * top-k-by-key merge law ([[graft.ext.Sampling.mergeWeightedSample]]),
    * so ANY batch decomposition of a corpus with disjoint ids yields the
    * bit-identical store as a one-shot sample over the whole corpus — a
    * continuously maintained probability-proportional-to-size holdout
    * over an unbounded ingest stream (e.g. eval docs drawn ∝ token
    * count). Returns the merged sample. */
  def esUpdateBatch(batch: DataFrame, idCol: String, weightCol: String,
      storeDir: String, k: Int, epoch: Int = 0): DataFrame = {
    import graft.ext.Sampling
    val spark = batch.sparkSession
    val fresh = Sampling.weightedSample(batch, idCol, weightCol, k, epoch)
      .select(col(idCol).cast("long").as("id"),
        col(weightCol).cast("double").as("weight"), col("es_key"))
    val merged =
      if (new java.io.File(storeDir).exists())
        Sampling.mergeWeightedSample(spark.read.parquet(storeDir), fresh, k)
      else fresh
    replaceStore(merged.select(col("id"), col("weight"), col("es_key")), storeDir)
  }

  /** Same discipline for the HDR quantile histogram: per-batch histograms
    * of `exprCol` (e.g. doc length) merge by per-bucket addition into a
    * persistent store, read at any time via
    * [[graft.ext.Sketches.hdrQuantiles]]. */
  def hdrUpdateBatch(batch: DataFrame, valueExpr: org.apache.spark.sql.Column,
      storeDir: String): DataFrame = {
    import graft.ext.Sketches
    val spark = batch.sparkSession
    val fresh = Sketches.hdrHistogram(batch.select(valueExpr.as("v")), "v")
    val merged =
      if (new java.io.File(storeDir).exists())
        Sketches.hdrMerge(spark.read.parquet(storeDir), fresh)
      else fresh
    replaceStore(merged.select(col("bucket"), col("cnt")), storeDir)
  }

  /** Same discipline for the HLL cardinality registers: each
    * micro-batch's (bucket, rank) table merges into the persistent ≤ 2^b
    * register store by per-bucket max — exact under the HLL merge law
    * even for OVERLAPPING batches (max is idempotent), so the streamed
    * store is bit-identical to a one-shot [[graft.ext.Sketches
    * .hllRegisters]] over everything ingested: continuously-maintained
    * distinct counts (unique tokens/urls/ids) over an unbounded stream,
    * read at any time via [[graft.ext.Sketches.hllEstimate]]. */
  def hllUpdateBatch(batch: DataFrame, valueExpr: org.apache.spark.sql.Column,
      storeDir: String, b: Int): DataFrame = {
    import graft.ext.Sketches
    val spark = batch.sparkSession
    val fresh = Sketches.hllRegisters(batch.select(valueExpr.as("v")), "v", b)
    val merged =
      if (new java.io.File(storeDir).exists())
        Sketches.hllMergeRegisters(
          spark.read.parquet(storeDir)
            .select(col("bucket"), col("rank").cast("int").as("rank")),
          fresh)
      else fresh
    replaceStore(merged.select(col("bucket"), col("rank").cast("int").as("rank")),
      storeDir)
  }

  /** Fold one micro-batch of documents into a persistent EXACT unigram
    * term-count store — the live input of the corpus-drift monitor
    * ([[graft.ext.TextStats.jsDivergenceFromCounts]] between two stores,
    * or a store and a frozen reference). Correct by the simplest merge
    * law there is — counts ADD — so any batch decomposition of a corpus
    * yields the identical store (q_drift_stream_docs oracles this
    * end-to-end through the drift read-out).
    *
    * Store size = live vocabulary (not corpus) rows; the collect-and-
    * rewrite single-writer layout matches the other sketch stores and is
    * right up to dictionary-scale vocabularies (the [[graft.ext.Bpe]]
    * 2M-entry gate class). A web-scale open vocabulary switches to
    * [[termCountUpsertBatch]] — the hash-partitioned upsert layout with
    * no driver materialization (same additive merge law, spec-pinned
    * equal). */
  def termCountUpdateBatch(batch: DataFrame, textCol: String,
      storeDir: String): DataFrame = {
    val spark = batch.sparkSession
    val fresh = graft.ext.TextStats.termCounts(batch, textCol)
    val merged =
      if (new java.io.File(storeDir).exists())
        spark.read.parquet(storeDir)
          .select(col("term"), col("cnt").cast("long").as("cnt"))
          .join(fresh.withColumnRenamed("cnt", "cnt_new"), Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_new"), lit(0L)))
              .as("cnt"))
      else fresh
    replaceStore(merged.select(col("term"), col("cnt").cast("long").as("cnt")),
      storeDir)
  }

  /** Hash-PARTITIONED upsert layout for the term-count store — the
    * open-web-vocabulary form the default [[termCountUpdateBatch]]
    * scaladoc promises. The store is parquet partitioned by
    * `pb = pmod(xxhash64(term), numBuckets)`; one batch:
    *
    *   1. counts its own terms (batch-vocabulary-sized) and derives the
    *      touched bucket set (a ≤ numBuckets-int collect — the banded
    *      near-dedup store's model-sized partition-listing move);
    *   2. reads the store PRUNED to touched buckets (partition pruning
    *      on the `pb` directory column — a trickle batch reads only the
    *      shards it lands in) and full-outer merges counts per term —
    *      exact by the additive merge law, same as the default layout;
    *   3. rewrites ONLY the touched buckets via dynamic partition
    *      overwrite, repartitioned on `pb` first so each touched bucket
    *      gets exactly one file per upsert.
    *
    * Unlike the default layout nothing ever lands on the driver: the
    * merge is a distributed bucket-co-partitioned join and the write is
    * a distributed partitioned commit, so the store can hold a vocabulary
    * orders of magnitude past driver memory. The merged frame is pinned
    * ([[graft.core.Ckpt.pin]]) before the overwrite — the standard
    * read-while-overwriting-self break, distributed where
    * [[replaceStore]]'s collect is driver-bound. Single-writer contract
    * and the non-atomic commit window match the other stores (back with
    * an atomic-replace table format on a real cluster). `numBuckets` is a
    * LAYOUT constant (the bucket of a term must never move between
    * batches), so the store ENFORCES it: creation writes the value to a
    * `_graft_buckets` marker inside the store (underscore-prefixed, so
    * parquet reads ignore it), and every subsequent upsert validates the
    * caller's value against the marker and FAILS FAST on mismatch —
    * a mismatched upsert would silently prune the wrong buckets and
    * leave duplicate term rows with split counts (round-10 advice:
    * the contract was documentation-only). A pre-marker store (created
    * before this guard existed) upserts unvalidated, documented.
    *
    * Returns nothing — read the store back with [[readTermCountStore]]
    * (the (term, cnt) shape every count consumer takes, e.g.
    * [[graft.ext.TextStats.jsDivergenceFromCounts]]). */
  def termCountUpsertBatch(batch: DataFrame, textCol: String,
      storeDir: String, numBuckets: Int = 32): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val spark = batch.sparkSession
    val bucket = (t: org.apache.spark.sql.Column) =>
      pmod(xxhash64(t), lit(numBuckets.toLong)).cast("int")
    val fresh = graft.ext.TextStats.termCounts(batch, textCol)
      .withColumn("pb", bucket(col("term")))
    if (fresh.isEmpty) return
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(storeDir, "_graft_buckets")
    val creating = !fs.exists(storePath)
    val merged =
      if (creating) fresh
      else {
        if (fs.exists(marker)) {
          val in = fs.open(marker)
          val stored =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
            finally in.close()
          require(stored == numBuckets,
            s"term-count store $storeDir was created with numBuckets=$stored; " +
            s"upsert called with $numBuckets — the bucket of a term must never " +
            "move between batches (pass the creation-time value)")
        }
        val touched = fresh.select("pb").distinct()
          .collect().map(_.getInt(0)).map(Integer.valueOf)
        val existing = spark.read.parquet(storeDir)
          .filter(col("pb").isin(touched: _*))
          .select(col("term"), col("cnt").cast("long").as("cnt"))
        existing.join(fresh.select(col("term"), col("cnt").as("cnt_new")),
            Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt_new"), lit(0L)))
              .as("cnt"))
          .withColumn("pb", bucket(col("term")))
      }
    graft.core.Ckpt.pin(merged)
      .repartition(col("pb"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pb").parquet(storeDir)
    // Write the layout marker AFTER the data commit (a first write that
    // dies mid-commit leaves no marker claiming a layout that never
    // landed) and ONLY when this upsert CREATED the store: stamping an
    // existing pre-marker store would promote an unvalidated caller
    // value to authoritative — one wrong-numBuckets upsert would both
    // corrupt the store and then make the original CORRECT value fail
    // fast while further wrong-value upserts pass (the guard inverting).
    // A pre-marker store stays marker-less: its upserts remain
    // unvalidated (documented above), never falsely certified.
    if (creating) {
      val out = fs.create(marker, true)
      try out.write(s"$numBuckets\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** Read a [[termCountUpsertBatch]] store back to the (term, cnt) frame
    * every count consumer takes (the partition column stays behind). */
  def readTermCountStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .select(col("term"), col("cnt").cast("long").as("cnt"))
}
