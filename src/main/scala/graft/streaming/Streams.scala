package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.11): the reference's only
  * "streaming" is constant-memory scans + idempotent resume; the engine
  * completes the category with real event-time processing — watermarked
  * windowed aggregation and custom sessionization state — over the same
  * file sources (`Trigger.AvailableNow` = incremental batch with exactly
  * the resume semantics of the reference's anti-joins, but checkpointed).
  */
object Streams {

  /** State-store count for the stateful queries started here: one state
    * store per shuffle partition, fixed forever at a query's first
    * checkpoint; every micro-batch pays per-store open/commit/
    * maintenance, so the count is a fixed-cost knob, not a parallelism
    * default to inherit. The session conf `spark.graft.statePartitions`
    * (default 8) sizes it explicitly: the harness queries carry ≤ ~1M
    * keys of state, where 32 stores are pure overhead — 8 is the right
    * local size — while a production deployment sizes this to its
    * cluster BEFORE the first run against a checkpoint (it cannot be
    * changed later).
    */
  private def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.statePartitions")
      .map(_.toInt).getOrElse(8)

  /** Run `f` with `spark.sql.shuffle.partitions` = [[statePartitions]],
    * restoring after (see there for why stateful starts pin this).
    */
  private def withStatePartitions[T](spark: SparkSession)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark).toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Watermarked tumbling-window aggregation over a parquet events source,
    * drained with AvailableNow into a memory sink and returned as a batch
    * DataFrame. At scale the same query writes to a real sink with a
    * processing-time trigger; the plan is identical.
    */
  def windowedEventCounts(spark: SparkSession, eventsPath: String,
                          window_ : String = "1 day",
                          watermark: String = "1 hour",
                          queryName: String = "graft_stream_out"): DataFrame = {
    // layout-varying ts parquet: normalize onto TimestampType
    // (same handling as Tables.events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    // the streaming file source wants a directory: load the parent dir with
    // a glob filter selecting just this file
    val f = new java.io.File(eventsPath)
    val stream = graft.Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName).parquet(f.getParent))
    val agg = stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("n"), round(col("sum_value"), 2).as("sum_value"))
    val q = withStatePartitions(spark) {
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(queryName)
  }

  /** The production sink path: the same watermarked windowed aggregation
    * written to a parquet file sink in Append mode with a checkpoint —
    * watermark-driven state eviction, no driver-side materialization, and
    * exactly-once file output across restarts. Each call drains everything
    * currently in `sourceDir` (AvailableNow) and returns; re-calling with
    * the same checkpoint processes only new files (incremental). A window
    * is written once the event-time watermark passes its end, which is the
    * scale-correct contract: the memory/Complete variant above exists only
    * as the harness adapter.
    *
    * `sourceDir` is any directory of parquet with (ts, event_type, value);
    * a LongType ts is interpreted as nanos-since-epoch (the driver's
    * events.parquet shape).
    */
  def windowedEventCountsAppend(spark: SparkSession, sourceDir: String,
                                outDir: String, checkpointDir: String,
                                window_ : String = "1 day",
                                watermark: String = "1 hour"): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(sourceDir).schema
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(sourceDir))
    val agg = stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("n"), round(col("sum_value"), 2).as("sum_value"))
    val q = agg.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Shared construction for the purchase⋈signup stream-stream joins:
    * (purchases, signups, join condition) with both sides watermarked and
    * the event-time-bounded condition that lets Spark evict join state.
    */
  private def purchaseSignupJoin(spark: SparkSession, eventsPath: String,
                                 intervalDays: Int, watermark: String)
      : (DataFrame, DataFrame, Column) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val f = new java.io.File(eventsPath)
    def source() = graft.Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName).parquet(f.getParent))
    val purchases = source().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val signups = source().filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", watermark)
    val cond = col("user_id") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr(s"INTERVAL $intervalDays DAYS")
    (purchases, signups, cond)
  }

  /** Drain a streaming frame into a named memory sink and return it. */
  private def drainToMemory(spark: SparkSession, df: DataFrame,
                            queryName: String): DataFrame = {
    val q = withStatePartitions(spark) {
      df.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Watermarked STREAM-STREAM interval join: purchases joined to the
    * same user's signups within the preceding `intervalDays` days — the
    * canonical two-stream event-time correlation. Both sides carry
    * watermarks and the join condition bounds event time on both, so
    * Spark evicts join state as the watermarks advance (bounded memory on
    * unbounded streams); inner-join matches emit in Append mode as they
    * form. Drained with AvailableNow the result equals the batch interval
    * join, which is what the DuckDB oracle asserts.
    *
    * The default watermark covers the harness dataset's whole time span
    * (the dedupedEventCounts convention): if AvailableNow ever splits the
    * source into several micro-batches, rows arriving a batch later than
    * the dataset's newest events would otherwise be dropped as late and
    * silently break the stream==batch equality. State grows to the
    * corpus within the window — at a real deployment's rates, size the
    * delay to actual out-of-orderness instead.
    */
  def streamStreamIntervalJoin(spark: SparkSession, eventsPath: String,
                               intervalDays: Int = 7,
                               watermark: String = "90 days",
                               queryName: String = "graft_stream_join"): DataFrame = {
    val (purchases, signups, cond) =
      purchaseSignupJoin(spark, eventsPath, intervalDays, watermark)
    drainToMemory(spark,
      purchases.join(signups, cond)
        .select(col("purchase_id"), col("user_id"), col("signup_id")),
      queryName)
  }

  /** Watermarked stream-stream LEFT OUTER interval join: like
    * [[streamStreamIntervalJoin]], but purchases with no qualifying signup
    * emit with a null `signup_id` once the signup-side watermark passes
    * the point where a match is no longer possible. The outer emission is
    * watermark-DRIVEN: a purchase inside the final watermark window when
    * the stream drains never flushes its null row (state discarded at
    * query end — correct streaming semantics, not a bug). For a
    * deterministic, oracle-checkable result the EMITTED rows are filtered
    * to p_ts ≤ min(max purchase ts, max signup ts) − watermark − 1 min: a
    * threshold strictly below the final global watermark (so everything
    * at or under it is guaranteed flushed, whatever the engine's exact
    * >-vs-≥ eviction boundary), computed from a batch read of the same
    * source — data-derived, not wall clock. A stream-side cutoff filter
    * would not work: it drags the purchase-side watermark down with it,
    * leaving its own last watermark-window unflushed (measured: 1-row
    * divergence).
    *
    * Unlike the inner join, the watermark here must stay SHORT: outer
    * rows only flush when the watermark passes them, so a span-covering
    * delay would flush nothing. The short delay assumes the AvailableNow
    * drain does not split the source across micro-batches with > delay
    * event-time skew (true for the harness's single-file source; a
    * multi-file production source orders files by event time or widens
    * the delay and accepts a smaller flushed set).
    */
  def streamStreamLeftJoin(spark: SparkSession, eventsPath: String,
                           intervalDays: Int = 7,
                           watermark: String = "1 hour",
                           queryName: String = "graft_stream_left_join"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // deterministic flush threshold from the data (driver scalar, like a
    // quantizer — derived from the source, not wall clock): strictly
    // below the final global watermark min(maxP, maxS) − delay
    val maxes = graft.Tables.normalizeTs(spark.read.parquet(eventsPath))
      .groupBy("event_type")
      .agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the threshold derives from the ACTUAL watermark parameter (a fixed
    // 1-hour constant would silently disagree with a caller's delay)
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    require(iv.months == 0, s"watermark '$watermark' must be day-time scale")
    val delayMicros = iv.microseconds + iv.days * 86400L * 1000000L
    require(maxes.contains("purchase") && maxes.contains("signup"),
      s"events at $eventsPath must contain both 'purchase' and 'signup' " +
        s"rows to derive the flush threshold; found ${maxes.keys.mkString(", ")}")
    val thresholdMicros =
      math.min(maxes("purchase"), maxes("signup")) -
        delayMicros - 60L * 1000000L
    val (purchases, signups, cond) =
      purchaseSignupJoin(spark, eventsPath, intervalDays, watermark)
    drainToMemory(spark,
      purchases.join(signups, cond, "left_outer")
        .filter(col("p_ts") <= timestamp_micros(lit(thresholdMicros)))
        .select(col("purchase_id"), col("user_id"), col("signup_id")),
      queryName)
  }

  /** Streaming UPSERT into a partitioned parquet table: each micro-batch
    * lands via foreachBatch → [[graft.catalog.Catalog.upsertPartitions]],
    * so only the partitions the batch touches are rewritten — the
    * streaming MERGE of a plain-parquet lakehouse (idempotent per batch:
    * re-processing a batch overwrites the same partitions with the same
    * rows, which is what makes restarts safe on top of the checkpoint's
    * exactly-once batch tracking).
    */
  def streamUpsertPartitioned(spark: SparkSession, sourceDir: String,
                              outDir: String, checkpointDir: String,
                              partitionCol: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(sourceDir).schema
    // accept a single parquet file too (glob-filtered parent dir, the
    // windowedEventCounts pattern)
    val srcFile = new java.io.File(sourceDir)
    val raw =
      if (srcFile.isFile)
        spark.readStream.schema(schema)
          .option("pathGlobFilter", srcFile.getName).parquet(srcFile.getParent)
      else spark.readStream.schema(schema).parquet(sourceDir)
    val stream = graft.Tables.normalizeTs(raw)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.catalog.Catalog.upsertPartitions(batch, outDir, partitionCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming partition BACKFILL onto a versioned table: each
    * micro-batch atomically REPLACES exactly the partitions present in
    * it ([[graft.catalog.VersionedTable.replaceWhere]] over the
    * batch's own partition-value set — a metadata-sized collect), the
    * late-data reprocessing idiom (recompute day X, swap it in). The
    * first batch on an empty path bootstraps the table with the
    * declared layout. Idempotent at the data level under crash replay:
    * re-landing a batch re-replaces the same slice with the same rows
    * (the checkpoint makes replays the exception); snapshot-isolated
    * readers never see a half-swapped slice.
    */
  def streamBackfillPartitions(spark: SparkSession, sourceDir: String,
                               tablePath: String, checkpointDir: String,
                               partitionCol: String,
                               maxFilesPerTrigger: Int = 1): Unit = {
    val schema = spark.read.parquet(sourceDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.catalog.VersionedTable
        val vals = batch.select(partitionCol).distinct()
          .collect().map(r => Option(r.get(0)).map(_.toString))
        if (vals.nonEmpty) {
          val exists = scala.util.Try(
            VersionedTable.versions(spark, tablePath))
            .toOption.exists(_.nonEmpty)
          if (!exists)
            VersionedTable.commit(batch, tablePath,
              Seq(partitionCol)): Unit
          else {
            val pred = vals.map {
              case Some(v) =>
                s"`$partitionCol` = '${v.replace("'", "''")}'"
              case None => s"`$partitionCol` IS NULL"
            }.mkString(" OR ")
            VersionedTable.replaceWhere(batch, tablePath, pred): Unit
          }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[streamUpsertPartitioned]] with snapshot isolation: each
    * micro-batch becomes one [[graft.catalog.VersionedTable]] upsert
    * COMMIT, so concurrent readers always scan a consistent version, any
    * batch boundary is time-travelable, and a crash between file write
    * and manifest commit leaves an orphan (vacuumed later), never a
    * half-visible batch. Replay semantics differ from the in-place
    * variant honestly: a replayed batch lands as a NEW version with the
    * same partition contents (idempotent at the data level, not the
    * version-count level — the checkpoint makes replays the exception).
    */
  def streamVersionedUpsert(spark: SparkSession, sourceDir: String,
                            tablePath: String, checkpointDir: String,
                            partitionCol: String,
                            evolveSchema: Boolean = false): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(sourceDir).schema
    val srcFile = new java.io.File(sourceDir)
    val raw =
      if (srcFile.isFile)
        spark.readStream.schema(schema)
          .option("pathGlobFilter", srcFile.getName).parquet(srcFile.getParent)
      else spark.readStream.schema(schema).parquet(sourceDir)
    // ts normalization only applies to event-shaped sources; a versioned
    // table upserts whatever schema it is given
    val stream = if (schema.fieldNames.contains("ts"))
      graft.Tables.normalizeTs(raw) else raw
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.catalog.VersionedTable.upsertPartitions(batch, tablePath,
          partitionCol, evolveSchema = evolveSchema): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming sketch-cube ingest: each micro-batch reduces to one HLL
    * sketch row per key and lands as one versioned-table commit
    * ([[graft.ext.SketchCube.appendBatch]]) — the pre-aggregated
    * distinct-count cube stays queryable and snapshot-consistent after
    * every batch, and no raw history is ever rescanned. Checkpoint ⇒
    * exactly-once per file; a replayed batch would append a duplicate
    * sketch row set (over-count on replay, same at-least-once caveat as
    * any foreachBatch append — the checkpoint makes replays the
    * exception, and a periodic [[graft.ext.SketchCube.merge]] bounds the
    * row count either way).
    */
  def streamSketchCube(spark: SparkSession, sourceDir: String,
                       cubePath: String, checkpointDir: String,
                       keyCols: Seq[String], valueCol: String,
                       lgK: Int = 12): Unit = {
    val schema = spark.read.parquet(sourceDir).schema
    val q = spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.Caches.scoped {
          graft.ext.SketchCube.appendBatch(batch, keyCols, valueCol,
            cubePath, lgK): Unit
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming incremental near-dup dedup — the PRODUCTION shape of the
    * persisted signature store: a document stream where each micro-batch
    * (1) probes the store for near-dups (batch-vs-store AND
    * batch-internal, [[graft.ext.Dedup.dedupAgainstStore]] — O(batch)
    * partition-pruned reads), (2) drops every doc that matched (pairs
    * carry the NEWER id as batch_id, so min-id-wins falls out of the
    * pair orientation; transitive batch chains collapse because every
    * non-canonical member appears as some pair's batch_id), (3) appends
    * the survivors to the clean sink and THEN to the store. The
    * checkpoint makes ingest exactly-once per FILE (a rerun replays
    * nothing). Crash semantics hinge on the sink-BEFORE-store order: a
    * crash after the store append would make the replayed batch match
    * its own signatures and silently vanish (data loss); sink-first
    * instead replays as at-least-once — a crash inside the narrow
    * sink→store window can duplicate one batch in the sink, never lose
    * one (the standard foreachBatch append caveat, stated honestly).
    *
    * `docsDir` must contain (doc_id long, text string) parquet; ids
    * unique across the whole stream (the store contract). Store appends
    * are lock-free segment commits: a crash inside an append leaves only
    * an unreferenced claimed segment (the store reads as before the
    * append, and a compaction grace-sweeps the segment), so a restart
    * needs no operator step — the checkpoint replays the batch and
    * re-appends it (at-least-once, per the sink-before-store note
    * above).
    */
  def streamDedupAgainstStore(spark: SparkSession, docsDir: String,
                              storePath: String, sinkDir: String,
                              checkpointDir: String,
                              storeParts: Int = 16,
                              threshold: Double = 0.8): Unit = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val q = spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a continuous stream runs unbounded micro-batches: the scope
        // drops THIS batch's staged frames at its end (the probe/append
        // staging is batch-lived) — and only this batch's, so a bench or
        // second query staging caches in the same session keeps them
        graft.Caches.scoped {
          val b = graft.Caches.stage(batch)
          val drop = graft.ext.Dedup.dedupAgainstStore(spark, storePath, b,
              "doc_id", "text", threshold = threshold, storeParts = storeParts)
            .select(col("batch_id").as("doc_id")).distinct()
          val clean = graft.Caches.stage(
            b.join(drop, Seq("doc_id"), "left_anti"))
          if (!clean.isEmpty) {
            // sink BEFORE store — see crash-semantics note above
            clean.write.mode("append").parquet(sinkDir)
            graft.ext.Dedup.appendSignatureStore(clean, "doc_id", "text",
              storePath, storeParts = storeParts)
          }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAM-STATIC enrichment — the wikid prior-pass shape on a live
    * stream: the event stream broadcast-joins a static dimension (the
    * title-map pattern) and aggregates per enriched key. The static side
    * is planned per micro-batch exactly like a batch broadcast join; no
    * stream-stream state is involved, so this composes with any
    * downstream watermarkless aggregation in Complete mode (or windowed
    * in Append).
    */
  def streamStaticEnrich(spark: SparkSession, eventsPath: String,
                         dim: DataFrame, dimKey: String,
                         groupCols: Seq[String] = Seq("tier", "event_type"),
                         valueCol: String = "value",
                         queryName: String = "graft_stream_enrich"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val f = new java.io.File(eventsPath)
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName).parquet(f.getParent)
    val enriched = stream
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq(dimKey))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), round(sum(valueCol), 2).as("sum_value"))
    val q = withStatePartitions(spark) {
      enriched.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exactly-once dedup: events deduplicated on `event_id`
    * with `dropDuplicatesWithinWatermark` (state evicted once the
    * event-time watermark passes — bounded memory at any stream length,
    * unlike plain dropDuplicates' unbounded state), then aggregated. The
    * harness plants duplicates by streaming the same file twice, so the
    * correct output equals the batch aggregate over the ORIGINAL events —
    * which is what the DuckDB oracle asserts.
    */
  def dedupedEventCounts(spark: SparkSession, eventsPath: String,
                         // covers the harness dataset's full time span, so
                         // dedup holds even if the two copies land in
                         // different micro-batches (state not yet evicted)
                         watermark: String = "90 days",
                         queryName: String = "graft_stream_dedup"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    // plant duplicates: the same events file twice in a fresh source dir
    // (registered for cleanup — a long-running harness calls this per
    // round and must not accumulate dump copies)
    val srcDir = graft.Caches.newTempDir("graft_dedup_src")
    val src = java.nio.file.Paths.get(eventsPath)
    java.nio.file.Files.copy(src, srcDir.resolve("copy1.parquet"))
    java.nio.file.Files.copy(src, srcDir.resolve("copy2.parquet"))
    val stream = graft.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(srcDir.toString))
    val agg = stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    val q = withStatePartitions(spark) {
      agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    graft.Caches.deleteNow(srcDir)
    spark.table(queryName)
  }

  /** Production-shape streaming exactly-once dedup: the watermarked
    * `dropDuplicatesWithinWatermark` stream is written as a deduplicated
    * EVENT LOG to a parquet file sink in Append mode with a checkpoint —
    * the scale-correct contract (bounded watermark-evicted state, no
    * driver-side materialization, exactly-once files across restarts).
    * The aggregation happens downstream over the sink, which is how a
    * 100 TB pipeline consumes a deduped log (a non-windowed streaming
    * aggregate cannot emit in Append mode, by design: it never finalizes).
    *
    * Returns the batch aggregate read back from the sink; with the
    * harness's planted-duplicate source it equals the batch aggregate
    * over the ORIGINAL events, which the DuckDB oracle asserts.
    */
  def dedupedEventCountsAppend(spark: SparkSession, eventsPath: String,
                               watermark: String = "90 days"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsPath).schema
    val srcDir = graft.Caches.newTempDir("graft_dedup_src")
    val src = java.nio.file.Paths.get(eventsPath)
    java.nio.file.Files.copy(src, srcDir.resolve("copy1.parquet"))
    java.nio.file.Files.copy(src, srcDir.resolve("copy2.parquet"))
    // sink + checkpoint outlive this call (the returned plan reads the
    // sink lazily) — registered for JVM-exit cleanup
    val outDir = graft.Caches.newTempDir("graft_dedup_sink")
    val deduped = graft.Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(srcDir.toString))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
    val q = withStatePartitions(spark) {
      deduped.writeStream
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", s"$outDir/data")
        .option("checkpointLocation", s"$outDir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    graft.Caches.deleteNow(srcDir)
    spark.read.parquet(s"$outDir/data")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  case class Session(user_id: Long, n_events: Long, total_value: Double,
                     closed_by_timeout: Boolean)

  /** Custom stateful sessionization: a per-user session closes when the
    * event-time watermark passes `gapMs` after the session's last event
    * (flatMapGroupsWithState with EventTimeTimeout — the engine's
    * KeyValueGroupedDataset custom-state surface). Event-time timeouts are
    * deterministic w.r.t. the data, unlike processing-time ones — and a
    * processing-time timeout would drive endless empty micro-batches.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 60000L,
                 watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.nEvents, s.total, closed_by_timeout = true))
          } else {
            val evs = it.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val next = SessionState(prev.nEvents + evs.size,
              prev.total + evs.map(_.value).sum,
              evs.map(_.ts.getTime).maxOption.getOrElse(prev.lastTs))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Batch-mode sessionization by event-time gap (the deterministic,
    * oracle-checkable equivalent: a session break is a gap > gapMs between
    * consecutive events of a user — classic window lag/cumsum).
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        // microsecond gap math: cast("long") floors to seconds, so a gap
        // of exactly gap+0.4s would compare differently from an engine
        // keeping fractional seconds (found as a 1-row sf0.1 divergence)
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Streaming FTS ingest — the reference's FTS5 tables in their actual
    * lifecycle (they GROW one INSERT batch per parsed chunk,
    * /root/reference/scripts/wiki/wikidata.py:255-256): each micro-batch
    * becomes one immutable [[graft.fts.FtsStore]] segment (O(batch)
    * append, single-writer lock), and the store is queryable by every
    * FTS form after every batch. Checkpoint ⇒ exactly-once per file; an
    * appended-but-uncommitted segment from a crash mid-append is an
    * orphan dir the manifest never references, so the checkpoint replay
    * cannot double-count — the manifest commit and the checkpoint commit
    * bracket the batch (at-least-once on the segment WRITE, exactly-once
    * on the segment COMMIT).
    *
    * `docsDir` must contain (doc_id long, text string) parquet; ids
    * unique across the stream (the supersession contract — a re-sent id
    * would be read as an UPDATE, which is the semantics an upsert-shaped
    * source wants anyway).
    */
  def streamFtsIngest(spark: SparkSession, docsDir: String,
                      storePath: String, checkpointDir: String,
                      numBuckets: Int = 8,
                      maxFilesPerTrigger: Int = 1): Unit = {
    // first run creates the store; a checkpointed RERUN finds it and must
    // not fail on the exists-guard — replayed files are the checkpoint's
    // concern, not the store's
    if (!graft.StoreLock.fs(spark, storePath)
        .exists(new org.apache.hadoop.fs.Path(s"$storePath/meta.json")))
      graft.fts.FtsStore.createEmpty(spark, storePath, numBuckets)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.Caches.scoped {
          graft.fts.FtsStore.append(batch, "doc_id", Seq("text"), storePath)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming row-level merge: each micro-batch upserts BY KEY into a
    * versioned table through [[graft.catalog.VersionedTable.merge]] —
    * the CDC-ingest shape (update streams, late corrections) that
    * partition-level [[streamVersionedUpsert]] cannot express. Every
    * batch costs one key-column scan (stats-skipped to the batch's key
    * range) plus a rewrite of only the files containing matched keys;
    * each batch is one atomic commit, so readers always see whole
    * batches. Checkpoint ⇒ exactly-once per source file; a replayed
    * batch re-merges the same keys — idempotent, the merge analogue of
    * the upsert contract. Batches must not carry duplicate keys (the
    * source's contract, as for merge itself).
    */
  def streamMergeRows(spark: SparkSession, sourceDir: String,
                      tablePath: String, checkpointDir: String,
                      keyCol: String,
                      partitionCols: Seq[String] = Nil,
                      maxFilesPerTrigger: Int = 1): Unit = {
    val schema = spark.read.parquet(sourceDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.catalog.VersionedTable.merge(batch, tablePath, keyCol,
          partitionCols): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[streamMergeRows]] with the full conditional-MERGE clause set per
    * micro-batch ([[graft.catalog.VersionedTable.mergeWhen]]) — the CDC
    * ingest shapes a plain upsert cannot express: drop stale updates
    * (`updateWhen = Some("s.ts > t.ts")`), apply tombstones
    * (`deleteWhen = Some("s.deleted")`), partial-column patches
    * (`updateCols`). Same cost/commit/checkpoint contract as
    * streamMergeRows; NOTE the replay caveat: a crash-replayed batch
    * re-applies its clauses, so they must be idempotent under
    * re-application — monotonic guards like `s.ts > t.ts` are (the
    * replay self-drops), while `deleteWhen` combined with
    * `insert = true` is NOT (a replayed batch re-inserts the rows it
    * deleted, now unmatched — deleted keys silently RESURRECT after a
    * crash). That combination is therefore REFUSED at build time:
    * tombstone streams run with `insert = false`, or pass
    * `allowNonIdempotentReplay = true` only when the insert clause
    * provably cannot re-insert a deleted key (e.g. deletes are tagged
    * and arrive with no other columns the insert would take).
    */
  def streamMergeWhen(spark: SparkSession, sourceDir: String,
                      tablePath: String, checkpointDir: String,
                      keyCol: String,
                      updateWhen: Option[String] = None,
                      updateCols: Option[Seq[String]] = None,
                      deleteWhen: Option[String] = None,
                      insert: Boolean = true,
                      partitionCols: Seq[String] = Nil,
                      maxFilesPerTrigger: Int = 1,
                      allowNonIdempotentReplay: Boolean = false): Unit = {
    require(deleteWhen.isEmpty || !insert || allowNonIdempotentReplay,
      "streamMergeWhen: deleteWhen with insert = true is not idempotent " +
        "under crash replay (a replayed batch re-inserts the rows it " +
        "deleted — silent resurrection): run tombstone streams with " +
        "insert = false, or opt in explicitly with " +
        "allowNonIdempotentReplay = true")
    val schema = spark.read.parquet(sourceDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.catalog.VersionedTable.mergeWhen(batch, tablePath, keyCol,
          updateWhen, updateCols, deleteWhen, insert, partitionCols): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous MATERIALIZED-VIEW maintenance: follow the view's
    * source table through the `graft` CDF streaming source and refresh
    * the view once per incoming window. The stream is pure SCHEDULING —
    * each trigger calls [[graft.catalog.MaterializedView.refresh]],
    * which recovers its own exactly-once watermark from the view's
    * commit log, so a crash-replayed trigger (or a manual refresh
    * racing this stream) can never double-apply a window; the
    * checkpoint only bounds re-trigger frequency. AvailableNow shape:
    * drains the source backlog and stops (the cron/maintenance idiom —
    * wrap in a long-lived trigger for a standing follower).
    */
  def streamViewRefresh(spark: SparkSession, viewPath: String,
                        checkpointDir: String,
                        maxVersionsPerTrigger: Int = 10): Unit = {
    val src = graft.catalog.MaterializedView.sourcePath(spark, viewPath)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .load(src)
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.catalog.MaterializedView.refresh(spark, viewPath): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming quality-gated ingest (expectations / dead-letter): each
    * micro-batch is split by the TARGET table's CHECK constraints
    * ([[graft.catalog.VersionedTable.splitByConstraints]]) — clean rows
    * append to the table, violating rows (tagged `_violated` with the
    * names of the constraints they failed) append to a quarantine
    * table. The training-data firehose contract: a bad record must
    * never stall ingest, and must never silently disappear either.
    *
    * Both sides commit through [[graft.catalog.VersionedTable
    * .appendIdempotent]] under one `appId`, so a crash at ANY point —
    * including between the two commits — replays the batch without
    * duplicating either side: each table's txn marker independently
    * skips the half that already landed. Exactly-once per source file,
    * end to end, with plain appends.
    */
  def streamAppendExpect(spark: SparkSession, sourceDir: String,
                         tablePath: String, quarantinePath: String,
                         checkpointDir: String, appId: String,
                         partitionCols: Seq[String] = Nil,
                         maxFilesPerTrigger: Int = 1,
                         evolveSchema: Boolean = false): Unit = {
    val schema = spark.read.parquet(sourceDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.catalog.VersionedTable
        // replay fast-path: a batch whose txn marker exists on BOTH
        // sinks already landed in full — skip its compute entirely
        // (metadata-only probes; the in-claim guard stays the
        // race-exact authority). A marker on the clean side alone is
        // NOT enough: it cannot distinguish "bad side was empty" from
        // "crashed between the two commits", so that shape re-evaluates
        // (and the clean append then skips pre-write on its own).
        if (!(VersionedTable.txnCommitted(spark, tablePath, appId, batchId)
            && VersionedTable.txnCommitted(spark, quarantinePath, appId,
              batchId))) {
          // one source scan serves all three consumers of the batch (the
          // clean write, the bad-emptiness probe, the quarantine write) —
          // unpersisted before the checkpoint commit either way
          val cached = batch.persist()
          try {
            // the split already judges every row against the table's
            // constraints — prove it to the commit with the set's
            // fingerprint so the clean append skips its redundant
            // re-enforcement scan (a constraint change in between
            // invalidates the token and the gate runs in full)
            val token = VersionedTable.constraintsToken(spark, tablePath)
            val (clean, bad) =
              VersionedTable.splitByConstraints(spark, tablePath, cached)
            // evolveSchema: a source whose field set drifted from the table
            // (the schema-on-read firehose shape) WIDENS it instead of
            // stalling ingest — the drift stays a per-pipeline decision,
            // default loud
            VersionedTable.appendIdempotent(clean, tablePath, appId, batchId,
              partitionCols,
              writerOptions = Map("graft.constraintsPrechecked" -> token),
              evolveSchema = evolveSchema): Unit
            // a violation-free batch writes no quarantine version (no
            // version churn); replay stays exactly-once regardless — both
            // sides are independently txn-guarded
            if (!bad.isEmpty)
              VersionedTable.appendIdempotent(bad, quarantinePath, appId,
                batchId, evolveSchema = evolveSchema): Unit
          } finally cached.unpersist()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Follow a versioned table incrementally: one poll processes every
    * version committed since the persisted cursor as a single window —
    * the initial poll delivers the full current snapshot, every later
    * poll exactly the manifest diff ([[graft.catalog.VersionedTable
    * .changes]]: O(changed files) read, never a table rescan). The
    * cursor commits AFTER the processor returns, by CREATING a
    * `cursor-N` file (max wins — the name carries the value, so no
    * crash at any point can lose the cursor and degrade the next poll
    * to a full-snapshot replay); a crash mid-process replays the
    * window — at-least-once, which
    * an idempotent processor (and every exactly-once sink upstream of
    * one) turns into exactly-once; the downstream mirror of the
    * foreachBatch ingest contract. Returns the number of versions
    * consumed this poll (0 = nothing new, processor not called).
    */
  def followTableChanges(spark: SparkSession, tablePath: String,
                         cursorPath: String,
                         withChangeTypes: Boolean = false)
                        (process: (DataFrame, Int) => Unit): Int = {
    import graft.catalog.VersionedTable
    import org.apache.hadoop.fs.{Path => HPath}
    val fsys = graft.StoreLock.fs(spark, cursorPath)
    // the cursor is VERSIONED IN THE FILE NAME (`cursor-N`, max wins):
    // advancing = creating a new file, so there is no delete-then-rename
    // window in which a crash could lose the cursor and force an
    // O(table) snapshot replay — the content of the file is irrelevant,
    // the name alone carries the value, and a crash mid-create still
    // leaves either the old max or both. Older cursor files are swept
    // best-effort after the new one exists.
    val cursorDir = new HPath(cursorPath)
    def cursorFiles(): Seq[(Int, HPath)] =
      if (!fsys.exists(cursorDir)) Seq.empty
      else fsys.listStatus(cursorDir).toSeq.map(_.getPath)
        .flatMap(p => p.getName match {
          case n if n.matches("cursor-\\d+") =>
            Some(n.stripPrefix("cursor-").toInt -> p)
          case _ => None
        })
    // a pre-upgrade follower persisted a single content-carrying
    // `cursor` file: consult it as a FLOOR when present, so an upgraded
    // follower resumes where it left off instead of silently resetting
    // to -1 and re-delivering the whole snapshot as one window (O(table)
    // read, duplicate delivery to a non-idempotent processor). Migrated
    // to cursor-N at the next successful poll, then removed.
    val legacyFile = new HPath(s"$cursorPath/cursor")
    val legacyStart =
      if (!fsys.exists(legacyFile)) -1
      else scala.util.Try {
        val in = fsys.open(legacyFile)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toInt
        finally in.close()
      }.getOrElse(-1)
    val start =
      math.max(cursorFiles().map(_._1).maxOption.getOrElse(-1), legacyStart)
    val vs = VersionedTable.versions(spark, tablePath)
    if (vs.isEmpty || vs.max <= start) return 0
    val latest = vs.max
    // withChangeTypes = full CDC: removed-file rows arrive tagged
    // "delete" beside the "insert" rows, so the consumer needs no
    // reconcile pass (deletes require the base version's files — poll
    // within the vacuum retention window)
    val window =
      if (start < 0) {
        val snap = VersionedTable.read(spark, tablePath, latest)
        if (withChangeTypes && snap.columns.nonEmpty)
          snap.withColumn("_change_type", lit("insert"))
        else snap
      }
      else if (withChangeTypes)
        VersionedTable.tableChanges(spark, tablePath, start, latest)
      else VersionedTable.changes(spark, tablePath, start, latest)
    // a window that added no files (pure deletes, empty table) reads as
    // the SCHEMALESS empty frame — advance the cursor without handing
    // the processor a frame whose columns cannot resolve
    if (window.columns.nonEmpty) process(window, latest)
    // commit point = creating cursor-<latest>; only AFTER it exists are
    // older cursor files swept (a crash anywhere leaves max >= start,
    // never no cursor — at-least-once with the window granularity intact)
    val next = new HPath(s"$cursorPath/cursor-$latest")
    val out = fsys.create(next, true)
    out.close()
    cursorFiles().filter(_._1 < latest)
      .foreach { case (_, p) => try fsys.delete(p, false)
        catch { case _: java.io.IOException => () } }
    // legacy cursor migrated: cursor-N now carries (at least) its value
    if (legacyStart >= 0)
      try fsys.delete(legacyFile, false)
      catch { case _: java.io.IOException => () }
    vs.count(_ > start)
  }
}
