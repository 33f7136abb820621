package graft.sources

import java.time.{Instant, LocalDate, LocalDateTime, ZoneId}

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructType}

import graft.catalog.{GraftScan, VersionedTable}

/** The versioned table as a first-class Spark data source, registered
  * under the short name `graft` (META-INF/services): the standard
  * reader/writer API is the whole surface —
  *
  * {{{
  * spark.read.format("graft").load(path)                   // latest snapshot
  * spark.read.format("graft").option("versionAsOf", 3)     // time travel
  *   .load(path)
  * spark.read.format("graft")
  *   .option("timestampAsOf", "2026-01-01T00:00:00Z").load(path)
  * df.write.format("graft").mode("append").save(path)      // commit verbs
  * spark.read.format("graft").option("readChangeFeed", true)
  *   .option("startingVersion", 2).load(path)               // CDC window
  * spark.readStream.format("graft").load(path)             // tail commits
  * spark.readStream.format("graft")                        // CDC stream,
  *   .option("readChangeFeed", true)                       // bounded
  *   .option("maxVersionsPerTrigger", 10).load(path)       // catch-up
  * df.writeStream.format("graft").option("path", path)     // exactly-once
  *   .option("checkpointLocation", cp).start()
  * }}}
  *
  * Batch reads serve the manifest-backed [[GraftScan]] relation, so
  * Catalyst-pushed predicates prune files through the commit stats
  * sidecars and hive partition values at planning time, and renamed /
  * dropped columns resolve through the manifest column mapping — the
  * caller never names an engine API. SQL works through the same hook:
  * `CREATE TABLE t USING graft OPTIONS (path '...')`.
  *
  * Streaming follows the published lakehouse connector shape (Delta's
  * DSv1 source/sink): the stream OFFSET is the table VERSION, a
  * micro-batch is the manifest delta between two versions (O(changed
  * files) per batch, metadata-driven), and the sink commits each
  * micro-batch through [[VersionedTable.appendIdempotent]] keyed on
  * (appId, batchId) — a crash-replayed batch lands exactly once.
  *
  * Reference scope: the reference engine exposes its tables only
  * through its own Python API (the `scripts/wiki` modules under
  * `/root/reference`);
  * registering the engine as a standard Spark format is the
  * Spark-native restatement of "a user can point their existing query
  * tool at it".
  */
class GraftFormat extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft format needs a path — .load(path) or OPTIONS (path '...')"))

  /** `timestampAsOf` accepts epoch millis, an ISO-8601 instant
    * (`2026-01-01T00:00:00Z`), or a date / datetime literal
    * (`2026-01-01`, `2026-01-01 12:30:00`) read in the session
    * timezone.
    */
  private def parseTimestamp(spark: SparkSession, s: String): Long = {
    val zone = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val t = s.trim
    def num = t.toLongOption
    def instant = scala.util.Try(Instant.parse(t)).toOption.map(_.toEpochMilli)
    def dateTime = scala.util.Try(LocalDateTime.parse(t.replace(' ', 'T')))
      .toOption.map(_.atZone(zone).toInstant.toEpochMilli)
    def date = scala.util.Try(LocalDate.parse(t)).toOption
      .map(_.atStartOfDay(zone).toInstant.toEpochMilli)
    num.orElse(instant).orElse(dateTime).orElse(date).getOrElse(
      throw new IllegalArgumentException(
        s"cannot parse timestampAsOf '$s' — epoch millis, ISO instant, " +
          "or yyyy-MM-dd[ HH:mm:ss] in the session timezone"))
  }

  private def versionOf(spark: SparkSession, path: String,
                        parameters: Map[String, String]): Int = {
    val v = parameters.get("versionAsOf")
    val ts = parameters.get("timestampAsOf")
    require(v.isEmpty || ts.isEmpty,
      "give versionAsOf OR timestampAsOf, not both")
    v.map(_.toInt)
      .orElse(ts.map(s =>
        VersionedTable.versionAt(spark, path, parseTimestamp(spark, s))))
      .getOrElse(-1)
  }

  // ── batch read ─────────────────────────────────────────────────────
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // CDC batch read (the Delta CDF option shape):
      // startingVersion (INCLUSIVE, required) .. endingVersion
      // (inclusive, default latest) → rows tagged _change_type
      // insert/delete, _commit_version and _commit_ts_millis. EXACT
      // per-version replay ([[VersionedTable.changeFeed]] — one
      // incremental file-set diff across the window and one scan per
      // schema epoch, so a thousand-commit backfill plans O(1) scans,
      // never one per version). An all-metadata window returns an
      // EMPTY change frame, not an error. Version 0's "changes" are
      // the initial snapshot.
      val s = parameters.getOrElse("startingVersion",
        throw new IllegalArgumentException(
          "readChangeFeed needs startingVersion (first version whose " +
            "changes to include)")).toInt
      require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
        "readChangeFeed takes startingVersion/endingVersion, not *AsOf")
      val end = parameters.get("endingVersion").map(_.toInt).getOrElse(-1)
      new DataFrameRelation(
        VersionedTable.changeFeed(spark, path, s, end), sqlContext)
    } else {
      // the bare relation when the snapshot plans as one; otherwise a
      // DSv1 HadoopFsRelation cannot carry the row-position filter or
      // the union of several relations — serve the frame through the
      // pruned/filtered contract instead (requested filters still push
      // into the indexed scans underneath, so file skipping is
      // preserved; Spark re-evaluates every filter above, so the
      // translation is layout, never correctness)
      val df = GraftScan.servedFrame(spark, path,
        versionOf(spark, path, parameters))
      df.queryExecution.logical match {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
          lr.relation
        case _ => new PrunedDataFrameRelation(df, sqlContext)
      }
    }
  }

  // ── batch write ────────────────────────────────────────────────────
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val partitionCols = GraftFormat.partitionColsOf(parameters)
    // the CTAS-carried bucket declaration ("cols=a,b;n=8;sorted=s" or
    // legacy "col,n" — see GraftDml's claimCtas): declared INSIDE the
    // mode dispatch, before the write, so the creating commit itself
    // bucket-arranges and proves the layout — but only on the paths
    // that actually write. Declaring up front would let a FAILED
    // ErrorIfExists (or a skipped Ignore) durably redeclare a live
    // table's layout, silently dropping its claim.
    def declareBucketing(): Unit =
      parameters.get("bucketSpec").foreach { bs =>
        if (bs.startsWith("cols=")) {
          val kv = bs.split(";").map(_.split("=", 2))
            .map(a => a(0) -> (if (a.length > 1) a(1) else "")).toMap
          VersionedTable.setBucketing(spark, path,
            kv("cols").split(",").toSeq, kv("n").trim.toInt,
            kv.get("sorted").toSeq.flatMap(_.split(","))
              .filter(_.nonEmpty))
        } else {
          val Array(c, n) = bs.split(",", 2)
          VersionedTable.setBucketing(spark, path, c.trim, n.trim.toInt)
        }
      }
    val evolve = parameters.get("evolveSchema").exists(_.toBoolean)
    val exists =
      scala.util.Try(VersionedTable.versions(spark, path))
        .toOption.exists(_.nonEmpty)
    mode match {
      case SaveMode.Append =>
        declareBucketing()
        VersionedTable.append(data, path, partitionCols,
          evolveSchema = evolve)
      case SaveMode.Overwrite =>
        declareBucketing()
        // predicate-scoped overwrite (the Delta replaceWhere shape):
        // only the matching slice swaps, the rest of the table carries
        // forward by manifest reference
        parameters.get("replaceWhere") match {
          case Some(pred) =>
            // same session gate as SQL DML: a data-predicate replace
            // runs merge-on-read when deletion vectors are enabled
            VersionedTable.replaceWhere(data, path, pred,
              evolveSchema = evolve,
              dv = data.sparkSession.conf
                .getOption("spark.graft.deletionVectors")
                .exists(_.toBoolean))
          case None => VersionedTable.commit(data, path, partitionCols)
        }
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"versioned table already exists at $path (SaveMode.ErrorIfExists)")
        declareBucketing()
        VersionedTable.commit(data, path, partitionCols)
      case SaveMode.Ignore =>
        if (!exists) {
          declareBucketing()
          VersionedTable.commit(data, path, partitionCols)
        }
    }
    createRelation(sqlContext, parameters)
  }

  // ── streaming read ─────────────────────────────────────────────────
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(schema.isEmpty,
      "graft streaming source derives its schema from the table — " +
        "drop the user-specified schema")
    ("graft", GraftFormat.streamSchema(sqlContext.sparkSession,
      pathOf(parameters),
      parameters.get("readChangeFeed").exists(_.toBoolean)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters, Some(metadataPath))

  // ── streaming write ────────────────────────────────────────────────
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode != OutputMode.Update(),
      "graft sink supports Append (idempotent appends) and Complete " +
        "(snapshot replace); for keyed upserts use " +
        "graft.streaming.Streams.streamMerge/streamMergeWhen")
    new GraftStreamSink(sqlContext.sparkSession, pathOf(parameters),
      parameters, partitionColumns, outputMode)
  }
}

object GraftFormat {
  /** The writer-option partition layout: `partitionCols` (comma-
    * separated, multi-level hive layouts in declared order) or the
    * single-column `partitionCol`.
    */
  private[graft] def partitionColsOf(
      parameters: Map[String, String]): Seq[String] =
    parameters.get("partitionCols").orElse(parameters.get("partitionCol"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** A stream's schema: the head snapshot's LOGICAL schema, read from
    * table metadata with no Dataset built (no columns for a table whose
    * head holds no files, e.g. after a truncate), plus the change-type
    * column of a `readChangeFeed` stream.
    */
  private[sources] def streamSchema(spark: SparkSession, path: String,
                                    changeFeed: Boolean): StructType = {
    require(VersionedTable.versions(spark, path).nonEmpty,
      s"no versioned table at $path")
    val table = VersionedTable.logicalSchema(spark, path)
    if (changeFeed) table.add("_change_type", StringType, nullable = false)
    else table
  }
}

/** A computed DataFrame served through the DSv1 relation contract —
  * the CDC batch read's shape (change-sized data, not a file scan, so
  * a plain TableScan is the honest physical form).
  */
class DataFrameRelation(df: DataFrame, sqlCtx: SQLContext)
    extends BaseRelation
    with org.apache.spark.sql.sources.TableScan {
  override def sqlContext: SQLContext = sqlCtx
  override def schema: StructType = df.schema
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.rdd
}

/** A computed DataFrame served through the DSv1 PRUNED/FILTERED scan
  * contract — the deletion-vector batch read's shape: requested
  * columns project and translatable filters apply onto the underlying
  * (indexed, DV-filtered) frame, so Catalyst's pushdown reaches the
  * stats sidecars through this wrapper too. Untranslatable filter
  * shapes are simply not applied here — DSv1 re-evaluates every filter
  * above the scan (`unhandledFilters` defaults to all), so the
  * translation costs I/O at worst, never correctness.
  */
class PrunedDataFrameRelation(df: DataFrame, sqlCtx: SQLContext)
    extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.{sources => sf, Column}

  override def sqlContext: SQLContext = sqlCtx
  override def schema: StructType = df.schema

  private def toColumn(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v) => Some(col(a) === lit(v))
    case sf.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sf.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sf.LessThan(a, v) => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sf.In(a, vs) => Some(col(a).isin(vs.toSeq.map(lit(_)): _*))
    case sf.IsNull(a) => Some(col(a).isNull)
    case sf.IsNotNull(a) => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sf.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sf.StringContains(a, v) => Some(col(a).contains(v))
    case sf.And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case sf.Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case sf.Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[sf.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(df)(_ filter _)
    filtered.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

/** DSv1 streaming source tailing a versioned table: the offset IS the
  * table version, so the checkpoint log pins exact manifest windows
  * and a restarted query replays the identical batch — deterministic
  * for as long as [[VersionedTable.vacuum]] retains the window's base
  * version (size retention beyond the longest expected downtime).
  *
  * `maxVersionsPerTrigger` caps how many table versions one
  * micro-batch may cover — the admission control that keeps a restart
  * after long downtime (or a first read of a busy table) from planning
  * one giant catch-up batch; the stream simply drains the backlog in
  * bounded windows. The cap cannot subdivide the bootstrap snapshot
  * (batch 0 without `startingVersion` is one snapshot read); it
  * applies from the first version-window batch on.
  *
  * First batch: the full current snapshot (resume-free bootstrap), or
  * from `startingVersion` (a version number, or `"latest"` for
  * new-commits-only). Append-only contract: a window that REMOVED
  * files (merge / delete / optimize landed) fails loud unless
  * `ignoreChanges = true`, because [[VersionedTable.changes]] surfaces
  * additions only — silent under-delivery is the one thing a source
  * must never do. The schema is pinned at stream start; later
  * evolution widens batches back onto the pinned shape (extra columns
  * dropped, missing columns null) — restart the stream to pick up a
  * wider schema.
  */
class GraftStreamSource(spark: SparkSession, path: String,
                        options: Map[String, String],
                        metadataPath: Option[String] = None) extends Source {

  private val ignoreChanges =
    options.get("ignoreChanges").exists(_.toBoolean)

  /** Streaming CHANGE FEED: every window's rows arrive tagged
    * `_change_type` insert/delete (deletes as data, not a failure), so
    * a follower materializes the table's full mutation stream — merges
    * and deletes included — without the append-only contract. The
    * bootstrap batch is the snapshot tagged insert. A window NETS its
    * intra-window churn (a row inserted and deleted between the same
    * two offsets cancels) — convergence-exact for replica followers;
    * an audit consumer that must see every intermediate change sets
    * `maxVersionsPerTrigger = 1` for exact per-version replay.
    */
  private val readChangeFeed =
    options.get("readChangeFeed").exists(_.toBoolean)

  /** Resolve-once pin for `startingVersion = "latest"`: the base is
    * durable under the source's checkpoint metadataPath, so a restart
    * whose first batch's offset was logged-but-not-committed re-creates
    * the source with the ORIGINAL base — recomputing "latest" after the
    * table advanced during downtime would silently drop the versions
    * batch 0 covered (the exactly-once window the checkpoint exists
    * for). Written create-if-absent then read back, so a racing twin
    * resolves identically.
    */
  private def pinnedLatestBase(): Int = {
    def resolve = VersionedTable.versions(spark, path).max
    metadataPath match {
      case None => resolve // no checkpoint = no replay window to guard
      case Some(mp) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val pin = new org.apache.hadoop.fs.Path(mp, "graft-start-base")
        val fsys = pin.getFileSystem(conf)
        if (!fsys.exists(pin)) {
          val base = resolve
          try {
            val out = fsys.create(pin, false)
            try out.write(base.toString.getBytes("UTF-8"))
            finally out.close()
          } catch { case _: java.io.IOException => () /* racer pinned */ }
        }
        val in = fsys.open(pin)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
    }
  }

  /** Exclusive change base for the stream's FIRST batch: None = full
    * snapshot bootstrap.
    */
  private val startBase: Option[Int] = options.get("startingVersion") match {
    case None => None
    case Some("latest") => Some(pinnedLatestBase())
    case Some(n) =>
      val v = n.toInt
      require(v >= 0, s"startingVersion must be >= 0, got $v")
      if (v == 0) None // version 0 onward == everything == snapshot
      else Some(v - 1)
  }

  override val schema: StructType =
    GraftFormat.streamSchema(spark, path, readChangeFeed)

  private val maxVersionsPerTrigger: Option[Long] =
    options.get("maxVersionsPerTrigger").map { s =>
      val m = s.toLong
      require(m > 0, s"maxVersionsPerTrigger must be > 0, got $m")
      m
    }

  /** Exclusive base of the NEXT window this source will offer — primed
    * by the checkpoint replay (getBatch) or the first getOffset, then
    * advanced per emitted window. Admission control only; the
    * checkpoint log stays the source of truth for what committed.
    */
  @volatile private var nextBase: Option[Long] = None

  override def getOffset: Option[Offset] = {
    val vs = VersionedTable.versions(spark, path)
    if (vs.isEmpty) return None
    val head = vs.max.toLong
    val end = (maxVersionsPerTrigger, nextBase.orElse(startBase.map(_.toLong))) match {
      case (Some(m), Some(b)) => math.min(head, b + m)
      case _ =>
        // no cap, or bootstrap (the snapshot batch cannot be subdivided)
        head
    }
    nextBase = Some(end)
    Some(LongOffset(end))
  }

  private def versionOf(o: Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case other => other.json.trim.toLong.toInt // SerializedOffset replay
  }

  /** Project `df` onto the pinned stream schema: evolution-added
    * columns are dropped, batch-absent columns read null — the batch
    * shape never drifts under a running query.
    */
  private def align(df: DataFrame): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).alias(f.name)
    }: _*)

  /** The micro-batch as a plain BATCH frame — the test seam (a
    * streaming-flagged frame cannot be batch-executed for asserts);
    * [[getBatch]] is this plus the mandatory streaming re-root.
    */
  private[sources] def rawBatch(start: Option[Offset],
                                end: Offset): DataFrame = {
    val endV = versionOf(end)
    // prime the rate-limit base from a checkpoint replay, so a restart
    // resumes capping from the replayed window's end, not from scratch
    if (nextBase.forall(_ < endV)) nextBase = Some(endV.toLong)
    val base = start.map(versionOf).orElse(startBase)
    val batch = (base, readChangeFeed) match {
      case (None, false) => VersionedTable.read(spark, path, endV)
      case (None, true) =>
        // CDF bootstrap: the snapshot IS the initial insert set
        VersionedTable.read(spark, path, endV)
          .withColumn("_change_type", lit("insert"))
      case (Some(b), _) if b >= endV =>
        // restart replay of an empty window
        spark.emptyDataFrame
      case (Some(b), true) =>
        // change feed: deletes arrive as tagged rows, never a failure
        VersionedTable.tableChanges(spark, path, b, endV)
      case (Some(b), false) =>
        if (!ignoreChanges) {
          val removed = VersionedTable.changeRemovals(spark, path, b, endV)
          require(removed == 0,
            s"versions ($b, $endV] of $path removed $removed file(s) — a " +
              "merge/delete/optimize landed under the streaming reader. " +
              "The source delivers additions only; set ignoreChanges = " +
              "true to accept that, stream with readChangeFeed = true " +
              "for tagged full CDC, or use tableChanges directly.")
        }
        VersionedTable.changes(spark, path, b, endV)
    }
    align(batch)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    SqlBridge.asStreaming(rawBatch(start, end))

  override def stop(): Unit = ()
}

/** DSv1 streaming sink writing micro-batches into a versioned table.
  * Append mode commits through [[VersionedTable.appendIdempotent]]
  * with `(appId, batchId)` — the Structured Streaming batchId is
  * monotonic per checkpoint, so a crash-replayed batch is recognized
  * and skipped inside the commit claim: exactly-once without a
  * coordinator. The appId is `txnAppId` if given, else derived from
  * the checkpoint location (stable across restarts), else minted per
  * sink instance (no checkpoint = no replay to guard). Complete mode
  * replaces the snapshot each batch ([[VersionedTable.commit]]) —
  * naturally idempotent by content. A random per-instance appId would
  * silently degrade exactly-once to at-least-once (a restarted sink
  * would not recognize replayed batchIds), so when neither `txnAppId`
  * nor an options-visible `checkpointLocation` is given, APPEND mode
  * fails loud at construction instead — a checkpoint set only through
  * `spark.sql.streaming.checkpointLocation` + queryName is invisible
  * to a DSv1 sink's options.
  */
class GraftStreamSink(spark: SparkSession, path: String,
                      options: Map[String, String],
                      partitionCols: Seq[String],
                      outputMode: OutputMode) extends Sink {

  private val appId: String = options.get("txnAppId")
    .orElse(options.get("checkpointLocation").map { cp =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(cp.getBytes("UTF-8"))
      "ckpt-" + d.take(8).map("%02x".format(_)).mkString
    })
    .getOrElse {
      if (outputMode == OutputMode.Complete()) "complete-mode-unused"
      else throw new IllegalArgumentException(
        "graft append sink needs a replay-stable transaction id for " +
          "exactly-once: pass .option(\"txnAppId\", ...) or set the " +
          "checkpoint via .option(\"checkpointLocation\", ...) (a " +
          "checkpoint configured only through " +
          "spark.sql.streaming.checkpointLocation is invisible to the " +
          "sink and would silently degrade replays to duplicates)")
    }

  private val evolve = options.get("evolveSchema").exists(_.toBoolean)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = SqlBridge.asBatch(data)
    val pcols =
      if (partitionCols.nonEmpty) partitionCols
      else GraftFormat.partitionColsOf(options)
    if (outputMode == OutputMode.Complete())
      VersionedTable.commit(batch, path, pcols)
    else VersionedTable.bucketDecl(data.sparkSession, path) match {
      // the replay pre-check runs BEFORE the arrangement count: a
      // checkpoint-restart must skip already-committed batches without
      // recomputing them (appendIdempotent's own guard stays the
      // race-exact second line)
      case Some(_) if VersionedTable.txnCommitted(data.sparkSession,
          path, appId, batchId) =>
        VersionedTable.appendIdempotent(batch, path, appId, batchId,
          pcols, evolveSchema = evolve)
      case Some(decl) =>
        // directly-arranged micro-batches: a declared-bucketed sink
        // otherwise lands EVERY batch degraded and heals by
        // auto-compaction — a second full rewrite of each batch's
        // bytes. A batch that clears the per-bucket row floor is
        // arranged in its own ingest shuffle instead: the commit lands
        // claimed with no compaction debt (change feed unchanged — the
        // commit shape is the same append). Batches below the floor
        // keep the degrade+self-heal path: a 10-row batch must not fan
        // into n tiny bucket files. The count forces one extra pass,
        // so the batch is pinned first — the same bytes feed the
        // arrangement shuffle right after.
        val floor = options.get("bucketArrangeMinRowsPerBucket")
          .map(_.toLong).getOrElse(100000L)
        val pinned = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val arrange = pinned.count() >= floor * decl.n
          VersionedTable.appendIdempotent(pinned, path, appId, batchId,
            pcols, evolveSchema = evolve, bucketArrange = arrange)
        } finally pinned.unpersist()
      case None =>
        VersionedTable.appendIdempotent(batch, path, appId, batchId,
          pcols, evolveSchema = evolve)
    }
  }
}
