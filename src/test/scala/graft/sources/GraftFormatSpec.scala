package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.{AutoCompactSeam, VersionedTable}

/** The `graft` Spark data source end-to-end: batch read/write through
  * `spark.read/write.format("graft")`, time travel options, SQL
  * `CREATE TABLE ... USING graft`, the streaming source's
  * offset-is-version tail (incl. the durable `startingVersion=latest`
  * pin and the removed-files loud failure), and the streaming sink's
  * crash-replay exactly-once appendIdempotent path.
  */
class GraftFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    graft.Caches.newTempDir(s"gfmt_$tag").toString

  private def newTable(tag: String): String = newDir(tag) + "/t"

  private val base = Seq(
    (1L, "mon", 10.0), (2L, "mon", 20.0),
    (3L, "tue", 30.0), (4L, "tue", 40.0),
    (5L, "wed", 50.0)
  ).toDF("id", "day", "value")

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "day", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  // ── batch read ─────────────────────────────────────────────────────

  test("format(graft) read matches VersionedTable.read on a renamed+evolved+partitioned table") {
    val t = newTable("read")
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(
      Seq((6L, "thu", 60.0, "x")).toDF("id", "day", "value", "tag"),
      t, Seq("day"), evolveSchema = true)
    VersionedTable.renameColumn(spark, t, "value", "amount")
    val fmt = spark.read.format("graft").load(t)
    val ref = VersionedTable.read(spark, t)
    assert(fmt.columns.sorted.toSeq == ref.columns.sorted.toSeq)
    assert(fmt.columns.contains("amount") && !fmt.columns.contains("value"))
    def all(df: DataFrame): Set[(Long, String, Double, Option[String])] =
      df.select("id", "day", "amount", "tag").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.getString(3)))).toSet
    assert(all(fmt) == all(ref))
    // pushed filters answer correctly through the column mapping
    assert(fmt.filter($"amount" > 35.0).count() ==
      ref.filter($"amount" > 35.0).count())
    assert(fmt.filter($"day" === "mon").count() == 2)
  }

  test("format(graft) pushed predicates prune files through the planted index") {
    val t = newTable("prune")
    val wide = (0L until 1600L).map(i => (i, s"s$i")).toDF("id", "s")
    VersionedTable.commit(wide.repartitionByRange(16, $"id"), t)
    val fmt = spark.read.format("graft").load(t)
    // the relation's planted index is the pruning observability seam
    val idx = fmt.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.asInstanceOf[graft.catalog.GraftFileIndex]
    }.get
    val q = fmt.filter($"id" >= 100L && $"id" <= 199L)
    assert(q.count() == 100)
    assert(idx.lastListedCount <= 4,
      s"expected pruned scan, listed ${idx.lastListedCount} of 16 files")
    assert(fmt.count() == 1600)
    assert(idx.lastListedCount == 16)
  }

  test("versionAsOf and timestampAsOf time-travel through the format") {
    val t = newTable("tt")
    VersionedTable.commit(base, t, Seq("day"))
    val tsAfterV0 = System.currentTimeMillis()
    Thread.sleep(20)
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(t)
    assert(rows(v0) == rows(base))
    val latest = spark.read.format("graft").load(t)
    assert(rows(latest) == rows(base) + ((6L, "thu", 60.0)))
    val byTs = spark.read.format("graft")
      .option("timestampAsOf", tsAfterV0.toString).load(t)
    assert(rows(byTs) == rows(base))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 0)
        .option("timestampAsOf", tsAfterV0.toString).load(t)
    }
  }

  // ── batch write ────────────────────────────────────────────────────

  test("write modes: append / overwrite / errorIfExists / ignore") {
    val t = newTable("write")
    base.write.format("graft").option("partitionCol", "day")
      .mode(SaveMode.ErrorIfExists).save(t)
    assert(VersionedTable.versions(spark, t) == Seq(0))
    intercept[IllegalStateException] {
      base.write.format("graft").mode(SaveMode.ErrorIfExists).save(t)
    }
    // ignore on an existing table is a no-op
    Seq((99L, "sun", 0.0)).toDF("id", "day", "value")
      .write.format("graft").mode(SaveMode.Ignore).save(t)
    assert(rows(spark.read.format("graft").load(t)) == rows(base))
    // append lands a new version
    Seq((6L, "thu", 60.0)).toDF("id", "day", "value")
      .write.format("graft").option("partitionCol", "day")
      .mode(SaveMode.Append).save(t)
    assert(rows(spark.read.format("graft").load(t)) ==
      rows(base) + ((6L, "thu", 60.0)))
    // evolveSchema gates exactly like VersionedTable.append
    intercept[IllegalArgumentException] {
      Seq((7L, "fri", 70.0, "x")).toDF("id", "day", "value", "tag")
        .write.format("graft").option("partitionCol", "day")
        .mode(SaveMode.Append).save(t)
    }
    Seq((7L, "fri", 70.0, "x")).toDF("id", "day", "value", "tag")
      .write.format("graft").option("partitionCol", "day")
      .option("evolveSchema", "true").mode(SaveMode.Append).save(t)
    // overwrite replaces the snapshot; history stays readable
    Seq((8L, "sat", 80.0)).toDF("id", "day", "value")
      .write.format("graft").mode(SaveMode.Overwrite).save(t)
    assert(rows(spark.read.format("graft").load(t)) ==
      Set((8L, "sat", 80.0)))
    assert(rows(spark.read.format("graft").option("versionAsOf", 0)
      .load(t)) == rows(base))
  }

  test("CREATE TABLE ... USING graft serves SQL reads") {
    val t = newTable("sql")
    VersionedTable.commit(base, t, Seq("day"))
    spark.sql("DROP TABLE IF EXISTS gfmt_sql_t")
    spark.sql(
      s"CREATE TABLE gfmt_sql_t USING graft OPTIONS (path '$t')")
    try {
      val viaSql = spark.sql(
        "SELECT id, day, value FROM gfmt_sql_t WHERE day = 'mon'")
      assert(rows(viaSql) == Set((1L, "mon", 10.0), (2L, "mon", 20.0)))
      assert(spark.sql("SELECT count(*) AS n FROM gfmt_sql_t")
        .head().getLong(0) == 5L)
    } finally spark.sql("DROP TABLE IF EXISTS gfmt_sql_t")
  }

  // ── streaming source ───────────────────────────────────────────────

  test("streaming source tails commits: snapshot bootstrap then per-version batches") {
    val t = newTable("tail")
    val out = newTable("tail_out")
    val cp = newDir("tail_cp")
    VersionedTable.commit(base, t)
    val q = spark.readStream.format("graft").load(t)
      .writeStream.format("graft")
      .option("path", out).option("checkpointLocation", cp)
      .start()
    try {
      q.processAllAvailable()
      assert(rows(VersionedTable.read(spark, out)) == rows(base))
      // new commits arrive as O(changed files) batches
      VersionedTable.append(
        Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t)
      q.processAllAvailable()
      assert(rows(VersionedTable.read(spark, out)) ==
        rows(base) + ((6L, "thu", 60.0)))
    } finally q.stop()
  }

  test("a mid-stream OPTIMIZE is invisible: the plain source neither fails nor duplicates") {
    val t = newTable("opt")
    val out = newTable("opt_out")
    val cp = newDir("opt_cp")
    VersionedTable.commit(base.repartition(3, col("id")), t)
    val q = spark.readStream.format("graft").load(t)
      .writeStream.format("graft")
      .option("path", out).option("checkpointLocation", cp)
      .start()
    try {
      q.processAllAvailable()
      // maintenance between batches: dataChange=false, nothing arrives
      VersionedTable.optimize(spark, t)
      VersionedTable.append(
        Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t)
      q.processAllAvailable()
      assert(rows(VersionedTable.read(spark, out)) ==
        rows(base) + ((6L, "thu", 60.0)),
        "the optimize must add no rows and trip no removal guard")
      // the ingest-side fold (autoCompact) is equally invisible
      AutoCompactSeam.withAutoCompact(spark, minSmallFiles = 2) {
        VersionedTable.append(
          Seq((7L, "fri", 70.0)).toDF("id", "day", "value"), t)
        q.processAllAvailable()
      }
      assert(rows(VersionedTable.read(spark, out)) ==
        rows(base) + ((6L, "thu", 60.0)) + ((7L, "fri", 70.0)))
    } finally q.stop()
  }

  test("streaming source fails loud when a window removed files; ignoreChanges accepts") {
    val t = newTable("rm")
    VersionedTable.commit(base.coalesce(1), t)
    val src = new GraftStreamSource(spark, t, Map.empty)
    // delete a row -> the rewrite removes a file inside the window
    VersionedTable.deleteRows(Seq(1L).toDF("id"), t, "id")
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val e = intercept[IllegalArgumentException] {
      src.rawBatch(Some(LongOffset(0L)), LongOffset(1L))
    }
    assert(e.getMessage.contains("removed"))
    val tolerant = new GraftStreamSource(spark, t,
      Map("ignoreChanges" -> "true"))
    // additions-only view of the delete's rewrite: the surviving rows
    // (getBatch returns a streaming-flagged frame — re-root for asserts)
    val got = tolerant.rawBatch(Some(LongOffset(0L)), LongOffset(1L))
    assert(got.count() == 4)
  }

  test("deletion vectors stream exactly: CDF emits the positions, plain source flags the transition") {
    val t = newTable("dvstream")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    val plain = new GraftStreamSource(spark, t, Map.empty)
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    // append-only contract: a DV transition removed rows — fail loud
    val e = intercept[IllegalArgumentException] {
      plain.rawBatch(Some(LongOffset(0L)), LongOffset(1L))
    }
    assert(e.getMessage.contains("removed"))
    // CDF source: exactly the vectored row arrives as a tagged delete
    val cdf = new GraftStreamSource(spark, t,
      Map("readChangeFeed" -> "true", "startingVersion" -> "1"))
    val got = cdf.rawBatch(None, LongOffset(1L))
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "delete")),
      s"the CDF window must carry ONLY the vectored position, got $got")
  }

  test("startingVersion=latest pins its base durably under metadataPath") {
    val t = newTable("pin")
    val meta = newDir("pin_meta")
    VersionedTable.commit(base, t)                     // v0
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value"), t)                  // v1
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val first = new GraftStreamSource(spark, t,
      Map("startingVersion" -> "latest"), Some(meta))
    assert(first.getOffset.contains(LongOffset(1L)))
    // table advances while the query is down (offset logged, batch
    // uncommitted): v2 and v3
    VersionedTable.append(Seq((7L, "fri", 70.0))
      .toDF("id", "day", "value"), t)
    VersionedTable.append(Seq((8L, "sat", 80.0))
      .toDF("id", "day", "value"), t)
    // the restarted source must reuse the ORIGINAL base (1), not
    // re-resolve "latest" (3) — else versions 2..3 silently vanish
    val restarted = new GraftStreamSource(spark, t,
      Map("startingVersion" -> "latest"), Some(meta))
    val replay = restarted.rawBatch(None, LongOffset(3L))
    assert(replay.select("id").collect().map(_.getLong(0)).toSet ==
      Set(7L, 8L))
  }

  test("streaming source aligns evolved batches onto the pinned schema") {
    val t = newTable("evol")
    VersionedTable.commit(base, t)
    val src = new GraftStreamSource(spark, t, Map.empty)
    VersionedTable.append(
      Seq((6L, "thu", 60.0, "x")).toDF("id", "day", "value", "tag"),
      t, evolveSchema = true)
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val batch = src.rawBatch(Some(LongOffset(0L)), LongOffset(1L))
    // 'tag' was added after the stream pinned its schema: dropped
    assert(batch.columns.toSeq == src.schema.fieldNames.toSeq)
    assert(batch.select("id").head().getLong(0) == 6L)
  }

  test("readChangeFeed batch read replays exact per-version changes, never netted") {
    val t = newTable("cdf")
    VersionedTable.commit(base.coalesce(1), t)                     // v0
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value").coalesce(1), t)                  // v1
    VersionedTable.deleteRows(Seq(6L).toDF("id"), t, "id")         // v2
    def cdf(s: Int, e: Option[Int] = None): DataFrame = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", s)
      e.fold(r)(v => r.option("endingVersion", v)).load(t)
    }
    // version 0's "changes" are the initial snapshot
    val v0 = cdf(0, Some(0))
    assert(v0.filter($"_change_type" === "insert").count() == 5)
    assert(v0.select("_commit_version").distinct().head().getInt(0) == 0)
    // the FULL window is audit-exact: id 6's insert (v1) AND delete
    // (v2) both appear, stamped with their commit versions — a netted
    // diff would cancel them
    val all = cdf(1)
    val id6 = all.filter($"id" === 6L)
      .select("_change_type", "_commit_version").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(id6 == Set(("insert", 1), ("delete", 2)),
      s"expected exact per-version replay, got $id6")
    // commit timestamps travel with the rows
    assert(all.filter($"_commit_ts_millis" > 0L).count() == all.count())
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(t)
    }
  }

  test("wide-window change feed plans O(1) scans, not one per version") {
    val t = newTable("cdfwide")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    (1 to 110).foreach { i =>
      VersionedTable.append(Seq((100L + i, "w", i * 1.0))
        .toDF("id", "day", "value").coalesce(1), t)                 // v1..110
    }
    val feed = VersionedTable.changeFeed(spark, t, 1, 110)
    // single schema epoch → ONE file scan over the whole 110-version
    // window (the r13 shape unioned one sub-plan per version)
    val scans = graft.PlanDig.scansOf(feed.queryExecution.executedPlan)
    assert(scans.size <= 2,
      s"expected O(1) scans over a 110-version window, got ${scans.size}")
    val out = feed.select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(out == (1 to 110).map(i => (100L + i, "insert", i)).toSet,
      "every commit's change set must replay with exact attribution")
    // the format option path serves the same frame
    val fmt = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 110).load(t)
    assert(fmt.count() == 110)
  }

  test("change feed re-attaches hive partition values and handles windows with removes") {
    val t = newTable("cdfpart")
    VersionedTable.commit(base, t, Seq("day"))                     // v0
    VersionedTable.upsertPartitions(Seq((3L, "tue", 333.0))
      .toDF("id", "day", "value"), t, "day")                        // v1
    val feed = VersionedTable.changeFeed(spark, t, 0, 1)
    // partition values live only in dir names — the single-scan path
    // must rejoin them correctly typed
    val v0 = feed.filter($"_commit_version" === 0)
    assert(rows(v0) == rows(base))
    val v1 = feed.filter($"_commit_version" === 1)
      .select("id", "day", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(v1 == Set((3L, "tue", 30.0, "delete"),
      (4L, "tue", 40.0, "delete"), (3L, "tue", 333.0, "insert")),
      s"partition replace must replay as deletes + inserts, got $v1")
    // TWO-LEVEL layout: both path-only partition values rejoin, typed
    val t2 = newTable("cdfpart2")
    VersionedTable.commit(Seq((1L, "en", 7, 1.0), (2L, "nl", 8, 2.0))
      .toDF("id", "lang", "bucket", "value"), t2, Seq("lang", "bucket"))
    VersionedTable.deleteRows(Seq(Tuple1(2L)).toDF("id"), t2, "id")
    val f2 = VersionedTable.changeFeed(spark, t2, 0, 1)
      .select("id", "lang", "bucket", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSet
    assert(f2 == Set((1L, "en", 7, "insert"), (2L, "nl", 8, "insert"),
      (2L, "nl", 8, "delete")),
      s"two-level partition values must rejoin typed, got $f2")
  }

  test("all-metadata windows yield an EMPTY change frame; bad windows fail loud") {
    val t = newTable("cdfmeta")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    VersionedTable.renameColumn(spark, t, "value", "amount")        // v1
    VersionedTable.renameColumn(spark, t, "amount", "worth")        // v2
    // a poller's window landing on metadata-only commits is legitimate:
    // empty frame with the change-feed schema, never an error
    val empty = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 2).load(t)
    assert(empty.count() == 0)
    assert(empty.columns.toSet ==
      Set("id", "day", "worth", "_change_type", "_commit_version",
        "_commit_ts_millis"))
    // endingVersion beyond head names the real problem (not a
    // misleading "vacuum swept it")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, t, 0, 99)
    }
    assert(e.getMessage.contains("exceeds latest version"))
  }

  test("a rename inside the window splits schema epochs; both sides replay correctly") {
    val t = newTable("cdfepoch")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    VersionedTable.renameColumn(spark, t, "value", "amount")        // v1
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "amount").coalesce(1), t)                  // v2
    val feed = VersionedTable.changeFeed(spark, t, 0, 2)
    // v0 replays under the ORIGINAL name, v2 under the renamed one —
    // union-by-name carries both columns, null on the other side
    assert(feed.columns.contains("value") && feed.columns.contains("amount"))
    val v0 = feed.filter($"_commit_version" === 0)
    assert(v0.count() == 5 && v0.filter($"value".isNotNull).count() == 5
      && v0.filter($"amount".isNotNull).count() == 0)
    val v2 = feed.filter($"_commit_version" === 2)
    assert(v2.count() == 1 &&
      v2.head().getAs[Double]("amount") == 60.0)
  }

  test("readChangeFeed streaming source delivers deletes as tagged rows") {
    val t = newTable("cdfs")
    VersionedTable.commit(base.coalesce(1), t)                   // v0
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val src = new GraftStreamSource(spark, t,
      Map("readChangeFeed" -> "true"))
    assert(src.schema.fieldNames.contains("_change_type"))
    // bootstrap: the snapshot is the initial insert set
    val b0 = src.rawBatch(None, LongOffset(0L))
    assert(b0.filter($"_change_type" === "insert").count() == 5)
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value").coalesce(1), t)                // v1
    VersionedTable.deleteRows(Seq(6L).toDF("id"), t, "id")       // v2
    val b1 = src.rawBatch(Some(LongOffset(0L)), LongOffset(1L))
    assert(b1.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((6L, "insert")))
    // the delete window yields a tagged row — NOT the append-only
    // source's loud failure
    val b2 = src.rawBatch(Some(LongOffset(1L)), LongOffset(2L))
    assert(b2.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((6L, "delete")))
  }

  test("change-feed stream materializes an exact replica through mergeWhen") {
    val t = newTable("repl_src")
    val replica = newTable("repl_dst")
    val cp = newDir("repl_cp")
    VersionedTable.commit(base.coalesce(1), t)
    def sync(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(t)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.persist()
          try {
            val dels = b.filter($"_change_type" === "delete")
              .drop("_change_type")
            val ups = b.filter($"_change_type" === "insert")
              .drop("_change_type")
            val exists = scala.util.Try(
              VersionedTable.versions(spark, replica))
              .toOption.exists(_.nonEmpty)
            if (!exists) VersionedTable.commit(ups, replica): Unit
            else {
              // tombstones first, then upserts — within one window a
              // key can appear on both sides (a file rewrite), and the
              // insert must win
              if (!dels.isEmpty)
                VersionedTable.mergeWhen(dels, replica, "id",
                  deleteWhen = Some("true"), insert = false): Unit
              if (!ups.isEmpty)
                VersionedTable.merge(ups, replica, "id"): Unit
            }
          } finally b.unpersist()
        }
        .option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    sync()
    assert(rows(VersionedTable.read(spark, replica)) == rows(base))
    // mutate the source: append, delete, append — replica follows
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value").coalesce(1), t)
    VersionedTable.deleteRows(Seq(2L).toDF("id"), t, "id")
    VersionedTable.append(Seq((7L, "fri", 70.0))
      .toDF("id", "day", "value").coalesce(1), t)
    sync()
    assert(rows(VersionedTable.read(spark, replica)) ==
      rows(VersionedTable.read(spark, t)),
      "replica must converge to the source after mixed mutations")
  }

  test("maxVersionsPerTrigger drains a backlog in bounded version windows") {
    val t = newTable("rate")
    VersionedTable.commit(base, t)                                 // v0
    (1 to 5).foreach { i =>
      VersionedTable.append(Seq((10L + i, "x", i.toDouble))
        .toDF("id", "day", "value"), t)                            // v1..v5
    }
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val src = new GraftStreamSource(spark, t,
      Map("startingVersion" -> "1", "maxVersionsPerTrigger" -> "2"))
    val o1 = src.getOffset.get
    assert(o1 == LongOffset(2L), s"first window capped at base+2, got $o1")
    assert(src.rawBatch(None, o1).select("id").collect()
      .map(_.getLong(0)).toSet == Set(11L, 12L))
    val o2 = src.getOffset.get
    assert(o2 == LongOffset(4L))
    assert(src.rawBatch(Some(o1), o2).select("id").collect()
      .map(_.getLong(0)).toSet == Set(13L, 14L))
    val o3 = src.getOffset.get
    assert(o3 == LongOffset(5L), "the tail window is smaller than the cap")
    assert(src.rawBatch(Some(o2), o3).select("id").collect()
      .map(_.getLong(0)).toSet == Set(15L))
    assert(src.getOffset.contains(LongOffset(5L)), "drained: offset stops")
    // a restarted source primes its cap base from the checkpoint replay
    val restarted = new GraftStreamSource(spark, t,
      Map("startingVersion" -> "1", "maxVersionsPerTrigger" -> "2"))
    restarted.rawBatch(Some(LongOffset(2L)), LongOffset(4L)) // replay
    assert(restarted.getOffset.contains(LongOffset(5L)),
      "post-replay window starts at the replayed end, not the start")
  }

  // ── streaming sink ─────────────────────────────────────────────────

  test("sink replays a crashed batch exactly once (appendIdempotent)") {
    val t = newTable("sink")
    val sink = new GraftStreamSink(spark, t,
      Map("txnAppId" -> "gfmt-sink-spec"), Nil, OutputMode.Append())
    val b0 = Seq((1L, "a")).toDF("id", "s")
    val b1 = Seq((2L, "b")).toDF("id", "s")
    sink.addBatch(0L, b0)
    sink.addBatch(1L, b1)
    // crash-replay: the restarted query re-offers batch 1
    sink.addBatch(1L, b1)
    val out = VersionedTable.read(spark, t)
    assert(out.count() == 2, "replayed batch must land exactly once")
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("append sink without a replay-stable id fails loud; Complete mode is exempt") {
    intercept[IllegalArgumentException] {
      new GraftStreamSink(spark, newTable("noid"), Map.empty, Nil,
        OutputMode.Append())
    }
    // Complete replaces the snapshot per batch — idempotent by content
    val t = newTable("complete")
    val sink = new GraftStreamSink(spark, t, Map.empty, Nil,
      OutputMode.Complete())
    sink.addBatch(0L, Seq((1L, "a")).toDF("id", "s"))
    sink.addBatch(1L, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("end-to-end restart from checkpoint does not duplicate rows") {
    val srcDir = newDir("e2e_src")
    val t = newTable("e2e")
    val cp = newDir("e2e_cp")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.format("graft")
        .option("path", t).option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(VersionedTable.read(spark, t).count() == 2)
    // restart over the same checkpoint: nothing new -> nothing lands
    run()
    assert(VersionedTable.read(spark, t).count() == 2)
    // more source data, restart again: only the new file lands
    Seq((3L, "c")).toDF("id", "s").write.mode("append").parquet(srcDir)
    run()
    val out = VersionedTable.read(spark, t)
    assert(out.count() == 3)
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
  }

  test("streaming ingest onto a bucketed sink self-heals the claim via autoCompact") {
    val src = newTable("bkt_src")
    val sink = newTable("bkt_sink")
    val dim = newTable("bkt_dim")
    val cp = newDir("bkt_cp")
    // a co-bucketed dim the healed sink must join exchange-free
    VersionedTable.setBucketing(spark, dim, "id", 4)
    VersionedTable.commit((0L until 3000L).map(i => (i, s"g${i % 5}"))
      .toDF("id", "grp"), dim)
    // the sink is DECLARED bucketed before the stream ever writes it:
    // micro-batch appends land un-arranged (small-batch economy), and
    // the ingest-side auto-compaction folds them bucket-arranged — the
    // claim heals with no manual OPTIMIZE, while the stream keeps
    // running (compaction is dataChange=false for any follower)
    VersionedTable.setBucketing(spark, sink, "id", 4)
    VersionedTable.commit((0L until 2000L).map(i => (i, s"d${i % 7}", 1.0))
      .toDF("id", "day", "value"), src)
    // sized so EVERY sink file (bootstrap and 1-row batches alike)
    // counts as small: each append then re-packs the whole flat table
    // arranged, making the end state deterministic
    AutoCompactSeam.withAutoCompact(spark, minSmallFiles = 2,
        targetFileBytes = 262144) {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", sink).option("checkpointLocation", cp)
        .start()
      try {
        q.processAllAvailable()
        VersionedTable.append(Seq((9001L, "thu", 2.0))
          .toDF("id", "day", "value"), src)
        q.processAllAvailable()
        VersionedTable.append(Seq((9002L, "fri", 3.0))
          .toDF("id", "day", "value"), src)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(VersionedTable.history(spark, sink).select("op").collect()
      .map(_.getString(0)).count(_ == "compact") >= 1,
      "ingest must have auto-compacted the streamed debt")
    assert(VersionedTable.bucketClaimStatus(spark, sink) ==
      Some("claimed"),
      "auto-compaction behind the streaming sink must heal the claim")
    assert(rows(VersionedTable.read(spark, sink)) ==
      rows(VersionedTable.read(spark, src)),
      "self-healing must not lose or duplicate streamed rows")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.catalog.GraftScan.read(spark, sink)
        .join(graft.catalog.GraftScan.read(spark, dim), Seq("id"))
      j.count()
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        s"the healed sink must join co-located:\n${j.queryExecution}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a large micro-batch onto a bucketed sink lands directly arranged — no compaction debt") {
    val src = newTable("bkta_src")
    val sink = newTable("bkta_sink")
    val cp = newDir("bkta_cp")
    VersionedTable.setBucketing(spark, sink, "id", 4)
    // 2000 rows >> floor(100/bucket × 4 buckets): the batch itself
    // clears the per-bucket floor and must arrange in its OWN ingest
    // shuffle — claimed immediately, no compact commit anywhere
    VersionedTable.commit((0L until 2000L).map(i => (i, s"d${i % 7}"))
      .toDF("id", "day"), src)
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", sink).option("checkpointLocation", cp)
      .option("bucketArrangeMinRowsPerBucket", "100")
      .start()
    try q.processAllAvailable() finally q.stop()
    val ops = VersionedTable.history(spark, sink).select("op")
      .collect().map(_.getString(0)).toSeq
    assert(!ops.contains("compact"),
      s"a directly-arranged batch must leave NO compaction debt: $ops")
    assert(VersionedTable.bucketClaimStatus(spark, sink) ==
      Some("claimed"),
      "the large micro-batch must land with the claim proven")
    val names = VersionedTable.read(spark, sink).inputFiles
      .map(_.split("/").last)
    assert(names.forall(nm => org.apache.spark.sql.graft.SqlBridge
      .bucketIdOf(nm).exists(_ < 4)),
      s"the batch's files must carry bucket ids: ${names.toSeq}")
    assert(VersionedTable.read(spark, sink).count() == 2000L)
    // a SMALL follow-up batch stays on the degrade+self-heal path: it
    // must NOT fan into 4 tiny bucket files
    VersionedTable.append(Seq((9001L, "thu")).toDF("id", "day"), src)
    val q2 = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", sink).option("checkpointLocation", cp)
      .option("bucketArrangeMinRowsPerBucket", "100")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val small = VersionedTable.read(spark, sink).inputFiles
      .map(_.split("/").last)
      .filter(nm => org.apache.spark.sql.graft.SqlBridge
        .bucketIdOf(nm).isEmpty)
    assert(small.length == 1,
      s"a 1-row batch must land as ONE unarranged file: ${small.toSeq}")
    assert(VersionedTable.bucketClaimStatus(spark, sink)
      .exists(_.startsWith("degraded")),
      "the small batch degrades the claim (self-heal owns it from here)")
    assert(VersionedTable.read(spark, sink).count() == 2001L)
  }

  test("a failed or skipped batch write never redeclares a live table's bucketing") {
    val t = newTable("bkt_redeclare")
    VersionedTable.setBucketing(spark, t, "id", 8)
    VersionedTable.commit((0L until 200L).map(i => (i, s"d${i % 3}"))
      .toDF("id", "day"), t)
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    val batch = Seq((999L, "x")).toDF("id", "day")
    // ErrorIfExists on an existing table: the write FAILS — and must
    // not have already rewritten the _bucket declaration on disk
    intercept[IllegalStateException] {
      batch.write.format("graft").mode("errorifexists")
        .option("bucketSpec", "day,2").save(t)
    }
    assert(VersionedTable.bucketing(spark, t) == Some(("id", 8)),
      "a failed DDL must not redeclare the layout")
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"),
      "the live table's claim must be untouched")
    // Ignore on an existing table: the write is SKIPPED — same rule
    batch.write.format("graft").mode("ignore")
      .option("bucketSpec", "day,2").save(t)
    assert(VersionedTable.bucketing(spark, t) == Some(("id", 8)),
      "a skipped write must not redeclare the layout")
    assert(VersionedTable.read(spark, t).count() == 200L)
  }

  test("the stream schema is every batch's schema, nullability included") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t = newTable("schema")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value"), t)                               // v1
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v2
    Seq(Map("ignoreChanges" -> "true"), Map("readChangeFeed" -> "true"))
      .foreach { opts =>
        val src = new GraftStreamSource(spark, t, opts)
        val (_, provided) = new GraftFormat().sourceSchema(spark.sqlContext,
          None, "graft", opts + ("path" -> t))
        assert(provided == src.schema, opts)
        Seq(None -> 0L, Some(0L) -> 1L, Some(1L) -> 2L, Some(0L) -> 2L)
          .foreach { case (start, end) =>
            val batch = src.getBatch(start.map(LongOffset(_)), LongOffset(end))
            assert(batch.schema == src.schema,
              s"$opts ($start, $end]: ${batch.schema} vs ${src.schema}")
          }
      }
  }

  test("a stream over an emptied table starts; a stream over no table fails as such") {
    val t = newTable("emptied")
    VersionedTable.commit(base.coalesce(1), t)                      // v0
    VersionedTable.deleteWhere(spark, t, None)                      // v1
    assert(VersionedTable.read(spark, t).columns.isEmpty)
    Seq(Map.empty[String, String] -> Seq.empty[String],
        Map("readChangeFeed" -> "true") -> Seq("_change_type"))
      .foreach { case (opts, cols) =>
        val (_, provided) = new GraftFormat().sourceSchema(spark.sqlContext,
          None, "graft", opts + ("path" -> t))
        assert(provided.fieldNames.toSeq == cols, opts)
        assert(new GraftStreamSource(spark, t, opts).schema == provided, opts)
      }
    val missing = newTable("missing")
    val e = intercept[IllegalArgumentException] {
      new GraftFormat().sourceSchema(spark.sqlContext, None, "graft",
        Map("path" -> missing))
    }
    assert(e.getMessage.contains("no versioned table"), e.getMessage)
  }
}
