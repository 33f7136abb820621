package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("windowed streaming agg equals the batch equivalent") {
    val streamed = Streams.windowedEventCounts(spark,
      "/root/testdata/sf0.001/events.parquet", queryName = "t_stream_eq")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = Streams.streamStreamIntervalJoin(spark,
      "/root/testdata/sf0.001/events.parquet", queryName = "t_ss_join")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val sgn = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    val batch = p.join(sgn,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .select("purchase_id", "user_id", "signup_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("file-sink Append path emits watermark-closed windows == batch == memory sink") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_files")
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value")
    events.write.parquet(src)
    val maxTs = events.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime

    // drain 1: all original events; windows whose end is past the
    // watermark (maxTs - 1h) are still open -> withheld by Append
    Streams.windowedEventCountsAppend(spark, src, out, ckpt)

    // drains 2+3: two far-future sentinel files. Drain 2's batch advances
    // the max seen event time to s1; drain 3 processes s2 with watermark
    // s1 - 1h, which closes every original window (and s1's own)
    val s1 = new Timestamp(maxTs + 30L * 86400000L)
    val s2 = new Timestamp(maxTs + 60L * 86400000L)
    Seq((s1, "sentinel", 0.0)).toDF("ts", "event_type", "value")
      .write.mode("append").parquet(src)
    Streams.windowedEventCountsAppend(spark, src, out, ckpt)
    Seq((s2, "sentinel", 0.0)).toDF("ts", "event_type", "value")
      .write.mode("append").parquet(src)
    Streams.windowedEventCountsAppend(spark, src, out, ckpt)

    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // expected: batch aggregate over original events + sentinel 1 (its
    // window closed under sentinel 2's watermark); s2's window still open
    val expected = events.unionByName(
        Seq((s1, "sentinel", 0.0)).toDF("ts", "event_type", "value"))
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // and the memory-sink Complete variant agrees on the original events
    val mem = Streams.windowedEventCounts(spark,
      "/root/testdata/sf0.001/events.parquet", queryName = "t_file_vs_mem")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got.filter(_._2 != "sentinel") == mem)
  }

  test("production Append-sink exactly-once dedup == memory-sink variant == batch over originals") {
    val viaFile = Streams.dedupedEventCountsAppend(spark,
      "/root/testdata/sf0.001/events.parquet")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val viaMem = Streams.dedupedEventCounts(spark,
      "/root/testdata/sf0.001/events.parquet", queryName = "t_dedup_cmp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaFile == batch, "file-sink dedup must drop every planted duplicate")
    assert(viaFile == viaMem)
    assert(viaFile.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization closes sessions by event-time gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 5000L)
    val q = sessions.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName("t_sessions")
      .start()
    try {
      input.addData(
        Streams.Event(1L, new Timestamp(1000L), 10L, "click", 1.0),
        Streams.Event(2L, new Timestamp(2000L), 10L, "click", 2.0),
        Streams.Event(3L, new Timestamp(3000L), 20L, "view", 5.0))
      q.processAllAvailable()
      // watermark is still behind every timeout: nothing emitted yet
      assert(spark.table("t_sessions").count() == 0)
      // advance the watermark far past both sessions' timeout timestamps
      input.addData(Streams.Event(4L, new Timestamp(20000L), 30L, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("t_sessions").as[Streams.Session].collect()
        .map(s => s.user_id -> s).toMap
      assert(out.contains(10L) && out.contains(20L))
      assert(out(10L).n_events == 2 && math.abs(out(10L).total_value - 3.0) < 1e-9)
      assert(out(20L).n_events == 1)
      assert(!out.contains(30L)) // still open
      assert(out.values.forall(_.closed_by_timeout))
    } finally q.stop()
  }

  test("batch sessionization splits on event-time gaps") {
    import spark.implicits._
    val events = Seq(
      (1L, new Timestamp(0L), 1L, "a", 1.0),
      (2L, new Timestamp(1000L * 60), 1L, "a", 2.0),        // same session
      (3L, new Timestamp(1000L * 60 * 60 * 3), 1L, "a", 4.0), // 3h gap -> new
      (4L, new Timestamp(0L), 2L, "b", 8.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Streams.sessionizeBatch(events, gapMs = 3600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got((1L, 1L)) == ((2L, 3.0)))
    assert(got((1L, 2L)) == ((1L, 4.0)))
    assert(got((2L, 1L)) == ((1L, 8.0)))
  }

  test("left-outer stream-stream join == batch left join under the flush threshold") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val stream = Streams.streamStreamLeftJoin(spark, path,
        queryName = "graft_ljoin_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val maxes = ev.groupBy("event_type")
      .agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val thr = math.min(maxes("purchase"), maxes("signup")) - 3660L * 1000000L
    val p = ev.filter(col("event_type") === "purchase" &&
        unix_micros(col("ts")) <= thr)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    val batch = p.join(s,
        col("user_id") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "left_outer")
      .select(col("purchase_id"), col("user_id"), col("signup_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(stream == batch)
    assert(stream.exists(_._3 == -1L), "outer rows (null signup) are present")
  }

  test("streaming incremental dedup: store probe per micro-batch, clean sink, exactly-once") {
    import spark.implicits._
    val docsDir = graft.Caches.newTempDir("graft_sdedup_in").toString
    val store = graft.Caches.newTempDir("graft_sdedup_store").toString
    val sink = graft.Caches.newTempDir("graft_sdedup_sink").toString
    val ckpt = graft.Caches.newTempDir("graft_sdedup_ckpt").toString
    // pre-seeded history: doc 1 is already known to the store
    graft.ext.Dedup.appendSignatureStore(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", store, storeParts = 4)
    def land(rows: Seq[(Long, String)], file: String): Unit = {
      // the file stream source lists the top-level dir: land each batch
      // as a single file IN docsDir (write to a staging dir, move the
      // part file)
      val tmp = graft.Caches.newTempDir(s"graft_sdedup_stage_$file").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$docsDir/$file.parquet"))
    }
    def run(): Unit = Streams.streamDedupAgainstStore(
      spark, docsDir, store, sink, ckpt, storeParts = 4)
    def sinkIds: Set[Long] = spark.read.parquet(sink)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // file 1: a copy of the stored doc, batch twins, and a fresh doc
    land(Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // dup of store 1
      (12L, "twin texts inside one single incoming batch here"),
      (13L, "twin texts inside one single incoming batch here"),  // dup of 12
      (14L, "a completely novel first-generation document")), "f1")
    run()
    assert(sinkIds == Set(12L, 14L), s"store dup and twin dropped: $sinkIds")

    // file 2: a copy of a FILE-1 SURVIVOR (now in the store) + a fresh doc
    land(Seq(
      (20L, "twin texts inside one single incoming batch here"),  // dup of 12
      (21L, "another unrelated second-generation document")), "f2")
    run()
    assert(sinkIds == Set(12L, 14L, 21L),
      s"cross-micro-batch dup caught via the store: $sinkIds")

    // checkpointed rerun with no new files ingests nothing
    val files = new java.io.File(sink).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    run()
    val after = new java.io.File(sink).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(after == files, "rerun appended nothing")
    graft.Caches.releaseAll(spark)
  }

  test("streaming upsert lands each batch as a partition-level merge") {
    val events = "/root/testdata/sf0.001/events.parquet"
    val out = graft.Caches.newTempDir("graft_supsert_out").toString
    val ckpt = graft.Caches.newTempDir("graft_supsert_ckpt").toString
    Streams.streamUpsertPartitioned(spark, events, out, ckpt, "event_type")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(out).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"sink holds the full table: $got vs $expected")
    // re-running against the same checkpoint is a no-op (no new files):
    // untouched partitions keep their files
    def sig(dir: String): Set[String] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.isDirectory).flatMap(p =>
        p.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath + ":" + f.lastModified())).toSet
    }
    val before = sig(out)
    Streams.streamUpsertPartitioned(spark, events, out, ckpt, "event_type")
    assert(sig(out) == before, "checkpointed rerun rewrites nothing")
  }

  test("streamBackfillPartitions replaces exactly each batch's partitions, exactly-once") {
    import graft.catalog.VersionedTable
    val srcDir = graft.Caches.newTempDir("graft_sbf_src").toString
    val t = graft.Caches.newTempDir("graft_sbf_tbl").toString + "/t"
    val ckpt = graft.Caches.newTempDir("graft_sbf_ckpt").toString
    import spark.implicits._
    // file 1 bootstraps; file 2 re-delivers day=a (a backfill) + day=c.
    // The source processes files in mtime order — pin it so batch 1
    // is deterministically the bootstrap
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "day", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.setLastModified(System.currentTimeMillis - 60000))
    Seq((3L, "a", 30.0), (4L, "c", 40.0)).toDF("id", "day", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Streams.streamBackfillPartitions(spark, srcDir, t, ckpt, "day")
    val got = VersionedTable.read(spark, t).select("id", "day", "value")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // day=a was REPLACED by the second batch (id 1 gone, id 3 in);
    // day=b carried by reference; day=c inserted
    assert(got == Set((3L, "a"), (2L, "b"), (4L, "c")),
      s"backfill must replace per-batch partitions, got $got")
    // checkpointed rerun: no new versions, nothing rewritten
    val vBefore = VersionedTable.versions(spark, t).max
    Streams.streamBackfillPartitions(spark, srcDir, t, ckpt, "day")
    assert(VersionedTable.versions(spark, t).max == vBefore,
      "checkpointed rerun must land nothing")
  }

  test("streamMergeWhen refuses the non-idempotent tombstone shape; opt-out runs") {
    import spark.implicits._
    import graft.catalog.VersionedTable
    val t = graft.Caches.newTempDir("graft_smw_guard_tbl").toString + "/t"
    VersionedTable.commit(
      Seq((1L, 10.0, false), (2L, 20.0, false))
        .toDF("id", "v", "del").coalesce(1), t)
    val src = graft.Caches.newTempDir("graft_smw_guard_src").toString
    Seq((1L, 5.0, true)).toDF("id", "v", "del").coalesce(1)
      .write.mode("overwrite").parquet(src)
    // deleteWhen + insert = true: deleted keys would silently resurrect
    // on crash replay — refused at build time, BEFORE any stream starts
    val ckpt1 = graft.Caches.newTempDir("graft_smw_guard_ck1").toString
    val e = intercept[IllegalArgumentException] {
      Streams.streamMergeWhen(spark, src, t, ckpt1, "id",
        deleteWhen = Some("s.del"))
    }
    assert(e.getMessage.contains("allowNonIdempotentReplay"))
    // nothing ran: the table is untouched
    assert(VersionedTable.versions(spark, t) == Seq(0))
    // the contractually-safe tombstone shape (insert = false) needs no
    // opt-out: id 1 is deleted, id 2 survives
    val ckpt2 = graft.Caches.newTempDir("graft_smw_guard_ck2").toString
    Streams.streamMergeWhen(spark, src, t, ckpt2, "id",
      deleteWhen = Some("s.del"), insert = false)
    assert(VersionedTable.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // the explicit opt-out also runs (the caller has judged their
    // clauses; here the source matches nothing left to delete, so the
    // tombstone row re-inserts — exactly the behavior the guard warns of)
    val ckpt3 = graft.Caches.newTempDir("graft_smw_guard_ck3").toString
    Streams.streamMergeWhen(spark, src, t, ckpt3, "id",
      deleteWhen = Some("s.del"), allowNonIdempotentReplay = true)
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("streamAppendExpect: a drifted source fails loud by default, widens when opted in") {
    import spark.implicits._
    import graft.catalog.VersionedTable
    val t = graft.Caches.newTempDir("graft_sae_evo_tbl").toString + "/t"
    val qn = graft.Caches.newTempDir("graft_sae_evo_q").toString + "/q"
    VersionedTable.commit(
      Seq((1L, 10.0)).toDF("id", "v").coalesce(1), t)
    // the firehose drifted: batches now carry a lang column
    val src = graft.Caches.newTempDir("graft_sae_evo_src").toString
    Seq((2L, 20.0, "en")).toDF("id", "v", "lang").coalesce(1)
      .write.mode("append").parquet(src)
    val ck1 = graft.Caches.newTempDir("graft_sae_evo_ck1").toString
    // default: the drift stalls the stream LOUDLY (never silently forks
    // the schema)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.streamAppendExpect(spark, src, t, qn, ck1, "sae_evo_a")
    }
    assert(e.getCause.getMessage.contains("evolveSchema"))
    assert(VersionedTable.versions(spark, t) == Seq(0))
    // opted in: the batch widens the table, old rows read null
    val ck2 = graft.Caches.newTempDir("graft_sae_evo_ck2").toString
    Streams.streamAppendExpect(spark, src, t, qn, ck2, "sae_evo_b",
      evolveSchema = true)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "v", "lang"))
    assert(r.count() == 2)
    assert(r.filter(col("id") === 1L).select("lang").head().isNullAt(0))
    assert(r.filter(col("id") === 2L).select("lang").head()
      .getString(0) == "en")
  }

  test("followTableChanges resumes from a pre-upgrade legacy cursor file") {
    import spark.implicits._
    import graft.catalog.VersionedTable
    val t = graft.Caches.newTempDir("graft_legacy_cur_tbl").toString + "/t"
    val cur = graft.Caches.newTempDir("graft_legacy_cur").toString
    VersionedTable.commit(
      Seq((1L, "a")).toDF("id", "v").coalesce(1), t)                  // v0
    VersionedTable.append(
      Seq((2L, "b")).toDF("id", "v").coalesce(1), t)                  // v1
    // a pre-upgrade follower left a single content-carrying cursor file
    // at v0: the next poll must deliver ONLY the v1 window, not replay
    // the whole snapshot
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$cur/cursor"), "0".getBytes("UTF-8"))
    var seen = Seq.empty[Long]
    val n = Streams.followTableChanges(spark, t, cur) { (df, _) =>
      seen = df.select("id").collect().map(_.getLong(0)).toSeq
    }
    assert(n == 1 && seen == Seq(2L),
      s"legacy cursor must floor the resume (consumed $n, saw $seen)")
    // migrated: cursor-1 exists, the legacy file is gone
    assert(new java.io.File(s"$cur/cursor-1").exists())
    assert(!new java.io.File(s"$cur/cursor").exists())
    // next poll: nothing new
    assert(Streams.followTableChanges(spark, t, cur) { (_, _) => fail() } == 0)
  }

  test("stateful starts size their state stores from spark.graft.statePartitions") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // query name -> state-store count its first stateful progress reports
    val stores = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.headOption.foreach(op =>
          stores.putIfAbsent(e.progress.name, op.numShufflePartitions))
    }
    def storesOf(name: String): Long = {
      Streams.windowedEventCounts(spark,
        "/root/testdata/sf0.001/events.parquet", queryName = name).count()
      // progress events reach listeners asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!stores.containsKey(name) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(stores.containsKey(name), s"no stateful progress for $name")
      stores.get(name)
    }
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.streams.addListener(listener)
    try {
      assert(storesOf("t_state_default") == 8L)
      spark.conf.set("spark.graft.statePartitions", "3")
      try assert(storesOf("t_state_3") == 3L)
      finally spark.conf.unset("spark.graft.statePartitions")
      // the start pins the count only for itself
      assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffle)
    } finally spark.streams.removeListener(listener)
  }
}
