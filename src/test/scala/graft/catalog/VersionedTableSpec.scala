package graft.catalog

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Versioned tables: atomic commits, time travel, snapshot-isolated
  * upserts, pruning-preserving reads, retention vacuum.
  */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(): String =
    graft.Caches.newTempDir("vtable_spec").toString + "/t"

  private val base = Seq(
    (1L, "mon", 10.0), (2L, "mon", 20.0),
    (3L, "tue", 30.0), (4L, "tue", 40.0),
    (5L, "wed", 50.0)
  ).toDF("id", "day", "value")

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "day", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  /** The on-disk data dir whose leading sequence number is `seq` (dirs
    * are nonce-suffixed `c-S-xxxx`; single-writer ladders keep S == the
    * version they committed as).
    */
  private def dataDir(t: String, seq: Int): String =
    new java.io.File(s"$t/data").listFiles().toSeq.map(_.getName)
      .filter(_.startsWith(s"c-$seq-")).sorted.headOption
      .getOrElse(fail(s"no data dir with sequence $seq under $t/data"))

  test("autoCompact folds small-file debt behind ingest, off by default") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)
    def fileCount(): Int = VersionedTable.read(spark, t).inputFiles.length
    // conf off: every append adds its file, nothing folds
    (1 to 5).foreach(i => VersionedTable.append(
      Seq((100L + i, "mon", i.toDouble)).toDF("id", "day", "value"), t))
    assert(fileCount() == 6)
    assert(!VersionedTable.history(spark, t).select("op").collect()
      .map(_.getString(0)).contains("compact"))
    // conf on: once the small-file count crosses the threshold, the
    // NEXT append triggers a data-identical compact commit
    AutoCompactSeam.withAutoCompact(spark, minSmallFiles = 6) {
      val before = rows(VersionedTable.read(spark, t))
      VersionedTable.append(
        Seq((200L, "tue", 2.0)).toDF("id", "day", "value"), t)
      assert(fileCount() < 7, s"expected a fold, got ${fileCount()} files")
      assert(VersionedTable.history(spark, t).select("op").collect()
        .map(_.getString(0)).contains("compact"))
      assert(rows(VersionedTable.read(spark, t)) ==
        before + ((200L, "tue", 2.0)), "compaction must be data-identical")
      // below the threshold again: appends stay cheap, no churn
      val vAfter = VersionedTable.versions(spark, t).max
      VersionedTable.append(
        Seq((201L, "tue", 2.1)).toDF("id", "day", "value"), t)
      assert(VersionedTable.versions(spark, t).max == vAfter + 1,
        "one commit only while under the threshold")
      // the streaming-sink path (appendIdempotent) folds too
      VersionedTable.autoCompactMinSmallFiles = 2
      VersionedTable.appendIdempotent(
        Seq((202L, "wed", 2.2)).toDF("id", "day", "value"), t,
        "ac_app", 1L)
      assert(VersionedTable.history(spark, t).select("op").collect()
        .map(_.getString(0)).count(_ == "compact") >= 2)
      // partitioned tables keep their layout through the fold
      val tp = newTable()
      VersionedTable.commit(base, tp, partitionCols = Seq("day"))
      (1 to 4).foreach(i => VersionedTable.append(
        Seq((300L + i, "mon", i.toDouble)).toDF("id", "day", "value"),
        tp, partitionCols = Seq("day")))
      assert(VersionedTable.read(spark, tp).inputFiles
        .forall(_.contains("day=")), "layout must survive autoCompact")
      assert(rows(VersionedTable.read(spark, tp)).size == 9)
    }
  }

  test("subset optimize never seeds a narrow declaration on a legacy table") {
    // a partition-scoped OPTIMIZE rewrites only some files; on a legacy
    // (undeclared) table, seeding #schemacols from its frame would
    // declare a schema NARROWER than the table's true column union, and
    // legitimate appends carrying the missing column would then fail
    // the drift gate
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // thu partition evolved a 'tag' column the other partitions lack
    VersionedTable.append(
      Seq((6L, "thu", 60.0, "x")).toDF("id", "day", "value", "tag"),
      t, Seq("day"), evolveSchema = true)
    // simulate a legacy table: strip every #schemacols declaration line
    val commits = new java.io.File(s"$t/_commits").listFiles()
      .filter(_.getName.matches("v-\\d+"))
    commits.foreach { f =>
      val kept = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .filterNot(_.startsWith("#schemacols")).mkString("\n")
      java.nio.file.Files.write(f.toPath, kept.getBytes("UTF-8"))
      // the out-of-band rewrite invalidates LocalFileSystem's checksum
      // sidecar — drop it (real legacy tables simply never had the line)
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    // optimize a partition whose files LACK 'tag'
    VersionedTable.optimizePartitions(spark, t, "day", Seq("mon"))
    // an append carrying the table's true union must pass the drift gate
    VersionedTable.append(
      Seq((7L, "fri", 70.0, "y")).toDF("id", "day", "value", "tag"),
      t, Seq("day"))
    val out = VersionedTable.read(spark, t)
    assert(out.count() == 7)
    assert(out.filter(col("tag").isNotNull).count() == 2)
  }

  test("commit/append/read-latest and the version ladder") {
    val t = newTable()
    val v0 = VersionedTable.commit(base, t, Seq("day"))
    assert(v0 == 0)
    val extra = Seq((6L, "wed", 60.0)).toDF("id", "day", "value")
    val v1 = VersionedTable.append(extra, t, Seq("day"))
    assert(v1 == 1)
    assert(VersionedTable.versions(spark, t) == Seq(0, 1))
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base.unionByName(extra)))
    // time travel: v0 is still exactly the original
    assert(rows(VersionedTable.read(spark, t, 0)) == rows(base))
  }

  test("upsert replaces only its partitions; old snapshots keep the old bytes") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    def fileSet(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$t/data")
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(p => p.getFileName.toString.startsWith("_") ||
          p.getFileName.toString.startsWith("."))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = fileSet()
    val patch = Seq((3L, "tue", 300.0), (9L, "tue", 900.0))
      .toDF("id", "day", "value")
    val v1 = VersionedTable.upsertPartitions(patch, t, "day")
    val after = fileSet()
    // every pre-existing file survives untouched (immutable files)
    before.foreach { case (p, m) =>
      assert(after.contains(p) && after(p) == m, s"upsert touched $p") }
    // latest: tue fully replaced, mon/wed intact
    val latest = rows(VersionedTable.read(spark, t, v1))
    assert(latest == rows(base.filter($"day" =!= "tue"))
      ++ Set((3L, "tue", 300.0), (9L, "tue", 900.0)))
    // the pre-upsert snapshot still reads the original tue rows
    assert(rows(VersionedTable.read(spark, t, 0)) == rows(base))
  }

  test("a reader planned on the old version is isolated from a concurrent upsert") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val reader = VersionedTable.read(spark, t) // resolves v0's manifest
    VersionedTable.upsertPartitions(
      Seq((99L, "mon", 999.0)).toDF("id", "day", "value"), t, "day")
    assert(rows(reader) == rows(base),
      "snapshot reader must not see the concurrent partition rewrite")
  }

  test("snapshot reads keep hive partition pruning") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val pruned = VersionedTable.read(spark, t).filter($"day" === "tue")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day#"),
      s"partition filter lost through the manifest read:\n$plan")
    assert(rows(pruned) == rows(base.filter($"day" === "tue")))
  }

  test("vacuum keeps the retention window readable and deletes the rest") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    VersionedTable.upsertPartitions(
      Seq((5L, "wed", 500.0)).toDF("id", "day", "value"), t, "day")
    // an orphan commit dir (crash between file write and manifest commit)
    assert(new java.io.File(s"$t/data/c-9-dead/day=zzz").mkdirs())
    val orphanFile = new java.io.File(s"$t/data/c-9-dead/day=zzz/part-0.parquet")
    assert(orphanFile.createNewFile())
    val d0 = dataDir(t, 0)
    val v1Reader = VersionedTable.read(spark, t, 1) // in-flight on a retained version
    // grace 0: the test's "crashed" orphan is brand new, but there is
    // provably no in-flight writer here; retention 0 = the explicit
    // aggressive sweep (the 168 h default would keep every version)
    VersionedTable.vacuum(spark, t, retain = 2, orphanGraceMs = 0L,
      retainAtLeastMs = 0L)
    assert(VersionedTable.versions(spark, t) == Seq(1, 2))
    // both retained versions fully readable — including the in-flight plan
    assert(rows(v1Reader).contains((3L, "tue", 300.0)))
    assert(rows(VersionedTable.read(spark, t, 2)).contains((5L, "wed", 500.0)))
    // v0 manifest gone, and so are the files ONLY it referenced (c-0's tue)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, t, 0)
    }
    assert(!new java.io.File(s"$t/data/$d0/day=tue").exists(),
      "v0-only files should be swept")
    // files shared with retained versions (c-0's mon) survive
    assert(new java.io.File(s"$t/data/$d0/day=mon").exists(),
      "files still referenced by retained versions must survive")
    assert(!orphanFile.exists(), "orphan commit files should be swept")
  }

  test("vacuum reclaims a swept dir's bucket sidecar; clone carries the sort proof") {
    val d = graft.Caches.newTempDir("vt_bucket_vac").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, Seq("user_id"), 4,
      Seq("user_id"))
    // v0 and a full-rewrite v1: v0's arranged dir becomes dead history
    VersionedTable.commit((1L to 200L).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t)
    val fsys = VersionedTable.fs(spark, t)
    val dir0 = VersionedTable.resolveFiles(fsys, t, 0)
      .head.split("/").head
    VersionedTable.commit((1L to 300L).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t)
    assert(new java.io.File(s"$t/_commits/$dir0.bucket").exists())
    VersionedTable.vacuum(spark, t, retain = 1, orphanGraceMs = 0L,
      retainAtLeastMs = 0L)
    assert(!new java.io.File(s"$t/_commits/$dir0.bucket").exists(),
      "a dead dir's bucket sidecar must be reclaimed with its stats")
    // the head's sidecar survives and the claims stand
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    assert(VersionedTable.sortClaimStatus(spark, t) == Some("claimed"))
    // CLONE: declaration (incl. SORTED BY) and the per-dir sort proof
    // both travel — the fork holds the full layout claim at v0
    val c = s"$d/clone"
    VersionedTable.cloneTable(spark, t, c)
    assert(VersionedTable.bucketDecl(spark, c) ==
      Some(VersionedTable.BucketDecl(Seq("user_id"), 4, Seq("user_id"))))
    assert(VersionedTable.sortClaimStatus(spark, c) == Some("claimed"),
      "a clone must carry the sort proof, not just the bucket claim")
  }

  test("vacuum grace: a fresh unreferenced dir (possible in-flight commit) survives") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // a just-written, not-yet-committed dir — from the outside identical
    // to a concurrent writer between its parquet write and its claim
    assert(new java.io.File(s"$t/data/c-7-live/day=new").mkdirs())
    val inFlight = new java.io.File(s"$t/data/c-7-live/day=new/part-0.parquet")
    assert(inFlight.createNewFile())
    VersionedTable.vacuum(spark, t, retain = 2) // default 7-day grace
    assert(inFlight.exists(),
      "vacuum must not sweep a fresh unreferenced dir out from under a writer")
    VersionedTable.vacuum(spark, t, retain = 2, orphanGraceMs = 0L)
    assert(!inFlight.exists(), "past the grace window the orphan sweeps")
  }

  test("a stale lock file blocks no writer; vacuum still excludes itself") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // a crashed MAINTENANCE job's leftover lock: commits are optimistic
    // and must sail past it
    val lock = new java.io.File(t, "_lock")
    assert(lock.createNewFile())
    try {
      val v = VersionedTable.append(
        Seq((7L, "thu", 70.0)).toDF("id", "day", "value"), t, Seq("day"))
      assert(v == 1, "optimistic commits must not queue behind a stale lock")
      // vacuum is the one verb still serialized by the lock
      intercept[IllegalStateException] {
        VersionedTable.vacuum(spark, t, retain = 2)
      }
    } finally lock.delete()
  }

  test("merge vs concurrent append: conflict in key range replans, disjoint rebases") {
    // CONFLICT CASE: an append lands a row with one of the merge's keys
    // between the merge's touched-file plan and its commit — the commit
    // must detect it (the appended file could hold batch keys), replan,
    // and rewrite the appended file too, or the table ends with a
    // duplicate key
    val t = newTable()
    val tbl = spark.range(0, 100)
      .select(col("id"), lit("old").as("v"))
    VersionedTable.commit(tbl.repartition(1), t)               // v0
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()           // one shot
      VersionedTable.append(
        Seq((50L, "raced")).toDF("id", "v").coalesce(1), t): Unit // v1
    }
    try {
      val v = VersionedTable.merge(
        Seq((50L, "merged")).toDF("id", "v"), t, "id")
      assert(v == 2, s"merge should commit after the racing append (got $v)")
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    val got = VersionedTable.read(spark, t).filter(col("id") === 50L)
      .select("v").collect().map(_.getString(0)).toSeq
    assert(got == Seq("merged"),
      s"replanned merge must swallow the raced duplicate, got $got")
    assert(VersionedTable.read(spark, t).count() == 100)

    // DISJOINT CASE: the concurrent append's keys are outside the
    // merge's key range — no conflict, the merge REBASES (one rewrite,
    // the appended file carried forward by reference)
    val t2 = newTable()
    VersionedTable.commit(tbl.repartition(1), t2)              // v0
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()
      VersionedTable.append(
        Seq((999L, "other")).toDF("id", "v").coalesce(1), t2): Unit // v1
    }
    try {
      val v = VersionedTable.merge(
        Seq((50L, "merged")).toDF("id", "v"), t2, "id")
      assert(v == 2)
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    val r = VersionedTable.read(spark, t2)
    assert(r.count() == 101)
    assert(r.filter(col("id") === 999L).select("v").head().getString(0)
      == "other", "the disjoint append's row must survive the rebase")
    assert(r.filter(col("id") === 50L).select("v").head().getString(0)
      == "merged")
    // rebase proof: the merge rewrote exactly ONE file (the touched one)
    assert(VersionedTable.history(spark, t2)
      .filter(col("version") === 2).head().getLong(2) == 1L)
  }

  test("optimize conflicts on ANY base movement instead of clobbering it") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    // an append lands between optimize's read of the base and its
    // commit: without the whole-base conflict rule the optimize's
    // rewrite (which does not contain the appended row) would commit as
    // the new latest and silently drop it
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()
      VersionedTable.append(
        Seq((7L, "fri", 70.0)).toDF("id", "day", "value"), t, Seq("day")): Unit
    }
    try {
      intercept[VersionedTable.ConcurrentCommitException] {
        VersionedTable.optimize(spark, t, Seq("day"))
      }
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    // nothing lost; the rerun (quiesced) succeeds
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((6L, "thu", 60.0)) + ((7L, "fri", 70.0)))
    val v = VersionedTable.optimize(spark, t, Seq("day"))
    assert(rows(VersionedTable.read(spark, t, v)) ==
      rows(base) + ((6L, "thu", 60.0)) + ((7L, "fri", 70.0)))
  }

  test("two racing appenders both commit, as consecutive versions") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try results.add(VersionedTable.append(
          Seq((100L + i, "thu", i * 1.0)).toDF("id", "day", "value"),
          t, Seq("day")))
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racing appenders must both succeed: $errors")
    assert(results.size == 2)
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == Set(1, 2),
      s"appenders should land consecutive versions, got $results")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((100L, "thu", 0.0)) + ((101L, "thu", 1.0)))
  }

  test("optimize commits a data-identical version with fewer files") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // a few small commits scatter files across c-N dirs
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    VersionedTable.append(
      Seq((7L, "tue", 70.0), (8L, "mon", 80.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    val vBefore = VersionedTable.versions(spark, t).max
    val before = rows(VersionedTable.read(spark, t, vBefore))
    val filesBefore = VersionedTable.read(spark, t, vBefore).inputFiles.length
    val vOpt = VersionedTable.optimize(spark, t, Seq("day"))
    assert(rows(VersionedTable.read(spark, t, vOpt)) == before,
      "optimize must not change the data")
    val filesAfter = VersionedTable.read(spark, t, vOpt).inputFiles.length
    assert(filesAfter < filesBefore,
      s"optimize should shrink the file count ($filesBefore -> $filesAfter)")
    // the pre-optimize version still reads (it is just another commit)
    assert(rows(VersionedTable.read(spark, t, vBefore)) == before)
  }

  test("streaming versioned upsert: one consistent commit per micro-batch") {
    val src = graft.Caches.newTempDir("vtable_stream_src").toString
    // partition-ALIGNED source files: an upsert batch replaces whole
    // partitions, so a day split across micro-batches would clobber its
    // own earlier rows — the operator's documented contract
    base.repartition(3, $"day").write.mode("overwrite").parquet(src)
    val t = newTable()
    val ckpt = graft.Caches.newTempDir("vtable_stream_ckpt").toString
    graft.streaming.Streams.streamVersionedUpsert(spark, src, t, ckpt, "day")
    // all batches landed; final table equals the batch upsert result
    assert(rows(VersionedTable.read(spark, t)) == rows(base))
    val nVersions = VersionedTable.versions(spark, t).size
    assert(nVersions >= 1 && nVersions <= 3)
    // checkpointed rerun replays nothing: version ladder unchanged
    graft.streaming.Streams.streamVersionedUpsert(spark, src, t, ckpt, "day")
    assert(VersionedTable.versions(spark, t).size == nVersions)
  }

  test("schema evolution: a later commit's new column reads as null for old rows") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val evolved = Seq((6L, "thu", 60.0, "fresh"))
      .toDF("id", "day", "value", "tag")
    VersionedTable.append(evolved, t, Seq("day"), evolveSchema = true)
    val latest = VersionedTable.read(spark, t)
    assert(latest.columns.toSet == Set("id", "day", "value", "tag"))
    val tags = latest.select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(6L).contains("fresh"))
    assert(tags(1L).isEmpty, "pre-evolution rows must read null for the new column")
    // time travel travels the schema too: v0 has no tag column
    assert(!VersionedTable.read(spark, t, 0).columns.contains("tag"))
  }

  test("history names each commit's operation; optimize can z-cluster the rewrite") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    VersionedTable.optimize(spark, t, Seq("day"),
      zorderCols = Seq("id", "value"))
    val h = VersionedTable.history(spark, t)
      .orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(h.map(_._2).toSeq == Seq("commit", "upsert", "optimize"))
    assert(h.forall(_._3 > 0), s"file counts should be recorded: ${h.toSeq}")
    // the z-clustered optimize is still data-identical (the upsert
    // replaced the WHOLE tue partition with its single patched row)
    val expected = rows(base.filter($"day" =!= "tue")) + ((3L, "tue", 300.0))
    assert(rows(VersionedTable.read(spark, t)) == expected)
    // flat-table variant: zorder through the range-partitioned path
    val t2 = newTable()
    VersionedTable.commit(base.drop("day"), t2)
    VersionedTable.optimize(spark, t2, zorderCols = Seq("id", "value"))
    assert(VersionedTable.read(spark, t2).count() == 5)
    assert(VersionedTable.history(spark, t2).filter($"op" === "optimize")
      .count() == 1)
  }

  test("randomized commit sequences: every retained version equals its model snapshot") {
    val days = Vector("mon", "tue", "wed", "thu", "fri")
    for (seed <- Seq(5L, 77L)) {
      val rnd = new scala.util.Random(seed)
      var nextId = 100L
      def mkRows(day: String, n: Int): Seq[(Long, String, Double)] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, day, (rnd.nextInt(1000) / 10.0))
        }
      val t = newTable()
      var model: Map[String, Seq[(Long, String, Double)]] =
        days.take(3).map(d => d -> mkRows(d, 2)).toMap
      VersionedTable.commit(model.values.flatten.toSeq
        .toDF("id", "day", "value"), t, Seq("day"))
      val snaps = scala.collection.mutable.ArrayBuffer(
        model.values.flatten.toSet)
      for (_ <- 0 until 8) {
        rnd.nextInt(3) match {
          case 0 =>
            val day = days(rnd.nextInt(days.size))
            val added = mkRows(day, 1 + rnd.nextInt(2))
            model += day -> (model.getOrElse(day, Seq.empty) ++ added)
            VersionedTable.append(added.toDF("id", "day", "value"), t,
              Seq("day"))
          case 1 =>
            val day = days(rnd.nextInt(days.size))
            val repl = mkRows(day, 1 + rnd.nextInt(2))
            model += day -> repl
            VersionedTable.upsertPartitions(
              repl.toDF("id", "day", "value"), t, "day")
          case _ =>
            VersionedTable.optimize(spark, t, Seq("day"),
              zorderCols = if (rnd.nextBoolean()) Seq("id", "value") else Nil)
        }
        snaps += model.values.flatten.toSet
      }
      // the latest version and a random historical one both replay their
      // exact model snapshots
      val vs = VersionedTable.versions(spark, t)
      assert(vs.size == snaps.size, s"seed $seed: ${vs.size} vs ${snaps.size}")
      assert(rows(VersionedTable.read(spark, t)) == snaps.last,
        s"latest snapshot diverged at seed $seed")
      val pick = rnd.nextInt(vs.size)
      assert(rows(VersionedTable.read(spark, t, vs(pick))) == snaps(pick),
        s"time travel to v${vs(pick)} diverged at seed $seed")
    }
  }

  test("bloomOptions plant parquet bloom filters on exactly the opted columns") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"),
      writerOptions = VersionedTable.bloomOptions(Seq("id"), ndv = 1000))
    // footer proof: the id column chunk carries a bloom filter, value
    // does not — and the table still reads identically
    val file = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data"))
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(cols.get)
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(byName("id") >= 0, s"no bloom filter on id: $byName")
      assert(byName("value") < 0, s"unexpected bloom filter on value: $byName")
    } finally reader.close()
    assert(rows(VersionedTable.read(spark, t)) == rows(base))
  }

  test("changes() follows the table incrementally at file granularity") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))                                                 // v1
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")   // v2
    // since v0: the appended row plus the replaced partition's NEW
    // contents — and nothing from the untouched partitions
    val delta = rows(VersionedTable.changes(spark, t, sinceVersion = 0))
    assert(delta == Set((6L, "thu", 60.0), (3L, "tue", 300.0)))
    // consecutive windows compose: v0→v1 is just the append
    assert(rows(VersionedTable.changes(spark, t, 0, 1)) ==
      Set((6L, "thu", 60.0)))
    assert(rows(VersionedTable.changes(spark, t, 1, 2)) ==
      Set((3L, "tue", 300.0)))
    // no change window is empty
    assert(VersionedTable.changes(spark, t, 2, 2).isEmpty)
  }

  test("bucketed tables: co-located join with no exchange; degrade and restore") {
    val d = graft.Caches.newTempDir("vt_bucket").toString
    val t1 = s"$d/facts"; val t2 = s"$d/dim"
    val facts = (1L to 5000L).map(i => (i % 400, i, (i % 97).toDouble))
      .toDF("user_id", "event_id", "value")
    val dim = (0L until 400L).map(i => (i, s"t${i % 3}"))
      .toDF("user_id", "tier")
    VersionedTable.setBucketing(spark, t1, "user_id", 8)
    VersionedTable.setBucketing(spark, t2, "user_id", 8)
    VersionedTable.commit(facts, t1)
    VersionedTable.commit(dim, t2)
    // plan-string probe: an AdaptiveSparkPlanExec holds its current
    // plan outside `children`, so TreeNode.collect can't see the
    // exchanges — the rendered FINAL plan (post-count) can
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    def joined = {
      val j = GraftScan.read(spark, t1)
        .join(GraftScan.read(spark, t2), Seq("user_id"))
      j.count() // force through AQE so the final plan is real
      j
    }
    // forbid broadcast so the exchange-free plan can only come from the
    // bucket layout itself
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j1 = joined
      assert(shuffles(j1) == 0,
        s"co-bucketed join must plan no exchange:\n${j1.queryExecution}")
      assert(j1.count() == 5000L)
      // a plain append (no bucket ids on its files) DEGRADES the claim —
      // plans stay correct, the exchange just comes back
      VersionedTable.append(Seq((9999L, 999999L, 1.0))
        .toDF("user_id", "event_id", "value"), t1)
      val j2 = joined
      assert(shuffles(j2) > 0,
        "a non-bucket-arranged commit must drop the bucket claim")
      assert(j2.count() == 5000L, "degraded plans must stay correct")
      // a flat OPTIMIZE restores the layout — and the claim
      VersionedTable.optimize(spark, t1)
      val j3 = joined
      assert(shuffles(j3) == 0,
        s"OPTIMIZE must restore the bucket layout:\n${j3.queryExecution}")
      assert(j3.count() == 5000L)
      // correctness parity with an unbucketed recompute
      val got = j3.groupBy("tier").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = facts.join(dim, Seq("user_id")).groupBy("tier").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
      // the layout serves AGGREGATION too: a groupBy on the bucket
      // column is satisfied by the scan's HashPartitioning — no
      // exchange before the final aggregate either
      val agg = GraftScan.read(spark, t1).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.sum("value").as("s"))
      agg.count()
      assert(shuffles(agg) == 0,
        s"groupBy on the bucket column must not shuffle:\n" +
          agg.queryExecution.toString)
      // a CLONE carries the declaration AND the per-dir layout proof:
      // joining the clone against the co-bucketed fact table needs no
      // exchange either
      val t3 = s"$d/dim_clone"
      VersionedTable.cloneTable(spark, t2, t3)
      val jc = {
        val j = GraftScan.read(spark, t1)
          .join(GraftScan.read(spark, t3), Seq("user_id"))
        j.count(); j
      }
      assert(shuffles(jc) == 0,
        s"a cloned bucketed table must keep the layout claim:\n" +
          jc.queryExecution.toString)
      // REDECLARING a different count (or column) must drop the claim
      // for files arranged under the OLD spec: every id is still
      // in-range for n=16, but claiming hash%8 files as hash%16 would
      // silently drop join matches — the per-dir layout sidecar is
      // what makes this safe
      VersionedTable.setBucketing(spark, t1, "user_id", 16)
      VersionedTable.setBucketing(spark, t2, "user_id", 16)
      val j4 = joined
      assert(shuffles(j4) > 0,
        "a count redeclare must drop the claim until an OPTIMIZE")
      assert(j4.count() == 5000L)
      VersionedTable.setBucketing(spark, t1, "event_id", 8)
      val j5 = joined
      assert(shuffles(j5) > 0,
        "a column redeclare must drop the claim until an OPTIMIZE")
      // restore the declarations the redeclare checks above changed —
      // the existing files were arranged under (user_id, 8), so the
      // matching declaration revives the claim with no rewrite
      VersionedTable.setBucketing(spark, t1, "user_id", 8)
      VersionedTable.setBucketing(spark, t2, "user_id", 8)
      // a DELETION VECTOR on a bucketed table keeps the claim: the DV
      // retag changes only the manifest ENTRY (file@dv=...), the base
      // file name still carries its bucket id, the dir sidecar still
      // matches, and the row-position Filter preserves the scan's
      // partitioning — merge-on-read composes with co-location
      VersionedTable.deleteWhere(spark, t2,
        Some("user_id = 7"), dv = true)
      val jdv = {
        val j = GraftScan.read(spark, t1)
          .join(GraftScan.read(spark, t2), Seq("user_id"))
        j.count(); j
      }
      assert(shuffles(jdv) == 0,
        s"a DV'd bucketed table must keep the claim:\n${jdv.queryExecution}")
      assert(jdv.filter($"user_id" === 7L).count() == 0L,
        "the vector must still apply under the bucketed scan")
      // an oversized bucket splits into MULTIPLE files (task part index
      // = bucket id survives the split), and the claim still holds
      val t4 = s"$d/split"
      VersionedTable.setBucketing(spark, t4, "user_id", 4)
      spark.conf.set("spark.sql.files.maxRecordsPerFile", 300L)
      try VersionedTable.commit(facts, t4)
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      val names = VersionedTable.read(spark, t4).inputFiles
        .map(_.split("/").last)
      assert(names.length > 4, s"buckets must have split: ${names.toSeq}")
      assert(names.forall(nm => org.apache.spark.sql.graft.SqlBridge
        .bucketIdOf(nm).exists(_ < 4)), s"split files keep ids: ${names.toSeq}")
      val j6 = {
        val j = GraftScan.read(spark, t4)
          .join(GraftScan.read(spark, t4).groupBy("user_id")
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("c")),
            Seq("user_id"))
        j.count(); j
      }
      assert(shuffles(j6) == 0,
        s"multi-file buckets must keep the claim:\n${j6.queryExecution}")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucket claim survives every DML rewrite and self-heals via compaction") {
    val d = graft.Caches.newTempDir("vt_bucket_dml").toString
    val t1 = s"$d/facts"; val t2 = s"$d/dim"
    val facts = (1L to 5000L).map(i => (i % 400, i, (i % 97).toDouble))
      .toDF("user_id", "event_id", "value")
    val dim = (0L until 400L).map(i => (i, s"t${i % 3}"))
      .toDF("user_id", "tier")
    VersionedTable.setBucketing(spark, t1, "user_id", 8)
    VersionedTable.setBucketing(spark, t2, "user_id", 8)
    VersionedTable.commit(facts, t1)
    VersionedTable.commit(dim, t2)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    def joined = {
      val j = GraftScan.read(spark, t1)
        .join(GraftScan.read(spark, t2), Seq("user_id"))
      j.count(); j
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // rewrite-path MERGE (keyed on a NON-bucket column): the
      // survivors+batch rewrite re-arranges by the bucket column
      VersionedTable.merge(
        facts.filter($"event_id" % 7 === 0)
          .withColumn("value", $"value" + 1000.0), t1, "event_id")
      assert(shuffles(joined) == 0,
        "a rewrite merge must keep the bucket claim")
      // DELETE rewrite keeps the claim, and the rows are gone
      VersionedTable.deleteWhere(spark, t1, Some("event_id % 13 = 0"))
      assert(shuffles(joined) == 0,
        "a delete rewrite must keep the bucket claim")
      assert(GraftScan.read(spark, t1)
        .filter($"event_id" % 13 === 0).count() == 0L)
      // DV UPDATE: image files bucket-arrange, retagged bases keep ids
      VersionedTable.updateWhere(spark, t1,
        Seq("value" -> "value + 0.5"), Some("event_id % 11 = 1"),
        dv = true)
      assert(VersionedTable.hasDeletionVectors(spark, t1))
      assert(shuffles(joined) == 0,
        "a DV update's image commit must keep the bucket claim")
      // replaceWhere rewrite keeps the claim
      VersionedTable.replaceWhere(
        Seq((3L, 999001L, 7.0)).toDF("user_id", "event_id", "value"),
        t1, "user_id = 3")
      assert(shuffles(joined) == 0,
        "a replaceWhere rewrite must keep the bucket claim")
      assert(GraftScan.read(spark, t1).filter($"user_id" === 3L)
        .count() == 1L)
      // DV purge (fold vectors back into clean files) keeps the claim
      VersionedTable.purgeDeletionVectors(spark, t1)
      assert(!VersionedTable.hasDeletionVectors(spark, t1))
      assert(shuffles(joined) == 0,
        "a DV purge rewrite must keep the bucket claim")
      // correctness parity with the unbucketed recompute of the same DML
      val expect = facts
        .withColumn("value", org.apache.spark.sql.functions.when(
          $"event_id" % 7 === 0, $"value" + 1000.0).otherwise($"value"))
        .filter($"event_id" % 13 =!= 0)
        .withColumn("value", org.apache.spark.sql.functions.when(
          $"event_id" % 11 === 1, $"value" + 0.5).otherwise($"value"))
        .filter($"user_id" =!= 3L)
        .union(Seq((3L, 999001L, 7.0)).toDF("user_id", "event_id", "value"))
      val got = GraftScan.read(spark, t1)
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = expect.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, "DML under bucketing must stay value-correct")
      // point-lookup pruning: claimed snapshot scans 1 of 8 buckets
      // (agg shape — a bare filter's bucketed scan is planner-disabled,
      // though createReadRDD still prunes its files); an append
      // DEGRADES to the full scan — never to a wrong prune
      def lookup42 = GraftScan.read(spark, t1)
        .filter($"user_id" === 42L).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      val p1 = lookup42
      p1.count()
      assert(p1.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount: 1 out of 8"),
        s"point lookup must prune to one bucket:\n${p1.queryExecution}")
      // IN-lists prune to the listed keys' buckets (Spark's
      // getExpressionBuckets handles In/InSet through the same claim)
      val pIn = GraftScan.read(spark, t1)
        .filter($"user_id".isin(42L, 43L)).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      pIn.count()
      val selIn = "SelectedBucketsCount: (\\d+) out of 8".r
        .findFirstMatchIn(pIn.queryExecution.executedPlan.toString)
      assert(selIn.exists(_.group(1).toInt <= 2),
        s"an IN-list must prune to its keys' buckets:\n${pIn.queryExecution}")
      val before42 = GraftScan.read(spark, t1)
        .filter($"user_id" === 42L).count()
      VersionedTable.append(Seq((42L, 999002L, 1.0))
        .toDF("user_id", "event_id", "value"), t1)
      val p2 = lookup42
      p2.count()
      assert(!p2.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"),
        "a degraded snapshot must full-scan, never wrongly prune")
      assert(GraftScan.read(spark, t1).filter($"user_id" === 42L)
        .count() == before42 + 1,
        "the appended row must be visible through the degraded scan")
      assert(shuffles(joined) > 0, "the append dropped the claim")
      // SELF-HEAL (explicit): compactSmallFiles bucket-arranges its
      // packed rewrite — the claim returns with NO manual OPTIMIZE
      VersionedTable.compactSmallFiles(spark, t1)
      assert(shuffles(joined) == 0,
        "small-file compaction must restore the bucket claim")
      assert(GraftScan.read(spark, t1).filter($"user_id" === 42L)
        .count() == before42 + 1, "compaction must be data-identical")
      // SELF-HEAL (automatic): on a table whose BASE files outsize the
      // small-file bar, autoCompact behind ingest folds ONLY the
      // appended debt — the claim returns by itself, and the
      // append→compact window stays ONE clean insert window for change
      // consumers (the walkChanges symmetric case: the rewrite removes
      // purely window-added files)
      val t5 = s"$d/selfheal"
      val big = facts.withColumn("pad",
        org.apache.spark.sql.functions.sha2($"event_id".cast("string"), 256))
      VersionedTable.setBucketing(spark, t5, "user_id", 8)
      VersionedTable.commit(big, t5)
      val vBase = VersionedTable.versions(spark, t5).max
      def padRow(u: Long, e: Long, v: Double) =
        Seq((u, e, v, "x" * 64)).toDF("user_id", "event_id", "value", "pad")
      AutoCompactSeam.withAutoCompact(spark, minSmallFiles = 2,
          targetFileBytes = 16384) {
        VersionedTable.append(padRow(43L, 999003L, 2.0), t5)
        VersionedTable.append(padRow(44L, 999004L, 3.0), t5)
      }
      val vAfter = VersionedTable.versions(spark, t5).max
      assert(VersionedTable.history(spark, t5)
        .filter($"version" > vBase).select("op").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("append", "append", "compact"),
        "the second append must have triggered auto-compaction")
      val j7 = {
        val j = GraftScan.read(spark, t5).drop("pad")
          .join(GraftScan.read(spark, t2), Seq("user_id"))
        j.count(); j
      }
      assert(shuffles(j7) == 0,
        "auto-compaction must restore the bucket claim, no OPTIMIZE")
      val win = VersionedTable.changes(spark, t5, vBase, vAfter)
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(win == Set((43L, 999003L, 2.0), (44L, 999004L, 3.0)),
        s"appends+auto-compact must stay ONE clean insert window: $win")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("hive-partitioned + bucketed: claim, composed pruning, DML, upsert") {
    val d = graft.Caches.newTempDir("vt_bucket_part").toString
    val t1 = s"$d/facts"; val t2 = s"$d/dim"
    val facts = (1L to 8000L).map(i =>
      (i % 400, i, s"d${i % 5}", (i % 97).toDouble))
      .toDF("user_id", "event_id", "day", "value")
    val dim = (0L until 400L).map(i => (i, s"t${i % 3}"))
      .toDF("user_id", "tier")
    VersionedTable.setBucketing(spark, t1, "user_id", 8)
    VersionedTable.setBucketing(spark, t2, "user_id", 8)
    VersionedTable.commit(facts, t1, Seq("day"))
    VersionedTable.commit(dim, t2)
    assert(VersionedTable.bucketClaimStatus(spark, t1) == Some("claimed"),
      "a partitioned commit must lay and claim the bucket layout")
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    def joined = {
      val j = GraftScan.read(spark, t1)
        .join(GraftScan.read(spark, t2), Seq("user_id"))
      j.count(); j
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(shuffles(joined) == 0,
        s"partitioned+bucketed must join exchange-free:\n" +
          joined.queryExecution.toString)
      // partition pruning and bucket pruning serve the SAME scan
      val q = GraftScan.read(spark, t1)
        .filter($"day" === "d3" && $"user_id" === 42L)
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.sum("value").as("s"))
      q.count()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning must compose with partitioning:\n$plan")
      assert("PartitionFilters: \\[[^\\]]*day".r
        .findFirstIn(plan).isDefined,
        s"the day predicate must prune partitions in the same scan:\n$plan")
      // DML rewrite within the layout keeps the claim
      VersionedTable.updateWhere(spark, t1,
        Seq("value" -> "value + 7"), Some("event_id % 13 = 1"),
        partitionCols = Seq("day"))
      assert(shuffles(joined) == 0,
        "a partitioned DML rewrite must keep the bucket claim")
      // partition upsert: the patched partition arrives bucket-arranged,
      // untouched partitions carry their sidecars by reference
      val patch = facts.filter($"day" === "d2")
        .withColumn("value", $"value" * 2)
      VersionedTable.upsertPartitions(patch, t1, "day")
      assert(shuffles(joined) == 0,
        "a partition upsert must keep the bucket claim")
      // correctness parity with the unbucketed recompute
      val expect = facts
        .withColumn("value", org.apache.spark.sql.functions.when(
          $"event_id" % 13 === 1, $"value" + 7).otherwise($"value"))
        .withColumn("value", org.apache.spark.sql.functions.when(
          $"day" === "d2",
          // the upsert replaced d2 with PRE-update doubled values
          org.apache.spark.sql.functions.when(
            $"event_id" % 13 === 1, ($"value" - 7) * 2)
            .otherwise($"value" * 2)).otherwise($"value"))
      val got = GraftScan.read(spark, t1)
        .select("event_id", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = expect.select("event_id", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == want, "DML under partitioned bucketing stays correct")
      // an append degrades; a partition-scoped OPTIMIZE of the touched
      // partition restores (the appended file was its only debt)
      VersionedTable.append(Seq((42L, 999001L, "d0", 1.0))
        .toDF("user_id", "event_id", "day", "value"), t1, Seq("day"))
      assert(shuffles(joined) > 0, "the append dropped the claim")
      VersionedTable.optimizePartitions(spark, t1, "day", Seq("d0"))
      assert(shuffles(joined) == 0,
        "partition-scoped OPTIMIZE must restore the claim")
      assert(GraftScan.read(spark, t1).count() == 8001L)
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("OPTIMIZE ZORDER on a bucketed table: clustering wins, claim degrades loud-visibly") {
    val d = graft.Caches.newTempDir("vt_bucket_z").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, "user_id", 4)
    VersionedTable.commit((1L to 4000L).map(i =>
        (i % 100, i, (i % 31).toDouble))
      .toDF("user_id", "event_id", "value"), t)
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    // the caller asked for Z-clustering: that layout OWNS the rewrite
    // (documented choice), the bucket claim drops, and DESCRIBE
    // DETAIL's status names the degrade instead of hiding it
    VersionedTable.optimize(spark, t,
      zorderCols = Seq("event_id", "value"))
    val st = VersionedTable.bucketClaimStatus(spark, t)
    assert(st.exists(_.startsWith("degraded")),
      s"zorder must visibly drop the bucket claim: $st")
    assert(VersionedTable.read(spark, t).count() == 4000L)
    // a later flat OPTIMIZE restores the declared layout
    VersionedTable.optimize(spark, t)
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
  }

  test("a bucketed table rewritten from its own read keeps every row in its bucket") {
    val d = graft.Caches.newTempDir("vt_bucket_self").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, "user_id", 4)
    val rows = (1L to 4000L).map(i => (i % 100, i, (i % 31).toDouble))
    VersionedTable.commit(rows.toDF("user_id", "event_id", "value"), t)
    // the input scan claims HashPartitioning(user_id, 4) — the write's
    // own bucket arrangement must still decide which file a row lands in
    VersionedTable.commit(
      VersionedTable.read(spark, t).filter($"event_id" % 3 =!= 0), t)
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    val kept = rows.filter(_._2 % 3 != 0)
    // bucket-pruned lookups find every row of every key
    (0L until 100L).foreach { k =>
      assert(VersionedTable.read(spark, t).filter($"user_id" === k).count()
        == kept.count(_._1 == k), s"user_id $k")
    }
    // a bucket-pruned delete removes every matching row
    VersionedTable.deleteWhere(spark, t, Some("user_id = 42"))
    assert(VersionedTable.read(spark, t).collect()
      .count(_.getLong(0) == 42L) == 0)
    assert(VersionedTable.read(spark, t).count() ==
      kept.count(_._1 != 42L))
  }

  test("bucketed-sorted tables: zero exchange AND zero sort; the sort claim degrades independently") {
    val d = graft.Caches.newTempDir("vt_bucket_sorted").toString
    val t1 = s"$d/facts"; val t2 = s"$d/dim"
    val facts = (1L to 4000L).map(i => (i % 256, i, (i % 13).toDouble))
      .toDF("user_id", "event_id", "value")
    val dim = (0L until 256L).map(i => (i, s"t${i % 5}"))
      .toDF("user_id", "tier")
    VersionedTable.setBucketing(spark, t1, Seq("user_id"), 8,
      Seq("user_id"))
    VersionedTable.setBucketing(spark, t2, Seq("user_id"), 8,
      Seq("user_id"))
    VersionedTable.commit(facts, t1)
    VersionedTable.commit(dim, t2)
    assert(VersionedTable.sortClaimStatus(spark, t1) == Some("claimed"))
    assert(VersionedTable.bucketClaimStatus(spark, t1) == Some("claimed"))
    def joined = {
      val j = GraftScan.read(spark, t1)
        .join(GraftScan.read(spark, t2), Seq("user_id"))
      j.count(); j
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf
      .set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val p1 = joined.queryExecution.executedPlan.toString
      assert(p1.contains("SortMergeJoin"), p1)
      assert(!p1.contains("Exchange hashpartitioning"),
        s"co-bucketed join must plan no exchange:\n$p1")
      assert(!p1.contains("Sort ["),
        s"co-SORTED join must plan no sort on either side:\n$p1")
      // redeclaring ONLY the sort drops just the ordering claim: the
      // files are still arranged under (user_id, 8), so the bucket
      // claim (and the exchange-free join) stands — the sort returns
      VersionedTable.setBucketing(spark, t1, Seq("user_id"), 8,
        Seq("event_id"))
      assert(VersionedTable.bucketClaimStatus(spark, t1) ==
        Some("claimed"),
        "a sort-only redeclare must not drop the bucket claim")
      val st = VersionedTable.sortClaimStatus(spark, t1)
      assert(st.exists(_.startsWith("degraded")),
        s"a sort-only redeclare must degrade the sort claim: $st")
      val p2 = joined.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange hashpartitioning"), p2)
      assert(p2.contains("Sort ["),
        s"a dropped sort claim must re-insert the join sort:\n$p2")
      // an arranged rewrite lays the NEWLY declared sort and the claim
      // returns
      VersionedTable.optimize(spark, t1)
      assert(VersionedTable.sortClaimStatus(spark, t1) ==
        Some("claimed"))
      // an undeclared-sort table claims the bucket-column sort for
      // free (the arranged write sorts by it anyway): join keys equal
      // the bucket column → still zero sorts
      VersionedTable.setBucketing(spark, t1, Seq("user_id"), 8, Nil)
      VersionedTable.optimize(spark, t1)
      assert(VersionedTable.sortClaimStatus(spark, t1).isEmpty,
        "no SORTED BY declared -> no sort status row")
      val p3 = joined.queryExecution.executedPlan.toString
      assert(!p3.contains("Exchange hashpartitioning") &&
        !p3.contains("Sort ["),
        s"the implicit bucket-column sort must still serve the join:\n$p3")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf
        .unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("the sort claim survives DML, serves bucket-key aggregation, and degrades visibly under zorder") {
    val d = graft.Caches.newTempDir("vt_sorted_dml").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, Seq("user_id"), 4,
      Seq("user_id"))
    VersionedTable.commit((1L to 3000L).map(i =>
        (i % 100, i, (i % 7).toDouble))
      .toDF("user_id", "event_id", "value"), t)
    assert(VersionedTable.sortClaimStatus(spark, t) == Some("claimed"))
    // a rewrite MERGE arranges AND sorts its output — both claims
    // survive the upserted-fact-table lifecycle
    VersionedTable.merge((1L to 3000L by 7).map(i =>
        (i % 100, i, 99.0)).toDF("user_id", "event_id", "value"),
      t, "event_id")
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"),
      "the bucket claim must survive a rewrite merge")
    assert(VersionedTable.sortClaimStatus(spark, t) == Some("claimed"),
      "the sort claim must survive a rewrite merge")
    // aggregation on the bucket key rides the same HashPartitioning
    // claim: partial+final agg collapse onto the scan's distribution —
    // zero exchange (the 100 TB per-key rollup for free)
    val agg = GraftScan.read(spark, t).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum("value").as("s"))
    agg.count()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"a bucket-key aggregation must plan no exchange:\n$aggPlan")
    // OPTIMIZE ZORDER: the clustering owns the rewrite — BOTH layout
    // claims degrade, and sort_status names it (same contract as
    // bucket_status, no plan reading needed)
    VersionedTable.optimize(spark, t,
      zorderCols = Seq("event_id", "value"))
    assert(VersionedTable.sortClaimStatus(spark, t)
      .exists(_.startsWith("degraded")),
      "zorder must visibly drop the sort claim too")
    VersionedTable.optimize(spark, t)
    assert(VersionedTable.sortClaimStatus(spark, t) == Some("claimed"))
  }

  test("bucket claim type gate: a widened read type degrades typed sidecars") {
    import org.apache.spark.sql.types._
    val d = graft.Caches.newTempDir("vt_bucket_widen").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, "user_id", 4)
    // INT user_id: the arranged dir's sidecar records the written type
    VersionedTable.commit((1 to 400).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t)
    val files = VersionedTable.resolveFiles(
      VersionedTable.fs(spark, t), t, 0)
    assert(VersionedTable.bucketSpecFor(spark, t, files,
      Some(Map("user_id" -> IntegerType, "event_id" -> IntegerType)))
      .isDefined, "the claim must hold under the written types")
    // the SAME files under a WIDENED read schema (a later long-typed
    // commit widened the column) must NOT claim: they were hashed as
    // int, and murmur3(int) != murmur3(long) for the same value —
    // claiming HashPartitioning(long) would silently drop join matches
    assert(VersionedTable.bucketSpecFor(spark, t, files,
      Some(Map("user_id" -> LongType, "event_id" -> IntegerType)))
      .isEmpty, "a widened read type must degrade the claim")
    // and the scan path itself (type map from the real snapshot) still
    // claims — the gate bites only on genuine widening
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
  }

  test("composite bucket prune: full-tuple equality prunes, a subset predicate never does") {
    val d = graft.Caches.newTempDir("vt_bucket_multi").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, Seq("user_id", "kind"), 8, Nil)
    // every (user_id, kind) pair occurs in every value range so the
    // stats sidecars can't prune — isolating the bucket prune itself
    VersionedTable.commit((1L to 8000L).map(i =>
        (i % 10, s"k${i % 7}", i)).toDF("user_id", "kind", "event_id"), t)
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    // full composite equality: exactly the tuple's one bucket file
    val (df1, idx1) = GraftScan.readWithIndex(spark, t)
    val got = df1.filter($"user_id" === 7L && $"kind" === "k3").count()
    assert(got == (1L to 8000L).count(i => i % 10 == 7 && i % 7 == 3),
      "the pruned lookup must return every matching row")
    assert(idx1.lastListedCount == 1,
      s"full-tuple equality must prune to 1 bucket file, " +
        s"listed ${idx1.lastListedCount} of ${idx1.totalFiles}")
    // IN-list on one column fans out to the listed tuples' buckets
    val (df2, idx2) = GraftScan.readWithIndex(spark, t)
    val gotIn = df2.filter($"user_id" === 7L &&
      $"kind".isin("k3", "k5")).count()
    assert(gotIn == (1L to 8000L).count(i =>
      i % 10 == 7 && (i % 7 == 3 || i % 7 == 5)))
    assert(idx2.lastListedCount <= 2,
      s"an IN fan-out must prune to the listed tuples' buckets: " +
        s"${idx2.lastListedCount}")
    // a predicate binding only PART of the key must NOT prune: the
    // hash needs the whole tuple, and rows with user_id=7 live in
    // MANY buckets — pruning here would be wrong, not just weak
    val (df3, idx3) = GraftScan.readWithIndex(spark, t)
    val gotSub = df3.filter($"user_id" === 7L).count()
    assert(gotSub == (1L to 8000L).count(_ % 10 == 7))
    assert(idx3.lastListedCount == idx3.totalFiles,
      s"a subset predicate must not bucket-prune: listed " +
        s"${idx3.lastListedCount} of ${idx3.totalFiles}")
  }

  test("partitioned × bucketed-sorted: the sort is laid per file; Spark declines the multi-file ordering claim") {
    val d = graft.Caches.newTempDir("vt_part_sorted").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, Seq("user_id"), 4,
      Seq("event_id"))
    VersionedTable.commit((1L to 2000L).map(i =>
        (i % 50, i, s"d${i % 3}")).toDF("user_id", "event_id", "day"),
      t, Seq("day"))
    // the claim machinery: bucket AND sort proven per dir even under
    // the hive layout
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    assert(VersionedTable.sortClaimStatus(spark, t) == Some("claimed"))
    // every FILE is internally sorted by the declared sort column
    // (partition cols are constant within a file, so the within-file
    // order is exactly event_id)
    VersionedTable.read(spark, t).inputFiles.take(3).foreach { f =>
      val ids = spark.read.parquet(f).select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"file $f must be internally sorted")
    }
    // with >1 file per bucket (one per partition dir), Spark itself
    // declines the scan ORDERING claim — concatenated sorted files are
    // not sorted — while the bucket claim still joins exchange-free;
    // degrade-correct by Spark's own one-file-per-bucket rule
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf
      .set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val dim = s"$d/dim"
      VersionedTable.setBucketing(spark, dim, Seq("user_id"), 4,
        Seq("event_id"))
      VersionedTable.commit((0L until 50L).map(i => (i, i * 2))
        .toDF("user_id", "event_id"), dim)
      val j = GraftScan.read(spark, t)
        .join(GraftScan.read(spark, dim), Seq("user_id"))
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"partitioned+sorted must still join exchange-free:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf
        .unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("composite bucket prune declines past the tuple fan-out cap") {
    val d = graft.Caches.newTempDir("vt_bucket_cap").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, Seq("user_id", "kind"), 8, Nil)
    VersionedTable.commit((1L to 4000L).map(i =>
        (i % 100, s"k${i % 3}", i)).toDF("user_id", "kind", "event_id"),
      t)
    // 100 × 1 = 100 tuples > the 64-combination cap: the prune must
    // DECLINE (full listing), never enumerate an unbounded product
    val ids = (0L until 100L)
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    val got = df.filter(col("user_id").isin(ids: _*) &&
      col("kind") === "k1").count()
    assert(got == (1L to 4000L).count(i => i % 3 == 1))
    assert(idx.lastListedCount == idx.totalFiles,
      s"past the cap the prune must decline: ${idx.lastListedCount} " +
        s"of ${idx.totalFiles}")
    // within the cap it engages: 2 × 2 = 4 tuples → ≤4 bucket files
    val (df2, idx2) = GraftScan.readWithIndex(spark, t)
    val got2 = df2.filter(col("user_id").isin(7L, 8L) &&
      col("kind").isin("k1", "k2")).count()
    assert(got2 == (1L to 4000L).count(i => (i % 100 == 7 || i % 100 == 8)
      && (i % 3 == 1 || i % 3 == 2)))
    assert(idx2.lastListedCount <= 4,
      s"a 4-tuple product must prune: ${idx2.lastListedCount}")
  }

  test("compactSmallFiles converges on an already-arranged bucketed table") {
    val d = graft.Caches.newTempDir("vt_bucket_conv").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, "user_id", 4)
    // v0: arranged into 4 SMALL bucket files (one commit dir)
    VersionedTable.commit((1L to 400L).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t)
    // already the arranged output of one sidecar-matching dir: packing
    // would fan the same rows back into 4 bucket files forever — the
    // compact must recognize convergence and commit NOTHING
    assert(VersionedTable.compactSmallFiles(spark, t) == 0,
      "an arranged small bucketed table must be converged")
    // new debt: a plain append degrades the layout; the next compact
    // heals it (one arranged rewrite)...
    VersionedTable.append(Seq((3L, 9001L)).toDF("user_id", "event_id"), t)
    val healed = VersionedTable.compactSmallFiles(spark, t)
    assert(healed == 2, "the degraded table must re-pack once")
    assert(VersionedTable.bucketClaimStatus(spark, t) == Some("claimed"))
    // ...and the table is converged again: no further compact commits
    assert(VersionedTable.compactSmallFiles(spark, t) == healed,
      "a healed bucketed table must not re-pack on flat state")
    assert(VersionedTable.read(spark, t).count() == 401L)
    // a declared SORTED BY column the table NEVER carried: the writer
    // falls back to the bucket-column sort, and convergence must
    // compare against that fallback — not the bare declaration — or
    // the table re-packs unboundedly behind every autoCompact
    val t2 = s"$d/t2"
    VersionedTable.setBucketing(spark, t2, Seq("user_id"), 4,
      Seq("no_such_column"))
    VersionedTable.commit((1L to 400L).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t2)
    assert(VersionedTable.compactSmallFiles(spark, t2) == 0,
      "a missing declared sort column must not defeat convergence")
  }

  test("table re-creation at a path purges the path-keyed caches") {
    val d = graft.Caches.newTempDir("vt_recreate").toString
    val t = s"$d/t"
    VersionedTable.setBucketing(spark, t, "user_id", 8)
    VersionedTable.commit((1L to 100L).map(i => (i % 10, i))
      .toDF("user_id", "event_id"), t)
    // prime BOTH caches: the indexed read lists the commit dir and
    // (bucketed claim) reads the dir's layout sidecar
    assert(GraftScan.read(spark, t).count() == 100L)
    val fsys = VersionedTable.fs(spark, t)
    // raw-path key, the GraftFileIndex convention
    val dataDir = s"$t/data/" + fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"$t/data")).head.getPath.getName
    assert(GraftScan.listDirCached(fsys, dataDir).nonEmpty)
    // out-of-band table DROP + re-create (new identity, same path):
    // the creation verb purges the prefix, so the old table's listings
    // and sidecar verdicts can never be served to the new table
    fsys.delete(new org.apache.hadoop.fs.Path(t), true)
    VersionedTable.commit((1L to 7L).map(i => (i, i))
      .toDF("user_id", "event_id"), t)
    assert(GraftScan.read(spark, t).count() == 7L,
      "the re-created table must read only its own rows")
    // the purge dropped the dead dir's cached listing: a direct cache
    // probe re-lists and fails loud instead of serving the stale array
    intercept[java.io.FileNotFoundException] {
      GraftScan.listDirCached(fsys, dataDir)
    }
  }

  test("numeric type drift across commits widens on read, never narrows") {
    val t = newTable()
    VersionedTable.commit(Seq((1, 10)).toDF("k", "v"), t)      // int, int
    // a later commit writes the same column as LONG with a value past
    // Int range: first-seen pinning would cast it DOWN — an ANSI
    // overflow crash (or silent wrap-around) — so the version's schema
    // must WIDEN and the narrow group upcast losslessly
    VersionedTable.append(Seq((2L, 5000000000L)).toDF("k", "v"), t)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val out = VersionedTable.read(spark, t)
    assert(out.schema("v").dataType == LongType)
    assert(out.orderBy("k").select("v").collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 5000000000L))
    // the indexed scan resolves the SAME widened schema (the two read
    // paths must never disagree on a version's types), and pushed
    // filters still work over the mixed-width files
    val idx = GraftScan.read(spark, t)
    assert(idx.schema("v").dataType == LongType)
    assert(idx.filter($"v" > 100L).count() == 1)
    assert(spark.read.format("graft").load(t).schema("v").dataType ==
      LongType)
    // time travel keeps the historical narrow schema
    assert(VersionedTable.read(spark, t, 0).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // an integer family meeting a float family promotes to DOUBLE
    // (float can hold no 64-bit integer exactly)
    VersionedTable.append(Seq((3.0f, 1.5f)).toDF("k", "v"), t)
    assert(VersionedTable.read(spark, t).schema("v").dataType ==
      DoubleType)
    // decimals widen to cover both ranges exactly
    val t2 = newTable()
    VersionedTable.commit(
      Seq("12.34").toDF("d").select($"d".cast("decimal(4,2)").as("d")), t2)
    VersionedTable.append(
      Seq("123456.7").toDF("d").select($"d".cast("decimal(8,1)").as("d")),
      t2)
    assert(VersionedTable.read(spark, t2).schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(9, 2))
    assert(VersionedTable.read(spark, t2).agg(sum($"d")).head()
      .getDecimal(0).toPlainString == "123469.04")
  }

  test("an append and its compaction inside ONE window stays a clean window") {
    val t = newTable()
    // v0: one file comfortably above the small-file bar, so the
    // compaction below provably folds ONLY the window's appends
    VersionedTable.commit(
      (1L to 2000L).map(i => (i, "x" * 100)).toDF("id", "pad")
        .repartition(1), t)                                          // v0
    VersionedTable.append(Seq((9001L, "a")).toDF("id", "pad"), t)    // v1
    VersionedTable.append(Seq((9002L, "b")).toDF("id", "pad"), t)    // v2
    val vc = VersionedTable.compactSmallFiles(spark, t,
      targetFileBytes = 16 * 1024, minFileBytes = 8 * 1024)          // v3
    assert(vc == 3, "the two tiny appends must have compacted")
    // the exact maybeAutoCompact shape: the maintenance rewrite touched
    // only files ADDED in this window — the window must stay clean
    // (zero counted removals; the streaming source need not
    // ignoreChanges) and deliver exactly the appended rows via the
    // compacted file
    assert(VersionedTable.changeRemovals(spark, t, 0, vc) == 0,
      "compaction of purely window-added files must not count removals")
    val delivered = VersionedTable.changes(spark, t, 0, vc)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(delivered == Set(9001L, 9002L),
      s"the clean window must deliver the appends once: $delivered")
    // a MIXED rewrite (pre-window small + window small folded together)
    // still degrades to flagged removals — file granularity can't split
    val t2 = newTable()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "pad"), t2)      // v0 small
    VersionedTable.append(Seq((2L, "b")).toDF("id", "pad"), t2)      // v1 small
    val vc2 = VersionedTable.compactSmallFiles(spark, t2,
      targetFileBytes = 16 * 1024, minFileBytes = 8 * 1024)          // v2
    assert(vc2 == 2)
    assert(VersionedTable.changeRemovals(spark, t2, 0, vc2) > 0,
      "a mixed maintenance rewrite must keep flagging removals")
  }

  test("commit metadata is O(batch): appends write delta manifests, not the file list") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))          // v0: full manifest
    val v1 = VersionedTable.append(
      Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t, Seq("day"))
    def manifest(v: Int): Seq[String] =
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$t/_commits/v-$v")).toArray
        .map(_.toString).toSeq.filter(_.nonEmpty)
    assert(!manifest(0).head.startsWith("#delta"), "first commit is full")
    val m1 = manifest(v1)
    assert(m1.head.startsWith("#delta base=0"), s"append should be a delta: $m1")
    // the delta names ONLY the appended files — header + one '+' line per
    // new file plus O(schema) '#' metadata lines, nothing proportional
    // to the table
    val data1 = m1.tail.filterNot(_.startsWith("#"))
    assert(data1.forall(_.startsWith("+")) && data1.nonEmpty)
    val tableFiles = VersionedTable.read(spark, t, v1).inputFiles.length
    assert(m1.size - 1 < tableFiles,
      s"delta (${m1.size - 1} lines) must be smaller than the table ($tableFiles files)")
    // an upsert's delta carries the replaced partition's -/+ lines only
    val v2 = VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    val m2 = manifest(v2)
    assert(m2.head.startsWith(s"#delta base=$v1"))
    assert(m2.tail.exists(_.startsWith("-")) && m2.tail.exists(_.startsWith("+")))
    assert(m2.tail.forall(l => !l.contains("day=mon") && !l.contains("day=wed")),
      s"untouched partitions must not appear in the delta: $m2")
    // resolution through the chain still replays exact snapshots
    assert(rows(VersionedTable.read(spark, t, 0)) == rows(base))
    assert(rows(VersionedTable.read(spark, t, v2)) ==
      rows(base.filter($"day" =!= "tue")) +
        ((6L, "thu", 60.0)) + ((3L, "tue", 300.0)))
  }

  test("a checkpoint sidecar bounds the delta chain; long ladders stay readable") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // 12 consecutive delta commits force a checkpoint (interval 10)
    (1 to 12).foreach { i =>
      VersionedTable.append(
        Seq((100L + i, "mon", i.toDouble)).toDF("id", "day", "value"),
        t, Seq("day"))
    }
    val ckpts = new java.io.File(s"$t/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".checkpoint"))
    assert(ckpts.nonEmpty, "a 12-delta ladder must have checkpointed")
    val latest = VersionedTable.read(spark, t)
    assert(latest.count() == base.count() + 12)
    // time travel to a mid-chain version still replays exactly
    assert(VersionedTable.read(spark, t, 6).count() == base.count() + 6)
  }

  test("deletePartitions is a metadata-only commit; tableChanges surfaces the deletes") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    val dataFiles = { (d: String) =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    val before = dataFiles(s"$t/data")
    val v1 = VersionedTable.deletePartitions(spark, t, "day", Seq("tue"))
    assert(dataFiles(s"$t/data") == before,
      "deletePartitions must write zero data files")
    assert(rows(VersionedTable.read(spark, t, v1)) ==
      rows(base.filter($"day" =!= "tue")))
    // the pre-delete snapshot still reads the dropped rows
    assert(rows(VersionedTable.read(spark, t, 0)) == rows(base))
    assert(VersionedTable.history(spark, t).orderBy("version")
      .collect().map(_.getString(1)).toSeq == Seq("commit", "delete"))
    // CDC: the delete window surfaces the dropped rows tagged delete
    val cdc = VersionedTable.tableChanges(spark, t, 0, v1)
      .select("id", "day", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(cdc == Set((3L, "tue", 30.0, "delete"), (4L, "tue", 40.0, "delete")))
  }

  test("tableChanges tags an upsert window as delete(old) + insert(new)") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")   // v1
    val cdc = VersionedTable.tableChanges(spark, t, 0)
      .select("id", "day", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(cdc == Set(
      (3L, "tue", 30.0, "delete"), (4L, "tue", 40.0, "delete"),
      (3L, "tue", 300.0, "insert")))
    // an empty window is empty, an append-only window is insert-only
    assert(VersionedTable.tableChanges(spark, t, 1, 1).isEmpty)
    VersionedTable.append(
      Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t, Seq("day"))
    val appendCdc = VersionedTable.tableChanges(spark, t, 1)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(appendCdc == Set((6L, "insert")))
  }

  test("a crashed commit's orphan data dir does not block the next writer") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    // simulate a crash: data landed in a dir but the manifest was never
    // claimed (legacy un-nonced name — the hostile case for collisions)
    assert(new java.io.File(s"$t/data/c-1/day=ghost").mkdirs())
    assert(new java.io.File(s"$t/data/c-1/day=ghost/part-0.parquet")
      .createNewFile())
    // the next writer's nonce-named dir cannot collide with the orphan,
    // and the version ladder is unaffected by it
    val v = VersionedTable.append(
      Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t, Seq("day"))
    assert(v == 1, s"orphan dirs must not perturb the version ladder (got $v)")
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((6L, "thu", 60.0)))
    // vacuum sweeps the orphan (referenced by no manifest) past grace
    VersionedTable.vacuum(spark, t, retain = 2, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$t/data/c-1").exists())
  }

  test("optimize sizes within partitions: a large partition gets multiple files") {
    val t = newTable()
    // one fat partition (900 rows), one slim (5): with a tiny byte
    // target the fat one must split across files, the slim one stay one
    val fat = (1 to 900).map(i => (i.toLong, "fat", i / 7.0))
    val slim = (1 to 5).map(i => (9000L + i, "slim", i * 1.0))
    VersionedTable.commit((fat ++ slim).toDF("id", "day", "value"),
      t, Seq("day"))
    VersionedTable.optimize(spark, t, Seq("day"), targetFileBytes = 4096)
    val latest = VersionedTable.read(spark, t)
    val byPart = latest.inputFiles.groupBy(f =>
      if (f.contains("day=fat")) "fat" else "slim")
    assert(byPart("fat").length > 1,
      s"fat partition should split: ${byPart.view.mapValues(_.length).toMap}")
    assert(rows(latest) == (fat ++ slim).toSet, "optimize must not change data")
  }

  test("merge rewrites only the files containing matched keys") {
    val t = newTable()
    // key-clustered files so the touched-file plan can prune: 4 range
    // files over id 0..399
    val tbl = spark.range(0, 400)
      .select(col("id"), (col("id") % 7).cast("double").as("value"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    val v0Files = VersionedTable.read(spark, t, 0).inputFiles.toSet
    assert(v0Files.size == 4)
    // two updates landing in ONE file (ids 5 and 7) plus one insert
    val patch = Seq((5L, 999.0), (7L, 777.0), (1000L, 1.0))
      .toDF("id", "value")
    val v = VersionedTable.merge(patch, t, "id")
    val got = VersionedTable.read(spark, t, v).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 401)
    assert(got(5L) == 999.0 && got(7L) == 777.0 && got(1000L) == 1.0)
    assert(got(6L) == (6 % 7).toDouble, "unmatched rows must survive")
    // file pruning: 3 of the 4 original files carry forward BY REFERENCE
    val v1Files = VersionedTable.read(spark, t, v).inputFiles.toSet
    assert((v0Files & v1Files).size == 3,
      s"expected 3 shared files, got ${(v0Files & v1Files).size}")
    assert(VersionedTable.history(spark, t).filter($"op" === "merge")
      .count() == 1)
    // the pre-merge snapshot still reads the original rows
    assert(VersionedTable.read(spark, t, 0).count() == 400)
  }

  test("merge on a partitioned table leaves untouched partitions by reference") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val v0Files = VersionedTable.read(spark, t, 0).inputFiles.toSet
    val patch = Seq((3L, "tue", 333.0), (9L, "thu", 90.0))
      .toDF("id", "day", "value")
    val v = VersionedTable.merge(patch, t, "id", Seq("day"))
    assert(rows(VersionedTable.read(spark, t, v)) ==
      rows(base.filter($"id" =!= 3L)) + ((3L, "tue", 333.0)) + ((9L, "thu", 90.0)))
    // only the file holding id=3 was rewritten; mon/wed files shared
    val v1Files = VersionedTable.read(spark, t, v).inputFiles.toSet
    assert((v0Files & v1Files).exists(_.contains("day=mon")))
    assert((v0Files & v1Files).exists(_.contains("day=wed")))
    assert(!v1Files.exists(f => v0Files.contains(f) && f.contains("day=tue")),
      "the matched file must have been rewritten")
  }

  test("deleteRows drops exactly the keyed rows, rewriting only their files") {
    val t = newTable()
    val tbl = spark.range(0, 400)
      .select(col("id"), (col("id") % 7).cast("double").as("value"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    val v0Files = VersionedTable.read(spark, t, 0).inputFiles.toSet
    val v = VersionedTable.deleteRows(
      Seq(5L, 7L).toDF("id"), t, "id")
    val got = VersionedTable.read(spark, t, v)
    assert(got.count() == 398)
    assert(got.filter($"id".isin(5L, 7L)).isEmpty)
    // only the file containing ids 5 and 7 was rewritten
    val v1Files = got.inputFiles.toSet
    assert((v0Files & v1Files).size == 3)
    // the pre-delete snapshot keeps the rows (until vacuum)
    assert(VersionedTable.read(spark, t, 0).count() == 400)
    // deleting absent keys commits nothing: version unchanged
    assert(VersionedTable.deleteRows(
      Seq(99999L).toDF("id"), t, "id") == v)
    assert(VersionedTable.versions(spark, t) == Seq(0, v))
    // CDC: the deleted rows surface tagged delete (with the rewritten
    // file's survivors as delete+insert churn, file-granular)
    val cdc = VersionedTable.tableChanges(spark, t, 0, v)
      .filter($"_change_type" === "delete" && $"id".isin(5L, 7L))
    assert(cdc.count() == 2)
  }

  test("followTableChanges replays a crashed window, then advances exactly once") {
    val t = newTable()
    val cursor = graft.Caches.newTempDir("vtable_follow_cur").toString
    VersionedTable.commit(base, t, Seq("day"))
    // processor crash: the cursor must NOT advance
    intercept[RuntimeException] {
      graft.streaming.Streams.followTableChanges(spark, t, cursor) {
        (_, _) => throw new RuntimeException("sink down")
      }
    }
    // re-poll: the same window replays (at-least-once), full snapshot
    var seen = Seq.empty[(Long, String, Double)]
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (w, v) => seen = rows(w).toSeq; assert(v == 0)
    } == 1)
    assert(seen.toSet == rows(base))
    // two commits between polls arrive as ONE window: the appended row
    // plus the replaced partition's new contents, nothing untouched
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (w, v) => seen = rows(w).toSeq; assert(v == 2)
    } == 2)
    assert(seen.toSet == Set((6L, "thu", 60.0), (3L, "tue", 300.0)))
    // idle poll: nothing consumed, processor not called
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => fail("processor must not fire on an idle poll")
    } == 0)
  }

  test("follower cursor survives every crash point: max cursor-N wins, never a snapshot replay") {
    val t = newTable()
    val cursor = graft.Caches.newTempDir("vtable_cursor_crash").toString
    VersionedTable.commit(base, t, Seq("day"))
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => () } == 1) // cursor-0 committed
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => () } == 1) // cursor-1 committed, cursor-0 swept
    // simulate a crash AFTER the new cursor's create but BEFORE the old
    // one's sweep: both files present — the follower must resume from
    // the max (1), i.e. treat the next poll as idle, not re-deliver
    // (the old delete-then-rename scheme's crash window lost the cursor
    // entirely and forced an O(table) snapshot replay)
    val fsys = new org.apache.hadoop.fs.Path(cursor)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.create(new org.apache.hadoop.fs.Path(s"$cursor/cursor-0"), true)
      .close()
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => fail("stale extra cursor file must not rewind the follower")
    } == 0)
    // and the next real window still arrives with window granularity
    VersionedTable.append(Seq((7L, "fri", 70.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    var got = Set.empty[(Long, String, Double)]
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (w, v) => got = rows(w); assert(v == 2) } == 1)
    assert(got == Set((7L, "fri", 70.0)),
      "resume must deliver only the new window, not the snapshot")
  }

  test("compactSmallFiles packs only the small files; right-sized ones carry by reference") {
    val t = newTable()
    // one big file (20k rows) committed alone, then 5 tiny appends
    val big = spark.range(0, 20000)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    VersionedTable.commit(big.repartition(1), t)
    (0 until 5).foreach { i =>
      VersionedTable.append(
        Seq((100000L + i, s"x$i")).toDF("id", "v").coalesce(1), t)
    }
    val before = VersionedTable.read(spark, t)
    val beforeRows = before.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val beforeFiles = before.inputFiles.toSet
    assert(beforeFiles.size == 6)
    val bigFile = beforeFiles.find(_.contains(s"/${dataDir(t, 0)}/")).get
    val v = VersionedTable.compactSmallFiles(spark, t,
      targetFileBytes = 64 * 1024)
    val after = VersionedTable.read(spark, t, v)
    assert(after.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == beforeRows, "compaction must not change the data")
    val afterFiles = after.inputFiles.toSet
    assert(afterFiles.contains(bigFile),
      "the right-sized file must carry forward by reference")
    assert(afterFiles.size < beforeFiles.size,
      s"small files should pack: ${beforeFiles.size} -> ${afterFiles.size}")
    assert(VersionedTable.history(spark, t).filter($"op" === "compact")
      .count() == 1)
    // idempotent: nothing left to pack -> no new version
    assert(VersionedTable.compactSmallFiles(spark, t,
      targetFileBytes = 64 * 1024) == v)
  }

  test("randomized merge/delete/append sequences equal an id-keyed model") {
    val days = Vector("mon", "tue", "wed")
    for (seed <- Seq(11L, 42L)) {
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      def fresh(n: Int): Seq[(Long, String, Double)] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, days(rnd.nextInt(days.size)), rnd.nextInt(1000) / 10.0)
        }
      val t = newTable()
      val model = scala.collection.mutable.Map.empty[Long, (Long, String, Double)]
      fresh(6).foreach(r => model(r._1) = r)
      VersionedTable.commit(model.values.toSeq.toDF("id", "day", "value"),
        t, Seq("day"))
      for (step <- 0 until 6) {
        rnd.nextInt(3) match {
          case 0 => // merge: update up to 2 existing ids + 1 insert
            val updates = rnd.shuffle(model.keys.toSeq).take(2)
              .map(id => (id, model(id)._2, 1000.0 + rnd.nextInt(100)))
            val inserts = fresh(1)
            (updates ++ inserts).foreach(r => model(r._1) = r)
            VersionedTable.merge(
              (updates ++ inserts).toDF("id", "day", "value"),
              t, "id", Seq("day"))
          case 1 => // delete up to 2 existing ids
            val victims = rnd.shuffle(model.keys.toSeq).take(2)
            victims.foreach(model.remove)
            VersionedTable.deleteRows(victims.toDF("id"), t, "id",
              Seq("day"))
          case _ => // append fresh ids
            val added = fresh(1 + rnd.nextInt(2))
            added.foreach(r => model(r._1) = r)
            VersionedTable.append(added.toDF("id", "day", "value"), t,
              Seq("day"))
        }
        assert(rows(VersionedTable.read(spark, t)) == model.values.toSet,
          s"diverged at seed $seed step $step")
      }
    }
  }

  test("empty-table edges: merge inserts into a zero-file version; follower skips fileless windows") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val cursor = graft.Caches.newTempDir("vtable_edge_cur").toString
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => () } == 1)
    // drop EVERY partition: the current version has zero files
    VersionedTable.deletePartitions(spark, t, "day",
      Seq("mon", "tue", "wed"))
    assert(VersionedTable.read(spark, t).columns.isEmpty) // schemaless empty
    // the follower advances past the pure-delete window without firing
    assert(graft.streaming.Streams.followTableChanges(spark, t, cursor) {
      (_, _) => fail("fileless window must not reach the processor")
    } == 1)
    // merge into the empty version: every row is an insert
    val v = VersionedTable.merge(
      Seq((42L, "thu", 4.2)).toDF("id", "day", "value"), t, "id",
      Seq("day"))
    assert(rows(VersionedTable.read(spark, t, v)) == Set((42L, "thu", 4.2)))
    // deleteRows against an empty-keyed table is a no-op commit-wise
    val v2 = VersionedTable.deleteRows(Seq(7L).toDF("id"), t, "id",
      Seq("day"))
    assert(v2 == v)
  }

  test("readWhere file-skips through commit stats sidecars, exactly") {
    val t = newTable()
    val tbl = spark.range(0, 400)
      .select(col("id"), concat(lit("k"), format_string("%05d", col("id")))
        .as("name"), (col("id") % 7).cast("double").as("value"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    assert(new java.io.File(s"$t/_commits/${dataDir(t, 0)}.stats").exists(),
      "commit should harvest a stats sidecar")
    // numeric skip: a 10-wide id band lives in ONE of the 4 range files
    val q = VersionedTable.readWhere(spark, t, "id", 110L, 119L)
    assert(q.inputFiles.length == 1,
      s"expected 1 file after skipping, got ${q.inputFiles.length}")
    assert(q.collect().map(_.getLong(0)).toSet == (110L to 119L).toSet)
    // string skip works off the same sidecar (name is id-ordered)
    val qs = VersionedTable.readWhere(spark, t, "name", "k00110", "k00119")
    assert(qs.inputFiles.length == 1)
    assert(qs.count() == 10)
    // half-open bounds
    assert(VersionedTable.readWhere(spark, t, "id", 390L, null)
      .collect().map(_.getLong(0)).toSet == (390L to 399L).toSet)
    // no sidecar (legacy commit): correct, just unskipped
    assert(new java.io.File(s"$t/_commits/${dataDir(t, 0)}.stats").delete())
    val legacy = VersionedTable.readWhere(spark, t, "id", 110L, 119L)
    assert(legacy.inputFiles.length == 4, "missing stats must read all files")
    assert(legacy.count() == 10)
    // backfill: collectStats re-harvests the missing sidecar and
    // skipping resumes; a second call is a no-op
    assert(VersionedTable.collectStats(spark, t) == 1)
    assert(VersionedTable.readWhere(spark, t, "id", 110L, 119L)
      .inputFiles.length == 1)
    assert(VersionedTable.collectStats(spark, t) == 0)
    // multi-column bounds intersect skip sets and filters compose:
    // the id band admits one file, the name band CONTRADICTS it
    val both = VersionedTable.readWhereAll(spark, t,
      Seq(("id", 110L, 119L), ("name", "k00300", "k00310")))
    assert(both.inputFiles.isEmpty || both.isEmpty)
    // every file skipped: the empty answer keeps the read's columns, so
    // a later select resolves, and no file is opened. readEquals(Any)
    // (a key past every file's range) and readWhereNull (a column with
    // no nulls) return the same shape
    val full = VersionedTable.read(spark, t).schema
    Seq(both, VersionedTable.readEquals(spark, t, "id", 10000L),
        VersionedTable.readWhereNull(spark, t, "id")).foreach { df =>
      assert(df.schema == full)
      assert(df.inputFiles.isEmpty)
      assert(df.select("id").collect().isEmpty)
    }
    assert(VersionedTable.readWhereAll(spark, t,
      Seq(("id", 110L, 119L), ("name", "k00110", "k00115")))
      .count() == 6)
  }

  test("replaceWhere vs concurrent writers: removed touched file replans; blind append rebases") {
    // CONFLICT: a racing OPTIMIZE rewrites (removes) the file the
    // replace planned to touch — the claim must detect it, replan from
    // the new base, and still land the swap exactly once
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)              // v0
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()           // one shot
      VersionedTable.optimize(spark, t): Unit                  // v1
    }
    try {
      val v = VersionedTable.replaceWhere(
        Seq((10L, "mon", 1.0)).toDF("id", "day", "value"), t,
        "day = 'mon'")
      assert(v == 2, s"replace should commit after the racing optimize (got $v)")
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    assert(rows(VersionedTable.read(spark, t)) == Set(
      (10L, "mon", 1.0), (3L, "tue", 30.0), (4L, "tue", 40.0),
      (5L, "wed", 50.0)))

    // REBASE: a racing blind append never conflicts (its rows were not
    // read) — the WriteSerializable contract shared with deleteWhere:
    // the raced-in row survives beside the swap, even if it matches
    val t2 = newTable()
    VersionedTable.commit(base.repartition(1), t2)             // v0
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()
      VersionedTable.append(
        Seq((99L, "mon", 9.0)).toDF("id", "day", "value").coalesce(1),
        t2): Unit                                              // v1
    }
    try {
      assert(VersionedTable.replaceWhere(
        Seq((10L, "mon", 1.0)).toDF("id", "day", "value"), t2,
        "day = 'mon'") == 2)
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    val ids = VersionedTable.read(spark, t2).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(10L, 99L, 3L, 4L, 5L),
      s"the blind append's row must survive the rebase, got $ids")
  }

  test("mergeClauses: sync-to-empty and conditional BY SOURCE through the Scala API") {
    import VersionedTable._
    // sync-to-empty: an EMPTY source with an unconditional BY SOURCE
    // DELETE must process EVERY target row (the empty-source no-op
    // shortcut only applies when no BY SOURCE clause exists)
    val t = newTable()
    VersionedTable.commit(base, t)
    val v = VersionedTable.mergeClauses(base.limit(0), t, "id",
      notMatched = Seq(MergeInsert(None, None)),
      bySource = Seq(BySourceDelete(None)))
    assert(v == 1)
    assert(VersionedTable.read(spark, t).count() == 0)
    // conditional BY SOURCE UPDATE with bare-name condition/value: the
    // engine qualifies them onto the merge join's t alias
    val t2 = newTable()
    VersionedTable.commit(base, t2)
    VersionedTable.mergeClauses(
      Seq((1L, "mon", 11.0)).toDF("id", "day", "value"), t2, "id",
      matched = Seq(MatchedUpdate(None, None)),
      bySource = Seq(
        BySourceUpdate(Some("day = 'wed'"), Seq("value" -> "-value")),
        BySourceDelete(Some("value >= 40"))))
    // id1 updated (matched); id5 wed → negated; id4 (40) deleted by the
    // second clause; id2, id3 carried (no clause fires)
    assert(rows(VersionedTable.read(spark, t2)) == Set(
      (1L, "mon", 11.0), (2L, "mon", 20.0), (3L, "tue", 30.0),
      (5L, "wed", -50.0)))
    // an empty source with NO by-source clause stays a version no-op
    val before = VersionedTable.versions(spark, t2).max
    assert(VersionedTable.mergeClauses(base.limit(0), t2, "id",
      matched = Seq(MatchedUpdate(None, None)),
      notMatched = Seq(MergeInsert(None, None))) == before)
  }

  test("convertToGraft adopts a FLAT parquet dir too") {
    val root = graft.Caches.newTempDir("vt_convert_flat").toString + "/lake"
    base.write.parquet(root)
    // stray non-parquet files are left exactly where they are
    val junk = new java.io.File(root, "README.txt")
    java.nio.file.Files.writeString(junk.toPath, "not data")
    assert(VersionedTable.convertToGraft(spark, root) == 0)
    assert(VersionedTable.layoutPartitionCols(spark, root).isEmpty)
    assert(rows(VersionedTable.read(spark, root)) == rows(base))
    assert(junk.exists() &&
      java.nio.file.Files.readString(junk.toPath) == "not data",
      "CONVERT must leave non-parquet files untouched")
    // and the adopted flat table takes DML
    VersionedTable.deleteWhere(spark, root, Some("id = 1"))
    assert(VersionedTable.read(spark, root).count() == 4)
  }

  test("BY SOURCE touched-file discovery prunes through the indexed scan") {
    import VersionedTable._
    // 4 range files over id; the BY SOURCE condition (id >= 30) is
    // stats-boundable, so discovery must touch ONLY the top file — a
    // whole-table sweep here would be the 100 TB scale killer
    val t = newTable()
    VersionedTable.commit(
      spark.range(0, 40).select(col("id"), (col("id") * 10).as("v"))
        .repartitionByRange(4, col("id")), t)
    val v = VersionedTable.mergeClauses(
      Seq((35L, 999L)).toDF("id", "v"), t, "id",
      matched = Seq(MatchedUpdate(None, None)),
      bySource = Seq(BySourceDelete(Some("id >= 30"))))
    // survivors: 0..29 carried by reference, 35 updated; 30..34,36..39
    // by-source-deleted — ONE file rewritten (the 30..39 range file)
    val rewrote = VersionedTable.history(spark, t)
      .filter(col("version") === v).head().getLong(2)
    assert(rewrote <= 2,
      s"by-source rewrite must touch only the condition's files, wrote $rewrote")
    val got = VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ((0L until 30L).map(i => i -> i * 10).toSet + (35L -> 999L)))
  }

  test("property: mergeClauses agrees with a row-level MERGE interpreter (seeded sweep)") {
    import VersionedTable._
    // SQL condition strings paired with their closed-form evaluation —
    // first-match-wins per row is the contract under test, so the
    // interpreter walks the same ordered clause lists over plain rows
    val matchedConds: Seq[(Option[String], (Long, Long) => Boolean)] = Seq(
      (None, (_, _) => true),
      (Some("s.v > t.v"), (s, t) => s > t),
      (Some("t.v >= 50"), (_, t) => t >= 50),
      (Some("s.v % 2 = 0"), (s, _) => s % 2 == 0))
    val bareConds: Seq[(Option[String], Long => Boolean)] = Seq(
      (None, _ => true),
      (Some("v >= 50"), _ >= 50),
      (Some("v % 3 = 0"), _ % 3 == 0))
    val insConds: Seq[(Option[String], Long => Boolean)] = Seq(
      (None, _ => true),
      (Some("s.v < 50"), _ < 50))
    (0 until 12).foreach { iter =>
      val rnd = new scala.util.Random(4200 + iter)
      val tgt = (0L until 10L).map(i => i -> rnd.nextInt(100).toLong)
      val src = rnd.shuffle((0L until 15L).toVector).take(6)
        .map(i => i -> rnd.nextInt(100).toLong).sortBy(_._1)
      val matched: Seq[(MergeMatched, (Long, Long) => Boolean,
          Option[(Long, Long) => Long])] =
        Seq.fill(rnd.nextInt(3)) {
          val (c, eval) = matchedConds(rnd.nextInt(matchedConds.size))
          rnd.nextInt(3) match {
            case 0 => (MatchedDelete(c), eval, None)
            case 1 => (MatchedUpdate(c, Some(Seq("v" -> "s.v + t.v"))),
              eval, Some((s: Long, t: Long) => s + t))
            case _ => (MatchedUpdate(c, None), eval, // UPDATE SET *
              Some((s: Long, _: Long) => s))
          }
        }
      val bySource: Seq[(MergeBySource, Long => Boolean, Option[Long => Long])] =
        Seq.fill(rnd.nextInt(3)) {
          val (c, eval) = bareConds(rnd.nextInt(bareConds.size))
          if (rnd.nextBoolean()) (BySourceDelete(c), eval, None)
          else (BySourceUpdate(c, Seq("v" -> "v + 1000")), eval,
            Some((t: Long) => t + 1000))
        }
      val notMatched: Seq[(MergeInsert, Long => Boolean, Long => Long)] =
        Seq.fill(rnd.nextInt(3)) {
          val (c, eval) = insConds(rnd.nextInt(insConds.size))
          if (rnd.nextBoolean()) (MergeInsert(c, None), eval,
            (s: Long) => s)
          else (MergeInsert(c,
            Some(Seq("id" -> "s.id", "v" -> "s.v * 2"))), eval,
            (s: Long) => s * 2)
        }
      // row-level interpreter
      val srcMap = src.toMap
      val expected = scala.collection.mutable.Set[(Long, Long)]()
      tgt.foreach { case (id, tv) =>
        srcMap.get(id) match {
          case Some(sv) =>
            matched.find(_._2(sv, tv)) match {
              case Some((_, _, None)) => ()               // DELETE
              case Some((_, _, Some(f))) => expected += id -> f(sv, tv)
              case None => expected += id -> tv           // carried
            }
          case None =>
            bySource.find(_._2(tv)) match {
              case Some((_, _, None)) => ()               // DELETE
              case Some((_, _, Some(f))) => expected += id -> f(tv)
              case None => expected += id -> tv           // carried
            }
        }
      }
      val tgtIds = tgt.map(_._1).toSet
      src.filterNot(s => tgtIds(s._1)).foreach { case (id, sv) =>
        notMatched.find(_._2(sv)).foreach { case (_, _, f) =>
          expected += id -> f(sv)
        }
      }
      // engine
      val t = newTable()
      VersionedTable.commit(tgt.toDF("id", "v").repartition(3), t)
      VersionedTable.mergeClauses(src.toDF("id", "v"), t, "id",
        matched = matched.map(_._1), notMatched = notMatched.map(_._1),
        bySource = bySource.map(_._1))
      val got = VersionedTable.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected.toSet,
        s"iter $iter diverged:\n  matched=${matched.map(_._1)}\n  " +
          s"bySource=${bySource.map(_._1)}\n  " +
          s"notMatched=${notMatched.map(_._1)}\n  src=$src\n  tgt=$tgt\n" +
          s"  got ${got.toSeq.sorted}\n  want ${expected.toSeq.sorted}")
    }
  }

  test("mergeWhen: delete/update/keep clauses, partial columns, slim inserts, file pruning") {
    val t = newTable()
    // 4 range files; v marks rows so partial update is observable
    val tbl = spark.range(0, 40).select(col("id"),
      (col("id") * 10).as("score"), concat(lit("k"), col("id")).as("tag"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    val v0Files = VersionedTable.read(spark, t, 0).inputFiles.toSet
    // slim source: key + score only (tag must survive updates untouched,
    // inserts get tag = null)
    val src = Seq((2L, 150L), (5L, 10L), (7L, -1L), (100L, 999L))
      .toDF("id", "score")
    val v = VersionedTable.mergeWhen(src, t, "id",
      updateWhen = Some("s.score > t.score"),  // fires for id=2 (150>20)
      updateCols = Some(Seq("score")),
      deleteWhen = Some("s.score < 0"))        // fires for id=7
    val got = VersionedTable.read(spark, t, v)
    assert(got.count() == 40) // 40 - 1 deleted + 1 inserted
    def row(id: Long) = got.filter(col("id") === id)
      .select("score", "tag").collect().map(r =>
        (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(row(2L) == Seq((150L, Some("k2"))), "update keeps other columns")
    assert(row(5L) == Seq((50L, Some("k5"))), "condition false: row untouched")
    assert(row(7L).isEmpty, "delete clause removes the row")
    assert(row(100L) == Seq((999L, None)), "insert fills missing columns null")
    // file pruning: keys 2,5,7 live in file 1 of 4; only it rewrites
    assert((v0Files & got.inputFiles.toSet).size == 3,
      "untouched files must carry forward by reference")
    // insert=false on an unmatched-only source is a version no-op
    assert(VersionedTable.mergeWhen(Seq((555L, 1L)).toDF("id", "score"),
      t, "id", insert = false) == v)
  }

  test("readEquals point-lookup prunes through parquet bloom filters") {
    val t = newTable()
    // 4 HASH-partitioned files: every file's id range spans the domain,
    // so zone maps prune nothing — only the bloom filters can
    val tbl = spark.range(0, 4000)
      .select(col("id"), concat(lit("u"), col("id")).as("name"))
    VersionedTable.commit(tbl.repartition(4), t,
      writerOptions = VersionedTable.bloomOptions(Seq("id", "name"), 2000L))
    val all = VersionedTable.read(spark, t).inputFiles.length
    assert(all == 4)
    // range skip alone keeps everything (overlapping ranges)
    assert(VersionedTable.readWhere(spark, t, "id", 1234L, 1234L)
      .inputFiles.length == 4)
    val hit = VersionedTable.readEquals(spark, t, "id", 1234L)
    assert(hit.inputFiles.length < 4,
      s"bloom probe should prune hash files, read ${hit.inputFiles.length}")
    assert(hit.count() == 1)
    // string column probes the same way
    val hitS = VersionedTable.readEquals(spark, t, "name", "u77")
    assert(hitS.inputFiles.length < 4 && hitS.count() == 1)
    // absent value: provably nowhere (modulo false positives), 0 rows
    assert(VersionedTable.readEquals(spark, t, "id", 999999L).count() == 0)
    // a table written WITHOUT bloom filters keeps every candidate
    val t2 = newTable()
    VersionedTable.commit(tbl.repartition(4), t2)
    assert(VersionedTable.readEquals(spark, t2, "id", 1234L)
      .inputFiles.length == 4, "no filter = no proof of absence")
    // batch point-lookup: k keys in ONE footer pass per file — result
    // equals the brute filter, and a pure-miss batch reads nothing
    val keys = Seq(7L, 1234L, 2222L)
    val batch = VersionedTable.readEqualsAny(spark, t, "id", keys)
    assert(batch.select("id").collect().map(_.getLong(0)).toSet ==
      keys.toSet)
    assert(VersionedTable.readEqualsAny(spark, t, "id",
      Seq(888888L, 999999L)).count() == 0)
  }

  test("readWhere skips on typed stats: Date and Timestamp bounds prune files") {
    val t = newTable()
    // 4 range files over 40 consecutive days; timestamps written as
    // int64 micros (INT96, Spark's default, carries no usable stats)
    val old = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val tbl = spark.range(0, 40).select(
        col("id"),
        expr("date_add(date'2024-01-01', cast(id as int))").as("day"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,cast(id as int),0,0,0)").as("ts"))
      VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    } finally {
      old match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
    // Date bound: a 5-day band lives in ONE of the 4 range files (this
    // silently never skipped before date-typed stats: the epoch-day
    // stats could not compare against a Date bound)
    val q = VersionedTable.readWhere(spark, t, "day",
      java.sql.Date.valueOf("2024-01-11"), java.sql.Date.valueOf("2024-01-15"))
    assert(q.inputFiles.length == 1,
      s"Date-bounded readWhere should skip to 1 file, got ${q.inputFiles.length}")
    assert(q.count() == 5)
    // LocalDate and ISO-string bounds coerce the same way
    assert(VersionedTable.readWhere(spark, t, "day",
      java.time.LocalDate.parse("2024-01-11"), "2024-01-15")
      .inputFiles.length == 1)
    // Timestamp bound: same band through the timestamp column
    val qt = VersionedTable.readWhere(spark, t, "ts",
      java.sql.Timestamp.valueOf("2024-01-11 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    assert(qt.inputFiles.length == 1,
      s"Timestamp-bounded readWhere should skip to 1 file, got ${qt.inputFiles.length}")
    assert(qt.count() == 5)
  }

  test("readWhereNull skips files whose stats prove zero nulls") {
    val t = newTable()
    // file A: no nulls in v; file B: 3 of 10 null
    val a = spark.range(0, 10)
      .select(col("id"), concat(lit("x"), col("id")).as("v"))
    val b = spark.range(100, 110)
      .select(col("id"),
        when(col("id") % 3 === 0, lit(null)).otherwise(lit("y")).as("v"))
    VersionedTable.commit(a.coalesce(1), t)
    VersionedTable.append(b.coalesce(1), t)
    val q = VersionedTable.readWhereNull(spark, t, "v")
    assert(q.inputFiles.length == 1,
      s"IS NULL should read only the null-bearing file, got ${q.inputFiles.length}")
    assert(q.count() == 3) // ids 102, 105, 108
  }

  test("compactSmallFiles on a partitioned table packs within partitions") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    (0 until 4).foreach { i =>
      VersionedTable.append(
        Seq((200L + i, "mon", i.toDouble)).toDF("id", "day", "value"),
        t, Seq("day"))
    }
    val before = rows(VersionedTable.read(spark, t))
    val wedFiles = VersionedTable.read(spark, t).inputFiles
      .filter(_.contains("day=wed")).toSet
    val v = VersionedTable.compactSmallFiles(spark, t, Seq("day"),
      targetFileBytes = 1024 * 1024)
    val after = VersionedTable.read(spark, t, v)
    assert(rows(after) == before, "packing must not change the data")
    // mon's five small files merged; wed (one small file alone in its
    // group after mon/tue pack... it had a single file) untouched — a
    // single-file group has nothing to merge
    val monAfter = after.inputFiles.filter(_.contains("day=mon"))
    assert(monAfter.length < 5,
      s"mon should pack: ${monAfter.length} files")
    assert(after.inputFiles.filter(_.contains("day=wed")).toSet == wedFiles,
      "a single-file partition must carry forward by reference")
  }

  test("followTableChanges withChangeTypes delivers deletes, no reconcile pass") {
    val t = newTable()
    val cursor = graft.Caches.newTempDir("vtable_cdc_cur").toString
    VersionedTable.commit(base, t, Seq("day"))
    def cdcRows(df: DataFrame): Set[(Long, String)] =
      df.select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    var seen = Set.empty[(Long, String)]
    // initial snapshot arrives insert-tagged
    graft.streaming.Streams.followTableChanges(spark, t, cursor,
      withChangeTypes = true) { (w, _) => seen = cdcRows(w) }
    assert(seen == base.collect().map(r => (r.getLong(0), "insert")).toSet)
    // an upsert + a partition delete arrive as delete(old) + insert(new)
    VersionedTable.upsertPartitions(
      Seq((3L, "tue", 300.0)).toDF("id", "day", "value"), t, "day")
    VersionedTable.deletePartitions(spark, t, "day", Seq("wed"))
    graft.streaming.Streams.followTableChanges(spark, t, cursor,
      withChangeTypes = true) { (w, _) => seen = cdcRows(w) }
    assert(seen == Set((3L, "delete"), (4L, "delete"), (3L, "insert"),
      (5L, "delete")))
  }

  test("restore rolls the head back as a new version; history stays readable") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.merge(Seq((1L, "mon", 999.0), (6L, "thu", 60.0))
      .toDF("id", "day", "value"), t, "id", Seq("day"))              // v1
    VersionedTable.deleteRows(Seq(Tuple1(2L)).toDF("id"), t, "id",
      Seq("day"))                                                    // v2
    val v3 = VersionedTable.restore(spark, t, 0)
    assert(v3 == 3)
    // head equals v0 exactly; the bad versions stay time-travelable
    assert(rows(VersionedTable.read(spark, t)) == rows(base))
    assert(rows(VersionedTable.read(spark, t, 2)) ==
      rows(base) - ((1L, "mon", 10.0)) - ((2L, "mon", 20.0)) +
        ((1L, "mon", 999.0)) + ((6L, "thu", 60.0)))
    // restore is metadata-only: no new data dir appeared for v3
    val dirs = new java.io.File(s"$t/data").listFiles().count(_.isDirectory)
    assert(dirs == 3, s"restore must write no data dir, found $dirs")
    // history names it; CDC sees an ordinary window, not a cursor break
    val ops = VersionedTable.history(spark, t).select("op").collect()
      .map(_.getString(0)).toSeq
    assert(ops.last == "restore")
    val win = VersionedTable.tableChanges(spark, t, 2, 3)
    val tagged = win.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tagged.contains((2L, "insert")), s"rolled-forward row: $tagged")
    // a later append builds on the restored state
    VersionedTable.append(Seq((7L, "fri", 70.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((7L, "fri", 70.0)))
  }

  test("restore replans when a commit races it, never half-applies") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))                                                 // v1
    // inject a concurrent append between restore's plan and its claim
    var fired = false
    VersionedTable.betweenPlanAndCommit = () => {
      if (!fired) {
        fired = true
        VersionedTable.append(
          Seq((7L, "fri", 70.0)).toDF("id", "day", "value"), t, Seq("day"))
      }
    }
    try {
      val v = VersionedTable.restore(spark, t, 0)
      // the racing append became v2; the replanned restore is v3 and
      // rolls BOTH later commits back — state is exactly v0
      assert(v == 3, s"restore should replan past the racing append, got $v")
      assert(rows(VersionedTable.read(spark, t)) == rows(base))
    } finally VersionedTable.betweenPlanAndCommit = () => ()
  }

  test("restore beyond the vacuum retention window fails loud") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((10L + i, "thu", i * 1.0)).toDF("id", "day", "value"),
      t, Seq("day")))                                                // v1-v3
    VersionedTable.vacuum(spark, t, retain = 2, retainAtLeastMs = 0L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, t, 0)
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("readAsOf resolves the latest commit at-or-before the timestamp") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    Thread.sleep(15)
    val betweenV0andV1 = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))                                                 // v1
    Thread.sleep(15)
    val afterV1 = System.currentTimeMillis()
    assert(VersionedTable.versionAt(spark, t, betweenV0andV1) == 0)
    assert(VersionedTable.versionAt(spark, t, afterV1) == 1)
    assert(rows(VersionedTable.readAsOf(spark, t, betweenV0andV1)) ==
      rows(base))
    assert(VersionedTable.readAsOf(spark, t, afterV1).count() == 6)
    // before the table existed: loud error, not an empty frame
    val e = intercept[IllegalArgumentException] {
      VersionedTable.versionAt(spark, t, 1L)
    }
    assert(e.getMessage.contains("no commit at-or-before"))
  }

  test("merge schema drift fails loud; evolveSchema opts into evolution") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val drifted = Seq((1L, "mon", 11.0, "gold"))
      .toDF("id", "day", "value", "tier")
    // default: the typo'd/new column is an error naming the column
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(drifted, t, "id", Seq("day"))
    }
    assert(e.getMessage.contains("tier") &&
      e.getMessage.contains("evolveSchema"))
    // a pure-insert drifted batch (no key matches) is gated too
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.merge(
        Seq((99L, "thu", 1.0, "x")).toDF("id", "day", "value", "tier"),
        t, "id", Seq("day"))
    }
    assert(e2.getMessage.contains("tier"))
    // opted in: the column evolves — matched row carries it, old rows null
    VersionedTable.merge(drifted, t, "id", Seq("day"), evolveSchema = true)
    val got = VersionedTable.read(spark, t)
      .select("id", "value", "tier").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got == Set((1L, 11.0, Some("gold")), (2L, 20.0, None),
      (3L, 30.0, None), (4L, 40.0, None), (5L, 50.0, None)))
    // time travel keeps the pre-evolution schema
    assert(!VersionedTable.read(spark, t, 0).columns.contains("tier"))
  }

  test("mergeWhen evolveSchema: a new source column updates matched rows only") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val src = Seq((1L, "gold"), (3L, "silver"), (6L, "new"))
      .toDF("id", "tier")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeWhen(src, t, "id", partitionCols = Seq("day"))
    }
    assert(e.getMessage.contains("tier"))
    VersionedTable.mergeWhen(src, t, "id", partitionCols = Seq("day"),
      insert = false, evolveSchema = true)
    val got = VersionedTable.read(spark, t)
      .select("id", "value", "tier").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got == Set((1L, 10.0, Some("gold")), (2L, 20.0, None),
      (3L, 30.0, Some("silver")), (4L, 40.0, None), (5L, 50.0, None)))
  }

  test("CHECK constraints: violating commits abort pre-claim, table untouched") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.setConstraint(spark, t, "positive_value", "value > 0")
    // clean append passes
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    // violating append aborts: no new version, no orphan data dir kept
    val before = VersionedTable.versions(spark, t)
    val dirsBefore =
      new java.io.File(s"$t/data").listFiles().count(_.isDirectory)
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.append(
        Seq((7L, "fri", -1.0), (8L, "fri", 80.0)).toDF("id", "day", "value"),
        t, Seq("day"))
    }
    assert(e.getMessage.contains("positive_value") &&
      e.getMessage.contains("1 row(s)"))
    assert(VersionedTable.versions(spark, t) == before)
    assert(new java.io.File(s"$t/data").listFiles().count(_.isDirectory)
      == dirsBefore, "aborted commit must drop its orphan data dir")
    // merge is gated too; NULL evaluations PASS (SQL CHECK semantics)
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.merge(Seq((1L, "mon", -5.0)).toDF("id", "day", "value"),
        t, "id", Seq("day"))
    }
    VersionedTable.merge(
      Seq((1L, "mon", null.asInstanceOf[java.lang.Double]))
        .toDF("id", "day", "value"), t, "id", Seq("day"))
    // drop re-allows
    VersionedTable.dropConstraint(spark, t, "positive_value")
    VersionedTable.append(Seq((9L, "sat", -9.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    assert(VersionedTable.read(spark, t).where(col("value") < 0).count() == 1)
  }

  test("setConstraint validates existing rows; splitByConstraints quarantines") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.setConstraint(spark, t, "small", "value < 30")
    }
    assert(e.getMessage.contains("existing row(s)"))
    assert(VersionedTable.constraints(spark, t).isEmpty)
    VersionedTable.setConstraint(spark, t, "positive_value", "value > 0")
    VersionedTable.setConstraint(spark, t, "known_day",
      "day IN ('mon','tue','wed','thu','fri')")
    assert(VersionedTable.constraints(spark, t).keySet ==
      Set("positive_value", "known_day"))
    // dead-letter split: clean side commits, violations carry reasons
    val batch = Seq((6L, "thu", 60.0), (7L, "xxx", -1.0), (8L, "yyy", 80.0))
      .toDF("id", "day", "value")
    val (clean, quarantined) = VersionedTable.splitByConstraints(spark, t, batch)
    VersionedTable.append(clean, t, Seq("day"))
    assert(VersionedTable.read(spark, t).count() == 6)
    val q = quarantined.select("id", "_violated").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toMap
    assert(q == Map(7L -> Set("positive_value", "known_day"),
      8L -> Set("known_day")))
  }

  test("cloneTable: byte-level fork with independent log, stats + constraints carried") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))                                                 // v1
    VersionedTable.setConstraint(spark, t, "positive_value", "value > 0")
    val c = graft.Caches.newTempDir("vtable_clone").toString + "/c"
    assert(VersionedTable.cloneTable(spark, t, c) == 0)
    assert(rows(VersionedTable.read(spark, c)) ==
      rows(VersionedTable.read(spark, t)))
    // data files moved as BYTES: same relative names and sizes
    def walk(d: java.io.File): Seq[java.io.File] =
      if (!d.exists()) Nil
      else d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    def fileSizes(root: String): Map[String, Long] =
      walk(new java.io.File(s"$root/data"))
        .filterNot(f => f.getName.startsWith(".") ||
          f.getName.startsWith("_")) // _SUCCESS markers are not data
        .map(f => (f.getAbsolutePath.stripPrefix(s"$root/data/"),
          f.length())).toMap
    assert(fileSizes(c) == fileSizes(t))
    // dir-keyed stats sidecars carried
    val srcStats = new java.io.File(s"$t/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".stats")).toSet
    val dstStats = new java.io.File(s"$c/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".stats")).toSet
    assert(srcStats.nonEmpty && dstStats == srcStats)
    // independent evolution both ways
    VersionedTable.append(Seq((7L, "fri", 70.0)).toDF("id", "day", "value"),
      c, Seq("day"))
    assert(VersionedTable.read(spark, t).count() == 6)
    assert(VersionedTable.read(spark, c).count() == 7)
    // constraints carried: the clone's quality gate is live
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.append(Seq((8L, "sat", -1.0)).toDF("id", "day", "value"),
        c, Seq("day"))
    }
    // clone at an OLDER version is that snapshot
    val c0 = graft.Caches.newTempDir("vtable_clone0").toString + "/c"
    VersionedTable.cloneTable(spark, t, c0, version = 0)
    assert(rows(VersionedTable.read(spark, c0)) == rows(base))
    // a clone refuses to land on an existing table
    intercept[IllegalArgumentException] {
      VersionedTable.cloneTable(spark, t, c0)
    }
    // ...but a CRASHED half-copy (data dir, no manifest — unreadable by
    // construction) is swept and the retry succeeds
    val c1 = graft.Caches.newTempDir("vtable_clone_crash").toString + "/c"
    new java.io.File(s"$c1/data/c-0-dead").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$c1/data/c-0-dead/part-junk.parquet"),
      "junk".getBytes("UTF-8"))
    VersionedTable.cloneTable(spark, t, c1)
    assert(rows(VersionedTable.read(spark, c1)) ==
      rows(VersionedTable.read(spark, t)))
    assert(!new java.io.File(s"$c1/data/c-0-dead").exists())
  }

  test("vacuum retainAtLeastMs keeps every version inside the wall-clock window") {
    def ageInfo(t: String, v: Int, ts: Long): Unit = {
      val f = new java.io.File(s"$t/_commits/v-$v.info")
      val s = scala.io.Source.fromFile(f, "UTF-8").mkString
      java.nio.file.Files.write(f.toPath,
        s.replaceAll("\"ts\":\\d+", s""""ts":$ts""").getBytes("UTF-8"))
      // the raw rewrite invalidates Hadoop's local checksum sidecar —
      // drop it so the aged file reads back instead of parsing as
      // unstamped (which vacuum retains conservatively)
      new java.io.File(s"$t/_commits/.v-$v.info.crc").delete()
    }
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((10L + i, "thu", i * 1.0)).toDF("id", "day", "value"),
      t, Seq("day")))                                                // v1-v3
    val old = System.currentTimeMillis() - 10_000_000L
    ageInfo(t, 0, old); ageInfo(t, 1, old)
    // count alone would keep only v3; the window keeps v2 and v3
    VersionedTable.vacuum(spark, t, retain = 1,
      retainAtLeastMs = 1_000_000L)
    assert(VersionedTable.versions(spark, t) == Seq(2, 3))
    assert(VersionedTable.read(spark, t, 2).count() == 7)
    // an UNSTAMPED version (crash-lost sidecar) is retained
    // conservatively, and its delta chain is re-pinned past the sweep
    val t2 = newTable()
    VersionedTable.commit(base, t2, Seq("day"))                      // v0
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((10L + i, "thu", i * 1.0)).toDF("id", "day", "value"),
      t2, Seq("day")))                                               // v1-v3
    ageInfo(t2, 0, old)
    new java.io.File(s"$t2/_commits/v-1.info").delete()
    VersionedTable.vacuum(spark, t2, retain = 1,
      retainAtLeastMs = 1_000_000L)
    assert(VersionedTable.versions(spark, t2) == Seq(1, 2, 3))
    assert(VersionedTable.read(spark, t2, 1).count() == 6)
  }

  test("bare vacuum defaults to 168 h retention: an older-snapshot reader survives mid-query") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.commit(Seq((9L, "sat", 90.0))
      .toDF("id", "day", "value"), t, Seq("day"))                    // v1
    VersionedTable.commit(Seq((8L, "sun", 80.0))
      .toDF("id", "day", "value"), t, Seq("day"))                    // v2
    // a reader planned on v0 BEFORE the vacuum — the long-running-job /
    // time-travel-racing-quick-commits shape the zero default would
    // break (count retention alone keeps only v1, v2)
    val v0Reader = VersionedTable.read(spark, t, 0)
    VersionedTable.vacuum(spark, t, retain = 2)                       // BARE
    assert(VersionedTable.versions(spark, t) == Seq(0, 1, 2),
      "a bare vacuum must keep every version inside the 168 h window")
    assert(rows(v0Reader) == rows(base),
      "the pre-vacuum reader must execute intact after a bare vacuum")
    // the aggressive sweep is still available — but only explicitly
    VersionedTable.vacuum(spark, t, retain = 2, retainAtLeastMs = 0L)
    assert(VersionedTable.versions(spark, t) == Seq(1, 2))
  }

  test("appendIdempotent: a replayed (appId, batchId) commits exactly once") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val b0 = Seq((10L, "thu", 1.0)).toDF("id", "day", "value")
    val b1 = Seq((11L, "thu", 2.0)).toDF("id", "day", "value")
    assert(VersionedTable.appendIdempotent(b0, t, "app-a", 0L, Seq("day")) == 1)
    assert(VersionedTable.appendIdempotent(b1, t, "app-a", 1L, Seq("day")) == 2)
    // clean replay of batch 1: skipped, version unchanged, no new rows
    assert(VersionedTable.appendIdempotent(b1, t, "app-a", 1L, Seq("day")) == 2)
    // an out-of-order lower batchId is skipped too (monotonic contract)
    assert(VersionedTable.appendIdempotent(b0, t, "app-a", 0L, Seq("day")) == 2)
    assert(VersionedTable.read(spark, t).count() == 7)
    // a DIFFERENT app's batch 1 is independent
    assert(VersionedTable.appendIdempotent(
      Seq((12L, "thu", 3.0)).toDF("id", "day", "value"),
      t, "app-b", 1L, Seq("day")) == 3)
    assert(VersionedTable.read(spark, t).count() == 8)
    // ordinary verbs interleave untouched; the guard still sees app-a's
    // marker through later commits
    VersionedTable.append(Seq((13L, "fri", 4.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    assert(VersionedTable.appendIdempotent(b1, t, "app-a", 1L, Seq("day")) == 4)
    assert(VersionedTable.read(spark, t).count() == 9)
    // no orphan data dirs linger from skipped replays
    val live = VersionedTable.read(spark, t).inputFiles.length
    val onDisk = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (!d.exists()) Nil
        else d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(s"$t/data"))
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    }
    assert(onDisk == live, s"skipped replays must not leave orphans: " +
      s"$onDisk files on disk vs $live live")
  }

  test("optimize zorderCols + readWhereAll: every clustered column skips files") {
    import spark.implicits._
    // three independent uniform columns; row-major order correlates with
    // none of them, so an unclustered layout can skip on nothing
    val r = new scala.util.Random(7)
    val df = (1 to 4000).map(i =>
      (i.toLong, r.nextInt(1000).toLong, r.nextInt(1000).toLong,
        r.nextInt(1000).toLong)).toDF("id", "a", "b", "c")
    val t = newTable()
    VersionedTable.commit(df.repartition(8), t)
    val before = VersionedTable.readWhereAll(spark, t,
      Seq(("a", 0L, 99L), ("c", 0L, 99L))).inputFiles.length
    assert(before == 8, "unclustered: selective bounds skip nothing")
    // small target bytes => enough files for per-file stats to matter
    VersionedTable.optimize(spark, t, targetFileBytes = 8L * 1024,
      zorderCols = Seq("a", "b", "c"))
    val total = VersionedTable.read(spark, t).inputFiles.length
    val q = VersionedTable.readWhereAll(spark, t,
      Seq(("a", 0L, 99L), ("c", 0L, 99L)))
    assert(q.inputFiles.length < total,
      s"z-clustered stats must skip files: ${q.inputFiles.length} of $total")
    // correctness: the pruned read equals the unpruned filter
    val want = df.where(col("a").between(0, 99) && col("c").between(0, 99))
      .select("id").collect().map(_.getLong(0)).toSet
    val got = q.where(col("a").between(0, 99) && col("c").between(0, 99))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("a constraint on a column the batch lacks passes vacuously (null passes CHECK)") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    // constraint on a column that does not exist anywhere yet: set is
    // allowed (pending evolution), commits without the column pass
    VersionedTable.setConstraint(spark, t, "short_tier", "length(tier) <= 4")
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    // once the column ARRIVES via evolution, the gate is live
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.merge(
        Seq((1L, "mon", 10.0, "platinum")).toDF("id", "day", "value", "tier"),
        t, "id", Seq("day"), evolveSchema = true)
    }
    VersionedTable.merge(
      Seq((1L, "mon", 10.0, "gold")).toDF("id", "day", "value", "tier"),
      t, "id", Seq("day"), evolveSchema = true)
    // and a LATER slim batch (no tier column) still passes vacuously
    VersionedTable.append(Seq((7L, "fri", 70.0)).toDF("id", "day", "value"),
      t, Seq("day"), evolveSchema = true)
    assert(VersionedTable.read(spark, t).count() == 7) // merge replaced id 1
    // splitByConstraints on a slim frame ignores the unevaluable check
    val (clean, bad) = VersionedTable.splitByConstraints(spark, t,
      Seq((8L, "sat", 80.0)).toDF("id", "day", "value"))
    assert(bad.count() == 0 && clean.count() == 1)
  }

  test("append schema drift fails loud; evolveSchema widens the table") {
    val t = newTable()
    VersionedTable.commit(base.drop("day"), t)               // (id, value)
    val drifted = Seq((6L, 60.0, "en")).toDF("id", "value", "lang")
    intercept[IllegalArgumentException] {
      VersionedTable.append(drifted, t)
    }
    assert(VersionedTable.versions(spark, t) == Seq(0),
      "the refused append must not commit")
    VersionedTable.append(drifted.coalesce(1), t, evolveSchema = true)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "value", "lang"),
      "first-seen-superset schema: new column last")
    assert(r.filter(col("id") === 1L).select("lang").head().isNullAt(0),
      "pre-evolution rows read the new column as null")
    assert(r.filter(col("id") === 6L).select("lang").head()
      .getString(0) == "en")
    // a SLIM batch (missing column) is drift too, and null-fills under
    // the same opt-in — including through appendIdempotent
    val slim = Seq((7L, 70.0)).toDF("id", "value")
    intercept[IllegalArgumentException] {
      VersionedTable.appendIdempotent(slim, t, "evo_app", 0L)
    }
    VersionedTable.appendIdempotent(slim.coalesce(1), t, "evo_app", 0L,
      evolveSchema = true)
    assert(VersionedTable.read(spark, t).filter(col("id") === 7L)
      .select("lang").head().isNullAt(0))
    // time travel travels the schema: v0 keeps its historical columns
    assert(VersionedTable.read(spark, t, 0).columns.toSeq ==
      Seq("id", "value"))
  }

  test("vacuum cannot sweep an in-flight commit; a swept claim fails loud") {
    // SURVIVAL CASE: a lock-free append sits between its data write and
    // its manifest claim (files on disk, no manifest referencing them)
    // while a vacuum with the DEFAULT grace runs — the files must
    // survive and the commit complete
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.betweenWriteAndClaim = () => {
      VersionedTable.betweenWriteAndClaim = () => ()                  // one shot
      VersionedTable.vacuum(spark, t, retain = 2)
    }
    try {
      val v = VersionedTable.append(
        Seq((6L, "thu", 60.0)).toDF("id", "day", "value"), t, Seq("day"))
      assert(v == 1)
    } finally VersionedTable.betweenWriteAndClaim = () => ()
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((6L, "thu", 60.0)),
      "an in-flight commit must survive a concurrent default-grace vacuum")

    // FAIL-LOUD CASE: a misconfigured vacuum (grace shorter than the
    // write-to-claim window) sweeps the unclaimed files — the claim must
    // then ABORT instead of committing a manifest naming deleted bytes
    val t2 = newTable()
    VersionedTable.commit(base, t2, Seq("day"))
    VersionedTable.betweenWriteAndClaim = () => {
      VersionedTable.betweenWriteAndClaim = () => ()
      VersionedTable.vacuum(spark, t2, retain = 2, orphanGraceMs = 0L)
    }
    try {
      val e = intercept[IllegalStateException] {
        VersionedTable.append(
          Seq((7L, "fri", 70.0)).toDF("id", "day", "value"), t2, Seq("day"))
      }
      assert(e.getMessage.contains("vanished"))
    } finally VersionedTable.betweenWriteAndClaim = () => ()
    // the table is untouched — no version references the swept files
    assert(VersionedTable.versions(spark, t2) == Seq(0))
    assert(rows(VersionedTable.read(spark, t2)) == rows(base))
  }

  test("partition verbs replan past a benign concurrent append") {
    // a concurrent append into a REPLACED partition is a real conflict
    // (rule 2) — but a declarative partition replace is cheap to replan,
    // so the verb retries internally instead of crashing the caller
    // (e.g. a streaming partition-upsert pipeline)
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                       // v0
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()                  // one shot
      VersionedTable.append(
        Seq((99L, "mon", 999.0)).toDF("id", "day", "value"), t,
        Seq("day")): Unit                                            // v1
    }
    val patch = Seq((1L, "mon", 11.0)).toDF("id", "day", "value")
    try {
      val v = VersionedTable.upsertPartitions(patch, t, "day")
      assert(v == 2, s"upsert should replan and commit after the race (got $v)")
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    // ordered AFTER the append, the replace wins: day=mon == the patch
    val mon = VersionedTable.read(spark, t).filter(col("day") === "mon")
    assert(rows(mon) == Set((1L, "mon", 11.0)),
      "the replanned replace owns the whole partition")
    assert(VersionedTable.read(spark, t).count() == 4) // mon:1 tue:2 wed:1

    // deletePartitions replans the same way
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()
      VersionedTable.append(
        Seq((98L, "tue", 1.0)).toDF("id", "day", "value"), t,
        Seq("day")): Unit
    }
    try {
      VersionedTable.deletePartitions(spark, t, "day", Seq("tue")): Unit
    } finally VersionedTable.betweenPlanAndCommit = () => ()
    assert(VersionedTable.read(spark, t)
      .filter(col("day") === "tue").count() == 0)
  }

  test("legacy version-keyed stats sidecars still skip, and vacuum keeps them") {
    val t = newTable()
    val tbl = spark.range(0, 400).select(col("id"),
      (col("id") % 7).cast("double").as("value"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)
    // rewrite the table into its PRE-UPGRADE shape: un-nonced data dir
    // c-0 with a version-keyed v-0.stats sidecar
    val dir = dataDir(t, 0)
    val stats = new java.io.File(s"$t/_commits/$dir.stats")
    val legacyStats = new java.io.File(s"$t/_commits/v-0.stats")
    val rewritten = new String(java.nio.file.Files.readAllBytes(
      stats.toPath), "UTF-8").replace(dir + "/", "c-0/")
    java.nio.file.Files.write(legacyStats.toPath, rewritten.getBytes("UTF-8"))
    assert(stats.delete())
    assert(new java.io.File(s"$t/data/$dir")
      .renameTo(new java.io.File(s"$t/data/c-0")))
    val manifest = new java.io.File(s"$t/_commits/v-0")
    val m = new String(java.nio.file.Files.readAllBytes(manifest.toPath),
      "UTF-8").replace(dir + "/", "c-0/")
    java.nio.file.Files.write(manifest.toPath, m.getBytes("UTF-8"))
    // the raw edits above bypass Hadoop's ChecksumFileSystem — drop the
    // now-stale .crc sidecars so reads don't fail on checksum mismatch
    Seq(".v-0.crc", s".$dir.stats.crc").foreach(n =>
      new java.io.File(s"$t/_commits/$n").delete())
    // the dir-keyed sidecar is gone; the version-keyed one must be
    // consulted — skipping still prunes to one range file
    val q = VersionedTable.readWhere(spark, t, "id", 110L, 119L)
    assert(q.inputFiles.length == 1,
      s"legacy v-N.stats must still skip (read ${q.inputFiles.length} files)")
    assert(q.count() == 10)
    // vacuum must NOT delete the legacy sidecar while its dir is live
    VersionedTable.append(tbl.limit(1).coalesce(1), t)
    VersionedTable.vacuum(spark, t, retain = 10, orphanGraceMs = 0L)
    assert(legacyStats.exists(),
      "vacuum must keep a legacy stats sidecar whose data dir is live")
    assert(VersionedTable.readWhere(spark, t, "id", 110L, 119L)
      .inputFiles.length <= 2)
  }

  test("readEqualsAny parses each stats sidecar once for the whole key set") {
    val t = newTable()
    val tbl = spark.range(0, 400).select(col("id"),
      (col("id") % 7).cast("double").as("value"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t,
      writerOptions = VersionedTable.bloomOptions(Seq("id"), 1000L))
    VersionedTable.append(
      spark.range(400, 500).select(col("id"),
        (col("id") % 7).cast("double").as("value"))
        .repartitionByRange(2, col("id")), t,
      writerOptions = VersionedTable.bloomOptions(Seq("id"), 1000L))
    VersionedTable.statsSidecarOpens.set(0L)
    val keys: Seq[Any] = Seq(3L, 151L, 293L, 420L, 442L, 471L)
    val q = VersionedTable.readEqualsAny(spark, t, "id", keys)
    assert(q.collect().map(_.getLong(0)).toSet ==
      Set(3L, 151L, 293L, 420L, 442L, 471L))
    // two contributing commit dirs -> exactly two sidecar parses,
    // however many keys are probed
    assert(VersionedTable.statsSidecarOpens.get() == 2L,
      s"expected 2 sidecar parses for 6 keys over 2 commit dirs, got " +
        s"${VersionedTable.statsSidecarOpens.get()}")
  }

  test("renameColumn is metadata-only; reads, writes, skipping and CDC cross it") {
    val t = newTable()
    val tbl = spark.range(0, 200)
      .select(col("id"), (col("id") % 9).cast("double").as("score"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)   // v0
    val dataBytesBefore = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$t/data")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.isFile).map(f => f.getPath -> f.lastModified()).toMap
    val v1 = VersionedTable.renameColumn(spark, t, "score", "points")
    assert(v1 == 1)
    // zero data churn: every file untouched, byte for byte
    val after = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$t/data")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.isFile).map(f => f.getPath -> f.lastModified()).toMap
    assert(after == dataBytesBefore, "rename must not touch data files")
    assert(VersionedTable.columnMapping(spark, t) ==
      Map("points" -> "score"))
    // reads speak the new name; time travel keeps the old one
    assert(VersionedTable.read(spark, t).columns.toSeq ==
      Seq("id", "points"))
    assert(VersionedTable.read(spark, t, 0).columns.toSeq ==
      Seq("id", "score"))
    // renamed-column writes translate to the physical name: merge via
    // the new name, then prove the new files' stats still skip
    VersionedTable.merge(
      Seq((5L, 99.0)).toDF("id", "points").coalesce(1), t, "id")
    assert(VersionedTable.read(spark, t).filter(col("id") === 5L)
      .select("points").head().getDouble(0) == 99.0)
    // readWhere on the RENAMED column file-skips through the physical
    // stats (old and new files alike)
    val q = VersionedTable.readWhere(spark, t, "points", 99.0, 99.0)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(5L))
    // constraints speak logical names and survive the rename
    VersionedTable.setConstraint(spark, t, "pts_cap", "points <= 100")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.append(
        Seq((900L, 101.0)).toDF("id", "points").coalesce(1), t)
    }
    // CDC across the rename window arrives in CURRENT names
    val ch = VersionedTable.changes(spark, t, 0)
    assert(ch.columns.toSeq == Seq("id", "points"))
    // a clone is born with the mapping
    val c = graft.Caches.newTempDir("vtable_rename_clone").toString + "/c"
    VersionedTable.cloneTable(spark, t, c)
    assert(VersionedTable.read(spark, c).columns.toSeq ==
      Seq("id", "points"))
    // restore to v0 restores the OLD name (schema metadata travels)
    val t2 = newTable()
    VersionedTable.commit(tbl.coalesce(1), t2)
    VersionedTable.renameColumn(spark, t2, "score", "points")
    VersionedTable.restore(spark, t2, 0)
    assert(VersionedTable.read(spark, t2).columns.toSeq ==
      Seq("id", "score"))
    // guards: renaming onto a live name, onto a retired physical name,
    // and writing the retired name all fail loud
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t, "id", "points")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t, "id", "score")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.append(
        Seq((901L, 1.0)).toDF("id", "score").coalesce(1), t,
        evolveSchema = true)
    }
    // partition columns cannot be renamed (path-encoded)
    val t3 = newTable()
    VersionedTable.commit(base, t3, Seq("day"))
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t3, "day", "dow")
    }
  }

  test("dropColumn hides storage metadata-only; re-add mints fresh physical") {
    val t = newTable()
    val tbl = spark.range(0, 100).select(col("id"),
      (col("id") % 5).cast("double").as("score"),
      concat(lit("t"), col("id")).as("tag"))
    VersionedTable.commit(tbl.repartitionByRange(4, col("id")), t)   // v0
    val v1 = VersionedTable.dropColumn(spark, t, "tag")
    assert(v1 == 1)
    assert(VersionedTable.read(spark, t).columns.toSeq ==
      Seq("id", "score"))
    assert(VersionedTable.read(spark, t, 0).columns.contains("tag"),
      "time travel keeps the dropped column")
    assert(VersionedTable.droppedColumns(spark, t) == Seq("tag"))
    // writes and merges keep working against the narrowed schema
    VersionedTable.merge(
      Seq((5L, 99.0)).toDF("id", "score").coalesce(1), t, "id")
    assert(VersionedTable.read(spark, t).filter(col("id") === 5L)
      .select("score").head().getDouble(0) == 99.0)
    // re-add 'tag' via evolution: FRESH storage — every pre-re-add row
    // reads null, never the old dropped bytes
    VersionedTable.append(
      Seq((500L, 1.0, "fresh")).toDF("id", "score", "tag").coalesce(1),
      t, evolveSchema = true)
    val r = VersionedTable.read(spark, t)
    assert(r.filter(col("id") === 500L).select("tag").head()
      .getString(0) == "fresh")
    assert(r.filter(col("id") === 3L).select("tag").head().isNullAt(0),
      "old rows must NOT resurrect the dropped bytes")
    assert(VersionedTable.columnMapping(spark, t)("tag") == "tag__2")
    // data skipping works on the re-added (minted-storage) column
    val q = VersionedTable.readWhere(spark, t, "tag", "fresh", "fresh")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(500L))
    // compaction sheds the dropped storage from rewritten files
    VersionedTable.compactSmallFiles(spark, t, targetFileBytes = 1L << 20)
    val latest = VersionedTable.read(spark, t)
    assert(latest.count() == 101)
    assert(latest.filter(col("id") === 3L).select("tag").head().isNullAt(0))
    // restore across the drop restores the old schema
    VersionedTable.restore(spark, t, 0)
    assert(VersionedTable.read(spark, t).columns.toSeq ==
      Seq("id", "score", "tag"))
    assert(VersionedTable.read(spark, t).filter(col("id") === 3L)
      .select("tag").head().getString(0) == "t3",
      "restore must bring the original column bytes back")
    // guards: last column and partition columns cannot drop
    val t2 = newTable()
    VersionedTable.commit(spark.range(3).select(col("id")), t2)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, t2, "id")
    }
    val t3 = newTable()
    VersionedTable.commit(base, t3, Seq("day"))
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, t3, "day")
    }
  }

  test("optimizePartitions packs only named partitions; racing append rebases in") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                      // v0
    VersionedTable.append(
      Seq((10L, "mon", 1.0), (11L, "tue", 2.0)).toDF("id", "day", "value"),
      t, Seq("day"))                                                // v1
    VersionedTable.append(
      Seq((12L, "mon", 3.0)).toDF("id", "day", "value"), t, Seq("day"))
    def files(day: String): Set[String] =
      VersionedTable.read(spark, t).inputFiles
        .filter(_.contains(s"/day=$day/")).toSet
    val preMon = files("mon"); val preTue = files("tue")
    assert(preMon.size == 3)
    // a concurrent append into the packed partition lands mid-optimize:
    // pure addition -> the optimize REBASES and the raced file survives
    // beside the packed ones (nothing read was invalidated)
    VersionedTable.betweenPlanAndCommit = () => {
      VersionedTable.betweenPlanAndCommit = () => ()
      VersionedTable.append(
        Seq((13L, "mon", 4.0)).toDF("id", "day", "value"), t,
        Seq("day")): Unit
    }
    try VersionedTable.optimizePartitions(spark, t, "day", Seq("mon"))
    finally VersionedTable.betweenPlanAndCommit = () => ()
    assert(files("tue") == preTue,
      "unnamed partitions must carry forward by reference")
    val monRows = VersionedTable.read(spark, t)
      .filter(col("day") === "mon").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(monRows == Set(1L, 2L, 10L, 12L, 13L),
      "packed rows + the raced append's row must all survive")
    assert(files("mon").size <= 2,
      s"mon should pack to <=2 files (packed + raced), got ${files("mon").size}")
    // packing nothing is a no-op version-wise
    val v = VersionedTable.versions(spark, t).max
    assert(VersionedTable.optimizePartitions(spark, t, "day",
      Seq("nosuchday")) == v)
  }

  test("upsertPartitions gates schema drift like append") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    val drifted = Seq((1L, "mon", 1.0, "x"))
      .toDF("id", "day", "value", "extra")
    intercept[IllegalArgumentException] {
      VersionedTable.upsertPartitions(drifted, t, "day")
    }
    VersionedTable.upsertPartitions(drifted, t, "day", evolveSchema = true)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.contains("extra"))
    assert(r.filter(col("day") === "mon").count() == 1)
    assert(r.filter(col("id") === 3L).select("extra").head().isNullAt(0))
  }

  test("unpartitioned tables version the same way") {
    val t = newTable()
    VersionedTable.commit(base.drop("day"), t)
    VersionedTable.append(Seq((6L, 60.0)).toDF("id", "value"), t)
    val all = VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(all == Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0),
      (5L, 50.0), (6L, 60.0)))
    assert(VersionedTable.read(spark, t, 0).count() == 5)
  }

  /** Run `body` with the merge/delete key-probe gates set, restoring the
    * defaults after.
    */
  private def withProbeGates[T](bytes: Long = VersionedTable.mergeInListBytes,
                                keys: Int = VersionedTable.mergeInListKeys)(
      body: => T): T = {
    val (b0, k0) = (VersionedTable.mergeInListBytes,
      VersionedTable.mergeInListKeys)
    VersionedTable.mergeInListBytes = bytes
    VersionedTable.mergeInListKeys = keys
    try body finally {
      VersionedTable.mergeInListBytes = b0
      VersionedTable.mergeInListKeys = k0
    }
  }

  test("merge/delete key probe: in-list fold and join fallback agree") {
    // the r20 small-batch probe collects the batch keys and filters the
    // key scan + survivors with an IN list; above the floor (or for
    // non-atomic key types) the pre-r20 semi/anti joins run. Same
    // sequence under both paths must land the same table, including
    // null batch keys (pure inserts under both shapes) and rows in
    // untouched files.
    def run(): (Set[(java.lang.Long, String)], Long) = {
      val t = newTable()
      VersionedTable.commit(spark.range(0, 50)
        .select(col("id"), lit("a").as("v")).repartition(1), t)
      VersionedTable.append(spark.range(50, 100)
        .select(col("id"), lit("b").as("v")).repartition(1), t): Unit
      // touches only the first file; one null-keyed pure-insert row
      val batch = Seq[(java.lang.Long, String)](
        (10L, "m1"), (11L, "m2"), (null, "ins")).toDF("id", "v")
      VersionedTable.merge(batch, t, "id")
      // delete keys straddling both files, plus a miss
      VersionedTable.deleteRows(
        Seq(5L, 55L, 1000L).toDF("id"), t, "id")
      val got = VersionedTable.read(spark, t).collect()
        .map(r => (if (r.isNullAt(0)) null
                   else java.lang.Long.valueOf(r.getLong(0)),
          r.getString(1))).toSet
      (got, VersionedTable.read(spark, t).count())
    }
    val inList = run() // default floor: tiny batches take the IN path
    val joined = withProbeGates(bytes = 0)(run()) // every batch joins
    assert(inList == joined,
      s"probe paths disagree: in-list=$inList join=$joined")
    assert(inList._2 == 99L) // 100 rows + 1 insert - 2 deletes
    assert(inList._1.contains((java.lang.Long.valueOf(10L), "m1")))
    assert(inList._1.contains((null, "ins")))
    assert(!inList._1.exists(_._1 == java.lang.Long.valueOf(55L)))
  }

  test("merge/delete key probe: string keys land the same table on both paths") {
    def run(): Set[(String, String)] = {
      val t = newTable()
      VersionedTable.commit(spark.range(0, 50)
        .select(format_string("k%03d", col("id")).as("id"), lit("a").as("v"))
        .repartition(1), t)
      VersionedTable.append(spark.range(50, 100)
        .select(format_string("k%03d", col("id")).as("id"), lit("b").as("v"))
        .repartition(1), t): Unit
      val batch = Seq[(String, String)](
        ("k010", "m1"), ("k011", "m2"), (null, "ins"), ("new", "n"))
        .toDF("id", "v")
      VersionedTable.merge(batch, t, "id")
      VersionedTable.deleteRows(
        Seq("k005", "k055", "missing").toDF("id"), t, "id")
      VersionedTable.deleteRows(Seq("k060").toDF("id"), t, "id", dv = true)
      VersionedTable.read(spark, t).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    val probe = VersionedTable.probeKeys(Seq("b", "a", "b").toDF("id"))
    assert(probe.rows == 3L && probe.bounds == (("a", "b")))
    assert(probe.inList.map(_.toSet) == Some(Set("a", "b")))
    val inList = run()
    val joined = withProbeGates(bytes = 0)(run())
    assert(inList == joined,
      s"probe paths disagree: in-list=$inList join=$joined")
    assert(inList.size == 100 + 2 - 3)
    assert(inList.contains(("k010", "m1")) && inList.contains((null, "ins")))
    assert(!inList.exists(r => Set("k005", "k055", "k060")(r._1)))
  }

  test("merge/delete key probe: a batch past the key cap joins and lands the same table") {
    val cap = VersionedTable.mergeInListKeys
    val batch = spark.range(0, cap + 100L).select(col("id"),
      lit("m").as("v"))
    // under the byte floor, but more distinct keys than an IN list may
    // carry: the probe drops the literal set, so the scan joins
    assert(VersionedTable.probeKeys(batch.select("id")).inList.isEmpty)
    assert(VersionedTable.probeKeys(batch.select("id").limit(cap))
      .inList.exists(_.size == cap))
    def run(): Set[(Long, String)] = {
      val t = newTable()
      VersionedTable.commit(spark.range(0, 1000)
        .select(col("id"), lit("a").as("v")).repartition(1), t)
      VersionedTable.append(spark.range(cap + 1000L, cap + 1100L)
        .select(col("id"), lit("b").as("v")).repartition(1), t): Unit
      VersionedTable.merge(batch, t, "id")
      VersionedTable.deleteRows(spark.range(500, cap + 1050L).toDF("id"),
        t, "id")
      VersionedTable.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val overCap = run()
    val inList = withProbeGates(keys = Int.MaxValue)(run())
    assert(overCap == inList, "the key cap changed the merged table")
    assert(overCap == (0L until 500L).map(i => (i, "m")).toSet ++
      (cap + 1050L until cap + 1100L).map(i => (i, "b")))
  }

  test("small-commit floor: both sides land the same rows, one file per partition") {
    val df = spark.range(0, 300)
      .select(col("id"), concat(lit("d"), col("id") % 3).as("day"),
        (col("id") * 1.5).as("value"))
      .repartition(4)
    def run(): (Set[(Long, String, Double)], Map[String, Int]) = {
      val t = newTable()
      VersionedTable.commit(df, t, Seq("day"))
      val files = VersionedTable.read(spark, t).inputFiles.toSeq
        .groupBy(f => f.substring(0, f.lastIndexOf('/'))).map {
          case (dir, fs) => dir.substring(dir.lastIndexOf('/') + 1) -> fs.size }
      (rows(VersionedTable.read(spark, t)), files)
    }
    val small = run() // a 300-row batch is far under the 32 MiB floor
    val f0 = VersionedTable.smallCommitBytes
    VersionedTable.smallCommitBytes = 0L
    val arranged = try run() finally VersionedTable.smallCommitBytes = f0
    assert(small == arranged)
    assert(small._1.size == 300)
    assert(small._2 == Map("day=d0" -> 1, "day=d1" -> 1, "day=d2" -> 1))
  }

  test("history and change consumers read a truncated or missing commit sidecar as unknown") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                    // v0
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t)                                                             // v1
    VersionedTable.optimize(spark, t)                                // v2
    def ops(): Seq[(Int, String, Long)] =
      VersionedTable.history(spark, t).orderBy("version")
        .select("version", "op", "files").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(ops().map(_._2) == Seq("commit", "append", "optimize"))
    // a data-identical optimize is invisible to change consumers...
    assert(VersionedTable.changes(spark, t, 1).count() == 0)
    // v-2.info cut mid-write: the op name is intact, the record is not
    val f = new java.io.File(s"$t/_commits/v-2.info")
    val full = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(full.startsWith("""{"op":"optimize","files":"""))
    java.nio.file.Files.write(f.toPath,
      full.take("""{"op":"optimize","fi""".length).getBytes("UTF-8"))
    new java.io.File(s"$t/_commits/.v-2.info.crc").delete()
    new java.io.File(s"$t/_commits/v-1.info").delete()
    assert(ops() == Seq((0, "commit", 1L), (1, "unknown", -1L),
      (2, "unknown", -1L)))
    // ...but an unknown op counts as data-changing: the rewritten rows
    // are re-delivered, never silently skipped
    assert(VersionedTable.changes(spark, t, 1).count() > 0)
  }
}
