package graft.catalog

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{JobCount, TestSpark}

/** Deletion vectors (merge-on-read row deletes): a point DELETE
  * commits positions, never a rewrite; every read path applies the
  * vector; CDC replays exactly the position diff; maintenance folds
  * vectors away; vacuum retains a sidecar for as long as any retained
  * manifest references it.
  */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(): String =
    graft.Caches.newTempDir("dv_spec").toString + "/t"

  private val base = Seq(
    (1L, "mon", 10.0), (2L, "mon", 20.0),
    (3L, "tue", 30.0), (4L, "tue", 40.0),
    (5L, "wed", 50.0)
  ).toDF("id", "day", "value")

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def headManifest(t: String): String = {
    val v = VersionedTable.versions(spark, t).max
    val src = scala.io.Source.fromFile(s"$t/_commits/v-$v", "UTF-8")
    try src.mkString finally src.close()
  }

  /** Version `v`'s deletion vectors as the scan applies them. */
  private def dvAt(t: String, v: Int): Map[String, Seq[Long]] =
    VersionedTable.dvPositions(spark, t,
      VersionedTable.resolveFiles(VersionedTable.fs(spark, t), t, v))
      .map { case (f, p) => f -> p.toSeq }

  /** The sidecar names version `v`'s manifest entries reference. */
  private def sidecarsAt(t: String, v: Int): Seq[String] =
    VersionedTable.resolveFiles(VersionedTable.fs(spark, t), t, v)
      .flatMap(e => VersionedTable.dvSplit(e)._2).distinct

  private def changeRows(df: DataFrame): Set[(Long, String)] =
    df.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("DV delete is metadata-only: zero data files written, all read paths apply it") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t) // v0, 2 files
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val v = VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true)
    assert(v == 1)
    // the commit wrote ZERO data files — the on-disk data set is v0's
    val hist = VersionedTable.history(spark, t)
      .filter($"version" === 1).head()
    assert(hist.getString(1) == "delete_dv")
    assert(hist.getLong(2) == 0L, "a DV delete must write no data file")
    assert(VersionedTable.read(spark, t).inputFiles.toSet == v0Files,
      "the base parquet bytes must be untouched")
    assert(VersionedTable.hasDeletionVectors(spark, t))
    assert(headManifest(t).contains("@dv="))
    // every read path excludes the row; time travel still sees it
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L))
    assert(ids(spark.read.format("graft").load(t)) == Set(1L, 3L, 4L, 5L))
    assert(ids(graft.sql.GraftSql.run(spark,
      s"SELECT id FROM graft.`$t`")) == Set(1L, 3L, 4L, 5L))
    assert(ids(VersionedTable.read(spark, t, 0)) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(VersionedTable.readEquals(spark, t, "id", 2L)) == Set.empty)
    assert(ids(VersionedTable.readWhere(spark, t, "id", 1L, 3L)) ==
      Set(1L, 3L))
    // observability: DESCRIBE DETAIL counts the live vectors
    val detail = graft.sql.GraftSql.run(spark,
      s"DESCRIBE DETAIL graft.`$t`").head()
    assert(detail.getLong(detail.fieldIndex("num_deletion_vectors")) == 1L)
  }

  test("replaceWhereDv with zero actual matches never writes an orphan sidecar") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                    // v0
    val fsys = VersionedTable.fs(spark, t)
    val cur = VersionedTable.read(spark, t).inputFiles
      .map(f => f.substring(f.lastIndexOf("/data/") + "/data/".length))
      .toSeq
    // drive the DV branch directly with candidate files that hold NO
    // actually-matching row (the zone-map-pruned-but-empty shape): an
    // empty batch must be a full no-op — no sidecar, no version
    val r1 = VersionedTable.replaceWhereDv(base.filter(lit(false)), t,
      "id > 1000000", 0, cur, cur.toSet, Seq.empty, Map.empty)
    assert(r1 == Some(0), "empty batch + no matches must be a no-op")
    assert(VersionedTable.versions(spark, t) == Seq(0),
      "a no-op must not commit an empty replace_dv version")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$t/_dv")),
      "no deletion-vector sidecar may be written for zero matches")
    // a non-empty batch lands as a PLAIN commit (no vector, no retag)
    val r2 = VersionedTable.replaceWhereDv(
      Seq((7L, "thu", 70.0)).toDF("id", "day", "value"), t,
      "id > 1000000", 0, cur, cur.toSet, Seq.empty, Map.empty)
    assert(r2.isDefined && r2.get == 1)
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "replace_where")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$t/_dv")))
    assert(!headManifest(t).contains("@dv="),
      "zero matches must not retag any entry")
    assert(ids(VersionedTable.read(spark, t)) ==
      Set(1L, 2L, 3L, 4L, 5L, 7L))
  }

  test("a second DV delete on the same file unions positions; a no-match is a no-op") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)            // one file
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    val v2 = VersionedTable.deleteWhere(spark, t, Some("id >= 4"),
      dv = true)                                             // v2
    assert(v2 == 2)
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L))
    // exactly one @dv reference per entry (the union replaced the old)
    val entries = headManifest(t).split("\n")
      .filterNot(_.startsWith("#")).filter(_.nonEmpty)
    assert(entries.length == 1 &&
      entries.head.split("@dv=", -1).length == 2,
      s"one vector per file, got: ${entries.mkString(";")}")
    // nothing matches: version unchanged
    assert(VersionedTable.deleteWhere(spark, t, Some("id = 99"),
      dv = true) == 2)
    // per-version history intact under the replaced vector
    assert(ids(VersionedTable.read(spark, t, 1)) == Set(1L, 3L, 4L, 5L))
  }

  test("rewrites fold vectors away: OPTIMIZE, compaction and merge clear the suffix") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true)
    VersionedTable.optimize(spark, t)
    assert(!VersionedTable.hasDeletionVectors(spark, t),
      "OPTIMIZE must fold the vector into the rewrite")
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L))
    // merge over a DV'd table reads survivors only and emits plain files
    val t2 = newTable()
    VersionedTable.commit(base.repartition(1), t2)
    VersionedTable.deleteWhere(spark, t2, Some("id = 5"), dv = true)
    VersionedTable.merge(Seq((3L, "tue", 99.0)).toDF("id", "day", "value"),
      t2, "id")
    assert(!VersionedTable.hasDeletionVectors(spark, t2))
    val out = VersionedTable.read(spark, t2)
    assert(ids(out) == Set(1L, 2L, 3L, 4L))
    assert(out.filter($"id" === 3L).head().getDouble(2) == 99.0)
  }

  test("CDC: tableChanges and changeFeed replay exactly the position diff") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    VersionedTable.deleteWhere(spark, t, Some("id = 4"), dv = true) // v2
    // endpoint diff v0 -> v2: both deleted rows, nothing else
    val tc = VersionedTable.tableChanges(spark, t, 0, 2)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tc == Set((2L, "delete"), (4L, "delete")))
    // per-version feed: each delete stamped with ITS commit
    val feed = VersionedTable.changeFeed(spark, t, 1, 2)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(feed == Set((2L, "delete", 1), (4L, "delete", 2)))
    // RESTORE resurrects: the rolled-back positions replay as inserts
    VersionedTable.restore(spark, t, 0)                             // v3
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 2L, 3L, 4L, 5L))
    val res = VersionedTable.changeFeed(spark, t, 3, 3)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(res == Set((2L, "insert"), (4L, "insert")))
    // append-only consumers: changes() must NOT resurface the base file
    // on a DV transition, and changeRemovals must flag it
    assert(VersionedTable.changes(spark, t, 0, 1).count() == 0)
    assert(VersionedTable.changeRemovals(spark, t, 0, 1) == 1)
  }

  test("a DV'd file later fully rewritten replays survivors as deletes") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    VersionedTable.deleteWhere(spark, t, None)                      // v2: truncate
    val feed = VersionedTable.changeFeed(spark, t, 2, 2)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((1L, "delete"), (3L, "delete"), (4L, "delete"),
      (5L, "delete")),
      "the truncate must replay only the LIVE rows (vector applied)")
  }

  test("partitioned table: DV delete keeps pruning and partition columns") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.deleteWhere(spark, t, Some("id = 3"), dv = true)
    val out = VersionedTable.read(spark, t)
    assert(ids(out) == Set(1L, 2L, 4L, 5L))
    assert(out.columns.contains("day"))
    // pruning still reaches the file index through the DV filter
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    assert(ids(df.filter($"day" === "tue")) == Set(4L))
    assert(idx.lastListedCount < idx.totalFiles,
      "partition pruning must survive the DV filter")
    // SQL DML surface with the conf flag
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      val before = VersionedTable.read(spark, t).inputFiles.toSet
      graft.sql.GraftSql.run(spark,
        s"DELETE FROM graft.`$t` WHERE id = 1")
      assert(VersionedTable.read(spark, t).inputFiles.toSet == before)
      assert(ids(graft.sql.GraftSql.run(spark,
        s"SELECT id FROM graft.`$t`")) == Set(2L, 4L, 5L))
      assert(VersionedTable.hasDeletionVectors(spark, t))
    } finally spark.conf.unset("spark.graft.deletionVectors")
  }

  test("keyed DV delete (deleteRows dv=true): positions only, key-bounded scan") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t)
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val v = VersionedTable.deleteRows(Seq(2L, 5L).toDF("id"), t, "id",
      dv = true)
    assert(v == 1)
    assert(VersionedTable.read(spark, t).inputFiles.toSet == v0Files)
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L))
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getLong(2) == 0L)
    // empty and no-match key sets are no-ops
    assert(VersionedTable.deleteRows(Seq.empty[Long].toDF("id"), t, "id",
      dv = true) == 1)
    assert(VersionedTable.deleteRows(Seq(99L).toDF("id"), t, "id",
      dv = true) == 1)
    // a later keyed DV delete unions with the existing vectors
    VersionedTable.deleteRows(Seq(1L).toDF("id"), t, "id", dv = true)
    assert(ids(VersionedTable.read(spark, t)) == Set(3L, 4L))
  }

  test("DV update: positions + fresh row images in one commit, exact CDC") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val v = VersionedTable.updateWhere(spark, t,
      Seq("value" -> "value * 10"), Some("id = 2"), dv = true)      // v1
    assert(v == 1)
    val out = VersionedTable.read(spark, t)
    assert(out.count() == 5)
    assert(out.filter($"id" === 2L).head().getDouble(2) == 200.0)
    // base bytes untouched; the commit added ONLY the updated rows
    assert(v0Files.subsetOf(out.inputFiles.toSet))
    assert(VersionedTable.hasDeletionVectors(spark, t))
    // CDC: the update replays as position-diff delete + new-image insert
    val feed = VersionedTable.changeFeed(spark, t, 1, 1)
      .select("id", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(feed == Set((2L, 20.0, "delete"), (2L, 200.0, "insert")))
    // chained: a DV delete after a DV update composes
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v2
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L),
      "the UPDATED image must be deletable too")
    // no-match predicate is a no-op
    assert(VersionedTable.updateWhere(spark, t,
      Seq("value" -> "0.0"), Some("id = 77"), dv = true) == 2)
    // SQL surface under the conf
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      graft.sql.GraftSql.run(spark,
        s"UPDATE graft.`$t` SET value = value + 1 WHERE id = 1")
      assert(VersionedTable.read(spark, t)
        .filter($"id" === 1L).head().getDouble(2) == 11.0)
    } finally spark.conf.unset("spark.graft.deletionVectors")
  }

  test("vacuum retains a DV sidecar while any retained manifest names it, sweeps after") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    def dvDirs(): Seq[String] = {
      val d = new java.io.File(s"$t/_dv")
      if (!d.exists()) Seq.empty else d.listFiles().toSeq.map(_.getName)
    }
    assert(dvDirs().size == 1)
    // retained: v1 references the sidecar — vacuum must keep it
    VersionedTable.vacuum(spark, t, retain = 1, orphanGraceMs = 0,
      retainAtLeastMs = 0)
    assert(dvDirs().size == 1, "a referenced sidecar must survive vacuum")
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L))
    // fold the vector, then vacuum history: sidecar becomes sweepable
    VersionedTable.optimize(spark, t)                               // v2
    VersionedTable.vacuum(spark, t, retain = 1, orphanGraceMs = 0,
      retainAtLeastMs = 0)
    assert(dvDirs().isEmpty, "an unreferenced sidecar must be swept")
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L))
  }

  test("disjoint-file concurrent DV deletes both land (no false conflict)") {
    val t = newTable()
    // two files split by key range; the racing deletes touch one each
    VersionedTable.commit(base.repartitionByRange(2, col("id")), t)
    var raced = false
    VersionedTable.betweenPlanAndCommit = () => {
      if (!raced) {
        raced = true
        // lands FIRST, touching the other file's keys only
        VersionedTable.deleteWhere(spark, t, Some("id = 5"), dv = true)
      }
    }
    try VersionedTable.deleteWhere(spark, t, Some("id = 1"), dv = true)
    finally VersionedTable.betweenPlanAndCommit = () => ()
    assert(raced)
    assert(ids(VersionedTable.read(spark, t)) == Set(2L, 3L, 4L))
    assert(VersionedTable.versions(spark, t).max >= 2,
      "both deletes must commit")
  }

  test("deletion vectors compose with column mapping (rename)") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.renameColumn(spark, t, "value", "score")         // v1
    VersionedTable.deleteWhere(spark, t, Some("score = 30.0"),
      dv = true)                                                    // v2
    val out = VersionedTable.read(spark, t)
    assert(out.columns.toSet == Set("id", "day", "score"))
    assert(ids(out) == Set(1L, 2L, 4L, 5L))
    assert(ids(graft.sql.GraftSql.run(spark,
      s"SELECT id FROM graft.`$t` WHERE score > 0")) ==
      Set(1L, 2L, 4L, 5L))
    // CDC across the rename + vector: the delete replays in CURRENT names
    val feed = VersionedTable.changeFeed(spark, t, 2, 2)
    assert(feed.columns.contains("score"))
    assert(feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((3L, "delete")))
    // time travel to the pre-rename, pre-delete snapshot
    val v0 = VersionedTable.read(spark, t, 0)
    assert(v0.columns.contains("value") && ids(v0).size == 5)
  }

  test("change feed mixes DV transitions with ordinary events on a two-level layout") {
    val t = newTable()
    VersionedTable.commit(
      Seq((1L, "en", 1, 1.0), (2L, "en", 2, 2.0), (3L, "nl", 1, 3.0))
        .toDF("id", "lang", "bucket", "value"),
      t, Seq("lang", "bucket"))                                     // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 1"), dv = true) // v1
    VersionedTable.append(
      Seq((4L, "nl", 2, 4.0)).toDF("id", "lang", "bucket", "value"),
      t, Seq("lang", "bucket"))                                     // v2
    // one window holding a position-diff slice AND a plain insert: the
    // union must agree on the path-derived partition column types
    val feed = VersionedTable.changeFeed(spark, t, 1, 2)
      .select("id", "lang", "bucket", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getInt(4))).toSet
    assert(feed == Set(
      (1L, "en", 1, "delete", 1),
      (4L, "nl", 2, "insert", 2)), s"got $feed")
    assert(ids(VersionedTable.read(spark, t)) == Set(2L, 3L, 4L))
  }

  test("REORG APPLY (PURGE) folds vectors in O(DV'd files)") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))                      // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 3"), dv = true) // v1
    // only tue carries a vector; mon/wed must travel by reference
    val preOther = VersionedTable.read(spark, t).inputFiles
      .filterNot(_.contains("day=tue")).toSet
    val v = graft.sql.GraftSql.run(spark,
      s"REORG TABLE graft.`$t` APPLY (PURGE)").head().getInt(0)
    assert(v == 2)
    assert(!VersionedTable.hasDeletionVectors(spark, t))
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 2L, 4L, 5L))
    assert(preOther.subsetOf(
      VersionedTable.read(spark, t).inputFiles.toSet),
      "PURGE must rewrite ONLY the vector-carrying files")
    // layout preserved: partition pruning still leaf-exact
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    assert(ids(df.filter($"day" === "tue")) == Set(4L))
    assert(idx.lastListedCount < idx.totalFiles)
    // idempotent: nothing to purge → version unchanged
    assert(VersionedTable.purgeDeletionVectors(spark, t) == 2)
    // the orphaned sidecar is now sweepable
    VersionedTable.vacuum(spark, t, retain = 1, orphanGraceMs = 0,
      retainAtLeastMs = 0)
    assert(!new java.io.File(s"$t/_dv").exists() ||
      new java.io.File(s"$t/_dv").listFiles().isEmpty)
  }

  test("DV-vs-rewrite policy: a bulk match past the cap falls back to the rewrite") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)
    spark.conf.set("spark.graft.dv.maxPositions", "1")
    try {
      // 4 matched rows > cap 1: the delete must REWRITE, not vector
      val v = VersionedTable.deleteWhere(spark, t, Some("id >= 2"),
        dv = true)
      assert(v == 1)
      assert(ids(VersionedTable.read(spark, t)) == Set(1L))
      assert(!VersionedTable.hasDeletionVectors(spark, t),
        "a bulk delete must not commit a vector")
      // same policy for updates and keyed deletes
      VersionedTable.commit(base.repartition(1), t)               // v2
      assert(VersionedTable.updateWhere(spark, t,
        Seq("value" -> "0.0"), Some("id >= 2"), dv = true) == 3)
      assert(!VersionedTable.hasDeletionVectors(spark, t))
      assert(VersionedTable.read(spark, t)
        .filter($"value" === 0.0).count() == 4)
      assert(VersionedTable.deleteRows(Seq(1L, 2L).toDF("id"), t, "id",
        dv = true) == 4)
      assert(!VersionedTable.hasDeletionVectors(spark, t))
      assert(ids(VersionedTable.read(spark, t)) == Set(3L, 4L, 5L))
      // and for a data-predicate replace
      assert(VersionedTable.replaceWhere(
        Seq((4L, "tue", 44.0), (5L, "wed", 55.0)).toDF("id", "day", "value"),
        t, "id >= 4", dv = true) == 5)
      assert(VersionedTable.history(spark, t)
        .filter($"version" === 5).head().getString(1) == "replace_where")
      assert(!VersionedTable.hasDeletionVectors(spark, t))
      assert(VersionedTable.read(spark, t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
        Seq((3L, 0.0), (4L, 44.0), (5L, 55.0)))
    } finally spark.conf.unset("spark.graft.dv.maxPositions")
  }

  test("DV cap boundary: a cap of n vectors an n-row match, n - 1 rewrites it, same rows") {
    val day = Map(2L -> "mon", 4L -> "tue", 6L -> "thu")
    def batch(ks: Long*) =
      ks.map(k => (k, day(k), k * 100.0)).toDF("id", "day", "value")
    // every call below matches n = 2 rows (ids 2 and 4)
    val n = 2
    // (verb, vector op, rewrite op, the call)
    val verbs: Seq[(String, String, String, String => Int)] = Seq(
      ("deleteWhere", "delete_dv", "delete_where", t =>
        VersionedTable.deleteWhere(spark, t, Some("id IN (2, 4)"),
          dv = true)),
      ("deleteRows", "delete_dv", "delete_rows", t =>
        VersionedTable.deleteRows(Seq(2L, 4L).toDF("id"), t, "id",
          dv = true)),
      ("updateWhere", "update_dv", "update_where", t =>
        VersionedTable.updateWhere(spark, t, Seq("value" -> "value + 1"),
          Some("id IN (2, 4)"), dv = true)),
      ("replaceWhere", "replace_dv", "replace_where", t =>
        VersionedTable.replaceWhere(batch(2L, 4L), t, "id IN (2, 4)",
          dv = true)),
      ("mergeWhen", "merge_dv", "merge_when", t =>
        VersionedTable.mergeWhen(batch(2L, 4L, 6L), t, "id", dv = true)))
    def run(cap: Int, call: String => Int) = {
      val t = newTable()
      VersionedTable.commit(base.repartition(1), t)                 // v0
      spark.conf.set("spark.graft.dv.maxPositions", cap.toString)
      try assert(call(t) == 1)
      finally spark.conf.unset("spark.graft.dv.maxPositions")
      (VersionedTable.history(spark, t)
        .filter($"version" === 1).head().getString(1),
        VersionedTable.hasDeletionVectors(spark, t),
        VersionedTable.read(spark, t).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet)
    }
    verbs.foreach { case (verb, dvOp, rewriteOp, call) =>
      val (atCap, vectored, rowsAtCap) = run(n, call)
      assert(atCap == dvOp && vectored,
        s"$verb: a cap of $n must vector $n matched rows, got $atCap")
      val (belowCap, vectoredBelow, rowsBelow) = run(n - 1, call)
      assert(belowCap == rewriteOp && !vectoredBelow,
        s"$verb: a cap of ${n - 1} must rewrite, got $belowCap")
      assert(rowsAtCap == rowsBelow,
        s"$verb: both sides of the cap must leave the same rows")
    }
  }

  test("the DV cap bounds the positions sent to the driver in total, not per task") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val t = newTable()
    VersionedTable.commit(spark.range(0L, 100000L, 1L, 4)
      .select(col("id"), lit("mon").as("day"),
        col("id").cast("double").as("value")), t)                 // v0
    assert(VersionedTable.read(spark, t).inputFiles.length == 4)
    // 75k matched rows, ~19k per file: every task holds fewer hits
    // than the cap, all of them together more
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => sizes.add(m.resultSize))
    }
    val sc = spark.sparkContext
    spark.conf.set("spark.graft.dv.maxPositions", "60000")
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(VersionedTable.deleteWhere(spark, t, Some("id % 4 != 3"),
        dv = true) == 1)
      org.apache.spark.GraftTestBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.unset("spark.graft.dv.maxPositions")
    }
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "delete_where")
    assert(!VersionedTable.hasDeletionVectors(spark, t))
    assert(VersionedTable.read(spark, t).count() == 25000L)
    // one file's ~19k positions are ~150 KB of longs: no task sent them
    import scala.jdk.CollectionConverters._
    assert(sizes.asScala.nonEmpty && sizes.asScala.max < 64L * 1024,
      s"task result sizes: ${sizes.asScala.toSeq.sorted.reverse.take(4)}")
  }

  test("a task past its share of the DV cap costs a second pass, not a wrong vector") {
    // 4 files of 10 ids each; both deletes below match 12 rows in all 4
    def table(): String = {
      val t = newTable()
      VersionedTable.commit((1L to 40L).map(i => (i, "mon", i * 1.0))
        .toDF("id", "day", "value").repartitionByRange(4, col("id")), t)
      assert(VersionedTable.read(spark, t).inputFiles.length == 4)
      t
    }
    def delete(ids: Seq[Long]): (String, Seq[String]) = {
      val t = table()
      spark.conf.set("spark.graft.dv.maxPositions", "12")
      val (_, sites) =
        try JobCount(spark)(VersionedTable.deleteWhere(spark, t,
          Some(s"id IN (${ids.mkString(", ")})"), dv = true))
        finally spark.conf.unset("spark.graft.dv.maxPositions")
      assert(VersionedTable.history(spark, t)
        .filter($"version" === 1).head().getString(1) == "delete_dv")
      assert(dvAt(t, 1).values.map(_.size).sum == 12)
      assert(this.ids(VersionedTable.read(spark, t)) ==
        (1L to 40L).toSet -- ids)
      (t, sites)
    }
    // 3 hits per file: every task within its share (12 / 4)
    val (_, even) = delete(Seq(1L, 2L, 3L, 11L, 12L, 13L,
      21L, 22L, 23L, 31L, 32L, 33L))
    // 9 hits in the first file: past its share, within the cap
    val (_, uneven) = delete((1L to 9L) ++ Seq(11L, 21L, 31L))
    assert(uneven.size == even.size + 1, s"$even vs $uneven")
  }

  test("every vector commit counts its sidecar in history().bytes") {
    // what listStatusRec counts: no hidden (_SUCCESS, .crc) files
    def visibleBytes(f: java.io.File): Long =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else if (f.isDirectory) f.listFiles().map(visibleBytes).sum
      else f.length()
    def check(t: String, op: String): Unit = {
      val v = VersionedTable.versions(spark, t).max
      val h = VersionedTable.history(spark, t)
        .filter($"version" === v).head()
      assert(h.getString(1) == op)
      val newData = (VersionedTable.read(spark, t).inputFiles.toSet --
          VersionedTable.read(spark, t, v - 1).inputFiles)
        .toSeq.map(f => new java.io.File(new java.net.URI(f)).length()).sum
      val sidecars = new java.io.File(s"$t/_dv").listFiles()
        .filterNot(_.getName.startsWith("."))
      assert(sidecars.length == 1, s"$op: one sidecar")
      assert(h.getLong(3) == newData + visibleBytes(sidecars.head),
        s"$op: bytes must be the new data files plus the sidecar")
    }
    val t1 = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t1)
    VersionedTable.deleteWhere(spark, t1, Some("id = 2"), dv = true)
    check(t1, "delete_dv")
    val t2 = newTable()
    VersionedTable.commit(base.repartition(1), t2)
    VersionedTable.updateWhere(spark, t2, Seq("value" -> "value + 1"),
      Some("id >= 4"), dv = true)
    check(t2, "update_dv")
    val t3 = newTable()
    VersionedTable.commit(base.repartition(1), t3)
    VersionedTable.mergeWhen(Seq((2L, "mon", 200.0), (6L, "thu", 60.0))
      .toDF("id", "day", "value"), t3, "id", dv = true)
    check(t3, "merge_dv")
    val t4 = newTable()
    VersionedTable.commit(base.repartition(1), t4)
    VersionedTable.replaceWhere(Seq((2L, "mon", 21.0))
      .toDF("id", "day", "value"), t4, "id IN (2, 3)", dv = true)
    check(t4, "replace_dv")
  }

  test("clone carries vectors; concurrent rewrite of a touched file forces a replan") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true)
    val c = newTable()
    VersionedTable.cloneTable(spark, t, c)
    assert(ids(VersionedTable.read(spark, c)) == Set(1L, 3L, 4L, 5L))
    assert(VersionedTable.hasDeletionVectors(spark, c))
    // the clone's vector is its own copy: vacuuming the source must not
    // break the clone
    VersionedTable.optimize(spark, t)
    VersionedTable.vacuum(spark, t, retain = 1, orphanGraceMs = 0,
      retainAtLeastMs = 0)
    assert(ids(VersionedTable.read(spark, c)) == Set(1L, 3L, 4L, 5L))
    // conflict: a commit racing the DV delete rewrites its touched file
    val t2 = newTable()
    VersionedTable.commit(base.repartition(1), t2)
    var raced = false
    VersionedTable.betweenPlanAndCommit = () => {
      if (!raced) {
        raced = true
        VersionedTable.deleteRows(Seq(5L).toDF("id"), t2, "id")
      }
    }
    try VersionedTable.deleteWhere(spark, t2, Some("id = 2"), dv = true)
    finally VersionedTable.betweenPlanAndCommit = () => ()
    assert(raced)
    assert(ids(VersionedTable.read(spark, t2)) == Set(1L, 3L, 4L))
  }

  test("data-identical maintenance is invisible to every change consumer") {
    val t = newTable()
    VersionedTable.commit(base.repartition(4, col("id")), t)        // v0
    VersionedTable.append(Seq((6L, "thu", 60.0))
      .toDF("id", "day", "value"), t)                               // v1
    VersionedTable.optimize(spark, t)                               // v2
    VersionedTable.append(Seq((7L, "fri", 70.0))
      .toDF("id", "day", "value"), t)                               // v3
    // per-version feed across the OPTIMIZE: only the two appended rows
    // (Delta's dataChange=false contract — no whole-table churn)
    val feed = VersionedTable.changeFeed(spark, t, 1, 3)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(feed == Set((6L, "insert", 1), (7L, "insert", 3)))
    // append-only follower caught up past the append: the optimize
    // neither flags a removal nor re-delivers rewritten rows
    assert(VersionedTable.changeRemovals(spark, t, 1, 3) == 0)
    assert(ids(VersionedTable.changes(spark, t, 1, 3)) == Set(7L))
    // ...but an endpoint window where the optimize rewrote a file the
    // follower had NOT yet ingested (the v1 append) cannot be skipped
    // at file granularity — degrades to flagged removals
    assert(VersionedTable.changeRemovals(spark, t, 0, 3) > 0)
    // a REAL delete inside the window still flags and still replays
    VersionedTable.deleteWhere(spark, t, Some("id = 1"))            // v4
    assert(VersionedTable.changeRemovals(spark, t, 0, 4) > 0)
    assert(VersionedTable.changeFeed(spark, t, 4, 4)
      .filter($"_change_type" === "delete").count() >= 1)
    // PURGE after a DV delete: the fold itself emits nothing
    val t2 = newTable()
    VersionedTable.commit(base.repartition(1), t2)                  // v0
    VersionedTable.deleteWhere(spark, t2, Some("id = 2"), dv = true) // v1
    VersionedTable.purgeDeletionVectors(spark, t2)                  // v2
    assert(VersionedTable.changeFeed(spark, t2, 2, 2).count() == 0,
      "folding a vector away adds/removes no live row")
    assert(VersionedTable.changeRemovals(spark, t2, 1, 2) == 0)
    // MIXED window (append + its own compaction in ONE window) cannot
    // be skipped at file granularity — degrades to flagged removals,
    // exactly the pre-existing contract
    val t3 = newTable()
    VersionedTable.commit(base.repartition(1), t3)                  // v0
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((100L + i, "mon", i.toDouble)).toDF("id", "day", "value"), t3))
    val vPre = VersionedTable.versions(spark, t3).max               // v3
    VersionedTable.compactSmallFiles(spark, t3,
      targetFileBytes = 1024L * 1024)                               // v4
    assert(VersionedTable.changeRemovals(spark, t3, 0, 4) > 0,
      "a compaction of not-yet-delivered files must degrade loudly")
    // ...but a follower already caught up past the appends skips it
    assert(VersionedTable.changeRemovals(spark, t3, vPre, 4) == 0)
    assert(VersionedTable.changes(spark, t3, vPre, 4).count() == 0)
  }

  test("DV merge: upsert commits a vector + images, zero base files rewritten") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t)        // v0
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val src = Seq((2L, "mon", 200.0), (4L, "tue", 400.0),
      (6L, "thu", 60.0)).toDF("id", "day", "value")
    val v = VersionedTable.mergeWhen(src, t, "id", dv = true)       // v1
    assert(v == 1)
    val hist = VersionedTable.history(spark, t)
      .filter($"version" === 1).head()
    assert(hist.getString(1) == "merge_dv")
    val out = VersionedTable.read(spark, t)
    assert(v0Files.subsetOf(out.inputFiles.toSet),
      "a DV merge must rewrite ZERO base data files")
    assert(out.count() == 6)
    assert(out.filter($"id" === 2L).head().getDouble(2) == 200.0)
    assert(out.filter($"id" === 4L).head().getDouble(2) == 400.0)
    assert(out.filter($"id" === 6L).head().getDouble(2) == 60.0)
    assert(out.filter($"id" === 1L).head().getDouble(2) == 10.0)
    assert(VersionedTable.hasDeletionVectors(spark, t))
    // CDC: updated rows replay as position-diff delete + new-image
    // insert, the unmatched source row as a plain insert
    val feed = VersionedTable.changeFeed(spark, t, 1, 1)
      .select("id", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(feed == Set(
      (2L, 20.0, "delete"), (2L, 200.0, "insert"),
      (4L, 40.0, "delete"), (4L, 400.0, "insert"),
      (6L, 60.0, "insert")))
    // time travel still serves v0 in full
    assert(ids(VersionedTable.read(spark, t, 0)) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("DV merge: full clause algebra — conditional delete, update, by-source") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val src = Seq((2L, "mon", -1.0), (3L, "tue", 300.0))
      .toDF("id", "day", "value")
    // id2 deletes (negative source), id3 updates, id5 (wed, unmatched)
    // deletes by source, ids 1/4 carry untouched
    val v = VersionedTable.mergeClauses(src, t, "id",
      matched = Seq(
        VersionedTable.MatchedDelete(Some("s.value < 0")),
        VersionedTable.MatchedUpdate(None, None)),
      notMatched = Seq(VersionedTable.MergeInsert(None, None)),
      bySource = Seq(VersionedTable.BySourceDelete(Some("day = 'wed'"))),
      dv = true)
    assert(v == 1)
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "merge_dv")
    val out = VersionedTable.read(spark, t)
    assert(v0Files.subsetOf(out.inputFiles.toSet))
    assert(ids(out) == Set(1L, 3L, 4L))
    assert(out.filter($"id" === 3L).head().getDouble(2) == 300.0)
    // a clause set that fires for NOTHING commits NOTHING (unlike a
    // rewrite, no bytes moved, so no version is needed)
    val noop = Seq((1L, "mon", 5.0)).toDF("id", "day", "value")
    assert(VersionedTable.mergeClauses(noop, t, "id",
      matched = Seq(
        VersionedTable.MatchedUpdate(Some("s.value > 1000"), None)),
      dv = true) == 1)
    // no clause fires but a row inserts: the insert lands as merge_dv,
    // with no new vector
    val sidecars = new java.io.File(s"$t/_dv").list().length
    assert(VersionedTable.mergeWhen(
      Seq((1L, "mon", 5.0), (8L, "fri", 80.0)).toDF("id", "day", "value"),
      t, "id", updateWhen = Some("s.value > 1000"), dv = true) == 2)
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 2).head().getString(1) == "merge_dv")
    assert(new java.io.File(s"$t/_dv").list().length == sidecars)
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 8L))
  }

  test("DV merge: pure matched-delete is metadata-only (zero files written)") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    val v = VersionedTable.mergeClauses(
      Seq(2L, 4L).toDF("id"), t, "id",
      matched = Seq(VersionedTable.MatchedDelete(None)), dv = true)
    assert(v == 1)
    val hist = VersionedTable.history(spark, t)
      .filter($"version" === 1).head()
    assert(hist.getString(1) == "merge_dv")
    assert(hist.getLong(2) == 0L,
      "a pure-delete DV merge must write no data file")
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 5L))
  }

  test("DV merge falls back to the rewrite past the cap and under evolution") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    spark.conf.set("spark.graft.dv.maxPositions", "1")
    try {
      val src = Seq((2L, "mon", 2.0), (3L, "tue", 3.0))
        .toDF("id", "day", "value")
      VersionedTable.mergeWhen(src, t, "id", dv = true)             // v1
    } finally spark.conf.unset("spark.graft.dv.maxPositions")
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "merge_when",
      "past the cap the merge must run as a rewrite")
    assert(!VersionedTable.hasDeletionVectors(spark, t))
    assert(VersionedTable.read(spark, t)
      .filter($"id" === 2L).head().getDouble(2) == 2.0)
    // schema evolution: a new source column needs image files with the
    // evolved schema — the rewrite branch owns that
    val src2 = Seq((4L, "tue", 44.0, "x"))
      .toDF("id", "day", "value", "tag")
    VersionedTable.mergeWhen(src2, t, "id", evolveSchema = true,
      dv = true)                                                    // v2
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 2).head().getString(1) == "merge_when")
    val out = VersionedTable.read(spark, t)
    assert(out.columns.contains("tag"))
    assert(out.filter($"id" === 4L).head()
      .getString(out.columns.indexOf("tag")) == "x")
  }

  test("DV replaceWhere: a data-predicate backfill vectors the matches and appends the batch") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t)        // v0
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    val batch = Seq((2L, "mon", 21.0), (4L, "tue", 41.0))
      .toDF("id", "day", "value")
    val v = VersionedTable.replaceWhere(batch, t, "id IN (2, 4)",
      dv = true)                                                    // v1
    assert(v == 1)
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "replace_dv")
    val out = VersionedTable.read(spark, t)
    assert(v0Files.subsetOf(out.inputFiles.toSet),
      "a DV replace must never rewrite the touched files' survivors")
    assert(out.count() == 5)
    assert(out.filter($"id" === 2L).head().getDouble(2) == 21.0)
    assert(out.filter($"id" === 4L).head().getDouble(2) == 41.0)
    // CDC: position-exact deletes of the replaced rows + batch inserts
    val feed = VersionedTable.changeFeed(spark, t, 1, 1)
      .select("id", "value", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(feed == Set(
      (2L, 20.0, "delete"), (2L, 21.0, "insert"),
      (4L, 40.0, "delete"), (4L, 41.0, "insert")))
    // empty batch = pure predicate delete, metadata-only
    val v2 = VersionedTable.replaceWhere(base.limit(0), t, "id = 5",
      dv = true)                                                    // v2
    val h2 = VersionedTable.history(spark, t)
      .filter($"version" === 2).head()
    assert(h2.getString(1) == "replace_dv" && h2.getLong(2) == 0L,
      "an empty-batch DV replace must write no data file")
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 2L, 3L, 4L))
    assert(v2 == 2)
    // writer-option surface under the session conf
    spark.conf.set("spark.graft.deletionVectors", "true")
    try Seq((1L, "mon", 11.0)).toDF("id", "day", "value")
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "id = 1").save(t)                     // v3
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 3).head().getString(1) == "replace_dv")
    assert(VersionedTable.read(spark, t)
      .filter($"id" === 1L).head().getDouble(2) == 11.0)
    // a partition-only predicate keeps the metadata-only whole-file
    // swap (never a vector)
    val t2 = newTable()
    VersionedTable.commit(base, t2, partitionCols = Seq("day"))
    VersionedTable.replaceWhere(
      Seq((9L, "mon", 90.0)).toDF("id", "day", "value"),
      t2, "day = 'mon'", dv = true)
    assert(VersionedTable.history(spark, t2)
      .filter($"version" === 1).head().getString(1) == "replace_where",
      "partition-only replaces must keep the metadata-only swap")
    assert(!VersionedTable.hasDeletionVectors(spark, t2))
    assert(ids(VersionedTable.read(spark, t2)) == Set(3L, 4L, 5L, 9L))
  }

  test("SQL MERGE INTO runs merge-on-read under the session conf") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t)        // v0
    val v0Files = VersionedTable.read(spark, t).inputFiles.toSet
    Seq((1L, "mon", 99.0), (3L, "tue", 99.0), (9L, "sun", 90.0))
      .toDF("id", "day", "value")
      .createOrReplaceTempView("dv_merge_src")
    spark.conf.set("spark.graft.deletionVectors", "true")
    try graft.sql.GraftSql.run(spark,
      s"""MERGE INTO graft.`$t` AS t
         |USING dv_merge_src AS s ON t.id = s.id
         |WHEN MATCHED AND t.value < 15 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = s.value + t.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.conf.unset("spark.graft.deletionVectors")
    assert(VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getString(1) == "merge_dv")
    val out = VersionedTable.read(spark, t)
    assert(v0Files.subsetOf(out.inputFiles.toSet))
    assert(out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((2L, 20.0), (3L, 129.0), (4L, 40.0), (5L, 50.0), (9L, 90.0)))
    // maintenance folds the merge's vector like any other
    VersionedTable.optimize(spark, t)
    assert(!VersionedTable.hasDeletionVectors(spark, t))
    assert(ids(VersionedTable.read(spark, t)) ==
      Set(2L, 3L, 4L, 5L, 9L))
  }

  test("a sidecar laid out by Spark's own parquet writer reads the same") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id IN (2, 4)"), dv = true) // v1
    val written = dvAt(t, 1)
    val Seq((file, pos)) = written.toSeq
    assert(pos.size == 2)
    // re-lay the sidecar the way Spark's writer did: several part
    // files, one of them empty, beside a _SUCCESS marker
    val dir = s"$t/_dv/${sidecarsAt(t, 1).head}"
    VersionedTable.fs(spark, t).delete(new org.apache.hadoop.fs.Path(dir), true)
    Seq((file, pos(0))).toDF("file", "pos").write.parquet(dir)
    Seq((file, pos(1))).toDF("file", "pos").write.mode("append").parquet(dir)
    Seq.empty[(String, Long)].toDF("file", "pos")
      .write.mode("append").parquet(dir)
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSeq
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    assert(parts.map(p => spark.read.parquet(s"$dir/$p").count()).sorted ==
      Seq(0L, 1L, 1L))
    assert(dvAt(t, 1) == written)
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 5L))
    assert(changeRows(VersionedTable.tableChanges(spark, t, 0, 1)) ==
      Set((2L, "delete"), (4L, "delete")))
    // a further delete on that file unions the Spark-written positions
    VersionedTable.deleteWhere(spark, t, Some("id = 5"), dv = true) // v2
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L))
    assert(dvAt(t, 2)(file).size == 3)
    assert(changeRows(VersionedTable.tableChanges(spark, t, 1, 2)) ==
      Set((5L, "delete")))
    assert(changeRows(VersionedTable.tableChanges(spark, t, 0, 2)) ==
      Set((2L, "delete"), (4L, "delete"), (5L, "delete")))
  }

  test("resolving a DV'd version runs only its data scan's jobs") {
    val t = newTable()
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    VersionedTable.deleteWhere(spark, t, Some("id = 4"), dv = true) // v2
    // cold position cache: move each sidecar's part to a new file name
    val fsys = VersionedTable.fs(spark, t)
    (sidecarsAt(t, 1) ++ sidecarsAt(t, 2)).distinct.foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(s"$t/_dv/$d")
      fsys.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).foreach { p =>
          assert(fsys.rename(p, new org.apache.hadoop.fs.Path(dir,
            "moved-" + p.getName)))
        }
    }
    val ts = VersionedTable.history(spark, t)
      .filter($"version" === 1).head().getAs[Long]("ts_millis")
    // the control: the same file read at v0, which has no vector
    VersionedTable.read(spark, t, 0).collect()
    val (_, control) = JobCount(spark)(VersionedTable.read(spark, t, 0).collect())
    def resolvedThenRun(df: => DataFrame): (Seq[String], Seq[String]) = {
      val (frame, resolve) = JobCount(spark)(df)
      (resolve, JobCount(spark)(frame.collect())._2)
    }
    val reads = Seq(
      "read" -> resolvedThenRun(VersionedTable.read(spark, t)),
      "read at v1" -> resolvedThenRun(VersionedTable.read(spark, t, 1)),
      "readAsOf" -> resolvedThenRun(
        VersionedTable.readAsOf(spark, t, ts)))
    reads.foreach { case (what, (resolve, run)) =>
      assert(resolve.isEmpty, s"$what resolved with jobs: $resolve")
      assert(run.size == control.size, s"$what ran $run, control $control")
    }
    val (resolve, run) =
      resolvedThenRun(VersionedTable.tableChanges(spark, t, 0, 2))
    assert(resolve.isEmpty, s"tableChanges resolved with jobs: $resolve")
    assert(run.nonEmpty && run.forall(_.contains("DeletionVectorSpec")),
      s"tableChanges ran engine-side jobs: $run")
    assert(changeRows(VersionedTable.tableChanges(spark, t, 0, 2)) ==
      Set((2L, "delete"), (4L, "delete")))
  }

  test("a DV delete runs no write job for its sidecar") {
    val t = newTable()
    VersionedTable.commit(base.repartition(2, col("id")), t)       // v0
    VersionedTable.read(spark, t).collect()
    val (_, sites) = JobCount(spark)(
      VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true))
    assert(sites.nonEmpty && !sites.exists(_.startsWith("parquet at")),
      s"a sidecar write job ran: $sites")
    assert(sidecarsAt(t, 1).size == 1)
    // a further delete on the vectored file unions the cached priors
    val (_, again) = JobCount(spark)(
      VersionedTable.deleteWhere(spark, t, Some("id IN (1, 3)"), dv = true))
    assert(again.nonEmpty && !again.exists(_.startsWith("parquet at")),
      s"a sidecar read or write job ran: $again")
    assert(ids(VersionedTable.read(spark, t)) == Set(4L, 5L))
  }

  test("a table re-created at the same path never reads the old cached positions") {
    val t = newTable()
    val fsys = VersionedTable.fs(spark, t)
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), dv = true) // v1
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 3L, 4L, 5L))
    val Seq(oldName) = sidecarsAt(t, 1)
    // remove the whole table tree, then re-create the table at the same
    // path
    fsys.delete(new org.apache.hadoop.fs.Path(t), true)
    VersionedTable.commit(base.repartition(1), t)                   // v0
    VersionedTable.deleteWhere(spark, t, Some("id = 4"), dv = true) // v1
    // give the new sidecar the old one's name, so its part file sits at
    // exactly the path the cache saw before
    val Seq(newName) = sidecarsAt(t, 1)
    assert(fsys.rename(new org.apache.hadoop.fs.Path(s"$t/_dv/$newName"),
      new org.apache.hadoop.fs.Path(s"$t/_dv/$oldName")))
    val manifest = new org.apache.hadoop.fs.Path(s"$t/_commits/v-1")
    val in = fsys.open(manifest)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text.contains(newName))
    val out = fsys.create(manifest, true)
    try out.write(text.replace(newName, oldName).getBytes("UTF-8"))
    finally out.close()
    assert(sidecarsAt(t, 1) == Seq(oldName))
    assert(ids(VersionedTable.read(spark, t)) == Set(1L, 2L, 3L, 5L))
  }
}
