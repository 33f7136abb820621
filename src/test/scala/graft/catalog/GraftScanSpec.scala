package graft.catalog

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The manifest-backed FileIndex: transparent stats skipping and
  * partition pruning on Catalyst-pushed predicates, checked against
  * the rows each spec committed.
  */
class GraftScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(): String =
    graft.Caches.newTempDir("gscan_spec").toString + "/t"

  private val base = Seq(
    (1L, "mon", 10.0), (2L, "mon", 20.0),
    (3L, "tue", 30.0), (4L, "tue", 40.0),
    (5L, "wed", 50.0)
  ).toDF("id", "day", "value")

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "day", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("indexed scan matches read on a partitioned, evolved, renamed table") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(
      Seq((6L, "thu", 60.0, "x")).toDF("id", "day", "value", "tag"),
      t, Seq("day"), evolveSchema = true)
    VersionedTable.renameColumn(spark, t, "value", "amount")
    val idxDf = VersionedTable.read(spark, t)
    val expected = rows(base).map { case (i, d, v) =>
      (i, d, v, Option.empty[String]) } +
      ((6L, "thu", 60.0, Some("x")))
    assert(idxDf.columns.sorted.toSeq == Seq("amount", "day", "id", "tag"))
    def all(df: DataFrame): Set[(Long, String, Double, Option[String])] =
      df.select("id", "day", "amount", "tag").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.getString(3)))).toSet
    assert(all(idxDf) == expected)
    // a filter on the RENAMED (logical) column pushes through the
    // projection into physical space and still answers correctly
    assert(idxDf.filter($"amount" > 35.0).count() ==
      expected.count(_._3 > 35.0))
  }

  test("pushed range predicate prunes files through stats sidecars") {
    val t = newTable()
    val wide = (0L until 1600L).map(i => (i, i % 7, s"s$i"))
      .toDF("id", "bucket", "s")
    VersionedTable.commit(wide.repartitionByRange(16, $"id"), t)
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    assert(idx.totalFiles == 16)
    val q = df.filter($"id" >= 100L && $"id" <= 199L)
    assert(q.select(sum($"id")).head().getLong(0) == (100L to 199L).sum)
    assert(idx.lastListedCount <= 4,
      s"stats skipping failed: listed ${idx.lastListedCount} of 16")
    // point lookup and IN-list prune too
    val p = df.filter($"id" === 777L)
    assert(p.count() == 1)
    assert(idx.lastListedCount <= 2)
    val in = df.filter($"id".isin(3L, 1500L))
    assert(in.count() == 2)
    assert(idx.lastListedCount <= 4)
    // an unfiltered scan lists everything and agrees on totals
    assert(df.count() == 1600L)
    assert(idx.lastListedCount == 16)
  }

  test("pushed partition predicate prunes hive partitions without listing them") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(Seq((6L, "mon", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    val mon = df.filter($"day" === "mon")
    assert(rows(mon) == Set((1L, "mon", 10.0), (2L, "mon", 20.0),
      (6L, "mon", 60.0)))
    val monFiles = idx.inputFiles.count(_.contains("/day=mon/"))
    assert(idx.lastListedCount == monFiles,
      s"partition pruning: listed ${idx.lastListedCount}, mon has $monFiles")
    assert(idx.lastListedCount < idx.totalFiles)
    // combined partition + data predicate composes both pruning levels
    val one = df.filter($"day" === "mon" && $"id" === 1L)
    assert(one.count() == 1)
    assert(idx.lastListedCount <= monFiles)
  }

  test("two-level hive layout: writes nest dirs, pruning composes both levels, DML preserves the layout") {
    val t = newTable()
    val data = Seq(
      (1L, "en", 0, 10.0), (2L, "en", 0, 20.0),
      (3L, "en", 1, 30.0), (4L, "nl", 0, 40.0),
      (5L, "nl", 1, 50.0), (6L, "nl", 1, 60.0)
    ).toDF("id", "lang", "bucket", "value")
    VersionedTable.commit(data, t, Seq("lang", "bucket"))
    // the layout nests in declared order: lang above bucket
    val files0 = VersionedTable.read(spark, t).inputFiles
    assert(files0.nonEmpty && files0.forall(f =>
      f.matches(".*/lang=[^/]+/bucket=[^/]+/[^/]+$")),
      s"expected lang=/bucket=/ nesting, got ${files0.take(2).toSeq}")
    assert(VersionedTable.layoutPartitionCols(spark, t) ==
      Seq("lang", "bucket"))
    // a two-predicate scan lists exactly the one leaf dir's files
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    val hit = df.filter($"lang" === "nl" && $"bucket" === 1)
    assert(hit.select("id").collect().map(_.getLong(0)).toSet ==
      Set(5L, 6L))
    val leafFiles = idx.inputFiles
      .count(f => f.contains("/lang=nl/") && f.contains("/bucket=1/"))
    assert(idx.lastListedCount == leafFiles && leafFiles < idx.totalFiles,
      s"two-level pruning: listed ${idx.lastListedCount}, " +
        s"leaf has $leafFiles of ${idx.totalFiles}")
    // SQL DML preserves BOTH levels (layoutPartitionCols drives the
    // rewrite); the untouched partitions carry forward by reference
    val pre = VersionedTable.read(spark, t).inputFiles
      .filter(_.contains("/lang=en/")).toSet
    graft.sql.GraftSql.run(spark,
      s"UPDATE graft.`$t` SET value = value + 1 WHERE lang = 'nl'")
    val post = VersionedTable.read(spark, t).inputFiles
    assert(post.forall(f => f.matches(".*/lang=[^/]+/bucket=[^/]+/[^/]+$")),
      "the DML rewrite must keep the two-level layout")
    assert(pre.subsetOf(post.toSet),
      "lang=en files must carry forward untouched")
    assert(VersionedTable.read(spark, t)
      .filter($"lang" === "nl").select(sum("value")).head().getDouble(0)
      == 153.0)
    // multi-level append through the writer option path too
    Seq((7L, "en", 1, 70.0)).toDF("id", "lang", "bucket", "value")
      .write.format("graft").mode("append")
      .option("partitionCols", "lang,bucket").save(t)
    assert(VersionedTable.read(spark, t).count() == 7)
    assert(VersionedTable.read(spark, t).inputFiles.forall(f =>
      f.matches(".*/lang=[^/]+/bucket=[^/]+/[^/]+$")))
  }

  test("partition-scoped maintenance on a two-level table keeps the full layout") {
    val t = newTable()
    val data = Seq(
      (1L, "en", 0, 10.0), (2L, "en", 0, 20.0),
      (3L, "en", 1, 30.0), (4L, "nl", 0, 40.0)
    ).toDF("id", "lang", "bucket", "value")
    VersionedTable.commit(data, t, Seq("lang", "bucket"))
    def twoLevel(): Boolean = VersionedTable.read(spark, t).inputFiles
      .forall(_.matches(".*/lang=[^/]+/bucket=[^/]+/[^/]+$"))
    // upsert at the FIRST level replaces lang=en wholesale but must
    // still write nested lang=/bucket=/ dirs
    VersionedTable.upsertPartitions(
      Seq((9L, "en", 1, 90.0)).toDF("id", "lang", "bucket", "value"),
      t, "lang")
    assert(twoLevel(), "upsert flattened the two-level layout")
    assert(VersionedTable.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(4L, 9L))
    // partition-scoped OPTIMIZE names one level; the rewrite keeps both
    VersionedTable.append(
      Seq((10L, "en", 1, 100.0)).toDF("id", "lang", "bucket", "value"),
      t, Seq("lang", "bucket"))
    VersionedTable.optimizePartitions(spark, t, "lang", Seq("en"))
    assert(twoLevel(), "optimizePartitions flattened the layout")
    assert(VersionedTable.read(spark, t).count() == 3)
    // compaction with no named cols derives the table's own layout
    VersionedTable.compactSmallFiles(spark, t)
    assert(twoLevel(), "compactSmallFiles flattened the layout")
    // a column that is NOT a layout level fails loud, never flattens
    val e = intercept[IllegalArgumentException] {
      VersionedTable.optimizePartitions(spark, t, "value", Seq("10.0"))
    }
    assert(e.getMessage.contains("not a partition level"))
  }

  test("IS NULL / IS NOT NULL prune on harvested null counts") {
    val t = newTable()
    // commit A: tag all null; commit B: tag never null
    VersionedTable.commit(
      Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
        .toDF("id", "tag"), t)
    VersionedTable.append(Seq((3L, "x"), (4L, "y")).toDF("id", "tag"), t)
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    assert(df.filter($"tag".isNull).count() == 2)
    val nullListed = idx.lastListedCount
    assert(df.filter($"tag".isNotNull).count() == 2)
    val notNullListed = idx.lastListedCount
    assert(nullListed < idx.totalFiles || notNullListed < idx.totalFiles,
      s"null-count pruning never engaged: $nullListed/$notNullListed of " +
        s"${idx.totalFiles}")
  }

  test("time travel reads historical snapshots through the index") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(Seq((6L, "thu", 60.0)).toDF("id", "day", "value"),
      t, Seq("day"))
    assert(rows(VersionedTable.read(spark, t, 0)) == rows(base))
    assert(rows(VersionedTable.read(spark, t)) ==
      rows(base) + ((6L, "thu", 60.0)))
  }

  test("wide IN lists (Catalyst InSet) still prune through the stats sidecars") {
    val t = newTable()
    val wide = (0L until 1600L).map(i => (i, s"s$i")).toDF("id", "s")
    VersionedTable.commit(wide.repartitionByRange(16, $"id"), t)
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    // > spark.sql.optimizer.inSetConversionThreshold values: the
    // predicate reaches the index as InSet, not In
    val keys = (0L until 15L).map(_ * 7L) // all inside the first file
    val q = df.filter($"id".isin(keys: _*))
    assert(q.count() == 15)
    assert(idx.lastListedCount <= 2,
      s"InSet pruning failed: listed ${idx.lastListedCount} of 16")
    // keys spanning two distant files list ~2, never everything
    val spread = df.filter($"id".isin(
      (Seq(3L, 1500L) ++ (0L until 12L).map(1490L - _)): _*))
    assert(spread.count() == 14)
    assert(idx.lastListedCount <= 4)
  }

  test("startsWith keeps files whose min has a supplementary char after the prefix") {
    // stats strings compare by UTF-8 bytes: "ap😀x" (F0 9F 98 80 lead)
    // sorts ABOVE any "ap￿" bound, so a synthetic-upper-bound
    // judgment would wrongly prune the file holding it. The
    // prefix-truncated judgment must keep it.
    val t = newTable()
    VersionedTable.commit(Seq((1L, "ap😀x"), (2L, "ap￿z"))
      .toDF("id", "s"), t)
    VersionedTable.append(Seq((3L, "zz")).toDF("id", "s"), t)
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    val hits = df.filter($"s".startsWith("ap"))
    assert(hits.count() == 2,
      "startsWith must find the supplementary-plane and U+FFFF rows")
    assert(idx.lastListedCount < idx.totalFiles,
      "the zz-only file should still be pruned")
    // and a prefix no value matches prunes everything judged
    assert(df.filter($"s".startsWith("zzz")).count() == 0)
  }

  test("a mixed partition layout plans one relation per layout") {
    val t = newTable()
    VersionedTable.commit(base, t, Seq("day"))
    VersionedTable.append(Seq((9L, "fri", 90.0)).toDF("id", "day", "value"),
      t, Nil) // unpartitioned append onto a partitioned table
    val (df, idx) = GraftScan.readWithIndex(spark, t)
    assert(df.count() == 6)
    assert(idx.totalFiles == VersionedTable.read(spark, t).inputFiles.length)
    // the partitioned relation prunes by path, the flat one by its stats
    assert(rows(df.filter($"day" === "fri")) == Set((9L, "fri", 90.0)))
    assert(idx.lastListedCount == 1)
  }

  test("dropped columns stay hidden; unsupported predicates keep every file") {
    val t = newTable()
    VersionedTable.commit(base, t)
    VersionedTable.dropColumn(spark, t, "value")
    val df = VersionedTable.read(spark, t)
    assert(!df.columns.contains("value"))
    assert(df.select("id", "day").count() == 5)
    // a non-algebra predicate (contains) must not prune anything away
    val t2 = newTable()
    VersionedTable.commit(base, t2)
    val (d2, idx2) = GraftScan.readWithIndex(spark, t2)
    assert(d2.filter($"day".contains("on")).count() == 2)
    assert(idx2.lastListedCount == idx2.totalFiles)
  }

  test("a cold commit dir's schema resolves with no Spark job, as inference types it") {
    val t = newTable()
    // a two-level layout whose levels infer as int and string
    VersionedTable.commit(base.withColumn("wk", lit(7)), t, Seq("wk", "day"))
    val files = VersionedTable.resolveFiles(VersionedTable.fs(spark, t), t,
      0).map(f => s"$t/data/$f")
    val dir = files.head.substring(0, files.head.indexOf("/wk="))
    val inferred = spark.read.option("basePath", dir).parquet(files: _*).schema
    val (df, jobs) = graft.JobCount(spark)(VersionedTable.read(spark, t))
    assert(jobs.isEmpty, s"resolving a cold dir ran $jobs")
    assert(df.schema == inferred)
    assert(rows(df) == rows(base))
  }
}
