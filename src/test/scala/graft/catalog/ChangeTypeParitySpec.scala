package graft.catalog

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Change rows take the types of the snapshot they lead to: every
  * column a `changes`, `tableChanges` or `changeFeed` frame shares by
  * name with `read(path, to)` has the same type there — numeric columns
  * widened by a later commit and hive partition columns included —
  * unless that type would narrow a value the window carries: then the
  * older rows come back unchanged.
  */
class ChangeTypeParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(name: String): String =
    graft.Caches.newTempDir(name).toString + "/t"

  /** The three change readers over (0, 1] — the feed from version 0. */
  private def changeFrames(t: String): Seq[(String, DataFrame)] = Seq(
    "changes" -> VersionedTable.changes(spark, t, 0, 1),
    "tableChanges" -> VersionedTable.tableChanges(spark, t, 0, 1),
    "changeFeed" -> VersionedTable.changeFeed(spark, t, 0, 1))

  private def assertParity(t: String): Unit = {
    val types = VersionedTable.read(spark, t, 1).schema.fields
      .map(f => f.name -> f.dataType).toMap
    changeFrames(t).foreach { case (reader, df) =>
      df.schema.fields.filter(f => types.contains(f.name)).foreach { f =>
        assert(f.dataType == types(f.name),
          s"$reader types ${f.name} as ${f.dataType}, read(t, 1) as " +
            types(f.name))
      }
    }
  }

  test("an int column widened to long by a later append reads long in every change reader") {
    val t = newTable("parity_widen")
    VersionedTable.commit(Seq((1, 10)).toDF("id", "x"), t)
    VersionedTable.append(Seq((2, 20L)).toDF("id", "x"), t)
    assert(VersionedTable.read(spark, t, 1).schema("x").dataType.typeName ==
      "long")
    assertParity(t)
    val feed = VersionedTable.changeFeed(spark, t, 0, 1)
      .select("id", "x").as[(Int, Long)].collect().toSet
    assert(feed == Set((1, 10L), (2, 20L)))
    assert(VersionedTable.changes(spark, t, 0, 1)
      .select("id", "x").as[(Int, Long)].collect().toSet == Set((2, 20L)))
  }

  test("timestamp and decimal-valued hive partition columns type as read does") {
    val t = newTable("parity_parts")
    def rows(big: String) = Seq((1L, "2024-01-01 00:00:00", big))
      .toDF("id", "ts", "big").withColumn("ts", to_timestamp(col("ts")))
    VersionedTable.commit(rows("99999999999999999999"), t, Seq("ts", "big"))
    VersionedTable.append(rows("1").withColumn("id", lit(2L)), t,
      Seq("ts", "big"))
    val read = VersionedTable.read(spark, t, 1).schema
    assert(read("ts").dataType.typeName == "timestamp")
    assert(read("big").dataType.typeName.startsWith("decimal"))
    assertParity(t)
    val expected = VersionedTable.read(spark, t, 1)
      .select("id", "ts", "big").collect().toSet
    assert(VersionedTable.changeFeed(spark, t, 0, 1)
      .select("id", "ts", "big").collect().toSet == expected)
    assert(VersionedTable.tableChanges(spark, t, 0, 1)
      .select("id", "ts", "big").collect().toSet ==
      expected.filter(_.getLong(0) == 2L))
  }

  test("a flat rewrite of a partitioned table replays its partition values") {
    val t = newTable("parity_mixed")
    VersionedTable.commit(Seq((1L, "a"), (2L, "a"), (3L, "new york"))
      .toDF("id", "p"), t, Seq("p"))
    // no partition columns named: the survivor (2, a) lands in a flat
    // file that stores p as data, beside the partitioned v0 files
    VersionedTable.deleteWhere(spark, t, Some("id = 1"))
    val feed = VersionedTable.changeFeed(spark, t, 0, 1)
      .select("_commit_version", "_change_type", "id", "p")
      .as[(Int, String, Long, String)].collect().toSeq.sorted
    assert(feed == Seq((0, "insert", 1L, "a"), (0, "insert", 2L, "a"),
      (0, "insert", 3L, "new york"), (1, "delete", 1L, "a"),
      (1, "delete", 2L, "a"), (1, "insert", 2L, "a")))
  }

  test("a full commit narrowing a column never casts the older rows down") {
    val t = newTable("parity_narrow")
    VersionedTable.commit(Seq((1, 5000000000L)).toDF("id", "x"), t)
    VersionedTable.commit(Seq((2, 7)).toDF("id", "x"), t)
    assert(VersionedTable.read(spark, t, 1).schema("x").dataType.typeName ==
      "integer")
    assert(VersionedTable.tableChanges(spark, t, 0, 1)
      .select("_change_type", "id", "x").as[(String, Int, Long)]
      .collect().toSet == Set(("delete", 1, 5000000000L), ("insert", 2, 7L)))
    assert(VersionedTable.changeFeed(spark, t, 0, 1)
      .select("_commit_version", "_change_type", "id", "x")
      .as[(Int, String, Int, Long)].collect().toSet ==
      Set((0, "insert", 1, 5000000000L), (1, "delete", 1, 5000000000L),
        (1, "insert", 2, 7L)))
  }

  test("a string partition value under later int partitions stays a string") {
    val t = newTable("parity_narrow_part")
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "p"), t, Seq("p"))
    VersionedTable.commit(Seq((2L, "1")).toDF("id", "p"), t, Seq("p"))
    assert(VersionedTable.read(spark, t, 1).schema("p").dataType.typeName ==
      "integer")
    assert(VersionedTable.tableChanges(spark, t, 0, 1)
      .select("_change_type", "id", "p").as[(String, Long, String)]
      .collect().toSet == Set(("delete", 1L, "x"), ("insert", 2L, "1")))
    assert(VersionedTable.changeFeed(spark, t, 0, 1)
      .select("_commit_version", "_change_type", "id", "p")
      .as[(Int, String, Long, String)].collect().toSet ==
      Set((0, "insert", 1L, "x"), (1, "delete", 1L, "x"),
        (1, "insert", 2L, "1")))
    // the window's rows of version 1 alone: read's type again
    assert(VersionedTable.changes(spark, t, 0, 1).select("id", "p")
      .as[(Long, Int)].collect().toSeq == Seq((2L, 1)))
  }
}
