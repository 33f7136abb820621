package graft.catalog

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sql.GraftSql

/** Snapshots whose files do not share one hive layout, one physical
  * schema or one column naming, and hive partitions typed timestamp and
  * decimal: every read surface (`read`, a filtered `read`, the `graft`
  * format, SQL) and every predicate verb, with and without deletion
  * vectors, plus `tableChanges` and `changeFeed`, is checked against an
  * in-memory model of the table.
  */
class SnapshotShapesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A table under test: its path, the LOGICAL column order, the payload
    * column the verbs change, the layout rewrites keep, and the model —
    * id -> row values as `read` returns them.
    */
  private case class Fixture(path: String, cols: Seq[String], pay: String,
                             layout: Seq[String],
                             init: Map[Long, Seq[Any]])

  private def newTable(name: String): String =
    graft.Caches.newTempDir(name).toString + "/t"

  private def rendered(rows: Iterable[Seq[Any]]): Seq[String] =
    rows.map(_.map(String.valueOf).mkString("|")).toSeq.sorted

  private def rendered(df: DataFrame, cols: Seq[String]): Seq[String] =
    rendered(df.select(cols.map(col): _*).collect().map(_.toSeq))

  test("a mixed layout: partitioned commit, flat optimize, partitioned append") {
    val t = newTable("shapes_mixed")
    VersionedTable.commit(Seq((1L, 10L, "a"), (2L, 20L, "new york"),
      (3L, 30L, "a"), (4L, 40L, "new york")).toDF("id", "v", "p"), t, Seq("p"))
    VersionedTable.optimize(spark, t)
    VersionedTable.append(Seq((5L, 50L, "a"), (6L, 60L, "new york"))
      .toDF("id", "v", "p"), t, Seq("p"))
    run(Fixture(t, Seq("id", "v", "p"), "v", Seq("p"),
      (1L to 6L).map(i => i -> Seq[Any](i, i * 10,
        if (i % 2 == 1) "a" else "new york")).toMap))
  }

  test("timestamp and decimal-valued hive partitions") {
    val t = newTable("shapes_typed")
    val stamps = Seq("2024-01-01 00:00:00", "2024-06-01 12:30:00")
    val big = "99999999999999999999"
    VersionedTable.commit((1L to 6L).map(i => (i, i * 10, stamps((i % 2).toInt), big))
      .toDF("id", "v", "ts", "big").withColumn("ts", to_timestamp(col("ts"))),
      t, Seq("ts", "big"))
    run(Fixture(t, Seq("id", "v", "ts", "big"), "v", Seq("ts", "big"),
      (1L to 6L).map(i => i -> Seq[Any](i, i * 10,
        java.sql.Timestamp.valueOf(stamps((i % 2).toInt)),
        new java.math.BigDecimal(big))).toMap))
  }

  test("an int column widened to long by an append") {
    val t = newTable("shapes_widened")
    VersionedTable.commit((1L to 3L).map(i => (i, (i * 10).toInt))
      .toDF("id", "v"), t)
    VersionedTable.append((4L to 6L).map(i => (i, i * 10)).toDF("id", "v"), t)
    assert(VersionedTable.read(spark, t).schema("v").dataType.typeName == "long")
    run(Fixture(t, Seq("id", "v"), "v", Nil,
      (1L to 6L).map(i => i -> Seq[Any](i, i * 10)).toMap))
  }

  test("a renamed and a dropped column, with a deletion vector") {
    val t = newTable("shapes_mapped")
    VersionedTable.commit((1L to 6L).map(i => (i, i * 10, s"b$i", i * 1.5))
      .toDF("id", "v", "b", "c").repartition(2, col("id")), t)
    VersionedTable.renameColumn(spark, t, "v", "amt")
    VersionedTable.dropColumn(spark, t, "b")
    VersionedTable.deleteWhere(spark, t, Some("id = 6"), dv = true)
    assert(VersionedTable.hasDeletionVectors(spark, t))
    run(Fixture(t, Seq("id", "amt", "c"), "amt", Nil,
      (1L to 5L).map(i => i -> Seq[Any](i, i * 10, i * 1.5)).toMap))
  }

  private def run(f: Fixture): Unit = {
    val t = f.path
    val payAt = f.cols.indexOf(f.pay)
    var model = f.init
    def check(what: String): Unit = {
      val want = rendered(model.values)
      assert(rendered(VersionedTable.read(spark, t), f.cols) == want,
        s"$what: read")
      assert(rendered(VersionedTable.read(spark, t).filter(col("id") >= 3), f.cols) ==
        rendered(model.filter(_._1 >= 3).values), s"$what: filtered read")
      assert(rendered(spark.read.format("graft").load(t), f.cols) == want,
        s"$what: graft format")
      assert(rendered(GraftSql.run(spark, s"SELECT * FROM graft.`$t`"), f.cols) ==
        want, s"$what: SQL")
    }
    /** A source frame of model-shaped rows, typed as `read` types them. */
    def source(rows: Seq[Seq[Any]]): DataFrame = {
      import scala.jdk.CollectionConverters._
      val schema = VersionedTable.read(spark, t).select(f.cols.map(col): _*).schema
      spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
    }
    def withPay(id: Long, pay: Long): Seq[Any] =
      model.getOrElse(id, model(5L)).updated(0, id).updated(payAt, pay)
    check("setup")
    val v0 = VersionedTable.versions(spark, t).max
    val state0 = model
    for (dv <- Seq(true, false)) {
      val (del, upd, mrg, ins) = if (dv) (1L, 3L, 5L, 7L) else (2L, 4L, 3L, 8L)
      VersionedTable.deleteWhere(spark, t, Some(s"id = $del"), f.layout, dv = dv)
      model -= del
      check(s"deleteWhere (dv = $dv)")
      VersionedTable.updateWhere(spark, t, Seq(f.pay -> s"${f.pay} + 100"),
        Some(s"id = $upd"), f.layout, dv = dv)
      model += upd -> withPay(upd, model(upd)(payAt).asInstanceOf[Long] + 100)
      check(s"updateWhere (dv = $dv)")
      val batch = Seq(withPay(mrg, mrg * 111), withPay(ins, ins * 111))
      VersionedTable.mergeWhen(source(batch), t, "id",
        partitionCols = f.layout, dv = dv)
      model ++= batch.map(r => r.head.asInstanceOf[Long] -> r)
      check(s"mergeWhen (dv = $dv)")
    }
    // the netted diff and the per-version feed both replay the model
    val head = VersionedTable.versions(spark, t).max
    def replay(ch: DataFrame): Seq[String] = {
      val bag = scala.collection.mutable.Map.empty[String, Int]
        .withDefaultValue(0)
      rendered(state0.values).foreach(r => bag(r) += 1)
      ch.select((f.cols :+ "_change_type").map(col): _*).collect().foreach { r =>
        val row = rendered(Seq(r.toSeq.init)).head
        bag(row) += (if (r.getString(f.cols.size) == "insert") 1 else -1)
      }
      assert(bag.values.forall(_ >= 0), "a change deletes an absent row")
      bag.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }.sorted
    }
    val want = rendered(model.values)
    assert(replay(VersionedTable.tableChanges(spark, t, v0, head)) == want,
      "tableChanges does not net to the head")
    assert(replay(VersionedTable.changeFeed(spark, t, v0 + 1, head)) == want,
      "changeFeed does not replay to the head")
  }
}
