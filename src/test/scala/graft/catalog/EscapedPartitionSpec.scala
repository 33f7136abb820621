package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Partition values that a scan reports in a different form than the
  * manifest stores: Spark names scanned files URI-encoded
  * (`city=new york` reads `city=new%20york`; the hive-escaped
  * `city=a%3Ab` reads `city=a%253Ab`), while manifest entries hold the
  * raw path. Every row-level verb, with and without deletion vectors,
  * plus `read`, `tableChanges` and `changeFeed`, is checked against an
  * in-memory model on a table partitioned by such values.
  */
class EscapedPartitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Row3 = (Long, String, Long)
  private val cities = Seq("new york", "a:b", "a%b", "plain")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row3] =
    df.select("id", "city", "v").as[Row3].collect().toSeq.sorted

  for (dv <- Seq(false, true)) {
    test(s"row-level verbs on escaped partition values (dv = $dv) match the model") {
      val t = graft.Caches.newTempDir(s"escaped_$dv").toString + "/t"
      // the model: id -> (city, v), one state per version
      var model: Map[Long, (String, Long)] =
        (1L to 12L).map(i => i -> (cities((i % 4).toInt), i * 10)).toMap
      val states = scala.collection.mutable.ArrayBuffer.empty[Seq[Row3]]
      def state: Seq[Row3] =
        model.toSeq.map { case (i, (c, v)) => (i, c, v) }.sorted
      def check(what: String): Unit = {
        assert(rows(VersionedTable.read(spark, t)) == state, s"$what: read")
        val head = VersionedTable.versions(spark, t).max
        while (states.size <= head) states += state
      }
      def batch(rs: Row3*) = rs.toDF("id", "city", "v")
      VersionedTable.commit(batch(state: _*).repartition(2, col("id")), t,
        Seq("city"))
      check("commit")
      // every verb hits an escaped city: id % 4 is 1 (a:b), 2 (a%b) or
      // 0 (new york)
      VersionedTable.deleteWhere(spark, t, Some("id = 1"), Seq("city"), dv = dv)
      model -= 1L
      check("deleteWhere")
      VersionedTable.updateWhere(spark, t, Seq("v" -> "v + 100"),
        Some("id = 2"), Seq("city"), dv = dv)
      model += 2L -> ("a%b", 120L)
      check("updateWhere")
      VersionedTable.deleteRows(Seq(4L).toDF("id"), t, "id", Seq("city"),
        dv = dv)
      model -= 4L
      check("deleteRows")
      VersionedTable.merge(batch((5L, "a:b", 55L), (20L, "a%b", 200L)),
        t, "id", Seq("city"))
      model ++= Seq(5L -> ("a:b", 55L), 20L -> ("a%b", 200L))
      check("merge")
      VersionedTable.mergeWhen(batch((6L, "a%b", 66L), (21L, "new york", 210L)),
        t, "id", partitionCols = Seq("city"), dv = dv)
      model ++= Seq(6L -> ("a%b", 66L), 21L -> ("new york", 210L))
      check("mergeWhen")
      VersionedTable.mergeClauses(batch((8L, "new york", 0L)), t, "id",
        matched = Seq(VersionedTable.MatchedDelete(None)),
        partitionCols = Seq("city"), dv = dv)
      model -= 8L
      check("mergeClauses")
      VersionedTable.replaceWhere(batch((9L, "a:b", 99L)), t, "id = 9",
        dv = dv)
      model += 9L -> ("a:b", 99L)
      check("replaceWhere")

      // the netted diff and the per-version feed both replay the model
      val head = VersionedTable.versions(spark, t).max
      def replay(from: Seq[Row3], ch: Seq[(Row3, String)]): Seq[Row3] = {
        val bag = scala.collection.mutable.Map.empty[Row3, Int]
          .withDefaultValue(0)
        from.foreach(r => bag(r) += 1)
        ch.foreach { case (r, c) => bag(r) += (if (c == "insert") 1 else -1) }
        assert(bag.values.forall(_ >= 0), s"a change deletes an absent row")
        bag.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }.sorted
      }
      def changeRows(df: org.apache.spark.sql.DataFrame): Seq[(Row3, String)] =
        df.select("id", "city", "v", "_change_type").collect().toSeq
          .map(r => ((r.getLong(0), r.getString(1), r.getLong(2)), r.getString(3)))
      assert(replay(states(0),
        changeRows(VersionedTable.tableChanges(spark, t, 0, head))) == state,
        "tableChanges(0, head) does not net to the head")
      val feed = changeRows(VersionedTable.changeFeed(spark, t, 1, head))
      assert(replay(states(0), feed) == state,
        "changeFeed(1, head) does not replay to the head")
      cities.take(3).foreach { c =>
        assert(feed.exists(_._1._2 == c), s"changeFeed lost city '$c'")
      }
    }
  }
}
