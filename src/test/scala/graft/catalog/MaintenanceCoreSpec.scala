package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The four maintenance verbs — OPTIMIZE (plain and z-ordered),
  * partition-scoped OPTIMIZE, REORG PURGE and small-file compaction —
  * share one rewrite core. Each runs here over a flat, a partitioned
  * and a bucketed table, every one carrying a deletion vector and a
  * renamed column: the rows, the history, the pre-verb version by
  * number and by timestamp, the files carried forward and the file
  * count the sizing rule gives must all hold. The last case guards the
  * source: the maintenance ops reach `writeCommit` from one call site.
  */
class MaintenanceCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nBuckets = 4
  private val days = Seq("mon", "tue", "wed")

  private case class Verb(name: String, op: String,
                          run: (String, Seq[String]) => Int,
                          zorder: Boolean = false)

  private val verbs = Seq(
    Verb("optimize", "optimize",
      (t, pcs) => VersionedTable.optimize(spark, t, pcs)),
    Verb("optimize ZORDER", "optimize",
      (t, pcs) => VersionedTable.optimize(spark, t, pcs,
        zorderCols = Seq("id", "amt")), zorder = true),
    Verb("optimizePartitions", "optimize",
      (t, _) => VersionedTable.optimizePartitions(spark, t, "day",
        Seq("mon", "wed"))),
    Verb("optimizePartitions ZORDER", "optimize",
      (t, _) => VersionedTable.optimizePartitions(spark, t, "day",
        Seq("mon", "wed"), zorderCols = Seq("id", "amt")), zorder = true),
    Verb("purgeDeletionVectors", "purge_dv",
      (t, _) => VersionedTable.purgeDeletionVectors(spark, t)),
    Verb("compactSmallFiles", "compact",
      (t, _) => VersionedTable.compactSmallFiles(spark, t)))

  private val layouts = Seq("flat", "partitioned", "bucketed")

  /** v0 commit, v1 append, v2 rename `v` → `amt`, v3 a DV delete. */
  private def fixture(layout: String): String = {
    val t = graft.Caches.newTempDir("maint_core").toString + "/t"
    val pcs = if (layout == "partitioned") Seq("day") else Nil
    if (layout == "bucketed")
      VersionedTable.setBucketing(spark, t, "id", nBuckets)
    def batch(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, days((i % 3).toInt), i * 1.5)).toDF("id", "day", "v")
    VersionedTable.commit(batch(1L to 12L).repartition(2), t, pcs)
    VersionedTable.append(batch(13L to 16L), t, pcs)
    VersionedTable.renameColumn(spark, t, "v", "amt")
    VersionedTable.deleteWhere(spark, t, Some("id = 2"), pcs, dv = true)
    t
  }

  private def entries(t: String, v: Int): Seq[String] =
    VersionedTable.resolveFiles(VersionedTable.fs(spark, t), t, v)

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "day", "amt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def ops(t: String): Seq[String] =
    VersionedTable.history(spark, t).orderBy("version").select("op")
      .collect().map(_.getString(0)).toSeq

  private def daySeg(e: String): Option[String] =
    e.split("/").find(_.startsWith("day="))

  for (layout <- layouts; verb <- verbs)
    test(s"${verb.name} on a $layout table with a DV and a renamed column") {
      val t = fixture(layout)
      val pcs = if (layout == "partitioned") Seq("day") else Nil
      val preV = VersionedTable.versions(spark, t).max
      val pre = entries(t, preV)
      val preRows = rows(VersionedTable.read(spark, t))
      val preCols = VersionedTable.read(spark, t).columns.toSeq
      val preOps = ops(t)
      val preTs = VersionedTable.history(spark, t)
        .filter($"version" === preV).select("ts_millis").head().getLong(0)
      assert(pre.exists(VersionedTable.dvSplit(_)._2.isDefined),
        "the fixture must carry a deletion vector")
      assert(preCols.contains("amt") && !preCols.contains("v"))

      // the files each verb picks; every one is far below the target
      // size, so every file counts as small
      val picked: Seq[String] = verb.op match {
        case "purge_dv" => pre.filter(VersionedTable.dvSplit(_)._2.isDefined)
        case "compact" =>
          pre.groupBy(e => if (pcs.isEmpty) None else daySeg(e))
            .values.filter(_.size >= 2).flatten.toSeq
        case _ if verb.name.startsWith("optimizePartitions") =>
          pre.filter(e =>
            daySeg(e).exists(Set("day=mon", "day=wed")))
        case _ => pre
      }
      val v = verb.run(t, pcs)

      if (picked.isEmpty) {
        assert(v == preV, "nothing picked: no version is committed")
        assert(ops(t) == preOps)
      } else {
        assert(v == preV + 1)
        assert(ops(t) == preOps :+ verb.op)
        val post = entries(t, v)
        val kept = pre.filterNot(picked.toSet)
        assert(kept.forall(post.contains),
          "untouched files travel by manifest reference")
        val added = post.filterNot(kept.toSet)
        assert(added.forall(VersionedTable.dvSplit(_)._2.isEmpty),
          "a rewrite folds the deletion vectors of the files it picked")
        // the sizing rule at a target no file reaches: one file per
        // rewritten partition; one per bucket for a non-zorder rewrite
        // of a bucketed table; one file otherwise
        val expected =
          if (pcs.nonEmpty) picked.flatMap(daySeg).distinct.size
          else if (layout == "bucketed" && !verb.zorder) {
            val byFile = VersionedTable.read(spark, t)
              .select(input_file_name().as("f"),
                pmod(hash($"id"), lit(nBuckets)).as("b"))
              .distinct().collect()
              .map(r => r.getString(0) -> r.getInt(1)).toSeq
              .filter { case (f, _) =>
                added.exists(e => f.endsWith(VersionedTable.baseOf(e))) }
            assert(byFile.groupBy(_._1).values.forall(_.size == 1),
              s"each arranged file holds one bucket: $byFile")
            byFile.map(_._2).distinct.size
          } else 1
        assert(added.size == expected,
          s"${added.size} files written, the sizing rule gives $expected")
      }
      assert(rows(VersionedTable.read(spark, t)) == preRows,
        "maintenance is data-identical")
      assert(VersionedTable.read(spark, t).columns.toSeq == preCols)
      assert(rows(VersionedTable.read(spark, t, preV)) == preRows)
      assert(rows(VersionedTable.readAsOf(spark, t, preTs)) == preRows)
    }

  test("optimize, compact and purge_dv reach writeCommit from one call site") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => root.relativize(f).toString.replace('\\', '/') ->
        java.nio.file.Files.readAllLines(f).asScala.toSeq)
    // a member of an object (two-space indent): local defs do not count
    val defLine = "^  (?:private(?:\\[\\w+\\])? )?def\\s+(\\w+)".r
    /** Each call of `fn` outside its definition: (site, the call's
      * argument list, the enclosing member def).
      */
    def calls(fn: String): Seq[(String, String, Option[String])] = for {
      (rel, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains(fn + "(") && !line.contains("def " + fn)
      text = lines.slice(i, i + 40).mkString("\n")
      open = text.indexOf(fn + "(") + fn.length
      close = text.iterator.drop(open).scanLeft(0) {
        case (d, '(') => d + 1
        case (d, ')') => d - 1
        case (d, _) => d
      }.drop(1).indexWhere(_ == 0)
      args = text.slice(open, open + close + 1)
      enclosing = lines.take(i + 1).reverse
        .flatMap(l => defLine.findFirstMatchIn(l).map(_.group(1)))
        .headOption
    } yield (s"$rel:${i + 1}", args, enclosing)
    val maintenance = Seq("\"optimize\"", "\"compact\"", "\"purge_dv\"")
    val bypass = calls("writeCommit")
      .filter(c => maintenance.exists(c._2.contains))
    assert(bypass.isEmpty, "a maintenance op commits outside the " +
      "rewrite core:\n" + bypass.map(_._1).mkString("\n"))
    val core = calls("writeCommit").filter(_._3.contains("rewriteFiles"))
    assert(core.size == 1, s"the rewrite core commits once: $core")
    maintenance.foreach { op =>
      assert(calls("rewriteFiles").exists(_._2.contains(op)),
        s"no verb commits $op through the rewrite core")
    }
  }
}
