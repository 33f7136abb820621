package graft.catalog

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.catalog.MaterializedView.AggDef

/** Incrementally-maintained materialized views: refresh == full
  * recompute across every mutation kind (append / delete / DV update /
  * merge), in O(changes) — delta maintenance for count/sum/avg, pruned
  * group recompute for min/max; exactly-once watermarks via the txn
  * machinery; group death and NULL-restoring sums pinned.
  */
class MaterializedViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    graft.Caches.newTempDir(s"mv_$tag").toString

  private val base = Seq(
    (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
    (4L, "b", 40L), (5L, "c", 50L)
  ).toDF("id", "grp", "v")

  /** The view read back, as sorted (grp, n, s, avgOpt) tuples. */
  private def got(view: String): Seq[(String, Long, Option[Long], Option[Double])] =
    MaterializedView.read(spark, view).collect().map { r =>
      (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toSeq.sortBy(_._1)

  /** The same shape recomputed from the source's head snapshot. */
  private def want(src: String): Seq[(String, Long, Option[Long], Option[Double])] =
    VersionedTable.read(spark, src).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("a"))
      .collect().map { r =>
        (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSeq.sortBy(_._1)

  test("delta view tracks append / delete / DV update / merge, exactly-once") {
    val d = newDir("delta")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base.repartition(2, col("id")), src)     // v0
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    assert(got(view) == want(src), "create must equal full recompute")
    // a mixed window: new group, growth of an existing group, a full
    // group death, a DV update (replays as delete+insert)
    VersionedTable.append(
      Seq((6L, "d", 60L), (7L, "a", 5L)).toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("grp = 'c'"))
    VersionedTable.updateWhere(spark, src, Seq("v" -> "v + 1"),
      Some("id = 3"), dv = true)
    VersionedTable.merge(
      Seq((4L, "b", 400L), (8L, "e", 80L)).toDF("id", "grp", "v"),
      src, "id")
    val v1 = MaterializedView.refresh(spark, view)
    assert(got(view) == want(src), "refresh must equal full recompute")
    assert(MaterializedView.refreshedVersion(spark, view) ==
      VersionedTable.versions(spark, src).max)
    assert(got(view).map(_._1) == Seq("a", "b", "d", "e"),
      "the dead group must leave the view")
    // no source movement: refresh is a no-op, version unchanged
    assert(MaterializedView.refresh(spark, view) == v1)
    // resurrection: the dead group returns on new rows
    VersionedTable.append(Seq((9L, "c", 90L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(got(view) == want(src))
    // incremental, not recomputed: the view's maintenance commits are
    // merges (delta mode never rewrites the whole view)
    val ops = VersionedTable.history(spark, view)
      .filter($"version" > 0).select("op").collect()
      .map(_.getString(0)).toSet
    assert(ops == Set("merge_when"), s"got $ops")
  }

  test("NULL-restoring sums: a group whose non-null values all die reads NULL") {
    val d = newDir("nulls")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(Seq(
      (1L, "a", Some(10L)), (2L, "a", None), (3L, "b", Some(30L))
    ).toDF("id", "grp", "v"), src)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    // kill group a's only NON-NULL value; the null row stays
    VersionedTable.deleteWhere(spark, src, Some("id = 1"))
    MaterializedView.refresh(spark, view)
    assert(got(view) == want(src))
    assert(got(view).find(_._1 == "a").get ==
      (("a", 1L, None, None)), "sum/avg over all-null must read NULL")
    // count(col) vs count(*): the null row counts for * only
    val view2 = s"$d/view2"
    MaterializedView.create(spark, src, view2, Seq("grp"),
      Seq(AggDef("count", "v", "nv")))
    VersionedTable.append(Seq((4L, "a", None: Option[Long]))
      .toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view2)
    val nv = MaterializedView.read(spark, view2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nv == Map("a" -> 0L, "b" -> 1L))
  }

  test("min/max views recompute ONLY the affected groups") {
    val d = newDir("minmax")
    val src = s"$d/src"; val view = s"$d/view"
    // source partitioned by group so the affected-group semi join
    // prunes, and the view partitioned likewise so untouched groups'
    // files are provably carried by reference
    VersionedTable.commit(base, src, partitionCols = Seq("grp"))
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("min", "v", "lo"), AggDef("max", "v", "hi"),
        AggDef("sum", "v", "s")), partitionCols = Seq("grp"))
    def wantMm() = VersionedTable.read(spark, src).groupBy("grp")
      .agg(min("v"), max("v"), sum("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    def gotMm() = MaterializedView.read(spark, view).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(gotMm() == wantMm())
    val untouched = MaterializedView.read(spark, view).inputFiles
      .filter(_.contains("grp=b")).toSet
    assert(untouched.nonEmpty)
    // delete the current min of group a — not un-aggregatable, must
    // re-aggregate group a (and only group a) from the source
    VersionedTable.deleteWhere(spark, src, Some("id = 1"),
      partitionCols = Seq("grp"))
    VersionedTable.append(Seq((6L, "c", 5L)).toDF("id", "grp", "v"), src,
      partitionCols = Seq("grp"))
    MaterializedView.refresh(spark, view)
    assert(gotMm() == wantMm())
    assert(MaterializedView.read(spark, view).inputFiles
      .filter(_.contains("grp=b")).toSet == untouched,
      "untouched groups' view files must carry by reference")
    // group death through the recompute path
    VersionedTable.deleteWhere(spark, src, Some("grp = 'a'"),
      partitionCols = Seq("grp"))
    MaterializedView.refresh(spark, view)
    assert(gotMm() == wantMm())
    assert(gotMm().map(_._1) == Seq("b", "c"))
    // NULL grouping values survive the recompute path: the joins go
    // through the null-preserving _mv_key, never null-unsafe equality
    val tn = s"$d/srcn"; val vn = s"$d/viewn"
    VersionedTable.commit(Seq((1L, Some("a"), 10L), (2L, None, 20L),
      (3L, None, 30L)).toDF("id", "grp", "v"), tn)
    MaterializedView.create(spark, tn, vn, Seq("grp"),
      Seq(AggDef("min", "v", "lo"), AggDef("count", "*", "n")))
    VersionedTable.deleteWhere(spark, tn, Some("id = 2"))
    MaterializedView.refresh(spark, vn)
    val nullRow = MaterializedView.read(spark, vn)
      .filter($"grp".isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getLong(1) == 30L &&
      nullRow.head.getLong(2) == 1L,
      s"the NULL group must survive with its recomputed min: " +
        nullRow.mkString(","))
    // a WHERE-filtered min/max view recomputes its groups FILTERED
    val vf = s"$d/viewf"
    MaterializedView.create(spark, src, vf, Seq("grp"),
      Seq(AggDef("min", "v", "lo")), where = Some("v < 40"))
    VersionedTable.append(Seq((7L, "b", 1L), (8L, "b", 99L))
      .toDF("id", "grp", "v"), src, partitionCols = Seq("grp"))
    MaterializedView.refresh(spark, vf)
    val gotVf = MaterializedView.read(spark, vf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotVf == VersionedTable.read(spark, src).filter($"v" < 40)
      .groupBy("grp").agg(min("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(gotVf("b") == 1L)
  }

  test("min/max views fold insert-only windows by the monotone merge") {
    val d = newDir("minmax_mono")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base, src)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("min", "v", "lo"), AggDef("max", "v", "hi"),
        AggDef("count", "*", "n")))
    def want() = VersionedTable.read(spark, src).groupBy("grp")
      .agg(min("v"), max("v"), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    def got() = MaterializedView.read(spark, view).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    // insert-only window: new min for an old group, new max for
    // another, an entirely NEW group — all fold by least/greatest,
    // delta mode asserted (the source is never re-read)
    VersionedTable.append(Seq((10L, "a", -5L), (11L, "b", 900L),
      (12L, "z", 7L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta",
      "an insert-only window must merge monotonically, not recompute")
    assert(got() == want())
    // a second insert-only window that does NOT move min/max (values
    // inside the range) still folds correctly
    VersionedTable.append(Seq((13L, "a", 15L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta")
    assert(got() == want())
    // a delete still routes to the affected-group recompute — a
    // deleted minimum cannot be un-aggregated
    VersionedTable.deleteWhere(spark, src, Some("v = -5"))
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "recompute",
      "a window carrying deletes must recompute affected groups")
    assert(got() == want())
    // all-null insert batch for a NEW group: least/greatest skip
    // nulls — the group lands with NULL min/max (recompute semantics),
    // and a later real value replaces it
    VersionedTable.append(Seq(("q", 20L)).toDF("grp", "id")
      .withColumn("v", lit(null).cast("long"))
      .select("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta")
    val qRow = MaterializedView.read(spark, view)
      .filter($"grp" === "q").collect()
    assert(qRow.length == 1 && qRow.head.isNullAt(1) &&
      qRow.head.isNullAt(2) && qRow.head.getLong(3) == 1L,
      s"an all-null group must read NULL min/max: ${qRow.mkString(",")}")
    VersionedTable.append(Seq((21L, "q", 3L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta")
    assert(got() == want())
  }

  test("mixed backlogs route per contiguous sub-window: one delete never recomputes the append-only spans") {
    val d = newDir("minmax_route")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base, src)                               // v0
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("min", "v", "lo"), AggDef("max", "v", "hi"),
        AggDef("count", "*", "n")))
    def want() = VersionedTable.read(spark, src).groupBy("grp")
      .agg(min("v"), max("v"), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    def got() = MaterializedView.read(spark, view).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    // a BACKLOG accumulates before one refresh: two appends, one
    // delete, two more appends — five source versions in the window
    VersionedTable.append(Seq((10L, "a", -5L))
      .toDF("id", "grp", "v"), src)                                // v1
    VersionedTable.append(Seq((11L, "b", 900L))
      .toDF("id", "grp", "v"), src)                                // v2
    VersionedTable.deleteWhere(spark, src, Some("v = -5"))         // v3
    VersionedTable.append(Seq((12L, "z", 7L))
      .toDF("id", "grp", "v"), src)                                // v4
    VersionedTable.append(Seq((13L, "a", 1000L))
      .toDF("id", "grp", "v"), src)                                // v5
    MaterializedView.refresh(spark, view)
    // the delete-touched version recomputes; BOTH append-only spans
    // keep the monotone delta merge — the mode seam names the split
    val mode = MaterializedView.lastRefreshModeFor(view)
    assert(mode == "delta(v1-v2);recompute(v3);delta(v4-v5)",
      s"a mixed window must route per sub-window, got: $mode")
    assert(got() == want())
    // idempotent: a refresh with no source movement changes nothing
    val v = VersionedTable.versions(spark, view).max
    assert(MaterializedView.refresh(spark, view) == v)
    // an all-delete window stays the plain legacy mode string
    VersionedTable.deleteWhere(spark, src, Some("v = 900"))        // v6
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "recompute")
    assert(got() == want())
  }

  test("streamViewRefresh drains the source backlog and is replay-safe") {
    val d = newDir("stream")
    val src = s"$d/src"; val view = s"$d/view"; val ck = s"$d/ck"
    VersionedTable.commit(base.repartition(2, col("id")), src)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    VersionedTable.append(Seq((6L, "d", 60L)).toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("grp = 'c'"))
    graft.streaming.Streams.streamViewRefresh(spark, view, ck)
    assert(got(view) == want(src))
    // second drain after more commits, SAME checkpoint
    VersionedTable.merge(Seq((1L, "a", 111L)).toDF("id", "grp", "v"),
      src, "id")
    graft.streaming.Streams.streamViewRefresh(spark, view, ck)
    assert(got(view) == want(src))
    // replaying the stream from a FRESH checkpoint re-delivers old
    // windows, but the refresh watermark makes them no-ops
    val before = VersionedTable.versions(spark, view).max
    graft.streaming.Streams.streamViewRefresh(spark, view, s"$d/ck2")
    assert(VersionedTable.versions(spark, view).max == before,
      "replayed windows must not double-apply")
    assert(got(view) == want(src))
  }

  test("SQL surface: CREATE / REFRESH MATERIALIZED VIEW") {
    val d = newDir("sql")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base.repartition(2, col("id")), src)
    graft.sql.GraftSql.run(spark,
      s"""CREATE MATERIALIZED VIEW graft.`$view` AS
         |SELECT grp, count(*) AS n, sum(v) AS s, avg(v) AS a
         |FROM graft.`$src` GROUP BY grp""".stripMargin)
    assert(got(view) == want(src))
    VersionedTable.append(Seq((6L, "d", 60L)).toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("grp = 'b'"))
    val v = graft.sql.GraftSql.run(spark,
      s"REFRESH MATERIALIZED VIEW graft.`$view`")
    assert(v.columns.toSeq == Seq("version"))
    assert(got(view) == want(src))
    // unmaintainable shapes fail loud — and create NOTHING
    def bad(stmt: String): String =
      intercept[IllegalArgumentException](
        graft.sql.GraftSql.run(spark, stmt)).getMessage
    assert(bad(s"CREATE MATERIALIZED VIEW graft.`$d/v2` AS " +
      s"SELECT grp, count(DISTINCT v) AS n FROM graft.`$src` GROUP BY grp")
      .contains("DISTINCT"))
    assert(bad(s"CREATE MATERIALIZED VIEW graft.`$d/v2` AS " +
      s"SELECT grp, sum(v + 1) AS s FROM graft.`$src` GROUP BY grp")
      .contains("bare column"))
    assert(bad(s"CREATE MATERIALIZED VIEW graft.`$d/v2` AS " +
      s"SELECT grp, count(*) AS n FROM graft.`$src` t1 " +
      s"JOIN graft.`$src` t2 ON t1.id = t2.id GROUP BY grp")
      .nonEmpty, "joins are not maintainable view shapes")
    assert(!new java.io.File(s"$d/v2").exists(),
      "a rejected CREATE must leave nothing behind")
    // a row-level WHERE IS maintainable: it filters the feed before
    // the deltas, so filtered-out churn never reaches the view
    val fv = s"$d/fview"
    graft.sql.GraftSql.run(spark,
      s"""CREATE MATERIALIZED VIEW graft.`$fv` AS
         |SELECT grp, count(*) AS n, sum(v) AS s
         |FROM graft.`$src` WHERE v >= 20 GROUP BY grp""".stripMargin)
    def wantF() = VersionedTable.read(spark, src).filter($"v" >= 20)
      .groupBy("grp").agg(count(lit(1)), sum("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    def gotF() = MaterializedView.read(spark, fv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(gotF() == wantF())
    // churn entirely below the filter never shows in the view
    VersionedTable.append(Seq((50L, "a", 5L), (51L, "a", 25L))
      .toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("id = 50"))
    graft.sql.GraftSql.run(spark, s"REFRESH MATERIALIZED VIEW graft.`$fv`")
    assert(gotF() == wantF())
    // PARTITIONED BY flows through to the view's layout
    val pv = s"$d/pview"
    graft.sql.GraftSql.run(spark,
      s"CREATE MATERIALIZED VIEW graft.`$pv` PARTITIONED BY (grp) AS " +
        s"SELECT grp, count(*) AS n FROM graft.`$src` GROUP BY grp")
    assert(MaterializedView.read(spark, pv).inputFiles
      .forall(_.contains("grp=")), "the view must lay out by grp")
  }

  test("source OPTIMIZE / autoCompact is invisible to the refresh") {
    val d = newDir("maint")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base.repartition(3, col("id")), src)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    VersionedTable.optimize(spark, src)
    VersionedTable.append(Seq((6L, "d", 60L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(got(view) == want(src),
      "a rewrite inside the window must not skew the deltas")
    // an optimize-only window is a no-op refresh: no commit at all
    VersionedTable.optimize(spark, src)
    val before = VersionedTable.versions(spark, view).max
    MaterializedView.refresh(spark, view)
    assert(VersionedTable.versions(spark, view).max == before,
      "a data-identical window must commit nothing to the view")
    assert(got(view) == want(src))
  }

  test("view-over-view: a second view maintains off the first's change feed") {
    val d = newDir("chain")
    val src = s"$d/src"; val v1 = s"$d/v1"; val v2 = s"$d/v2"
    // level 1: per-(grp, v) counts; level 2: distinct-v count per grp,
    // expressed as count(*) over level 1 — the classic rollup chain
    VersionedTable.commit(base.repartition(2, col("id")), src)
    MaterializedView.create(spark, src, v1, Seq("grp", "v"),
      Seq(AggDef("count", "*", "n")))
    MaterializedView.create(spark, v1, v2, Seq("grp"),
      Seq(AggDef("count", "*", "distinct_vs")))
    def wantL2() = VersionedTable.read(spark, src)
      .select("grp", "v").distinct().groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def gotL2() = MaterializedView.read(spark, v2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotL2() == wantL2())
    VersionedTable.append(Seq((6L, "a", 10L), (7L, "a", 77L),
      (8L, "e", 88L)).toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("grp = 'c'"))
    MaterializedView.refresh(spark, v1)
    MaterializedView.refresh(spark, v2)
    assert(gotL2() == wantL2(),
      "the chained view must track the base through the middle view")
    // DESCRIBE DETAIL surfaces the MV identity + watermark
    val det = graft.sql.GraftSql.run(spark,
      s"DESCRIBE DETAIL graft.`$v2`").head()
    assert(det.getString(det.fieldIndex("mv_source")) == v1)
    assert(det.getInt(det.fieldIndex("mv_refreshed_version")) ==
      VersionedTable.versions(spark, v1).max)
    assert(det.getString(det.fieldIndex("mv_last_refresh_mode")) ==
      MaterializedView.lastRefreshModeFor(v2),
      "DETAIL must surface the view's last maintenance path")
    val detSrc = graft.sql.GraftSql.run(spark,
      s"DESCRIBE DETAIL graft.`$src`").head()
    assert(detSrc.isNullAt(detSrc.fieldIndex("mv_source")),
      "ordinary tables must read null MV columns")
  }

  test("a cloned view carries its definition AND watermark (no double-apply)") {
    val d = newDir("clone")
    val src = s"$d/src"; val view = s"$d/view"; val fork = s"$d/fork"
    VersionedTable.commit(base.repartition(2, col("id")), src)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    VersionedTable.append(Seq((6L, "a", 60L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)     // watermark past the append
    VersionedTable.cloneTable(spark, view, fork)
    assert(got(fork) == want(src), "the fork starts as a replica")
    assert(MaterializedView.sourcePath(spark, fork) == src)
    // refresh the FORK after more source commits: the already-applied
    // window must not re-apply (the clone carries the txn watermark)
    VersionedTable.append(Seq((7L, "b", 70L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, fork)
    assert(got(fork) == want(src),
      "a stale watermark would double-count the pre-fork window")
    // the original stays independent and refreshable
    MaterializedView.refresh(spark, view)
    assert(got(view) == want(src))
  }

  test("definition validation fails loud; view rejects non-views") {
    val d = newDir("valid")
    val src = s"$d/src"
    VersionedTable.commit(base, src)
    def bad(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(bad(MaterializedView.create(spark, src, s"$d/v1", Seq.empty,
      Seq(AggDef("sum", "v", "s")))).contains("grouping column"))
    assert(bad(MaterializedView.create(spark, src, s"$d/v2", Seq("grp"),
      Seq(AggDef("median", "v", "m")))).contains("unsupported"))
    assert(bad(MaterializedView.create(spark, src, s"$d/v3", Seq("grp"),
      Seq(AggDef("sum", "v", "grp")))).contains("duplicate"))
    assert(bad(MaterializedView.create(spark, src, s"$d/v4", Seq("grp"),
      Seq(AggDef("sum", "v", "_mv_x")))).contains("reserved"))
    assert(bad(MaterializedView.create(spark, src, s"$d/v5", Seq("grp"),
      Seq(AggDef("sum", "*", "s")))).contains("name a column"))
    assert(bad(MaterializedView.refresh(spark, src))
      .contains("not a materialized view"))
    // re-creating at an existing path refuses BEFORE touching state
    val v6 = s"$d/v6"
    MaterializedView.create(spark, src, v6, Seq("grp"),
      Seq(AggDef("sum", "v", "s")))
    val pre = VersionedTable.versions(spark, v6).max
    assert(bad(MaterializedView.create(spark, src, v6, Seq("grp"),
      Seq(AggDef("count", "*", "n")))).contains("already exists"))
    assert(VersionedTable.versions(spark, v6).max == pre,
      "a refused create must not overwrite the view")
    assert(MaterializedView.read(spark, v6).columns.toSeq ==
      Seq("grp", "s"))
  }

  test("variance/stddev views: delta-maintained moments equal recompute") {
    val d = newDir("var")
    val src = s"$d/src"; val view = s"$d/view"
    // every 13th value NULL: moments must track count-of-non-null
    // semantics exactly (nulls contribute to neither sum nor ssq)
    val rows = (1L to 300L).map(i =>
        (i, s"g${i % 4}", if (i % 13 == 0) None else Some(i * i % 997)))
      .toDF("id", "grp", "v")
    VersionedTable.commit(rows.repartition(2, col("id")), src)      // v0
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("var_pop", "v", "vp"),
        AggDef("var_samp", "v", "vs"), AggDef("stddev_samp", "v", "sd")))
    def want: Map[String, (Option[Double], Option[Double], Option[Double])] =
      VersionedTable.read(spark, src).groupBy("grp")
        .agg(var_pop(col("v")).as("vp"), var_samp(col("v")).as("vs"),
          stddev_samp(col("v")).as("sd"))
        .collect().map(r => r.getString(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    def got: Map[String, (Option[Double], Option[Double], Option[Double])] =
      MaterializedView.read(spark, view).collect()
        .map(r => r.getString(0) -> ((
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    def close(): Unit = {
      val (w, g) = (want, got)
      assert(w.keySet == g.keySet, s"groups diverged: $w vs $g")
      w.foreach { case (k, (wp, ws, wd)) =>
        def eq(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
          case (None, None) => true
          case (Some(x), Some(y)) =>
            math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
          case _ => false
        }
        val (gp, gs, gd) = g(k)
        assert(eq(wp, gp) && eq(ws, gs) && eq(wd, gd),
          s"group $k: recompute ($wp,$ws,$wd) vs view ($gp,$gs,$gd)") }
    }
    close()
    // mixed window: append, delete, DV update — moments add/subtract
    // exactly (delta mode, deletes included — no recompute needed)
    VersionedTable.append((301L to 360L).map(i => (i, "g9", i % 41))
      .toDF("id", "grp", "v"), src)
    VersionedTable.deleteWhere(spark, src, Some("id % 7 = 0"))
    VersionedTable.updateWhere(spark, src, Seq("v" -> "v + 3"),
      Some("id % 11 = 0"), dv = true)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta",
      "moment aggregates must stay on the delta path through deletes")
    close()
    // group shrunk to one row: var_samp/stddev_samp read NULL, var_pop 0
    val view2 = s"$d/view2"
    val src2 = s"$d/src2"
    VersionedTable.commit(Seq((1L, "a", 5L), (2L, "a", 9L), (3L, "b", 1L))
      .toDF("id", "grp", "v"), src2)
    MaterializedView.create(spark, src2, view2, Seq("grp"),
      Seq(AggDef("var_samp", "v", "vs"), AggDef("var_pop", "v", "vp")))
    VersionedTable.deleteWhere(spark, src2, Some("id = 2"))
    MaterializedView.refresh(spark, view2)
    val one = MaterializedView.read(spark, view2)
      .filter(col("grp") === "a").head()
    assert(one.isNullAt(1), "var_samp of one value must be NULL")
    assert(one.getDouble(2) == 0.0, "var_pop of one value must be 0")
    // SQL alias normalization: stddev/variance create as the _samp forms
    val view3 = s"$d/view3"
    graft.sql.GraftSql.run(spark,
      s"""CREATE MATERIALIZED VIEW graft.`$view3` AS
         |SELECT grp, stddev(v) AS sd, variance(v) AS vv
         |FROM graft.`$src2` GROUP BY grp""".stripMargin)
    val sdRow = MaterializedView.read(spark, view3)
      .filter(col("grp") === "b").head()
    assert(sdRow.isNullAt(1) && sdRow.isNullAt(2),
      "sample stddev/variance of a single row must be NULL")
  }

  test("approx_count_distinct views: sketch-merge on inserts, recompute on deletes") {
    val d = newDir("hll")
    val src = s"$d/src"; val view = s"$d/view"
    val rows = (1L to 400L).map(i => (i, s"g${i % 3}", i % 37))
      .toDF("id", "grp", "u")
    VersionedTable.commit(rows.repartition(2, col("id")), src)      // v0
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("approx_count_distinct", "u", "du")))
    def exact: Map[String, Long] =
      VersionedTable.read(spark, src).groupBy("grp")
        .agg(countDistinct(col("u")).as("x")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def est: Map[String, Long] =
      MaterializedView.read(spark, view).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
    def close(): Unit = {
      val (e, g) = (exact, est)
      assert(e.keySet == g.keySet, s"groups diverged: $e vs $g")
      e.foreach { case (k, x) =>
        assert(math.abs(g(k) - x) <= math.max(1L, math.ceil(x * 0.1).toLong),
          s"group $k: sketch ${g(k)} vs exact $x") }
    }
    close()
    // INSERT-only window: the sketch MERGES — delta mode, source never
    // read (a new group and new values for an old group)
    VersionedTable.append((401L to 500L).map(i => (i, "g9", i))
      .toDF("id", "grp", "u"), src)
    VersionedTable.append((501L to 540L).map(i => (i, "g1", i % 111))
      .toDF("id", "grp", "u"), src)
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "delta",
      "an insert-only window must sketch-merge, not recompute")
    close()
    // a DELETE in the window: a sketch cannot un-see a value — the
    // affected groups recompute, and the estimate tracks the source
    VersionedTable.deleteWhere(spark, src, Some("grp = 'g9' AND id > 450"))
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "recompute",
      "a window with deletes must route to group recompute")
    close()
    // an update (replays delete+insert) routes to recompute too
    VersionedTable.updateWhere(spark, src, Seq("u" -> "u + 1000"),
      Some("id % 50 = 0"))
    MaterializedView.refresh(spark, view)
    assert(MaterializedView.lastRefreshModeFor(view) == "recompute")
    close()
    // all-null group estimates 0 (recompute semantics)
    VersionedTable.append(Seq((9001L, "gz", null.asInstanceOf[Any]))
      .map { case (a, b, _) => (a, b) }.toDF("id", "grp")
      .withColumn("u", lit(null).cast("long")), src)
    MaterializedView.refresh(spark, view)
    assert(est("gz") == 0L, "an all-null group must estimate 0")
    // exactly-once: an unchanged source refreshes to the same state
    val v = MaterializedView.refresh(spark, view)
    assert(MaterializedView.refresh(spark, view) == v)
    // a WHERE-filtered sketch view: the predicate filters the feed
    // BEFORE the sketch, so out-of-filter churn never reaches it and
    // an insert-only window stays on the delta path
    val fview = s"$d/fview"
    MaterializedView.create(spark, src, fview, Seq("grp"),
      Seq(AggDef("approx_count_distinct", "u", "du")),
      where = Some("u < 100"))
    VersionedTable.append((2001L to 2080L).map(i => (i, "g1", i % 160))
      .toDF("id", "grp", "u"), src)
    MaterializedView.refresh(spark, fview)
    assert(MaterializedView.lastRefreshModeFor(fview) == "delta")
    val fexact = VersionedTable.read(spark, src).filter(col("u") < 100)
      .groupBy("grp").agg(countDistinct(col("u")).as("x")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fgot = MaterializedView.read(spark, fview).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fexact.keySet == fgot.keySet)
    fexact.foreach { case (k, x) =>
      assert(math.abs(fgot(k) - x) <= math.max(1L, math.ceil(x * 0.1).toLong),
        s"filtered sketch group $k: ${fgot(k)} vs exact $x") }
  }

  test("crashed create (definition without data) is repairable, not a dead end") {
    val d = newDir("crash")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base, src)
    // simulate a crash between the definition write and the data
    // commit: the definition sidecar exists, the view table does not
    // (exactly what create's def-first ordering leaves behind)
    val fsys = VersionedTable.fs(spark, view)
    val stale = """{"version":1,"src":"/nowhere","groupCols":["grp"],""" +
      """"aggs":[{"fn":"sum","col":"v","alias":"s"}],"baseVersion":99}"""
    val out = fsys.create(
      new org.apache.hadoop.fs.Path(s"$view/_view/def.json"), false)
    try out.write(stale.getBytes("UTF-8")) finally out.close()
    // refresh on the stub fails with the remediation, not a blind crash
    val e = intercept[IllegalArgumentException](
      MaterializedView.refresh(spark, view))
    assert(e.getMessage.contains("re-run CREATE"))
    // re-running create REPAIRS the stub (and replaces the stale def)
    MaterializedView.create(spark, src, view, Seq("grp"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
        AggDef("avg", "v", "a")))
    assert(got(view) == want(src))
    assert(MaterializedView.sourcePath(spark, view) == src,
      "the repair must replace the stale definition")
    // the view stays maintainable end to end
    VersionedTable.append(Seq((6L, "d", 60L)).toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(got(view) == want(src))
  }

  test("merge: extra source columns are condition inputs unless star or evolution") {
    val d = newDir("gate")
    val t = s"$d/t"
    VersionedTable.commit(base, t)
    // explicit assignments: the extra column drives the condition and
    // the value, but can never enter the table
    val src = Seq((1L, 100L, true), (2L, 200L, false))
      .toDF("id", "nv", "apply_it")
    VersionedTable.mergeClauses(src, t, "id",
      matched = Seq(VersionedTable.MatchedUpdate(Some("s.apply_it"),
        Some(Seq("v" -> "s.nv")))))
    val out = VersionedTable.read(spark, t)
    assert(out.columns.toSet == Set("id", "grp", "v"),
      "no star clause: extra source columns must not drift the schema")
    assert(out.filter($"id" === 1L).head().getLong(2) == 100L)
    assert(out.filter($"id" === 2L).head().getLong(2) == 20L)
    // a STAR clause still gates extra columns loud
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeClauses(
        Seq((3L, "b", 33L, "x")).toDF("id", "grp", "v", "extra"),
        t, "id",
        matched = Seq(VersionedTable.MatchedUpdate(None, None)))
    }
    assert(e.getMessage.contains("evolveSchema"))
  }

  test("a definition in the legacy hand-rendered def.json form still reads") {
    val d = newDir("legacy_def")
    val src = s"$d/src"; val view = s"$d/view"
    VersionedTable.commit(base, src)
    // a quote and a backslash inside a SQL literal, and a newline (a
    // control character) between the conjuncts
    val where = "grp <> 'q\"\\\\z'\nAND v >= 0"
    val aggs = Seq(AggDef("count", "*", "n"), AggDef("sum", "v", "s"),
      AggDef("avg", "v", "a"))
    MaterializedView.create(spark, src, view, Seq("grp"), aggs,
      where = Some(where))
    val written = MaterializedView.rewriteDefinition(spark, view)
    assert(written.where == Some(where))
    // the same record exactly as the pre-Jackson writer rendered it
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val legacy =
      s"""{"version":1,"src":"${esc(src)}","groupCols":["grp"],""" +
        aggs.map(a => s"""{"fn":"${a.fn}","col":"${esc(a.col)}",""" +
          s""""alias":"${a.alias}"}""").mkString(""""aggs":[""", ",", "],") +
        s""""baseVersion":${written.baseVersion},"where":"${esc(where)}"}"""
    assert(legacy.contains("\\u000a") && legacy.contains("\\\\\\\\"))
    val fsys = VersionedTable.fs(spark, view)
    val out = fsys.create(
      new org.apache.hadoop.fs.Path(s"$view/_view/def.json"), true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    assert(MaterializedView.rewriteDefinition(spark, view) == written)
    // and the view stays maintainable from it
    VersionedTable.append(Seq((6L, "d", 60L), (7L, "a", -1L))
      .toDF("id", "grp", "v"), src)
    MaterializedView.refresh(spark, view)
    assert(got(view) == (want(src).filter(_._1 != "a") :+
      (("a", 2L, Some(30L), Some(15.0)))).sortBy(_._1))
  }
}
