package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED VIEWS over a versioned table:
  * a grouped aggregate defined once ([[create]]) and kept current by
  * replaying the source's CHANGE FEED ([[refresh]]) — the refresh cost
  * is O(rows changed since the last refresh), never O(source table).
  * At 100 TB that is the difference between a dashboard rollup that
  * re-reads the lake nightly and one that absorbs a day's commits in
  * seconds.
  *
  * Two maintenance strategies, chosen per view from its aggregate set:
  *
  *  - '''delta''' (`count(*)`, `count(c)`, `sum(c)`, `avg(c)`, and the
  *    second moments `var_pop/var_samp/stddev_pop/stddev_samp` via
  *    signed (count, sum, sum-of-squares) state): the change window
  *    folds to per-group deltas (inserts +1, deletes −1 — an update
  *    replays as delete + insert, so it contributes its net change),
  *    merged into the view with [[VersionedTable.mergeClauses]]. The
  *    source is NEVER read.
  *  - '''group recompute''' (`min(c)` / `max(c)` present AND the
  *    window carries a delete): a deleted minimum cannot be
  *    un-aggregated, so the AFFECTED groups (those with any change in
  *    the window — found from the feed alone) are re-aggregated from
  *    the source via a semi join, and only they merge into the view.
  *    The source scan is pruned to the affected groups (partition/
  *    zone-map pruning applies); untouched groups are never read or
  *    written. An INSERT-only window instead folds min/max by the
  *    monotone merge `least`/`greatest(stored, batch)` — still delta
  *    cost, the same fast-path discipline as the sketch aggregates.
  *  - '''sketch merge''' (`approx_count_distinct(c)`): the stored state
  *    is a mergeable DataSketches HLL, so an INSERT-only window folds
  *    in by `hll_union` — still delta-cost, which exact COUNT(DISTINCT)
  *    could never be (it would force a group recompute on every
  *    refresh). A version carrying any delete (updates replay as
  *    delete+insert) routes to group recompute, because a sketch cannot
  *    un-see a value. The distinct-users/URLs rollup shape at 100 TB.
  *    Routing is PER CONTIGUOUS SUB-WINDOW, not per refresh: a mixed
  *    backlog splits into maximal delete-free runs (delta-merged) and
  *    delete-carrying runs (affected-group recompute), replayed in
  *    order under per-run txn watermarks — one delete never forces a
  *    recompute of an otherwise append-only backlog.
  *
  * Exactly-once: every refresh merge commits with a transaction marker
  * (`appId = mv:<source>`, `batchId = <source version consumed>`) — the
  * same idempotence machinery as the streaming sink — so a crashed and
  * replayed refresh can never double-apply a window, and the watermark
  * needs no extra state ([[VersionedTable.lastTxnBatch]] recovers it
  * from the view's own commit log).
  *
  * The view IS a versioned table: reads prune, time travel works, a
  * follower can even stream ITS change feed (view-over-view). Grouping
  * columns are stored as real columns (partition the view by one for
  * pruned serving); per-aggregate state lives in `_mv_`-prefixed
  * columns ([[read]] projects the declared shape: sums with a zero
  * non-null count read back as NULL, `avg = sum / count`, exactly the
  * recompute semantics).
  *
  * Provenance: the maintenance algebra is the classic incremental
  * view-maintenance literature shape (self-maintainable aggregates vs
  * partial recompute); the reference engine has no comparable feature
  * — this extends `wiki/ddl.sql`'s static rollups (alias priors,
  * `/root/reference/scripts/wiki/queries.py:34-64`) into continuously
  * maintained form.
  */
object MaterializedView {

  /** One aggregate of the view: `fn` in count|sum|min|max|avg|
    * var_pop|var_samp|stddev_pop|stddev_samp|approx_count_distinct
    * (`count` with `col = "*"` is `count( * )`), over source column
    * `col`, exposed as `alias`.
    */
  case class AggDef(fn: String, col: String, alias: String)

  /** Second-moment aggregates: exactly delta-maintainable (deletes
    * included) from (count, sum, sum-of-squares) signed state — the
    * moments add and subtract, and for integer-valued columns they stay
    * EXACT in double arithmetic up to 2^53, so incremental maintenance
    * is bit-identical to recompute.
    */
  private val momentFns =
    Set("var_pop", "var_samp", "stddev_pop", "stddev_samp")
  private val deltaFns = Set("count", "sum", "avg") ++ momentFns
  /** Sketch-maintained: the stored state is a mergeable DataSketches
    * HLL (`hll_sketch_agg`), so INSERT-only windows fold in O(changes)
    * by `hll_union` — a sketch cannot un-see a deleted value, so any
    * delete in the window sends the view down the group-recompute path
    * instead. The 100 TB distinct-users rollup shape.
    */
  private val sketchFns = Set("approx_count_distinct")
  /** Monotone-mergeable: on an INSERT-only window `min`/`max` fold by
    * `least`/`greatest(stored, batch)` — the same insert-only-fast-path
    * discipline as the sketch aggregates (a deleted minimum cannot be
    * un-aggregated, so any delete in the window routes to the affected-
    * group recompute instead).
    */
  private val monotoneFns = Set("min", "max")
  private val allFns = deltaFns ++ sketchFns ++ monotoneFns

  /** The strategy the most recent [[refresh]] of each view path on
    * this JVM used — "delta" (feed-only signed/sketch/monotone merge)
    * or "recompute" (affected-group re-aggregation) — an observability
    * seam for specs and oracle rows that pin WHICH maintenance path
    * ran, like [[GraftFileIndex.lastListedCount]]. Keyed by view path
    * so concurrent refreshes of different views in one JVM can never
    * cross-read each other's mode.
    */
  private val refreshModes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The mode [[refresh]] last used for THIS view path ("" if never
    * refreshed in this JVM). */
  def lastRefreshModeFor(viewPath: String): String =
    refreshModes.getOrElse(viewPath, "")

  private[catalog] case class ViewDef(src: String, groupCols: Seq[String],
                                      aggs: Seq[AggDef], baseVersion: Int,
                                      where: Option[String] = None)

  // ── automatic aggregate rewrite (see [[MvRewrite]]) ────────────────
  /** Views opted into automatic aggregate rewrite, keyed by normalized
    * source path. JVM-scoped like [[refreshModes]]: enablement is an
    * explicit per-process opt-in ([[enableRewrite]]), never ambient
    * state a different session inherits by surprise — the rule itself
    * re-checks freshness per query, so the registry carries no
    * correctness weight beyond "participate at all".
    */
  private val rewriteRegistry =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  private def normRewrite(p: String): String =
    p.replaceFirst("^file:(//)?", "").stripSuffix("/")

  private[catalog] def rewriteEnabledAnywhere: Boolean =
    rewriteRegistry.nonEmpty

  /** The enabled views over `srcPath` (deterministic order — first
    * eligible match wins in [[MvRewrite]]).
    */
  private[catalog] def rewriteCandidates(srcPath: String): Seq[String] =
    rewriteRegistry.getOrElse(normRewrite(srcPath), Set.empty).toSeq.sorted

  private[catalog] def rewriteDefinition(spark: SparkSession,
                                         viewPath: String): ViewDef =
    definition(spark, viewPath)

  /** Whether `viewPath` is currently opted into automatic rewrite on
    * this JVM (DESCRIBE DETAIL's `mv_rewrite_enabled` probe).
    */
  def rewriteEnabledFor(viewPath: String): Boolean =
    rewriteRegistry.values.exists(_.contains(viewPath))

  /** Opt `viewPath` into automatic aggregate rewrite on this JVM and
    * install [[MvRewrite]] onto `spark` (idempotent). A matching
    * grouped aggregate over the view's SOURCE table is then answered
    * from the view whenever the view reflects exactly the scanned
    * snapshot — see [[MvRewrite]] for the full gate set.
    */
  def enableRewrite(spark: SparkSession, viewPath: String): Unit = {
    val src = normRewrite(sourcePath(spark, viewPath))
    rewriteRegistry.updateWith(src)(s =>
      Some(s.getOrElse(Set.empty) + viewPath))
    MvRewrite.install(spark)
  }

  /** Withdraw `viewPath` from automatic rewrite (reads the view's
    * definition for its source key; a dropped view's registration is
    * swept from every key).
    */
  def disableRewrite(spark: SparkSession, viewPath: String): Unit = {
    val src = scala.util.Try(normRewrite(sourcePath(spark, viewPath)))
      .toOption
    rewriteRegistry.keys.foreach { k =>
      if (src.forall(_ == k) || src.isEmpty)
        rewriteRegistry.updateWith(k)(
          _.map(_ - viewPath).filter(_.nonEmpty))
    }
  }

  /** The group-identity join key: an unambiguous JSON rendering of the
    * grouping tuple (null fields kept — `to_json` would otherwise
    * conflate a null with an absent column). A plain string column, so
    * the merge's touched-file scan zone-map-prunes on it.
    */
  private def mvKey(groupCols: Seq[String]): Column =
    to_json(struct(groupCols.map(col): _*),
      java.util.Collections.singletonMap("ignoreNullFields", "false"))

  /** The view's STORED aggregate columns for one source frame: always
    * `_mv_gcount` (live rows per group — group death detection), plus
    * per-aggregate state (`sum`/`avg` keep sum + non-null count so a
    * group whose non-null values all die reads back NULL, matching
    * recompute; `min`/`max`/`count(c)` store directly).
    */
  private def storedAggs(aggs: Seq[AggDef]): Seq[Column] =
    count(lit(1)).as("_mv_gcount") +: aggs.flatMap { a =>
      a.fn match {
        case "count" =>
          if (a.col == "*") Seq.empty // exposed from _mv_gcount
          else Seq(count(col(a.col)).as(s"_mv_cnt_${a.alias}"))
        case "sum" | "avg" => Seq(
          sum(col(a.col)).as(s"_mv_sum_${a.alias}"),
          count(col(a.col)).as(s"_mv_cnt_${a.alias}"))
        case "min" => Seq(min(col(a.col)).as(s"_mv_min_${a.alias}"))
        case "max" => Seq(max(col(a.col)).as(s"_mv_max_${a.alias}"))
        case "approx_count_distinct" => Seq(
          expr(s"hll_sketch_agg(`${a.col}`)").as(s"_mv_hll_${a.alias}"))
        case f if momentFns(f) =>
          val c = col(a.col).cast("double")
          Seq(sum(c).as(s"_mv_sum_${a.alias}"),
            count(col(a.col)).as(s"_mv_cnt_${a.alias}"),
            sum(c * c).as(s"_mv_ssq_${a.alias}"))
      }
    }

  /** Define the view at `viewPath` as `SELECT groupCols, aggs FROM
    * src GROUP BY groupCols`, fully computed at the source's CURRENT
    * version (the refresh floor). The view commits as an ordinary
    * versioned table (optionally hive-partitioned by grouping columns)
    * plus a `_view/def.json` definition sidecar. Returns the view's v0.
    */
  def create(spark: SparkSession, srcPath: String, viewPath: String,
             groupCols: Seq[String], aggs: Seq[AggDef],
             partitionCols: Seq[String] = Nil,
             where: Option[String] = None): Int = {
    require(groupCols.nonEmpty, "materialized views need at least one " +
      "grouping column (a global aggregate has no group identity to " +
      "maintain incrementally)")
    require(aggs.nonEmpty, "materialized views need at least one aggregate")
    // SQL-surface aliases normalize to the canonical fn names
    val aggs0 = aggs.map(a => a.fn match {
      case "stddev" => a.copy(fn = "stddev_samp")
      case "variance" => a.copy(fn = "var_samp")
      case _ => a
    })
    val bad = aggs0.filterNot(a => allFns.contains(a.fn))
    require(bad.isEmpty, s"unsupported aggregate(s): " +
      bad.map(_.fn).mkString(", ") + s" (supported: ${allFns.mkString(",")})")
    val names = groupCols ++ aggs0.map(_.alias)
    require(names.distinct.size == names.size,
      s"duplicate output column(s): ${names.diff(names.distinct).mkString(",")}")
    require(names.forall(!_.startsWith("_mv_")),
      "output columns must not use the reserved _mv_ prefix")
    require(partitionCols.forall(groupCols.contains),
      "a view can only be partitioned by its grouping columns")
    aggs0.foreach(a => require(a.fn == "count" || a.col != "*",
      s"${a.fn}(*) is not an aggregate — name a column"))
    val fsys = VersionedTable.fs(spark, viewPath)
    val defP = new org.apache.hadoop.fs.Path(s"$viewPath/_view/def.json")
    val hasDef = fsys.exists(defP)
    val hasData = scala.util.Try(VersionedTable.versions(spark, viewPath))
      .toOption.exists(_.nonEmpty)
    // refuse BEFORE any write: a complete view (definition + data) must
    // never be silently re-created over, and a plain versioned table at
    // the path is not ours to clobber. A definition WITHOUT data is a
    // crashed earlier create (the definition commits first, below) —
    // re-running create repairs it by overwriting the stale stub.
    require(!(hasDef && hasData),
      s"a materialized view already exists at $viewPath")
    require(hasDef || !hasData,
      s"a versioned table already exists at $viewPath")
    val srcHead = VersionedTable.versions(spark, srcPath).max
    // a row-level WHERE is exactly maintainable: the predicate judges
    // each row independently, so the feed (delta mode) / the source
    // scan (recompute mode) filters BEFORE aggregation — a filtered
    // row's insert and delete events drop symmetrically
    val full = where.foldLeft(
        GraftScan.read(spark, srcPath, srcHead))((df, p) =>
        df.filter(expr(p)))
      .groupBy(groupCols.map(col): _*)
      .agg(storedAggs(aggs0).head, storedAggs(aggs0).tail: _*)
      .withColumn("_mv_key", mvKey(groupCols))
    // definition sidecar FIRST, data commit second: a crash between the
    // two leaves a def-only stub that re-running create repairs (and
    // refresh rejects with a re-run hint) — the reverse order left an
    // orphan versioned table that blocked BOTH verbs with no remedy
    val out = fsys.create(defP, hasDef)
    try out.write(defJson(ViewDef(srcPath, groupCols, aggs0, srcHead, where)))
    finally out.close()
    VersionedTable.commit(full, viewPath, partitionCols)
  }

  /** Bring the view up to the source's current version by replaying
    * the change feed since the last refresh (or since [[create]]).
    * Exactly-once under crash replay (see class doc). Returns the
    * view's committed version (unchanged when the source hasn't moved
    * or the window nets out to nothing).
    */
  def refresh(spark: SparkSession, viewPath: String): Int = {
    val d = definition(spark, viewPath)
    require(VersionedTable.versions(spark, viewPath).nonEmpty,
      s"materialized view at $viewPath has a definition but no data — " +
        "a crashed CREATE; re-run CREATE MATERIALIZED VIEW to repair")
    val viewV = () => VersionedTable.versions(spark, viewPath).max
    val floor = VersionedTable
      .lastTxnBatch(spark, viewPath, txnApp(d.src))
      .map(_.toInt).getOrElse(d.baseVersion)
    val srcHead = VersionedTable.versions(spark, d.src).max
    if (srcHead <= floor) return viewV()
    graft.Caches.scoped {
      val feed = graft.Caches.stage(d.where.foldLeft(
        VersionedTable.changeFeed(spark, d.src, floor + 1, srcHead))(
        (df, p) => df.filter(expr(p))))
      val txn = Some(txnApp(d.src) -> srcHead.toLong)
      val fns = d.aggs.map(_.fn).toSet
      if ((fns -- deltaFns).isEmpty) {
        refreshModes.put(viewPath, "delta"): Unit
        refreshDelta(spark, viewPath, d, feed, txn)
      } else if ((fns -- deltaFns -- sketchFns -- monotoneFns).isEmpty) {
        // sketches merge but cannot un-see a value, and a deleted
        // min/max cannot be un-aggregated: only INSERT-ONLY spans may
        // take the monotone merge. Rather than letting one delete
        // force a recompute of the whole backlog, ROUTE PER CONTIGUOUS
        // SUB-WINDOW: the window's versions split into maximal
        // delete-free runs (delta-merged) and delete-carrying runs
        // (affected-group recompute at the run's end version), replayed
        // in order — each step leaves the view exactly at
        // agg(source@runEnd), so the composition is the full refresh.
        // One feed pass classifies the versions (an update replays as
        // delete+insert, so it routes its version to recompute too);
        // each run commits under its own (app, runEnd) txn, so a crash
        // resumes after the last completed run.
        val delVs = feed.filter(col("_change_type") === "delete")
          .select("_commit_version").distinct()
          .collect().map(_.getInt(0)).toSet
        val runs: Seq[(Int, Int, Boolean)] = (floor + 1 to srcHead)
          .foldLeft(List.empty[(Int, Int, Boolean)]) { (acc, v) =>
            val del = delVs.contains(v)
            acc match {
              case (lo, _, d0) :: rest if d0 == del => (lo, v, d0) :: rest
              case _ => (v, v, del) :: acc
            }
          }.reverse
        runs.foreach { case (lo, hi, hasDelete) =>
          // a sub-window is a row-identical SLICE of the staged window
          // feed (`_commit_version` is stamped per version) — filter
          // the cached frame instead of re-deriving a change feed per
          // run, which would re-walk manifests and re-read files once
          // per fragment
          val subFeed =
            if (lo == floor + 1 && hi == srcHead) feed
            else feed.filter(col("_commit_version").between(lo, hi))
          val subTxn = Some(txnApp(d.src) -> hi.toLong)
          if (hasDelete) refreshGroups(spark, viewPath, d, subFeed, hi,
            subTxn)
          else refreshDelta(spark, viewPath, d, subFeed, subTxn)
        }
        // single-run windows keep the legacy mode strings; a genuine
        // split names each span — the observability seam the routing
        // spec (and an operator wondering why one refresh committed
        // twice) reads
        refreshModes.put(viewPath,
          if (runs.size == 1) { if (runs.head._3) "recompute" else "delta" }
          else runs.map { case (lo, hi, del) =>
            val span = if (lo == hi) s"v$lo" else s"v$lo-v$hi"
            s"${if (del) "recompute" else "delta"}($span)"
          }.mkString(";")): Unit
      } else {
        refreshModes.put(viewPath, "recompute"): Unit
        refreshGroups(spark, viewPath, d, feed, srcHead, txn)
      }
      viewV()
    }
  }

  /** Delta maintenance: fold the window to per-group (+/-) deltas and
    * merge — the source is never read. A group whose live-row count
    * reaches zero is DELETED (first matched clause); a delta for an
    * unseen group with a positive count INSERTS; pure-churn groups
    * (delta all zero) update to themselves.
    */
  private def refreshDelta(spark: SparkSession, viewPath: String,
                           d: ViewDef, feed: DataFrame,
                           txn: Option[(String, Long)]): Unit = {
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val deltas: Seq[Column] =
      sum(sign).as("_d_gcount") +: d.aggs.flatMap { a =>
        a.fn match {
          case "count" =>
            if (a.col == "*") Seq.empty
            else Seq(sum(when(col(a.col).isNotNull, sign)
              .otherwise(lit(0L))).as(s"_d_cnt_${a.alias}"))
          case "sum" | "avg" => Seq(
            sum(sign * col(a.col)).as(s"_d_sum_${a.alias}"),
            sum(when(col(a.col).isNotNull, sign).otherwise(lit(0L)))
              .as(s"_d_cnt_${a.alias}"))
          // delta mode with a sketch ⟹ the window is insert-only
          // (classified in refresh), so the batch sketch merges in
          case "approx_count_distinct" => Seq(
            expr(s"hll_sketch_agg(`${a.col}`)").as(s"_d_hll_${a.alias}"))
          case f if momentFns(f) =>
            val c = col(a.col).cast("double")
            Seq(sum(sign * c).as(s"_d_sum_${a.alias}"),
              sum(when(col(a.col).isNotNull, sign).otherwise(lit(0L)))
                .as(s"_d_cnt_${a.alias}"),
              sum(sign * c * c).as(s"_d_ssq_${a.alias}"))
          // delta mode with min/max ⟹ the window is insert-only
          // (classified in refresh): a pure monotone merge
          case "min" => Seq(min(col(a.col)).as(s"_d_min_${a.alias}"))
          case "max" => Seq(max(col(a.col)).as(s"_d_max_${a.alias}"))
          case other => sys.error(s"not delta-maintainable: $other")
        }
      }
    // (r19) the merge materializes its source once centrally
    // (mergeClauses stages it), so the change-feed read + this
    // aggregation run exactly once per refresh instead of ~3 times
    val src = feed.groupBy(d.groupCols.map(col): _*)
      .agg(deltas.head, deltas.tail: _*)
      .withColumn("_mv_key", mvKey(d.groupCols))
    // stored-column update expressions: counts add; sums add with the
    // NULL-restoring guard (non-null count zero => stored sum NULL)
    def updates: Seq[(String, String)] =
      ("_mv_gcount" -> "t._mv_gcount + s._d_gcount") +: d.aggs.flatMap { a =>
        a.fn match {
          case "count" =>
            if (a.col == "*") Seq.empty
            else Seq(s"_mv_cnt_${a.alias}" ->
              s"t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}`")
          case "sum" | "avg" => Seq(
            s"_mv_sum_${a.alias}" ->
              (s"CASE WHEN t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}` = 0 " +
                s"THEN NULL ELSE coalesce(t.`_mv_sum_${a.alias}`, 0) + " +
                s"coalesce(s.`_d_sum_${a.alias}`, 0) END"),
            s"_mv_cnt_${a.alias}" ->
              s"t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}`")
          // null-safe union: an all-null batch group (or a stored
          // all-null group) carries a NULL sketch
          case "approx_count_distinct" => Seq(
            s"_mv_hll_${a.alias}" ->
              (s"CASE WHEN s.`_d_hll_${a.alias}` IS NULL " +
                s"THEN t.`_mv_hll_${a.alias}` " +
                s"WHEN t.`_mv_hll_${a.alias}` IS NULL " +
                s"THEN s.`_d_hll_${a.alias}` " +
                s"ELSE hll_union(t.`_mv_hll_${a.alias}`, " +
                s"s.`_d_hll_${a.alias}`) END"))
          case f if momentFns(f) => Seq(
            s"_mv_sum_${a.alias}" ->
              (s"CASE WHEN t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}` = 0 " +
                s"THEN NULL ELSE coalesce(t.`_mv_sum_${a.alias}`, 0) + " +
                s"coalesce(s.`_d_sum_${a.alias}`, 0) END"),
            s"_mv_cnt_${a.alias}" ->
              s"t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}`",
            s"_mv_ssq_${a.alias}" ->
              (s"CASE WHEN t.`_mv_cnt_${a.alias}` + s.`_d_cnt_${a.alias}` = 0 " +
                s"THEN NULL ELSE coalesce(t.`_mv_ssq_${a.alias}`, 0) + " +
                s"coalesce(s.`_d_ssq_${a.alias}`, 0) END"))
          // Spark's least/greatest SKIP nulls (an all-null side means
          // "no values seen"), so the monotone merge needs no guard
          case "min" => Seq(s"_mv_min_${a.alias}" ->
            s"least(t.`_mv_min_${a.alias}`, s.`_d_min_${a.alias}`)")
          case "max" => Seq(s"_mv_max_${a.alias}" ->
            s"greatest(t.`_mv_max_${a.alias}`, s.`_d_max_${a.alias}`)")
          case _ => Seq.empty
        }
      }
    def inserts: Seq[(String, String)] =
      d.groupCols.map(c => c -> s"s.`$c`") ++
        Seq("_mv_key" -> "s.`_mv_key`",
          "_mv_gcount" -> "s._d_gcount") ++ d.aggs.flatMap { a =>
        a.fn match {
          case "count" =>
            if (a.col == "*") Seq.empty
            else Seq(s"_mv_cnt_${a.alias}" -> s"s.`_d_cnt_${a.alias}`")
          case "sum" | "avg" => Seq(
            s"_mv_sum_${a.alias}" ->
              (s"CASE WHEN s.`_d_cnt_${a.alias}` = 0 THEN NULL " +
                s"ELSE s.`_d_sum_${a.alias}` END"),
            s"_mv_cnt_${a.alias}" -> s"s.`_d_cnt_${a.alias}`")
          case "approx_count_distinct" => Seq(
            s"_mv_hll_${a.alias}" -> s"s.`_d_hll_${a.alias}`")
          case f if momentFns(f) => Seq(
            s"_mv_sum_${a.alias}" ->
              (s"CASE WHEN s.`_d_cnt_${a.alias}` = 0 THEN NULL " +
                s"ELSE s.`_d_sum_${a.alias}` END"),
            s"_mv_cnt_${a.alias}" -> s"s.`_d_cnt_${a.alias}`",
            s"_mv_ssq_${a.alias}" ->
              (s"CASE WHEN s.`_d_cnt_${a.alias}` = 0 THEN NULL " +
                s"ELSE s.`_d_ssq_${a.alias}` END"))
          case "min" =>
            Seq(s"_mv_min_${a.alias}" -> s"s.`_d_min_${a.alias}`")
          case "max" =>
            Seq(s"_mv_max_${a.alias}" -> s"s.`_d_max_${a.alias}`")
          case _ => Seq.empty
        }
      }
    VersionedTable.mergeClauses(src, viewPath, "_mv_key",
      matched = Seq(
        VersionedTable.MatchedDelete(
          Some("t._mv_gcount + s._d_gcount = 0")),
        VersionedTable.MatchedUpdate(None, Some(updates))),
      notMatched = Seq(
        VersionedTable.MergeInsert(Some("s._d_gcount > 0"),
          Some(inserts))),
      partitionCols = VersionedTable.layoutPartitionCols(spark, viewPath),
      txn = txn): Unit
  }

  /** Group recompute (min/max views): re-aggregate ONLY the groups the
    * window touched — the source scan is semi-joined to the affected
    * keys (pruned), untouched groups never read. Groups that vanished
    * from the source delete from the view.
    */
  private def refreshGroups(spark: SparkSession, viewPath: String,
                            d: ViewDef, feed: DataFrame, srcHead: Int,
                            txn: Option[(String, Long)]): Unit = {
    val affected = graft.Caches.stage(
      feed.select(d.groupCols.map(col): _*).distinct()
        .withColumn("_mv_key", mvKey(d.groupCols)))
    // re-aggregate the affected groups at the SAME source version the
    // watermark will record — a racing source commit can't skew-split
    // the refresh between two snapshots. Every join here goes through
    // the null-preserving _mv_key: a raw grouping-column join is
    // null-UNSAFE equality, which would make a NULL group look dead
    // and delete its still-live row from the view.
    val fresh = d.where.foldLeft(
        GraftScan.read(spark, d.src, srcHead))((df, p) =>
        df.filter(expr(p)))
      .withColumn("_mv_key", mvKey(d.groupCols))
      .join(affected.select("_mv_key"), Seq("_mv_key"), "left_semi")
      .groupBy(col("_mv_key") +: d.groupCols.map(col): _*)
      .agg(storedAggs(d.aggs).head, storedAggs(d.aggs).tail: _*)
    val stored = fresh.columns.toSeq
      .filterNot(d.groupCols.contains).filterNot(_ == "_mv_key")
    // (r19) the merge materializes its source once centrally
    // (mergeClauses stages it), so the pruned source scan +
    // re-aggregation run exactly once per refresh instead of ~3 times
    val src = affected.join(
        fresh.select(("_mv_key" +: stored).map(col): _*),
        Seq("_mv_key"), "left_outer")
      .withColumn("_mv_dead", col("_mv_gcount").isNull)
    VersionedTable.mergeClauses(src, viewPath, "_mv_key",
      matched = Seq(
        VersionedTable.MatchedDelete(Some("s._mv_dead")),
        VersionedTable.MatchedUpdate(None,
          Some(stored.map(c => c -> s"s.`$c`")))),
      notMatched = Seq(
        VersionedTable.MergeInsert(Some("NOT s._mv_dead"),
          Some((d.groupCols ++ stored).map(c => c -> s"s.`$c`") :+
            ("_mv_key" -> "s.`_mv_key`")))),
      partitionCols = VersionedTable.layoutPartitionCols(spark, viewPath),
      txn = txn): Unit
  }

  /** The view in its DECLARED shape — grouping columns + aliased
    * aggregates, internal `_mv_` state projected away (sums with zero
    * non-null count read as NULL; `avg = sum / count`). An ordinary
    * pruned snapshot read of the view table underneath.
    */
  def read(spark: SparkSession, viewPath: String): DataFrame = {
    val d = definition(spark, viewPath)
    val t = VersionedTable.read(spark, viewPath)
    t.select(d.groupCols.map(col) ++ d.aggs.map { a =>
      (a.fn match {
        case "count" =>
          if (a.col == "*") col("_mv_gcount")
          else col(s"_mv_cnt_${a.alias}")
        case "sum" => col(s"_mv_sum_${a.alias}")
        case "avg" =>
          when(col(s"_mv_cnt_${a.alias}") === 0, lit(null))
            .otherwise(col(s"_mv_sum_${a.alias}")
              .cast("double") / col(s"_mv_cnt_${a.alias}"))
        case "min" => col(s"_mv_min_${a.alias}")
        case "max" => col(s"_mv_max_${a.alias}")
        // a NULL sketch (all-null group) estimates 0, matching
        // approx_count_distinct's recompute semantics
        case "approx_count_distinct" =>
          coalesce(expr(s"hll_sketch_estimate(`_mv_hll_${a.alias}`)"),
            lit(0L))
        // moments → variance: clamped at 0 (catastrophic cancellation
        // can yield -epsilon); NULL thresholds match Spark AND DuckDB —
        // *_pop needs >=1 non-null value, *_samp needs >=2
        case f if momentFns(f) =>
          val cnt = col(s"_mv_cnt_${a.alias}").cast("double")
          val sm = col(s"_mv_sum_${a.alias}")
          val ssq = col(s"_mv_ssq_${a.alias}")
          val vPop = greatest(ssq / cnt - (sm / cnt) * (sm / cnt), lit(0.0))
          val vSamp = greatest((ssq - sm * sm / cnt) / (cnt - 1), lit(0.0))
          f match {
            case "var_pop" => when(cnt > 0, vPop)
            case "stddev_pop" => when(cnt > 0, sqrt(vPop))
            case "var_samp" => when(cnt > 1, vSamp)
            case "stddev_samp" => when(cnt > 1, sqrt(vSamp))
          }
      }).as(a.alias)
    }: _*)
  }

  /** The view's source table path (from the definition sidecar). */
  def sourcePath(spark: SparkSession, viewPath: String): String =
    definition(spark, viewPath).src

  /** The source version the view currently reflects. */
  def refreshedVersion(spark: SparkSession, viewPath: String): Int = {
    val d = definition(spark, viewPath)
    VersionedTable.lastTxnBatch(spark, viewPath, txnApp(d.src))
      .map(_.toInt).getOrElse(d.baseVersion)
  }

  private def txnApp(src: String): String = s"mv:$src"

  private def definition(spark: SparkSession, viewPath: String): ViewDef = {
    val fsys = VersionedTable.fs(spark, viewPath)
    val p = new org.apache.hadoop.fs.Path(s"$viewPath/_view/def.json")
    require(fsys.exists(p),
      s"$viewPath is not a materialized view (no _view/def.json)")
    val in = fsys.open(p)
    try parse(mapper.readTree(in)) finally in.close()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The definition record, `{"version":1,"src",...,"baseVersion"[,
    * "where"]}`.
    */
  private def defJson(d: ViewDef): Array[Byte] = {
    val o = mapper.createObjectNode().put("version", 1).put("src", d.src)
    val gs = o.putArray("groupCols")
    d.groupCols.foreach(c => gs.add(c))
    val as = o.putArray("aggs")
    d.aggs.foreach(a =>
      as.addObject().put("fn", a.fn).put("col", a.col).put("alias", a.alias))
    o.put("baseVersion", d.baseVersion)
    d.where.foreach(w => o.put("where", w))
    mapper.writeValueAsBytes(o)
  }

  /** The source path of a raw definition document — [[VersionedTable
    * .cloneTable]] needs it to carry the watermark with a cloned view.
    */
  private[catalog] def parseSrc(raw: String): String =
    parse(mapper.readTree(raw)).src

  private def parse(n: com.fasterxml.jackson.databind.JsonNode): ViewDef = {
    import scala.jdk.CollectionConverters._
    def field(k: String) = {
      val v = n.get(k)
      require(v != null, s"malformed view definition: missing $k")
      v
    }
    def elems(k: String) =
      Option(n.get(k)).toSeq.flatMap(_.elements().asScala)
    ViewDef(field("src").asText,
      elems("groupCols").map(_.asText),
      elems("aggs").map(a =>
        AggDef(a.get("fn").asText, a.get("col").asText, a.get("alias").asText)),
      field("baseVersion").asInt,
      Option(n.get("where")).map(_.asText))
  }
}
