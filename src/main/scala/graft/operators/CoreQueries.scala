package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator coverage over the driver's TPC-H-ish tables — one
  * query per operator family of SURVEY.md §2 (the wikid-shaped and ext
  * operators live in WikiShapedQueries / ExtQueries).
  *
  * Oracle-parity rules (see tools/compare.py): identical column aliases on
  * both sides, deterministic ORDER BY everywhere, doubles rounded to absorb
  * summation-order ULPs, no null grouping keys (coalesced to sentinels).
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  /** A1-shape hash aggregation (ref: wikidata.py:262-269 upsert-as-agg):
    * partial+final hash agg, one shuffle on the grouping key.
    */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J2-shape broadcast hash joins: fact scan joined to two small dims —
    * the title-map pattern at TPC-H shape. Catalyst auto-broadcasts under
    * the threshold; the explicit hint pins the plan at any scale.
    */
  def q2JoinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  /** J1-shape: entity table left-joined to a pre-aggregated child table
    * (aggregate-before-join keeps the build side small and avoids the
    * reference's row-multiplication-then-GROUP-BY, SURVEY.md §2.4 J1).
    */
  def q3LeftJoinAgg(s: SparkSession, d: String): DataFrame = {
    val orderAgg = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("total"))
    Tables.customer(s, d)
      .join(orderAgg.withColumnRenamed("o_custkey", "c_custkey"), Seq("c_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
        round(sum(coalesce(col("total"), lit(0.0))), 2).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** A3-shape window normalization (the alias-prior pattern,
    * ref __init__.py:218-224): value / sum(value) over a partition.
    */
  def q4WindowShare(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(s, d)
      .withColumn("share", round(col("value") / sum("value").over(w), 6))
      .select("event_id", "user_id", "value", "share")
      .orderBy("event_id")
  }

  /** F6-shape anti join (resume skip, ref wikidata.py:112-114).
    * PLANTED ORPHANS: at the test SFs every customer has at least one
    * order, so the natural anti-join is empty and its hash match proved
    * only "empty == empty". Three customers under keys < 0 (impossible
    * for generated data, restated identically in the oracle) guarantee a
    * nonempty result that binds the anti-join semantics for real.
    */
  def q5AntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orphans = Seq((-3L, "orphan_3"), (-2L, "orphan_2"), (-1L, "orphan_1"))
      .toDF("c_custkey", "c_name")
    Tables.customer(s, d).select("c_custkey", "c_name")
      .unionByName(orphans)
      .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  /** Semi join (EXISTS) + dim join: customers with orders, per nation. */
  def q6SemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")

  /** A1 union-then-aggregate (Wikidata seeds ∪ Wikipedia links shape). */
  def q7UnionAgg(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d)
      .select(col("c_nationkey").cast("int").as("nationkey"), lit("customer").as("src"))
    val b = Tables.supplier(s, d)
      .select(col("s_nationkey").cast("int").as("nationkey"), lit("supplier").as("src"))
    a.unionByName(b)
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n"), countDistinct("src").as("n_sources"))
      .orderBy("nationkey")
  }

  /** T1/T5-shape explode + count (word count, the canonical flatMap). */
  def q8ExplodeWordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  /** A5-shape distinct (set semantics, ref wikidata.py:229). */
  def q9Distinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Top-k with deterministic tiebreak (§2.7: ORDER BY + LIMIT). */
  def q10TopK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)

  /** Scalar string-function chain (§2.9 + T2 capitalize-first). */
  def q11StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        concat(upper(substring(col("p_name"), 1, 1)), substring(col("p_name"), 2, 1000000))
          .as("cap_name"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        substring(col("p_type"), 1, 5).as("type_prefix"))
      .orderBy("p_partkey")

  /** JSON field extraction (S1's json.loads shape, §2.9). */
  def q12Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("k")

  /** Date/time bucketing (absent in the reference — §2.12 — surfaced from
    * Spark SQL as part of the engine's full surface).
    */
  def q13DateTrunc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day")

  /** Conditional aggregation (CASE WHEN inside agg). */
  def q14CaseAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .agg(
        round(sum(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(0.0)), 2)
          .as("returned_value"),
        round(sum(when(col("l_returnflag") =!= "R", col("l_extendedprice")).otherwise(0.0)), 2)
          .as("kept_value"))
      .orderBy("l_linestatus")

  /** HAVING-shape post-aggregation filter. */
  def q15Having(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), round(avg("p_retailprice"), 2).as("avg_price"))
      .filter(col("n_parts") >= 5)
      .orderBy("p_brand")

  /** ROLLUP grouping sets (null grouping keys coalesced to sentinels so
    * engine NULL-ordering differences can't break the compare).
    */
  def q16Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("qty"))
      .orderBy("returnflag", "linestatus")

  /** INTERSECT set op. */
  def q17Intersect(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .intersect(Tables.customer(s, d).filter(col("c_acctbal") > 1000)
        .select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** EXCEPT set op. PLANTED ASYMMETRY: customer keys are a subset of
    * order keys at the test SFs, so the natural EXCEPT is empty and the
    * hash bound nothing. Keys < 0 planted on the left side (and restated
    * in the oracle) make the difference nonempty, so the hash pins real
    * EXCEPT semantics (distinct + difference).
    */
  def q18Except(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(-2L, -1L, -1L).toDF("custkey")
    Tables.customer(s, d).select(col("c_custkey").as("custkey"))
      .unionByName(planted)
      .except(Tables.orders(s, d).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Non-equi (range) join — small dim side, BNLJ is the right plan. */
  def q19RangeJoin(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).as("p")
      .join(broadcast(Tables.region(s, d).as("r")),
        col("p.p_size").between(col("r.r_regionkey") * 10 + 1, col("r.r_regionkey") * 10 + 10))
      .groupBy(col("r.r_name").as("r_name"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("r_name")

  /** Ranking window functions (absent in reference, §2.12). */
  def q20RankWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey").cast("int").as("nationkey"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"), col("rn"))
      .orderBy("nationkey", "rn")
  }

  /** F15-shape IN-list point lookup. */
  def q21InList(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey").isin(1L, 7L, 42L, 99L))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** T8-shape truthiness fallback chain (empty string falls through). */
  def q22Fallback(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(length(col("text")) > 300, substring(col("text"), 1, 50))
          .otherwise(concat(lit("short:"), col("lang"))).as("summary"))
      .orderBy("doc_id")

  /** As-of join: each purchase matched to the user's latest at-or-before
    * signup (AsOfJoin composition; oracle is DuckDB's native ASOF JOIN).
    */
  def q23AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_s", col("ts").cast("long"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_s").agg(max("event_id").as("signup_event_id"))
    AsOfJoin.asof(purchases, signups, Seq("user_id"), "ts_s", Seq("signup_event_id"))
      .select(col("event_id"), col("user_id"), col("ts_s"),
        col("signup_event_id_asof").as("signup_event_id"))
      .orderBy("event_id")
  }

  /** Forward as-of join: each purchase matched to the user's EARLIEST
    * signup at-or-after it (oracle: DuckDB ASOF with `<=`).
    */
  def q26AsofForward(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_s", col("ts").cast("long"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_s").agg(max("event_id").as("signup_event_id"))
    AsOfJoin.asof(purchases, signups, Seq("user_id"), "ts_s",
      Seq("signup_event_id"), direction = "forward")
      .select(col("event_id"), col("user_id"), col("ts_s"),
        col("signup_event_id_asof").as("signup_event_id"))
      .orderBy("event_id")
  }

  val q26AsofForwardSql: String =
    """WITH p AS (SELECT event_id, user_id,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |        max(event_id) AS signup_event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.ts_s, s.signup_event_id
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_s <= s.ts_s
      |ORDER BY p.event_id""".stripMargin

  /** As-of join, `nearest` direction (the third merge_asof mode): each
    * purchase matched to the signup with the smallest |ts gap| in either
    * direction, ties to backward. The oracle composes DuckDB's native
    * backward and forward ASOF joins with the same tie rule.
    */
  def q31AsofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_s", col("ts").cast("long"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_s").agg(max("event_id").as("signup_event_id"))
    AsOfJoin.asof(purchases, signups, Seq("user_id"), "ts_s",
      Seq("signup_event_id"), direction = "nearest")
      .select(col("event_id"), col("user_id"), col("ts_s"),
        col("signup_event_id_asof").as("signup_event_id"))
      .orderBy("event_id")
  }

  val q31AsofNearestSql: String =
    """WITH p AS (SELECT event_id, user_id,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |        max(event_id) AS signup_event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
      |b AS (SELECT p.event_id, s.ts_s AS bts, s.signup_event_id AS bid
      |      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_s >= s.ts_s),
      |f AS (SELECT p.event_id, s.ts_s AS fts, s.signup_event_id AS fid
      |      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_s <= s.ts_s)
      |SELECT p.event_id, p.user_id, p.ts_s,
      |  CASE WHEN fts IS NULL THEN bid
      |       WHEN bts IS NULL THEN fid
      |       WHEN p.ts_s - bts <= fts - p.ts_s THEN bid
      |       ELSE fid END AS signup_event_id
      |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
      |ORDER BY p.event_id""".stripMargin

  /** F6 resume anti-join in its 100 TB shape: a broadcast Bloom filter
    * routes definitely-new rows around the join shuffle; only possible
    * members (matches + fpp false positives) flow through the exact
    * anti-join. Same NOT EXISTS oracle as q5 — the prefilter must be
    * invisible in the result.
    */
  def q32BloomAnti(s: SparkSession, d: String): DataFrame =
    BloomJoin.bloomAntiJoin(
      Tables.customer(s, d),
      // F-status subset: non-empty anti result at every SF (the plain
      // q5 anti set is empty below sf0.1 — a hollow gate)
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")),
      "c_custkey")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val q32BloomAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Sketch-based approximate distinct (the 100 TB path for per-group
    * cardinality: one mergeable DataSketches HLL per group instead of a
    * distinct shuffle) gated in-plan against the exact count — the
    * oracle states the <5% error bound holds for every group.
    */
  def q33HllDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("approx"))
      .select(col("event_type"),
        (abs(col("approx") - col("exact")).cast("double") / col("exact") < 0.05)
          .cast("int").as("within_5pct"))
      .orderBy("event_type")

  val q33HllDistinctSql: String =
    """SELECT event_type, 1 AS within_5pct FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sketch-based heavy hitters (the 100 TB path for vocabulary/top-term
    * stats: one mergeable count-min sketch over the token stream instead
    * of a full-width count shuffle), gated in-plan against the exact
    * counts for the top 20 tokens: CMS never under-counts, and with
    * eps = 0.001 it over-counts by at most eps·N (N = total tokens). The
    * sketch itself is driver-held — kilobytes, the same contract as the
    * IVF quantizer — and the estimate UDF touches only the 20 gated rows.
    */
  def q35CmsTopk(s: SparkSession, d: String): DataFrame = {
    val toks = graft.Caches.stage(Tables.documents(s, d)
      .select(explode(graft.ext.TextStats.wsTokens(lower(col("text")))).as("tok")))
    val eps = 0.001
    val sketchBytes = toks
      .agg(expr(s"count_min_sketch(tok, ${eps}d, 0.99d, 42)")).head()
      .getAs[Array[Byte]](0)
    val total = toks.count()
    val est = udf((t: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
        .estimateCount(t))
    val slack = math.ceil(eps * total).toLong
    toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
      .select(col("tok"), col("n"),
        (est(col("tok")) >= col("n") &&
          est(col("tok")) <= col("n") + slack).cast("int").as("within_bounds"))
      .orderBy(col("n").desc, col("tok"))
  }

  val q35CmsTopkSql: String =
    """SELECT tok, count(*) AS n, 1 AS within_bounds FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> length(x) > 0)) AS tok
      |  FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  /** Time-series resample + forward fill (pandas resample().ffill() /
    * SAMPLE BY FILL(PREV)): per-type hourly grid, bucket averages, gaps
    * carried forward — per-series windows only, no global sort. Fully
    * oracled including the gap rows (null avg, carried fill).
    */
  def q36Resample(s: SparkSession, d: String): DataFrame =
    TimeSeries.resampleFfill(Tables.events(s, d), "event_type", "ts", "value",
      step = "1 hour")
      .select(col("event_type"), col("bucket_ts"), col("n_events"),
        round(col("avg_value"), 4).as("avg_value"),
        round(col("filled_value"), 4).as("filled_value"))
      .orderBy("event_type", "bucket_ts")

  val q36ResampleSql: String =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
      |    count(*) AS n_events, avg(value) AS avg_value
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
      |  FROM b GROUP BY 1),
      |grid AS (
      |  SELECT event_type,
      |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
      |  FROM bounds)
      |SELECT g.event_type, g.bucket_ts,
      |  coalesce(b.n_events, 0) AS n_events,
      |  round(b.avg_value, 4) AS avg_value,
      |  round(last_value(b.avg_value IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.bucket_ts
      |    ROWS UNBOUNDED PRECEDING), 4) AS filled_value
      |FROM grid g LEFT JOIN b USING (event_type, bucket_ts)
      |ORDER BY event_type, bucket_ts""".stripMargin

  /** HyperLogLog distinct users per event type, gated against the exact
    * count (the q35 sketch-gate pattern: the approximate value itself is
    * engine-specific, so the oracle pins the EXACT count and a
    * within-tolerance flag computed Spark-side). At 100 TB the HLL one-
    * pass mergeable sketch replaces the exact distinct's shuffle; rsd 2%
    * gated at 5σ.
    */
  def q37HllDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          greatest(ceil(col("n_exact") * 0.10), lit(1L)))
          .cast("int").as("within_tol"))
      .orderBy("event_type")

  val q37HllDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, 1 AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Quantile sketch (percentile_approx / GK summaries) per event type,
    * rank-error gated: for each requested q, the fraction of values ≤ the
    * sketch's answer must sit within 1/accuracy (+ slack) of q. The gate
    * is computed against the DATA, not a reference quantile value, so
    * ties and engine-specific element picks don't break parity — the
    * oracle pins (event_type, pct, within_tol). The sketch is the 100 TB
    * path: exact percentiles need a full sort per group.
    */
  def q38QuantileSketch(s: SparkSession, d: String): DataFrame = {
    val qs = Seq(0.5, 0.9, 0.99)
    val acc = 10000
    val ev = graft.Caches.stage(
      Tables.events(s, d).select(col("event_type"), col("value")))
    val approx = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(qs.map(lit): _*), lit(acc)).as("av"))
      .select(col("event_type"), posexplode(col("av")).as(Seq("i", "av")))
      .select(col("event_type"),
        element_at(array(qs.map(lit): _*), col("i") + 1).as("q"), col("av"))
    // Tie-safe, null-safe rank gate: with heavy value ties a single point
    // rank frac(value <= av) can overshoot q by far more than the sketch
    // error (all-equal values give frac = 1.0 at q = 0.5 — a false FAIL),
    // so the gate brackets the answer's achievable rank interval
    // [frac(value < av), frac(value <= av)] and asserts it OVERLAPS
    // [q - tol, q + tol]; nulls are excluded from both counts and the
    // denominator, matching percentile_approx's own null handling.
    val tol = 1.0 / acc + 0.002
    val gated = ev.filter(col("value").isNotNull).join(approx, Seq("event_type"))
      .groupBy("event_type", "q")
      .agg((sum((col("value") < col("av")).cast("long")) /
        count(lit(1)).cast("double")).as("lo"),
        (sum((col("value") <= col("av")).cast("long")) /
          count(lit(1)).cast("double")).as("hi"))
      .select(col("event_type"),
        (col("q") * 100).cast("int").as("pct"),
        (col("lo") <= col("q") + lit(tol) && col("hi") >= col("q") - lit(tol))
          .cast("int").as("within_tol"))
    gated.orderBy("event_type", "pct")
  }

  val q38QuantileSketchSql: String =
    """SELECT event_type, pct, 1 AS within_tol
      |FROM (SELECT DISTINCT event_type FROM events) a,
      |     (SELECT unnest([50, 90, 99]) AS pct) b
      |ORDER BY event_type, pct""".stripMargin

  /** Decimal arithmetic (§2.12 "decimal arithmetic" — absent in the
    * reference, a first-class engine surface): prices cast to
    * DECIMAL(12,2), the revenue product computed in exact decimal, sums
    * aggregated as decimals — then shipped as rounded doubles (decimal
    * SUMS are exact, so the final cast is lossless at these magnitudes;
    * shipping decimal-typed columns would tie the compare to each
    * engine's precision/scale inference instead of the values).
    */
  def q39Decimal(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(12,2)").as("p"),
        col("l_discount").cast("decimal(12,2)").as("disc"))
      .groupBy("l_returnflag")
      .agg(sum(col("p")).as("sp"),
        sum(col("p") * (lit(BigDecimal(1)).cast("decimal(12,2)") - col("disc"))).as("sd"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(col("sp").cast("double"), 2).as("sum_price"),
        round(col("sd").cast("double"), 2).as("sum_disc_price"),
        col("n"))
      .orderBy("l_returnflag")

  val q39DecimalSql: String =
    """SELECT l_returnflag,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 2)
      |    AS sum_disc_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Scalar subquery (§2.12): orders above the GLOBAL average price —
    * the scalar rides in-plan as a broadcast 1-row cross join (no
    * separate collect/action), grouped to a bounded result.
    */
  def q40ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val avgPrice = Tables.orders(s, d)
      .agg(avg("o_totalprice").as("__avg"))
    Tables.orders(s, d)
      .crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("__avg"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("o_orderpriority")
  }

  val q40ScalarSubquerySql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(avg(o_totalprice), 2) AS avg_price
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Z-order round-trip bound into the driver gate: events written
    * through [[graft.catalog.Catalog.writeZOrderedN]] (min-max scaled
    * bit-interleave, range-partitioned by z) and read back under a
    * 2-D range predicate must equal the plain filtered table — the
    * clustering reorders rows and files, never loses, duplicates, or
    * mutates them. (The SCAN-pruning effect of the layout is asserted on
    * scan metrics in ScaleSpec; a hash gate can only bind row fidelity.
    * The measured row includes the clustered REWRITE of the events table
    * — the fixture-build caveat of dedup_incremental.)
    */
  def q41ZorderScan(s: SparkSession, d: String): DataFrame = {
    val path = graft.Caches.newTempDir("graft_zorder_q").toString + "/events_z"
    val ev = Tables.events(s, d).select("event_id", "user_id", "value")
    graft.catalog.Catalog.writeZOrderedN(ev, path, Seq("user_id", "value"),
      numFiles = 8)
    s.read.parquet(path)
      .filter(col("user_id").between(100, 200) && col("value").between(10.0, 50.0))
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"))
      .orderBy("event_id")
  }

  val q41ZorderScanSql: String =
    """SELECT event_id, user_id, round(value, 2) AS value FROM events
      |WHERE user_id BETWEEN 100 AND 200 AND value BETWEEN 10.0 AND 50.0
      |ORDER BY event_id""".stripMargin

  /** Map-function surface (§2.12 "map functions"; the wiki jobs consume
    * maps from JSON — this exercises CONSTRUCTION + lookup + introspection):
    * per-order map linenumber → quantity via map_from_entries, then
    * element_at lookups, size, and a sorted-key join. Outputs are
    * scalars — the oracle states the same values directly (conditional
    * aggregates), binding the map path's RESULTS without tying the
    * compare to an engine's map representation.
    */
  def q42MapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 1000)
      // map keys must be unique: the synthetic lineitem repeats line
      // numbers within an order, so aggregate per (order, linenumber)
      // BEFORE map construction (map_from_entries throws on dup keys
      // under Spark's default EXCEPTION dedup policy — correctly)
      .groupBy(col("l_orderkey"), col("l_linenumber").cast("int").as("ln"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
      .groupBy("l_orderkey")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("ln"), col("qty"))))).as("m"))
      .select(col("l_orderkey"),
        size(col("m")).as("n_lines"),
        coalesce(element_at(col("m"), 1), lit(-1L)).as("qty_line1"),
        coalesce(element_at(col("m"), 4), lit(-1L)).as("qty_line4"),
        array_join(transform(map_keys(col("m")), _.cast("string")), ",")
          .as("line_numbers"))
      .orderBy("l_orderkey")

  val q42MapFuncsSql: String =
    """WITH per AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS INT) AS ln,
      |    CAST(sum(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem WHERE l_orderkey <= 1000 GROUP BY 1, 2)
      |SELECT l_orderkey,
      |  CAST(count(*) AS INT) AS n_lines,
      |  coalesce(max(CASE WHEN ln = 1 THEN qty END), -1) AS qty_line1,
      |  coalesce(max(CASE WHEN ln = 4 THEN qty END), -1) AS qty_line4,
      |  array_to_string(list_sort(array_agg(ln)), ',') AS line_numbers
      |FROM per GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Versioned-table time travel under the hash gate: commit the
    * documents table partitioned by source, partition-upsert a
    * "corrected re-ingest" of the min source (n_chars doubled), then
    * aggregate BOTH snapshots in one result — v0 must still read the
    * original bytes after the upsert (snapshot isolation), v1 exactly
    * the patch merged with the untouched partitions, which the oracle
    * restates closed-form over the raw table.
    */
  def q43TimeTravel(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_q").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))
    val minSrc = docs.agg(min("source")).head().getString(0)
    val patch = docs.filter(col("source") === minSrc)
      .withColumn("n_chars", col("n_chars") * 2)
    val v1 = VersionedTable.upsertPartitions(patch, t, "source")
    def snap(ver: Int, tag: String) =
      VersionedTable.read(s, t, ver)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .withColumn("snap", lit(tag))
    snap(0, "v0").unionByName(snap(v1, "v1"))
      .select("snap", "source", "n", "chars")
      .orderBy("snap", "source")
  }

  val q43TimeTravelSql: String =
    """WITH m AS (SELECT min(source) AS ms FROM documents)
      |SELECT 'v0' AS snap, source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY source
      |UNION ALL
      |SELECT 'v1' AS snap, source, count(*) AS n,
      |  CAST(sum(CASE WHEN source = (SELECT ms FROM m)
      |      THEN n_chars * 2 ELSE n_chars END) AS BIGINT) AS chars
      |FROM documents GROUP BY source
      |ORDER BY snap, source""".stripMargin

  /** Incremental sketch cube under the hash gate: events ingested as
    * three disjoint batches, each reduced to per-key HLL sketches and
    * appended to a versioned cube; a [[graft.ext.SketchCube.merge]]
    * folds the batches; the final distinct estimate per event_type must
    * sit within tolerance of the exact count (q37's gate pattern — the
    * oracle pins exact + within_tol=1). The batch split and the merge
    * must be invisible: HLL union is lossless in register space.
    */
  def q44SketchCube(s: SparkSession, d: String): DataFrame = {
    import graft.ext.SketchCube
    val ev = Tables.events(s, d).select("event_type", "user_id", "event_id")
    val path = graft.Caches.newTempDir("graft_sketchcube").toString + "/cube"
    (0 until 3).foreach { r =>
      SketchCube.appendBatch(ev.filter(pmod(col("event_id"), lit(3)) === r),
        Seq("event_type"), "user_id", path)
    }
    SketchCube.merge(s, path, Seq("event_type"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    SketchCube.distinct(s, path, Seq("event_type"))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          greatest(ceil(col("n_exact") * 0.10), lit(1L)))
          .cast("int").as("within_tol"))
      .orderBy("event_type")
  }

  val q44SketchCubeSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact, 1 AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incremental consumption under the hash gate: commit the documents
    * table partitioned by source, partition-upsert a patched min-source
    * slice, then read ONLY what changed since the initial version
    * through [[graft.catalog.VersionedTable.changes]] — which must be
    * exactly the replaced partition's new contents, nothing from the
    * untouched partitions, restated closed-form by the oracle.
    */
  def q46TableChanges(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_cdc").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))
    val minSrc = docs.agg(min("source")).head().getString(0)
    VersionedTable.upsertPartitions(
      docs.filter(col("source") === minSrc)
        .withColumn("n_chars", col("n_chars") * 2),
      t, "source")
    VersionedTable.changes(s, t, sinceVersion = 0)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val q46TableChangesSql: String =
    """WITH m AS (SELECT min(source) AS ms FROM documents)
      |SELECT doc_id, source, n_chars * 2 AS n_chars
      |FROM documents WHERE source = (SELECT ms FROM m)
      |ORDER BY doc_id""".stripMargin

  /** Full CDC under the hash gate: the upsert's replaced partition must
    * surface as delete(old rows) + insert(new rows), and a metadata-only
    * [[graft.catalog.VersionedTable.deletePartitions]] of the max source
    * must surface its rows as deletes — all through `tableChanges`'
    * `_change_type` column, with no reconcile pass against read(). The
    * oracle restates both windows closed-form over the raw table.
    */
  def q47CdcDelete(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_cdcdel").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))
    val bounds = docs.agg(min("source"), max("source")).head()
    val (minSrc, maxSrc) = (bounds.getString(0), bounds.getString(1))
    VersionedTable.upsertPartitions(
      docs.filter(col("source") === minSrc)
        .withColumn("n_chars", col("n_chars") * 2),
      t, "source")
    VersionedTable.deletePartitions(s, t, "source", Seq(maxSrc))
    VersionedTable.tableChanges(s, t, sinceVersion = 0)
      .select("doc_id", "source", "n_chars", "_change_type")
      .orderBy("doc_id", "_change_type")
  }
  /** Row-level MERGE under the hash gate: commit documents key-clustered
    * (8 range files on doc_id), merge a patch of updates (every 10th doc,
    * n_chars tripled) plus inserts (every 100th doc re-keyed +1M), then
    * aggregate the merged table — updates must replace in place, inserts
    * must land, and nothing else may change, while the rewrite touches
    * only files containing matched keys
    * ([[graft.catalog.VersionedTable.merge]]). The oracle restates the
    * merged corpus closed-form.
    */
  def q48MergeRows(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_merge").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(8, col("doc_id")), t)
    val patch = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("n_chars", col("n_chars") * 3)
      .unionByName(docs.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    VersionedTable.merge(patch, t, "doc_id")
    VersionedTable.read(s, t)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("chars"),
        sum(when(col("doc_id") >= 1000000L, 1).otherwise(0)).cast("long")
          .as("n_inserted"))
      .orderBy("source")
  }

  val q48MergeRowsSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 10 = 0 THEN n_chars * 3 ELSE n_chars END
      |      AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, n_chars FROM documents
      |  WHERE doc_id % 100 = 0)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_inserted
      |FROM merged GROUP BY source ORDER BY source""".stripMargin

  /** Row-level delete under the hash gate: commit documents
    * key-clustered, [[graft.catalog.VersionedTable.deleteRows]] every
    * 10th doc, aggregate the survivors — the dropped keys must vanish,
    * everything else byte-survive, with only key-bearing files
    * rewritten. The oracle is the complementary filter.
    */
  def q49DeleteRows(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_delrows").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(8, col("doc_id")), t)
    VersionedTable.deleteRows(
      docs.filter(col("doc_id") % 10 === 0).select("doc_id"), t, "doc_id")
    VersionedTable.read(s, t)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").cast("long").as("chars"))
      .orderBy("source")
  }

  val q49DeleteRowsSql: String =
    """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id % 10 <> 0
      |GROUP BY source ORDER BY source""".stripMargin

  /** Conditional MERGE under the hash gate: a 400-char patch over every
    * 7th doc plus fresh ids, through [[graft.catalog.VersionedTable
    * .mergeWhen]]'s three clauses — WHEN MATCHED AND t.n_chars < 150
    * THEN DELETE; WHEN MATCHED AND s.n_chars > t.n_chars THEN UPDATE
    * (partial, n_chars only); WHEN NOT MATCHED THEN INSERT. Every
    * branch fires at this SF (9 deletes / 35 updates / 28 keeps / 10
    * inserts at sf0.01); the oracle restates the final table in closed
    * form.
    */
  def q51MergeWhen(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_mergewhen").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(8, col("doc_id")), t)
    val patch = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", lit(400L))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("n_chars", lit(400L)))
    VersionedTable.mergeWhen(patch, t, "doc_id",
      updateWhen = Some("s.n_chars > t.n_chars"),
      updateCols = Some(Seq("n_chars")),
      deleteWhen = Some("t.n_chars < 150"))
    VersionedTable.read(s, t)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("chars"),
        sum(when(col("doc_id") >= 2000000L, 1).otherwise(0)).cast("long")
          .as("n_inserted"))
      .orderBy("source")
  }

  val q51MergeWhenSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0 AND n_chars < 400 THEN 400
      |         ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE NOT (doc_id % 7 = 0 AND n_chars < 150)
      |  UNION ALL
      |  SELECT doc_id + 2000000, source, 400 FROM documents
      |  WHERE doc_id % 50 = 0)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(CASE WHEN doc_id >= 2000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_inserted
      |FROM merged GROUP BY source ORDER BY source""".stripMargin

  /** Data skipping under the hash gate: commit documents key-clustered
    * (16 range files), read a narrow doc_id band through
    * [[graft.catalog.VersionedTable.readWhere]] — the plan must touch a
    * FRACTION of the files (file-level skipping via the commit stats
    * sidecars, asserted in-query) while returning exactly the filter's
    * rows, which the oracle restates as the plain predicate.
    */
  def q50StatsSkip(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_skip").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(16, col("doc_id")), t)
    val q = VersionedTable.readWhere(s, t, "doc_id", 100L, 199L)
    require(q.inputFiles.length <= 4,
      s"file skipping failed: ${q.inputFiles.length} of 16 files read")
    q.orderBy("doc_id")
  }

  val q50StatsSkipSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id BETWEEN 100 AND 199
      |ORDER BY doc_id""".stripMargin

  /** Bloom point-lookup under the hash gate: commit documents
    * HASH-laid (every file's doc_id range spans the domain, so zone
    * maps prune nothing) with bloom filters on the key, then
    * [[graft.catalog.VersionedTable.readEquals]] a single id — the
    * probe must open a fraction of the files (bloom-proven absence,
    * asserted in-query) while returning exactly the equality filter's
    * rows, which the oracle restates as the plain predicate.
    */
  def q52PointLookup(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_point").toString + "/t"
    VersionedTable.commit(docs.repartition(8), t,
      writerOptions = VersionedTable.bloomOptions(Seq("doc_id"), 1000L))
    val q = VersionedTable.readEquals(s, t, "doc_id", 250L)
    require(q.inputFiles.length <= 2,
      s"bloom point-lookup failed to prune: ${q.inputFiles.length} of 8 files read")
    q.orderBy("doc_id")
  }

  val q52PointLookupSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id = 250 ORDER BY doc_id""".stripMargin

  /** Write-side schema evolution under the hash gate: a versioned table
    * built from `documents`, then a MERGE whose batch carries a brand-new
    * `tier` column (`evolveSchema = true`) — matched rows take the
    * value, pre-evolution rows read null, and the whole evolved table
    * hash-matches the closed-form CASE restatement.
    */
  def q55SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_evolve").toString + "/t"
    VersionedTable.commit(docs.repartition(4), t)
    val batch = Tables.documents(s, d).filter(col("doc_id") <= 100)
      .select(col("doc_id"), col("source"), col("n_chars"),
        lit("curated").as("tier"))
    VersionedTable.merge(batch, t, "doc_id", evolveSchema = true)
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  val q55SchemaEvolutionSql: String =
    """SELECT doc_id, source, n_chars,
      |  CASE WHEN doc_id <= 100 THEN 'curated' END AS tier
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Schema evolution on the APPEND path under the hash gate: a
    * drifting-schema batch must fail loud without the opt-in (asserted
    * in-query), then widen the table with `evolveSchema = true` — new
    * column null for every pre-evolution row, exactly the mergeSchema
    * semantics [[q55SchemaEvolution]] proves for merge. The firehose
    * wall: the reference's dumps are schema-on-read with per-entity
    * field sets (/root/reference/scripts/wiki/wikidata.py:111-202), so
    * ingest hits drift in week one.
    */
  def q59AppendEvolve(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_appevo").toString + "/t"
    VersionedTable.commit(
      docs.filter(col("doc_id") > 100).repartition(4), t)
    val batch = docs.filter(col("doc_id") <= 100)
      .withColumn("tier", lit("late"))
    val drifted =
      try { VersionedTable.append(batch, t); false }
      catch { case _: IllegalArgumentException => true }
    require(drifted, "drifted append must fail loud without evolveSchema")
    require(VersionedTable.versions(s, t) == Seq(0),
      "the refused append must not have committed")
    VersionedTable.append(batch, t, evolveSchema = true)
    // and a batch-omitted column null-fills: append one pre-evolution-
    // shaped row (slim is also evolution — opted in)
    VersionedTable.append(
      s.createDataFrame(
        s.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(9000000L, "synthetic", 1L))),
        VersionedTable.read(s, t).select("doc_id", "source", "n_chars")
          .schema),
      t, evolveSchema = true)
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  /** Column mapping under the hash gate: rename a column with
    * [[graft.catalog.VersionedTable.renameColumn]] — asserted in-query
    * to be METADATA-ONLY (zero files, zero bytes in history; the data
    * files keep the physical name) — then merge through the NEW name
    * and read back; time travel across the rename must show the old
    * name. The read hash-matches an aliased closed-form restatement.
    */
  def q60RenameColumn(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_rename").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(4, col("doc_id")), t)
    val v1 = VersionedTable.renameColumn(s, t, "n_chars", "chars")
    require(v1 == 1, s"rename should commit v1, got $v1")
    val h = VersionedTable.history(s, t).collect()
    require(h.last.getString(1) == "rename_column" &&
        h.last.getLong(2) == 0L && h.last.getLong(3) == 0L,
      "rename must be a metadata-only commit (0 files, 0 bytes)")
    // time travel crosses the rename: v0 keeps its historical name
    require(VersionedTable.read(s, t, 0).columns.contains("n_chars") &&
        !VersionedTable.read(s, t, 0).columns.contains("chars"),
      "historical versions keep historical column names")
    // writes after the rename speak the NEW name; the file-pruned merge
    // and its stats sidecars keep working (physical names underneath)
    val patch = docs.filter(col("doc_id") <= 50)
      .withColumnRenamed("n_chars", "chars")
      .withColumn("chars", col("chars") + 1000000L)
    VersionedTable.merge(patch, t, "doc_id")
    // data skipping still prunes through the renamed column
    val skipped = VersionedTable.readWhere(s, t, "doc_id", 5L, 10L)
    require(skipped.inputFiles.length < VersionedTable.read(s, t)
        .inputFiles.length,
      "file skipping must survive the rename")
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  val q60RenameColumnSql: String =
    """SELECT doc_id, source,
      |  CASE WHEN doc_id <= 50 THEN n_chars + 1000000 ELSE n_chars END
      |    AS chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DROP COLUMN under the hash gate: metadata-only drop (zero
    * files/bytes, asserted in-query), time travel keeps the column,
    * and a LATER evolution re-adds the same logical name on FRESH
    * physical storage — old rows read null, never the dropped bytes.
    */
  def q61DropColumn(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_drop").toString + "/t"
    VersionedTable.commit(docs.repartition(4), t)
    val v1 = VersionedTable.dropColumn(s, t, "source")
    require(v1 == 1, s"drop should commit v1, got $v1")
    val h = VersionedTable.history(s, t).collect()
    require(h.last.getString(1) == "drop_column" &&
        h.last.getLong(2) == 0L && h.last.getLong(3) == 0L,
      "drop must be a metadata-only commit (0 files, 0 bytes)")
    require(VersionedTable.read(s, t).columns.toSet ==
        Set("doc_id", "n_chars"),
      "the dropped column must be hidden from the head")
    require(VersionedTable.read(s, t, 0).columns.contains("source"),
      "time travel must keep the dropped column")
    // re-add the name via append evolution: fresh storage, so old rows
    // read null — the dropped bytes can never bleed through
    val readd = docs.filter(col("doc_id") <= 30)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("n_chars"),
        lit("readd").as("source"))
    VersionedTable.append(readd, t, evolveSchema = true)
    require(VersionedTable.droppedColumns(s, t) == Seq("source") &&
        VersionedTable.columnMapping(s, t).get("source")
          .exists(_ != "source"),
      "the re-added column must map to minted physical storage")
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  val q61DropColumnSql: String =
    """SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS source
      |FROM documents
      |UNION ALL
      |SELECT doc_id + 3000000, n_chars, 'readd' FROM documents
      |WHERE doc_id <= 30
      |ORDER BY doc_id""".stripMargin

  /** Partition-scoped OPTIMIZE under the hash gate: three commits
    * scatter files across hive partitions, then ONE partition is
    * packed (z-ordered within) by [[graft.catalog.VersionedTable
    * .optimizePartitions]] — asserted in-query: the target partition's
    * file count drops, every other partition's files carry forward BY
    * NAME (manifest reference, zero bytes rewritten), and the table
    * hash-matches the plain restatement. The 100 TB maintenance shape:
    * optimize closes yesterday's partition, never the table.
    */
  def q62OptimizePartitions(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_optpart").toString + "/t"
    VersionedTable.commit(docs.filter(col("doc_id") % 3 === 0), t,
      Seq("source"))
    VersionedTable.append(docs.filter(col("doc_id") % 3 === 1), t,
      Seq("source"))
    VersionedTable.append(docs.filter(col("doc_id") % 3 === 2), t,
      Seq("source"))
    val srcs = docs.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)).toSeq
    val target = srcs.head
    // ONE snapshot resolution serves every per-partition assertion —
    // the fixture measures OPTIMIZE, not repeated metadata walks
    def filesBySrc(): Map[String, Set[String]] = {
      val all = VersionedTable.read(s, t).inputFiles
      srcs.map(v =>
        v -> all.filter(_.contains(s"/source=$v/")).toSet).toMap
    }
    val pre = filesBySrc()
    require(pre(target).size >= 3,
      s"expected scattered files, got ${pre(target).size}")
    VersionedTable.optimizePartitions(s, t, "source", Seq(target),
      zorderCols = Seq("doc_id", "n_chars"))
    val post = filesBySrc()
    require(post(target).size < pre(target).size,
      "the target partition must pack to fewer files")
    srcs.tail.foreach(v => require(post(v) == pre(v),
      s"untouched partition $v must carry forward by reference"))
    VersionedTable.read(s, t).select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val q62OptimizePartitionsSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Transparent data skipping under the hash gate: the versioned
    * table is read through the manifest-backed
    * [[graft.catalog.GraftFileIndex]] and filtered with a PLAIN
    * `.filter` — no explicit readWhere — yet the pushed predicate
    * prunes files through the stats sidecars at planning time,
    * asserted in-query via the index's listed-file seam. The oracle
    * restates the filter over the raw table.
    */
  def q63IndexedScan(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_iscan").toString + "/t"
    VersionedTable.commit(docs.repartitionByRange(16, col("doc_id")), t)
    val (df, idx) = GraftScan.readWithIndex(s, t)
    val q = df.filter(col("doc_id") >= 100L && col("doc_id") <= 199L)
    require(q.count() > 0, "indexed scan returned nothing")
    require(idx.lastListedCount <= 4,
      s"transparent skipping failed: ${idx.lastListedCount} of 16 listed")
    q.orderBy("doc_id")
  }

  val q63IndexedScanSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id BETWEEN 100 AND 199
      |ORDER BY doc_id""".stripMargin

  /** Transparent hive-partition pruning under the hash gate: a
    * source-partitioned versioned table read through the FileIndex,
    * filtered on the partition column with a plain `.filter` — the
    * pushed partition predicate prunes to exactly that partition's
    * files (asserted in-query), no other partition dir ever listed.
    */
  def q64PartitionPrune(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_pprune").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))
    val target = docs.select("source").distinct().orderBy("source")
      .head().getString(0)
    val (df, idx) = GraftScan.readWithIndex(s, t)
    val q = df.filter(col("source") === target)
    require(q.count() > 0, "partition scan returned nothing")
    val partFiles = idx.inputFiles.count(_.contains(s"/source=$target/"))
    require(idx.lastListedCount == partFiles &&
      idx.lastListedCount < idx.totalFiles,
      s"partition pruning failed: listed ${idx.lastListedCount}, " +
        s"partition holds $partFiles of ${idx.totalFiles}")
    q.select("doc_id", "source", "n_chars").orderBy("doc_id")
  }

  val q64PartitionPruneSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE source = (SELECT min(source) FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** The `graft` Spark DATA SOURCE under the hash gate: the table is
    * written AND read purely through the standard format surface —
    * `df.write.format("graft")` commits versions,
    * `spark.read.format("graft")` serves the manifest-backed indexed
    * relation — with time travel (`versionAsOf`) and transparent
    * file pruning asserted in-query through the planted index seam.
    * The Spark-native restatement of the reference's whole public
    * surface being "point your tool at the library"
    * (/root/reference/scripts/__init__.py:1-21): a standard-format
    * caller never names an engine API.
    */
  def q65GraftFormat(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      .filter(col("doc_id") <= 20000)
    val t = graft.Caches.newTempDir("graft_format_q65").toString + "/t"
    docs.filter(col("doc_id") % 2 === 0)
      .repartitionByRange(8, col("doc_id"))
      .write.format("graft").mode("errorifexists").save(t)
    docs.filter(col("doc_id") % 2 === 1)
      .repartitionByRange(8, col("doc_id"))
      .write.format("graft").mode("append").save(t)
    val df = s.read.format("graft").load(t)
    val idx = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.asInstanceOf[graft.catalog.GraftFileIndex]
    }.getOrElse(sys.error("format(graft) must plant a GraftFileIndex"))
    // v0 time travel sees exactly the first commit (the even half)
    val v0 = s.read.format("graft").option("versionAsOf", 0).load(t)
    require(v0.filter(col("doc_id") % 2 === 1).count() == 0 &&
      v0.count() > 0, "versionAsOf 0 must see only the first commit")
    val q = df.filter(col("doc_id") <= 60)
    require(q.count() > 0, "format read returned nothing")
    require(idx.lastListedCount < idx.totalFiles,
      "format read must prune on the pushed predicate: listed " +
        s"${idx.lastListedCount} of ${idx.totalFiles}")
    q.orderBy("doc_id")
  }

  val q65GraftFormatSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id <= 60
      |ORDER BY doc_id""".stripMargin

  /** The SQL VERB surface under the hash gate: the table is committed
    * through the format, its column renamed and its history read
    * through [[graft.sql.GraftSql]] SQL statements, and the final
    * result read through a `CREATE TABLE ... USING graft` catalog
    * table with plain `spark.sql` — the whole round trip never names a
    * Scala engine API. The rename is asserted metadata-only in-query
    * (no second data dir), and the catalog schema sync is proven by
    * the SQL read resolving the NEW column name.
    */
  def q66SqlVerbs(s: SparkSession, d: String): DataFrame = {
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_sql_q66").toString + "/t"
    docs.write.format("graft").option("partitionCol", "source")
      .mode("errorifexists").save(t)
    s.sql("DROP TABLE IF EXISTS graft_q66")
    s.sql(s"CREATE TABLE graft_q66 USING graft OPTIONS (path '$t')")
    GraftSql.run(s,
      "ALTER TABLE graft_q66 RENAME COLUMN n_chars TO size_chars")
    val hist = GraftSql.run(s, "DESCRIBE HISTORY graft_q66")
    require(hist.count() == 2, "rename must land as version 1")
    require(new java.io.File(s"$t/data").listFiles().count(_.isDirectory)
      == 1, "rename must be a metadata-only commit (no data rewrite)")
    s.sql("""SELECT doc_id, source, size_chars FROM graft_q66
            |ORDER BY doc_id""".stripMargin)
  }

  val q66SqlVerbsSql: String =
    """SELECT doc_id, source, n_chars AS size_chars FROM documents
      |ORDER BY doc_id""".stripMargin

  /** SQL MAINTENANCE verbs under the hash gate: the table is forked
    * with `CLONE`, the fork packed with a statement-level `OPTIMIZE`
    * (layout preserved — asserted in-query), its sweepable history
    * listed with `VACUUM ... DRY RUN` (and proven UNDELETED), then the
    * fork read back — all through [[graft.sql.GraftSql]] statements.
    * The source table is proven byte-untouched by the whole sequence.
    */
  def q67SqlMaintenance(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val root = graft.Caches.newTempDir("graft_sql_q67").toString
    val src = s"$root/src"; val fork = s"$root/fork"
    VersionedTable.commit(docs, src, Seq("source"))
    val srcFiles = VersionedTable.read(s, src).inputFiles.toSet
    GraftSql.run(s, s"CLONE graft.`$src` TO graft.`$fork`")        // v0
    val target = docs.select(min("source")).head().getString(0)
    GraftSql.run(s,
      s"OPTIMIZE graft.`$fork` WHERE source = '$target'")          // v1
    GraftSql.run(s,
      s"OPTIMIZE graft.`$fork` ZORDER BY (doc_id, n_chars)")       // v2
    val forkFiles = VersionedTable.read(s, fork).inputFiles
    require(forkFiles.nonEmpty && forkFiles.forall(_.contains("/source=")),
      "statement-level OPTIMIZE must preserve the fork's partition layout")
    // a BARE dry run lists no data files: every version is inside the
    // default 168 h wall-clock retention (the Delta-shaped safe default
    // — an in-window older-snapshot reader must survive a bare VACUUM)
    val bare = GraftSql.run(s, s"VACUUM graft.`$fork` DRY RUN").collect()
    require(!bare.exists(_.getString(0) == "data_file"),
      "bare VACUUM must retain all in-window versions")
    // the aggressive sweep is an EXPLICIT opt-in: with RETAIN 0 HOURS,
    // v0's rewritten partition files are sweepable history (vacuum
    // keeps 2 trailing versions) — the dry run lists them WITHOUT
    // deleting anything
    val dry = GraftSql.run(s,
      s"VACUUM graft.`$fork` RETAIN 0 HOURS DRY RUN").collect()
    require(dry.exists(_.getString(0) == "data_file"),
      "dry run must list the superseded clone files")
    require(VersionedTable.read(s, fork, 0).count() > 0,
      "dry run must not delete — v0 still time-travels")
    require(VersionedTable.read(s, src).inputFiles.toSet == srcFiles,
      "the maintenance sequence must never touch the source table")
    VersionedTable.read(s, fork).select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  val q67SqlMaintenanceSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |ORDER BY doc_id""".stripMargin

  /** The CHANGE FEED under the hash gate: a batch is appended (v1) and
    * then fully deleted (v2); `readChangeFeed` over the window [1, 2]
    * must replay BOTH commits exactly — every appended row once as a
    * version-1 insert and once as a version-2 delete, stamped with its
    * commit version. A netted endpoint diff would return nothing. The
    * base commit's rows stay outside the window (the delete's rewrite
    * is file-pruned, so v0's files are untouched — asserted in-query).
    */
  /** Like q69's ladder, the q68 fixture (commit + append + delete over
    * the full table) is built once per JVM and dataset dir: the
    * measured operation is the windowed FEED READ over an existing
    * history, not the history's construction.
    */
  private val cdfFixture =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def cdfFixtureTable(s: SparkSession, d: String): String = {
    import graft.catalog.VersionedTable
    cdfFixture.getOrElseUpdate(d, {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val path = graft.Caches.newTempDir("graft_cdf_q68").toString + "/t"
      VersionedTable.commit(docs, path)                                // v0
      val batch = docs.withColumn("doc_id", col("doc_id") + 1000000L)
      VersionedTable.append(batch, path)                               // v1
      val v0Files = VersionedTable.read(s, path, 0).inputFiles.toSet
      VersionedTable.deleteRows(batch.select("doc_id"), path, "doc_id") // v2
      // file-pruned delete: v0's files carry forward BY NAME (the only
      // rewrite is the appended files'; a zero-survivor rewrite may add
      // one empty part file)
      require(v0Files.subsetOf(
        VersionedTable.read(s, path).inputFiles.toSet),
        "the delete must carry v0's files forward untouched")
      path
    })
  }

  def q68ChangeFeed(s: SparkSession, d: String): DataFrame = {
    val t = cdfFixtureTable(s, d)
    s.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 2).load(t)
      .select("doc_id", "_change_type", "_commit_version")
      .orderBy("_commit_version", "doc_id")
  }

  val q68ChangeFeedSql: String =
    """SELECT doc_id + 1000000 AS doc_id, 'insert' AS _change_type,
      |  1 AS _commit_version FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, 'delete', 2 FROM documents
      |ORDER BY _commit_version, doc_id""".stripMargin

  /** The CDC TABLE-VALUED FUNCTION under the hash gate:
    * `FROM table_changes('/path', 1, 2)` aggregated like any relation
    * — the q68 window (append + full delete of the same batch)
    * restated purely in SQL, over the SAME cached fixture, so both
    * entry points (the reader option and the TVF) are hash-pinned to
    * one oracle truth.
    */
  def q76ChangesTvf(s: SparkSession, d: String): DataFrame = {
    val t = cdfFixtureTable(s, d)
    graft.sql.GraftSql.run(s,
      s"""SELECT _change_type, count(*) AS n,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM table_changes('$t', 1, 2)
         |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
  }

  val q76ChangesTvfSql: String =
    """SELECT c AS _change_type, count(*) AS n,
      |  CAST(sum(doc_id + 1000000) AS BIGINT) AS id_sum
      |FROM documents CROSS JOIN (VALUES ('delete'), ('insert')) AS v(c)
      |GROUP BY c ORDER BY c""".stripMargin

  /** TIMESTAMP-bounded `table_changes` under the hash gate: the START
    * bound resolves to the first commit at-or-AFTER the instant and the
    * END bound to the last commit at-or-before it (the Delta contract —
    * changes strictly before the start instant are never replayed), so
    * two midpoint timestamps bracket EXACTLY version 1 of a three-commit
    * ladder and the feed returns that version's inserts alone. The
    * fixture spaces its commits ~80 ms apart (cached per JVM, like
    * q68's) so the midpoints are strictly between the commit stamps.
    */
  private val tsLadder =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def q77ChangesTs(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val t = tsLadder.getOrElseUpdate(d, {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val path = graft.Caches.newTempDir("graft_cdf_q77").toString + "/t"
      VersionedTable.commit(docs, path)                                // v0
      Thread.sleep(80)
      val batch = docs.withColumn("doc_id", col("doc_id") + 1000000L)
      VersionedTable.append(batch, path)                               // v1
      Thread.sleep(80)
      VersionedTable.deleteRows(batch.select("doc_id"), path, "doc_id") // v2
      path
    })
    val ts = VersionedTable.history(s, t)
      .select("version", "ts_millis").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(ts(0) < ts(1) && ts(1) < ts(2),
      "the q77 ladder needs strictly increasing commit stamps")
    val lo = (ts(0) + ts(1)) / 2 // strictly inside (v0, v1)
    val hi = (ts(1) + ts(2)) / 2 // strictly inside (v1, v2)
    graft.sql.GraftSql.run(s,
      s"""SELECT _change_type, count(*) AS n,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM table_changes('$t', '$lo', '$hi')
         |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
  }

  val q77ChangesTsSql: String =
    """SELECT 'insert' AS _change_type, count(*) AS n,
      |  CAST(sum(doc_id + 1000000) AS BIGINT) AS id_sum
      |FROM documents""".stripMargin

  /** DELETION-VECTOR delete under the hash gate (merge-on-read): with
    * `spark.graft.deletionVectors` on, `DELETE FROM ... WHERE` commits
    * the matched rows' POSITIONS as a `_dv/` sidecar instead of
    * rewriting the touched files — at 100 TB a point delete costs
    * O(matched positions), never a file rewrite. Asserted IN-QUERY:
    * the delete commit wrote ZERO data files, the on-disk file set is
    * byte-identical to v0's, and the vector is live in the manifest —
    * while every SQL read excludes the rows (hash-gated against the
    * closed form) and time travel still sees them.
    */
  def q78DvDelete(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_dv_q78").toString + "/t"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(t)                               // v0
    val v0Files = VersionedTable.read(s, t).inputFiles.toSet
    val n0 = docs.count()
    s.conf.set("spark.graft.deletionVectors", "true")
    try GraftSql.run(s, s"DELETE FROM graft.`$t` WHERE doc_id % 13 = 0")
    finally s.conf.unset("spark.graft.deletionVectors")             // v1
    val hist = VersionedTable.history(s, t)
      .filter(col("version") === 1).head()
    require(hist.getString(1) == "delete_dv" && hist.getLong(2) == 0L,
      "the DV delete must commit zero data files")
    require(VersionedTable.read(s, t).inputFiles.toSet == v0Files,
      "the DV delete must leave the base parquet bytes untouched")
    require(VersionedTable.hasDeletionVectors(s, t),
      "the head manifest must reference the vector")
    require(GraftSql.run(s,
      s"SELECT count(*) AS n FROM graft.`$t` VERSION AS OF 0")
      .head().getLong(0) == n0,
      "time travel must still see the deleted rows")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q78DvDeleteSql: String =
    """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id % 13 <> 0
      |GROUP BY source ORDER BY source""".stripMargin

  /** DELETION-VECTOR UPDATE under the hash gate (merge-on-read): with
    * the conf on, `UPDATE ... WHERE` commits the matched positions as a
    * vector and writes ONLY the updated row images — asserted IN-QUERY:
    * every base file carries forward untouched (the commit's new files
    * hold just the updated rows) and the vector is live. The read-back
    * aggregate hash-checks the updated values against the closed form.
    */
  def q79DvUpdate(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_dv_q79").toString + "/t"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(t)                               // v0
    val v0Files = VersionedTable.read(s, t).inputFiles.toSet
    s.conf.set("spark.graft.deletionVectors", "true")
    try GraftSql.run(s,
      s"UPDATE graft.`$t` SET n_chars = n_chars * 2 + 1 " +
        "WHERE doc_id % 17 = 0")
    finally s.conf.unset("spark.graft.deletionVectors")             // v1
    require(v0Files.subsetOf(
      VersionedTable.read(s, t).inputFiles.toSet),
      "the DV update must carry every base file forward untouched")
    require(VersionedTable.hasDeletionVectors(s, t),
      "the head manifest must reference the vector")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q79DvUpdateSql: String =
    """SELECT source, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 17 = 0 THEN n_chars * 2 + 1
      |               ELSE n_chars END) AS BIGINT) AS chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** DELETION-VECTOR MERGE under the hash gate (merge-on-read): with
    * the conf on, a three-clause `MERGE INTO` (conditional DELETE +
    * UPDATE + INSERT) commits the affected rows' positions as a vector
    * and writes ONLY the updated images + inserted rows — at 100 TB an
    * upsert touching 1 k rows spread over 1 k one-GB files costs
    * O(1 k rows), never 1 TB of rewrites. Asserted IN-QUERY: the merge
    * commit is `merge_dv`, every base file carries forward untouched,
    * and the vector is live — while the read-back aggregate hash-checks
    * the full clause algebra against the closed form.
    */
  def q80DvMerge(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_dv_q80").toString + "/t"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(t)                               // v0
    val v0Files = VersionedTable.read(s, t).inputFiles.toSet
    val nTy = docs.schema("n_chars").dataType
    // updates: every doc_id % 10 = 0 row at 3× chars; inserts: fresh
    // ids (+1 000 000 — disjoint from the table's id space)
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source"),
        (col("n_chars") * 3).cast(nTy).as("n_chars"))
      .unionByName(docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("new").as("source"), lit(42).cast(nTy).as("n_chars")))
      .createOrReplaceTempView("q80_merge_src")
    s.conf.set("spark.graft.deletionVectors", "true")
    try GraftSql.run(s,
      s"""MERGE INTO graft.`$t` AS t
         |USING q80_merge_src AS s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND t.doc_id % 20 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally s.conf.unset("spark.graft.deletionVectors")             // v1
    val hist = VersionedTable.history(s, t)
      .filter(col("version") === 1).head()
    require(hist.getString(1) == "merge_dv",
      s"the merge must run merge-on-read, got ${hist.getString(1)}")
    require(v0Files.subsetOf(VersionedTable.read(s, t).inputFiles.toSet),
      "the DV merge must rewrite ZERO base data files")
    require(VersionedTable.hasDeletionVectors(s, t),
      "the head manifest must reference the vector")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q80DvMergeSql: String =
    """WITH post AS (
      |  SELECT source,
      |         CASE WHEN doc_id % 10 = 0 THEN n_chars * 3
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 20 <> 0
      |  UNION ALL
      |  SELECT 'new' AS source, 42 AS n_chars
      |  FROM documents WHERE doc_id % 97 = 0
      |)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM post GROUP BY source ORDER BY source""".stripMargin

  /** DELETION-VECTOR replaceWhere under the hash gate (merge-on-read):
    * with the conf on, a DATA-predicate `replaceWhere` backfill commits
    * the replaced rows' positions as a vector and lands ONLY the batch
    * — the touched files' surviving rows are never read or rewritten
    * (at 100 TB, recomputing a narrow slice scattered across wide files
    * costs O(slice), not a rewrite of every touched file). Asserted
    * IN-QUERY: the commit is `replace_dv` and every base file carries
    * forward untouched; the read-back aggregate hash-checks the swap.
    */
  def q81DvReplace(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_dv_q81").toString + "/t"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(t)                               // v0
    val v0Files = VersionedTable.read(s, t).inputFiles.toSet
    val nTy = docs.schema("n_chars").dataType
    // the recomputed slice: every doc_id % 7 = 0 row at +5 chars —
    // written through the writer-option surface under the conf
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source"),
        (col("n_chars") + 5).cast(nTy).as("n_chars"))
    s.conf.set("spark.graft.deletionVectors", "true")
    try batch.write.format("graft").mode("overwrite")
      .option("replaceWhere", "doc_id % 7 = 0").save(t)             // v1
    finally s.conf.unset("spark.graft.deletionVectors")
    val hist = VersionedTable.history(s, t)
      .filter(col("version") === 1).head()
    require(hist.getString(1) == "replace_dv",
      s"the replace must run merge-on-read, got ${hist.getString(1)}")
    require(v0Files.subsetOf(VersionedTable.read(s, t).inputFiles.toSet),
      "the DV replace must rewrite ZERO base data files")
    require(VersionedTable.hasDeletionVectors(s, t),
      "the head manifest must reference the vector")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q81DvReplaceSql: String =
    """SELECT source, count(*) AS n,
      |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
      |               ELSE n_chars END) AS BIGINT) AS chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** INCREMENTALLY-MAINTAINED MATERIALIZED VIEW under the hash gate
    * (delta mode): a count/sum rollup defined over a versioned table,
    * kept current by folding the CHANGE FEED into per-group deltas and
    * merging — refresh cost O(rows changed), the source is NEVER
    * re-read. Asserted IN-QUERY: every maintenance commit on the view
    * is a merge (never a recompute rewrite) and the watermark equals
    * the source head; the view read-back hash-checks against the
    * closed form of the full mutation history (delete → update →
    * append across group churn and a brand-new group).
    */
  def q82IncrView(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{MaterializedView, VersionedTable}
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val dir = graft.Caches.newTempDir("graft_mv_q82").toString
    val src = s"$dir/src"; val view = s"$dir/view"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(src)                             // v0
    // definition AND maintenance purely through the SQL verbs
    graft.sql.GraftSql.run(s,
      s"""CREATE MATERIALIZED VIEW graft.`$view` AS
         |SELECT source, count(*) AS n, sum(n_chars) AS chars
         |FROM graft.`$src` GROUP BY source""".stripMargin)
    val nTy = docs.schema("n_chars").dataType
    VersionedTable.deleteWhere(s, src, Some("doc_id % 11 = 0"))
    VersionedTable.updateWhere(s, src,
      Seq("n_chars" -> "n_chars + 7"), Some("doc_id % 13 = 0"))
    VersionedTable.append(docs.filter(col("doc_id") % 53 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        lit("new").as("source"), lit(42).cast(nTy).as("n_chars")), src)
    graft.sql.GraftSql.run(s,
      s"REFRESH MATERIALIZED VIEW graft.`$view`")
    require(MaterializedView.refreshedVersion(s, view) ==
      VersionedTable.versions(s, src).max,
      "the watermark must reach the source head")
    val ops = VersionedTable.history(s, view)
      .filter(col("version") > 0).select("op").collect()
      .map(_.getString(0)).toSet
    require(ops == Set("merge_when"),
      s"view maintenance must be incremental merges, got $ops")
    MaterializedView.read(s, view)
      .select(col("source"), col("n"),
        col("chars").cast("bigint").as("chars"))
      .orderBy("source")
  }

  val q82IncrViewSql: String =
    """WITH post AS (
      |  SELECT source,
      |         CASE WHEN doc_id % 13 = 0 THEN n_chars + 7
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'new' AS source, 42 AS n_chars
      |  FROM documents WHERE doc_id % 53 = 0
      |)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM post GROUP BY source ORDER BY source""".stripMargin

  /** Materialized view with MIN/MAX (group-recompute mode) under the
    * hash gate: a deleted minimum cannot be un-aggregated, so the
    * refresh re-aggregates ONLY the groups the change window touched
    * (found from the feed alone) and merges them — untouched groups
    * are never read or written. The read-back hash-checks min/max/count
    * against the closed form after deleting the rows that held group
    * minima and doubling others.
    */
  def q83IncrViewMinmax(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{MaterializedView, VersionedTable}
    import graft.catalog.MaterializedView.AggDef
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val dir = graft.Caches.newTempDir("graft_mv_q83").toString
    val src = s"$dir/src"; val view = s"$dir/view"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(src)                             // v0
    MaterializedView.create(s, src, view, Seq("source"),
      Seq(AggDef("count", "*", "n"), AggDef("min", "n_chars", "lo"),
        AggDef("max", "n_chars", "hi")))
    VersionedTable.deleteWhere(s, src, Some("doc_id % 17 = 0"))
    VersionedTable.updateWhere(s, src,
      Seq("n_chars" -> "n_chars * 2"), Some("doc_id % 19 = 0"))
    MaterializedView.refresh(s, view)
    // a window carrying deletes re-aggregates the affected groups —
    // a deleted minimum cannot be un-aggregated
    require(MaterializedView.lastRefreshModeFor(view) == "recompute",
      "a min/max view must recompute a window that carries deletes")
    // an INSERT-only window folds min/max by the monotone merge
    // (least/greatest) — delta cost, the source never re-read
    VersionedTable.append(docs.filter(col("doc_id") % 23 === 4)
      .withColumn("n_chars", col("n_chars") + 5), src)
    MaterializedView.refresh(s, view)
    require(MaterializedView.lastRefreshModeFor(view) == "delta",
      "a min/max view must fold an insert-only window monotonically")
    require(MaterializedView.refreshedVersion(s, view) ==
      VersionedTable.versions(s, src).max,
      "the watermark must reach the source head")
    MaterializedView.read(s, view)
      .select(col("source"), col("n"),
        col("lo").cast("bigint").as("lo"),
        col("hi").cast("bigint").as("hi"))
      .orderBy("source")
  }

  val q83IncrViewMinmaxSql: String =
    """WITH post AS (
      |  SELECT source,
      |         CASE WHEN doc_id % 19 = 0 THEN n_chars * 2
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT source, n_chars + 5 AS n_chars
      |  FROM documents WHERE doc_id % 23 = 4
      |)
      |SELECT source, count(*) AS n, CAST(min(n_chars) AS BIGINT) AS lo,
      |  CAST(max(n_chars) AS BIGINT) AS hi
      |FROM post GROUP BY source ORDER BY source""".stripMargin

  /** IDENTITY COLUMNS under the hash gate: a table declared with an
    * identity column mints unique `start + k·step` values on every
    * ingest commit that lacks the column — blocks reserved by ONE
    * create-exclusive cursor file per commit, so arbitrarily many
    * concurrent writers never coordinate beyond a filesystem metadata
    * op and never duplicate (a crashed writer costs a GAP, the
    * identity contract). Asserted IN-QUERY: global uniqueness, the
    * exact contiguous range for this sequential two-writer history,
    * and per-group distinct-id counts equal to row counts — the oracle
    * restates the content-deterministic side in closed form.
    */
  def q84Identity(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_id_q84").toString + "/t"
    VersionedTable.setIdentityColumn(s, t, "rid")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
      .select("source", "n_chars")
    val half2 = docs.filter(col("doc_id") % 2 === 1)
      .select("source", "n_chars")
    VersionedTable.commit(half1, t)                                 // v0
    VersionedTable.append(half2, t)                                 // v1
    val total = docs.count()
    val stats = VersionedTable.read(s, t)
      .agg(count(lit(1)), countDistinct(col("rid")),
        min(col("rid")), max(col("rid"))).head()
    require(stats.getLong(0) == total &&
      stats.getLong(1) == total &&
      stats.getLong(2) == 1L && stats.getLong(3) == total,
      s"identity minting must be unique and contiguous for a " +
        s"sequential history: $stats vs $total rows")
    VersionedTable.read(s, t).groupBy("source")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("rid")).as("ids"),
        sum("n_chars").cast("bigint").as("chars"))
      .orderBy("source")
  }

  val q84IdentitySql: String =
    """SELECT source, count(*) AS n, count(*) AS ids,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** GENERATED COLUMNS under the hash gate: a column declared as
    * `GENERATED ALWAYS AS (expr)` is computed by the commit path when
    * the batch lacks it (a plain codegen'd expression) and doubles as
    * the table's PARTITION column — the date-from-timestamp layout
    * idiom: ingest never computes the bucket by hand, every reader
    * prunes on it, and a batch SUPPLYING a wrong value aborts through
    * the auto-installed CHECK. Asserted IN-QUERY: the layout is the
    * generated column's; the read-back per-bucket rollup hash-checks
    * the expression against the closed form.
    */
  def q85Generated(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_gen_q85").toString + "/t"
    VersionedTable.setGeneratedColumn(s, t, "bucket",
      "CAST(FLOOR(n_chars / 500.0) AS INT)")
    VersionedTable.commit(docs, t, partitionCols = Seq("bucket"))   // v0
    require(VersionedTable.read(s, t).inputFiles
      .forall(_.contains("bucket=")),
      "the generated column must lay the table out")
    VersionedTable.read(s, t).groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("bigint").as("chars"))
      .orderBy("bucket")
  }

  val q85GeneratedSql: String =
    """SELECT CAST(FLOOR(n_chars / 500.0) AS INT) AS bucket,
      |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** SKETCH-MAINTAINED materialized view (approx_count_distinct) under
    * the q37 gate pattern: a per-type distinct-users rollup kept
    * current from the change feed — an INSERT-only window folds in by
    * HLL `hll_union` (delta cost, asserted in-query via the refresh-
    * mode seam: exact COUNT(DISTINCT) could never do this), a window
    * with deletes routes to affected-group recompute (a sketch cannot
    * un-see a value, also asserted). The exactly-maintained count(*)
    * column hash-gates directly; the estimate gates within tolerance
    * of the exact distinct the oracle pins (sketch values are
    * engine-specific).
    */
  def q86IncrViewDistinct(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{MaterializedView, VersionedTable}
    val ev = Tables.events(s, d).select("event_id", "event_type", "user_id")
    val dir = graft.Caches.newTempDir("graft_mv_q86").toString
    val src = s"$dir/src"; val view = s"$dir/view"
    ev.repartition(4).write.format("graft")
      .mode("errorifexists").save(src)                             // v0
    graft.sql.GraftSql.run(s,
      s"""CREATE MATERIALIZED VIEW graft.`$view` AS
         |SELECT event_type, count(*) AS n,
         |  approx_count_distinct(user_id) AS du
         |FROM graft.`$src` GROUP BY event_type""".stripMargin)
    // INSERT-only window: new users into a brand-new type — must merge
    // sketches (delta), never re-read the source
    VersionedTable.append(ev.filter(col("event_id") % 7 === 0)
      .select((col("event_id") + 10000000L).as("event_id"),
        lit("synthetic").as("event_type"),
        (col("user_id") + 500000L).as("user_id")), src)
    graft.sql.GraftSql.run(s, s"REFRESH MATERIALIZED VIEW graft.`$view`")
    require(MaterializedView.lastRefreshModeFor(view) == "delta",
      "an insert-only window must sketch-merge, not recompute")
    // a delete window: the sketch cannot un-see — affected groups
    // recompute (and only they; the machinery is q83's)
    VersionedTable.deleteWhere(s, src, Some("user_id % 13 = 0"))
    graft.sql.GraftSql.run(s, s"REFRESH MATERIALIZED VIEW graft.`$view`")
    require(MaterializedView.lastRefreshModeFor(view) == "recompute",
      "a delete window must route to group recompute")
    require(MaterializedView.refreshedVersion(s, view) ==
      VersionedTable.versions(s, src).max,
      "the watermark must reach the source head")
    val exact = VersionedTable.read(s, src).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    MaterializedView.read(s, view)
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n"), col("n_exact"),
        (abs(col("du") - col("n_exact")) <=
          greatest(ceil(col("n_exact") * 0.10), lit(1L)))
          .cast("int").as("within_tol"))
      .orderBy("event_type")
  }

  val q86IncrViewDistinctSql: String =
    """WITH post AS (
      |  SELECT event_type, user_id FROM events
      |  UNION ALL
      |  SELECT 'synthetic', user_id + 500000 FROM events
      |  WHERE event_id % 7 = 0
      |)
      |SELECT event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_exact, 1 AS within_tol
      |FROM post WHERE user_id % 13 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** VARIANCE/STDDEV materialized view under the hash gate: the second
    * moments (count, sum, sum-of-squares) are SIGNED state, so the
    * view folds a mixed delete + DV-update + append window in DELTA
    * mode (asserted via the refresh-mode seam) — deletes included,
    * which the sketch path can't do. For integer-valued columns the
    * moments stay exact in double arithmetic (< 2^53), so the oracle
    * gates the STORED sum and sum-of-squares hash-exactly as BIGINTs;
    * the derived var_samp additionally gates within tolerance of the
    * engine's own recompute (FP algebra differs: raw moments here,
    * Welford in the aggregate).
    */
  def q88IncrViewVariance(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{MaterializedView, VersionedTable}
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val dir = graft.Caches.newTempDir("graft_mv_q88").toString
    val src = s"$dir/src"; val view = s"$dir/view"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(src)                             // v0
    graft.sql.GraftSql.run(s,
      s"""CREATE MATERIALIZED VIEW graft.`$view` AS
         |SELECT source, count(*) AS n, var_samp(n_chars) AS v
         |FROM graft.`$src` GROUP BY source""".stripMargin)
    VersionedTable.deleteWhere(s, src, Some("doc_id % 9 = 2"))     // v1
    VersionedTable.updateWhere(s, src, Seq("n_chars" -> "n_chars * 2"),
      Some("doc_id % 23 = 5"), dv = true)                          // v2
    VersionedTable.append(docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
        (col("n_chars") + 17).as("n_chars")), src)                 // v3
    graft.sql.GraftSql.run(s, s"REFRESH MATERIALIZED VIEW graft.`$view`")
    require(MaterializedView.lastRefreshModeFor(view) == "delta",
      "moment aggregates must fold deletes on the delta path")
    require(MaterializedView.refreshedVersion(s, view) ==
      VersionedTable.versions(s, src).max,
      "the watermark must reach the source head")
    // derived variance within tolerance of the engine's own recompute
    val re = VersionedTable.read(s, src).groupBy("source")
      .agg(var_samp(col("n_chars")).as("v_re"))
    val tol = MaterializedView.read(s, view)
      .join(re, Seq("source"))
      .select(col("source"),
        (coalesce(abs(col("v") - col("v_re")) <=
          lit(1e-9) * greatest(lit(1.0), abs(col("v_re"))),
          col("v").isNull && col("v_re").isNull))
          .cast("int").as("within_tol"))
    // the STORED moments gate hash-exactly (integer-valued column)
    VersionedTable.read(s, view)
      .select(col("source"), col("_mv_gcount").as("n"),
        col("_mv_sum_v").cast("bigint").as("sum_chars"),
        col("_mv_ssq_v").cast("bigint").as("ssq_chars"))
      .join(tol, Seq("source"))
      .orderBy("source")
  }

  val q88IncrViewVarianceSql: String =
    """WITH post AS (
      |  SELECT source,
      |         CASE WHEN doc_id % 23 = 5 THEN n_chars * 2
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 9 <> 2
      |  UNION ALL
      |  SELECT source, n_chars + 17 AS n_chars
      |  FROM documents WHERE doc_id % 31 = 0
      |)
      |SELECT source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS ssq_chars,
      |  1 AS within_tol
      |FROM post GROUP BY source ORDER BY source""".stripMargin

  /** BUCKETED co-located join under the hash gate: two versioned tables
    * declared bucketed on the same key and count are committed through
    * the bucket-arranging write (Spark's own hash function and file
    * naming), and their join — with broadcast disabled so the layout is
    * the only possible source of the plan — is asserted IN-QUERY to
    * contain ZERO hash exchanges with BOTH scans bucketed. The 100 TB
    * fact-to-fact join shape: the shuffle is paid once at ingest, never
    * per query. The joined rollup hash-checks against the closed form.
    */
  def q89BucketedJoin(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    // % (not pmod): the oracle SQL uses DuckDB's %, and the two diverge
    // on negative ids — the pair must share one modulus semantics
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", concat(lit("t"), col("user_id") % 3))
    val dir = graft.Caches.newTempDir("graft_bucket_q89").toString
    val t1 = s"$dir/facts"; val t2 = s"$dir/users"
    VersionedTable.setBucketing(s, t1, "user_id", 8)
    VersionedTable.setBucketing(s, t2, "user_id", 8)
    VersionedTable.commit(ev, t1)                                  // v0
    VersionedTable.commit(dim, t2)                                 // v0
    val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = GraftScan.read(s, t1)
        .join(GraftScan.read(s, t2), Seq("user_id"))
      j.count() // settle AQE so the rendered plan is the final one
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"a co-bucketed join must plan NO exchange:\n$plan")
      require("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must run bucketed:\n$plan")
      val out = j.groupBy("tier", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tier", "event_type")
      // materialize INSIDE the forced-plan scope; the returned frame
      // must not depend on the restored session conf
      val rows = out.collect().toSeq
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, out.schema)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
  }

  val q89BucketedJoinSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT user_id, concat('t', user_id % 3) AS tier
      |  FROM events)
      |SELECT d.tier, e.event_type, count(*) AS n,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN dim d USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** BUCKET-PRESERVING DML under the hash gate — the 100 TB upserted
    * fact table: a co-bucketed pair is mutated through BOTH DML write
    * shapes — a full-row rewrite MERGE on the fact side and a
    * merge-on-read MERGE on the dim side (deletion vector + appended
    * image files, base files never rewritten — asserted in-query on
    * the history sidecars and the v0 file set) — and the join still
    * plans ZERO exchanges with both scans bucketed, because the DML
    * rewrite/image commits bucket-arrange their output and prove it
    * with the per-dir layout sidecar. Without this, the first upsert
    * silently dropped the co-location claim until a flat OPTIMIZE.
    * The post-DML rollup hash-checks against the closed form.
    */
  def q90BucketedDml(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    // % (not pmod): shared modulus semantics with the DuckDB oracle
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", concat(lit("t"), col("user_id") % 3))
    val dir = graft.Caches.newTempDir("graft_bucket_q90").toString
    val t1 = s"$dir/facts"; val t2 = s"$dir/users"
    VersionedTable.setBucketing(s, t1, "user_id", 8)
    VersionedTable.setBucketing(s, t2, "user_id", 8)
    VersionedTable.commit(ev, t1)                                  // v0
    VersionedTable.commit(dim, t2)                                 // v0
    val dimV0 = VersionedTable.read(s, t2).inputFiles.toSet
    // REWRITE-path MERGE on the fact table: full-row upsert keyed on a
    // NON-bucket column — the rewritten survivors+batch re-arrange by
    // the bucket column anyway
    val patch = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + lit(100.0))
    VersionedTable.merge(patch, t1, "event_id")                    // v1
    // DV-path MERGE on the dim table: matched rows become a deletion
    // vector plus bucket-arranged image files
    val retier = dim.filter(col("user_id") % 5 === 0)
      .withColumn("tier", concat(lit("u"), col("user_id") % 3))
    VersionedTable.mergeWhen(retier, t2, "user_id",
      updateCols = Some(Seq("tier")), insert = false, dv = true)   // v1
    // the intended write paths, asserted on the history sidecars
    val op1 = VersionedTable.history(s, t1).filter(col("version") > 0)
      .select("op").collect().map(_.getString(0)).toSeq
    require(op1 == Seq("merge"), s"fact DML must be a rewrite merge: $op1")
    val op2 = VersionedTable.history(s, t2).filter(col("version") > 0)
      .select("op").collect().map(_.getString(0)).toSeq
    require(op2 == Seq("merge_dv"), s"dim DML must be merge-on-read: $op2")
    require(VersionedTable.hasDeletionVectors(s, t2),
      "the dim merge must have written a deletion vector")
    require(dimV0.subsetOf(VersionedTable.read(s, t2).inputFiles.toSet),
      "merge-on-read must never rewrite a base file")
    val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = GraftScan.read(s, t1)
        .join(GraftScan.read(s, t2), Seq("user_id"))
      j.count() // settle AQE so the rendered plan is the final one
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"the claim must survive DML on both sides:\n$plan")
      require("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must still run bucketed after DML:\n$plan")
      val out = j.groupBy("tier", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tier", "event_type")
      // materialize INSIDE the forced-plan scope; the returned frame
      // must not depend on the restored session conf
      val rows = out.collect().toSeq
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, out.schema)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
  }

  val q90BucketedDmlSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT user_id,
      |    CASE WHEN user_id % 5 = 0 THEN concat('u', user_id % 3)
      |         ELSE concat('t', user_id % 3) END AS tier
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN event_id % 7 = 0 THEN value + 100.0 ELSE value END
      |      AS value
      |  FROM events)
      |SELECT d.tier, f.event_type, count(*) AS n,
      |  round(sum(f.value), 2) AS sum_value
      |FROM f JOIN dim d USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** BUCKET point-lookup PRUNING under the hash gate: an equality
    * predicate on the bucket column of a claimed-bucketed snapshot must
    * scan exactly ONE of the n buckets — Spark's own bucket pruning
    * (`SelectedBucketsCount`), fed by the scan-side `BucketSpec` claim,
    * asserted in-query on the rendered plan. At 100 TB this is the
    * difference between a point lookup reading ~1/n of the table and
    * reading all of it; a non-claimable snapshot (e.g. after a plain
    * append) degrades to the full scan, never to a wrong prune
    * (spec-pinned in VersionedTableSpec).
    */
  def q91BucketPrune(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    val dir = graft.Caches.newTempDir("graft_bucket_q91").toString
    val t = s"$dir/facts"
    VersionedTable.setBucketing(s, t, "user_id", 8)
    VersionedTable.commit(ev, t)                                   // v0
    val q = GraftScan.read(s, t).filter(col("user_id") === 42L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    q.count() // settle AQE so the rendered plan is the final one
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"a point lookup on the bucket column must prune to 1 bucket:\n$plan")
    q.orderBy("user_id")
  }

  val q91BucketPruneSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events WHERE user_id = 42
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** HIVE-PARTITIONED + BUCKETED under the hash gate — the standard
    * 100 TB fact-table layout (date/type partitions for pruning, a
    * join-key bucket layout for exchange-free joins), composed: the
    * fact table commits partitioned by event_type AND bucket-arranged
    * by user_id (n bucket files per partition dir), survives a DML
    * rewrite, and then (1) joins the flat co-bucketed dim with ZERO
    * exchanges and (2) serves a partition predicate and the bucket
    * claim from the SAME scan — both asserted in-query on the rendered
    * plan. The rollup hash-checks against the closed form.
    */
  def q92BucketedPartitioned(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", concat(lit("t"), col("user_id") % 3))
    val dir = graft.Caches.newTempDir("graft_bucket_q92").toString
    val t1 = s"$dir/facts"; val t2 = s"$dir/users"
    VersionedTable.setBucketing(s, t1, "user_id", 8)
    VersionedTable.setBucketing(s, t2, "user_id", 8)
    VersionedTable.commit(ev, t1, Seq("event_type"))               // v0
    VersionedTable.commit(dim, t2)                                 // v0
    // a DML rewrite inside the partitioned layout keeps the claim
    VersionedTable.updateWhere(s, t1, Seq("value" -> "value + 50"),
      Some("event_id % 9 = 0"), partitionCols = Seq("event_type")) // v1
    require(VersionedTable.bucketClaimStatus(s, t1) == Some("claimed"),
      "the partitioned layout must hold the claim through DML")
    val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = GraftScan.read(s, t1)
        .filter(col("event_type") === "purchase")
        .join(GraftScan.read(s, t2), Seq("user_id"))
      j.count() // settle AQE so the rendered plan is the final one
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"partitioned+bucketed must join exchange-free:\n$plan")
      require("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must run bucketed:\n$plan")
      require("PartitionFilters: \\[[^\\]]*event_type".r
        .findFirstIn(plan).isDefined,
        s"the partition predicate must prune in the same scan:\n$plan")
      val out = j.groupBy("tier")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tier")
      // materialize INSIDE the forced-plan scope
      val rows = out.collect().toSeq
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, out.schema)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
  }

  val q92BucketedPartitionedSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT user_id, concat('t', user_id % 3) AS tier
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN event_id % 9 = 0 THEN value + 50.0 ELSE value END
      |      AS value
      |  FROM events)
      |SELECT d.tier, count(*) AS n, round(sum(f.value), 2) AS sum_value
      |FROM f JOIN dim d USING (user_id)
      |WHERE f.event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** BUCKETED-SORTED tables under the hash gate — the last leg of the
    * classic 100 TB layout: both sides declared `CLUSTERED BY (user_id)
    * SORTED BY (user_id) INTO 8 BUCKETS`, the arranged write lays the
    * within-file sort and PROVES it in the per-dir layout sidecar, and
    * the scans claim the `SortOrder` — so the sort-merge join plans
    * with ZERO Exchange AND ZERO Sort on either side (broadcast
    * disabled in-query so the layout is the only possible source of
    * the plan; `spark.sql.legacy.bucketedTableScan.outputOrdering`
    * enabled for the query — Spark claims a bucketed scan's ordering
    * only behind it, and only on one-file-per-bucket snapshots, which
    * a single arranged commit is). Shuffle AND sort are paid once at
    * ingest, never per query. The joined rollup hash-checks against
    * the closed form.
    */
  def q93BucketedSorted(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    // % (not pmod): shared modulus semantics with the DuckDB oracle
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", concat(lit("t"), col("user_id") % 3))
    val dir = graft.Caches.newTempDir("graft_bucket_q93").toString
    val t1 = s"$dir/facts"; val t2 = s"$dir/users"
    VersionedTable.setBucketing(s, t1, Seq("user_id"), 8, Seq("user_id"))
    VersionedTable.setBucketing(s, t2, Seq("user_id"), 8, Seq("user_id"))
    VersionedTable.commit(ev, t1)                                  // v0
    VersionedTable.commit(dim, t2)                                 // v0
    require(VersionedTable.sortClaimStatus(s, t1) == Some("claimed"),
      "the arranged commit must prove the declared sort")
    val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldOrd = s.conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val j = GraftScan.read(s, t1)
        .join(GraftScan.read(s, t2), Seq("user_id"))
      j.count() // settle AQE so the rendered plan is the final one
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"the co-sorted layout must plan a sort-merge join:\n$plan")
      require(!plan.contains("Exchange hashpartitioning"),
        s"a co-bucketed join must plan NO exchange:\n$plan")
      require(!plan.contains("Sort ["),
        s"a co-SORTED join must plan NO sort on either side:\n$plan")
      require("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must run bucketed:\n$plan")
      val out = j.groupBy("tier", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tier", "event_type")
      // materialize INSIDE the forced-plan scope; the returned frame
      // must not depend on the restored session confs
      val rows = out.collect().toSeq
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, out.schema)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        oldOrd)
    }
  }

  val q93BucketedSortedSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT user_id, concat('t', user_id % 3) AS tier
      |  FROM events)
      |SELECT d.tier, e.event_type, count(*) AS n,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN dim d USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MULTI-COLUMN bucketing under the hash gate — composite join keys
    * are the norm in fact-to-fact joins: both sides `CLUSTERED BY
    * (user_id, event_type) INTO 8 BUCKETS`, the join on BOTH columns
    * plans ZERO exchanges, and a point lookup binding the FULL
    * composite key prunes to the one bucket the tuple hashes to
    * (engine-side — Spark's own bucket pruning stops at single-column
    * specs), asserted on the file-index seam: 1 of 8 bucket files
    * listed. A predicate binding only PART of the key must NOT prune
    * (the hash needs the whole tuple — pruning would be wrong, not
    * weak): the subset-predicate leg is part of the oracle-checked
    * output, so a wrong prune fails the hash gate, and the no-prune
    * contract itself is spec-pinned in VersionedTableSpec.
    */
  def q94MultiColBucket(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    // max (not avg): exact per-group stat — an avg's last-ulp wobble
    // under Spark's partial-aggregation order would flap the hash gate
    val rate = ev.groupBy("user_id", "event_type")
      .agg(max("value").as("max_value"))
    val dir = graft.Caches.newTempDir("graft_bucket_q94").toString
    val t1 = s"$dir/facts"; val t2 = s"$dir/rates"
    VersionedTable.setBucketing(s, t1,
      Seq("user_id", "event_type"), 8, Nil)
    VersionedTable.setBucketing(s, t2,
      Seq("user_id", "event_type"), 8, Nil)
    VersionedTable.commit(ev, t1)                                  // v0
    VersionedTable.commit(rate, t2)                                // v0
    val oldBr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 1. composite-key join: zero exchange on either side
      val j = GraftScan.read(s, t1)
        .join(GraftScan.read(s, t2), Seq("user_id", "event_type"))
      j.count() // settle AQE so the rendered plan is the final one
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"a composite co-bucketed join must plan NO exchange:\n$plan")
      require("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must run bucketed:\n$plan")
      // 2. full-composite point lookup: exactly 1 of the 8 bucket
      // files listed (the engine-side prune; one arranged commit dir)
      val (pointDf, idx) = GraftScan.readWithIndex(s, t1)
      val point = pointDf
        .filter(col("user_id") === 42L && col("event_type") === "view")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      point.count()
      require(idx.lastListedCount == 1,
        s"a full composite equality must prune to the key's one " +
          s"bucket file — listed ${idx.lastListedCount} of " +
          s"${idx.totalFiles}")
      // 3. subset predicate (user_id only): must NOT bucket-prune —
      // its aggregate joins the oracle-checked output below, so a
      // wrong prune fails the hash gate
      val subset = GraftScan.read(s, t1).filter(col("user_id") === 42L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .withColumn("event_type", lit("__all__"))
        .select("user_id", "event_type", "n", "sum_value")
      val joined = j.filter(col("user_id") % 97 === 0)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value") - col("max_value")), 2).as("sum_value"))
      val out = joined.unionByName(point).unionByName(subset)
        .orderBy("user_id", "event_type")
      // materialize INSIDE the forced-plan scope
      val rows = out.collect().toSeq
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, out.schema)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBr)
  }

  val q94MultiColBucketSql: String =
    """WITH rate AS (
      |  SELECT user_id, event_type, max(value) AS max_value
      |  FROM events GROUP BY 1, 2),
      |joined AS (
      |  SELECT e.user_id, e.event_type, count(*) AS n,
      |    round(sum(e.value - r.max_value), 2) AS sum_value
      |  FROM events e JOIN rate r USING (user_id, event_type)
      |  WHERE e.user_id % 97 = 0 GROUP BY 1, 2),
      |pt AS (
      |  SELECT user_id, event_type, count(*) AS n,
      |    round(sum(value), 2) AS sum_value
      |  FROM events WHERE user_id = 42 AND event_type = 'view'
      |  GROUP BY 1, 2),
      |sub AS (
      |  SELECT user_id, '__all__' AS event_type, count(*) AS n,
      |    round(sum(value), 2) AS sum_value
      |  FROM events WHERE user_id = 42 GROUP BY 1)
      |SELECT * FROM joined UNION ALL SELECT * FROM pt
      |UNION ALL SELECT * FROM sub
      |ORDER BY user_id, event_type""".stripMargin

  /** RUNTIME (dynamic) partition pruning through the versioned-table
    * scan — the star-schema shape a 100 TB fact table lives on: the
    * fact is hive-partitioned on the join key, and the dim's filter is
    * on a NON-key column (`tier`), so no static rule can translate it
    * into a fact-side partition predicate (the tier↔event_type
    * correlation is data, not algebra). Only Spark's dynamic partition
    * pruning — fed the dim's surviving join keys from the broadcast
    * build side at RUNTIME — can confine the fact scan, and
    * [[graft.catalog.GraftFileIndex]] composes with it for free:
    * `FileSourceScanExec` evaluates the runtime filter over the
    * `PartitionDirectory` values the index returned, so the fact scan
    * reads exactly the hot partitions. Asserted on the scan's own
    * `numPartitions` metric (2 of the 5 event types survive the dim
    * filter) AND on the `dynamicpruning` marker in the rendered scan —
    * a silently-static plan (5 partitions read) fails in-query before
    * the oracle sees a row. The joined rollup hash-checks against the
    * closed form.
    */
  def q95RuntimeDpp(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    val dim = ev.select("event_type").distinct()
      .withColumn("tier",
        when(col("event_type").isin("purchase", "click"), "hot")
          .otherwise("cold"))
    val dir = graft.Caches.newTempDir("graft_dpp_q95").toString
    val facts = s"$dir/facts"; val types = s"$dir/types"
    VersionedTable.commit(ev, facts, Seq("event_type"))   // hive layout
    VersionedTable.commit(dim, types)
    val j = GraftScan.read(s, facts)
      .join(GraftScan.read(s, types).filter(col("tier") === "hot"),
        Seq("event_type"))
    // execute THIS QueryExecution instance (an action like j.count()
    // would build and run its own) so the scan's driver metrics
    // populate and AQE finalizes the inspected plan
    j.queryExecution.toRdd.foreach(_ => ())
    // dig the fact scan out of the adaptive plan (AQE stages are leaf
    // nodes to a naive collect)
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
    }.flatten
    val fact = scansOf(j.queryExecution.executedPlan)
      .filter(_.toString.contains("/facts"))
    require(fact.size == 1, s"expected one fact scan, got ${fact.size}")
    require(fact.head.toString.contains("dynamicpruning"),
      s"the dim filter must dynamic-partition-prune the fact scan:\n" +
        fact.head)
    val partsRead = fact.head.metrics("numPartitions").value
    require(partsRead == 2,
      s"DPP must confine the fact scan to the 2 hot partitions of 5 — " +
        s"read $partsRead")
    val out = j.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
    out
  }

  val q95RuntimeDppSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |    CASE WHEN event_type IN ('purchase', 'click') THEN 'hot'
      |         ELSE 'cold' END AS tier
      |  FROM events)
      |SELECT e.event_type, count(*) AS n,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN dim d USING (event_type)
      |WHERE d.tier = 'hot'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AUTOMATIC AGGREGATE REWRITE onto a materialized view
    * ([[graft.catalog.MvRewrite]]) under the hash gate — the classic
    * answer-query-from-summary optimization: a rollup over the FACT
    * table is served from the registered incremental MV whenever the
    * view provably reflects the scanned snapshot. Three legs asserted
    * in-query on the executed plans: (1) fresh view — the aggregate
    * (a GROUP-COLUMN-SUBSET rollup with a group-column filter and a
    * round-wrapped avg, i.e. full compensation: `sum(_mv_gcount)`,
    * `sum(_mv_sum)`, `min(_mv_min)`, `sum/sum` for avg) scans the
    * VIEW path and never touches a fact file; (2) after an un-refreshed
    * append the SAME query falls back to the fact table (the
    * freshness gate is snapshot-exact — a stale summary never serves);
    * (3) after `refresh` the rewrite returns, now reflecting the
    * appended rows. The returned (post-refresh) rollup hash-checks
    * against the closed form over base ∪ appended — a wrong
    * compensation or a stale serve fails the oracle, not just a
    * `require`.
    */
  def q96MvRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, MaterializedView, VersionedTable}
    import graft.catalog.MaterializedView.AggDef
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    val dir = graft.Caches.newTempDir("graft_mvrw_q96").toString
    val src = s"$dir/facts"; val view = s"$dir/mv"
    VersionedTable.commit(ev, src)                                 // v0
    MaterializedView.create(s, src, view,
      Seq("event_type", "user_id"),
      Seq(AggDef("count", "*", "n"), AggDef("sum", "value", "sv"),
        AggDef("min", "value", "mn")))
    MaterializedView.enableRewrite(s, view)
    def rollup(): DataFrame = GraftScan.read(s, src)
      .filter(col("event_type") =!= "error")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        // DISTINCT over a view GROUPING column — exactly served (the
        // view holds each live (event_type, user_id) tuple once)
        countDistinct("user_id").as("users"),
        round(sum("value"), 2).as("sum_value"),
        round(min("value"), 2).as("min_value"),
        round(avg("value"), 2).as("avg_value"))
      .orderBy("event_type")
    def planOf(df: DataFrame): String = {
      df.collect() // settle AQE so the rendered plan is the final one
      df.queryExecution.executedPlan.toString
    }
    // 1. fresh view: served FROM the view, fact files never scanned
    val p1 = planOf(rollup())
    require(p1.contains("/mv"),
      s"a fresh registered view must serve the rollup:\n$p1")
    require(!p1.contains("/facts"),
      s"the served rollup must not touch the fact table:\n$p1")
    // 2. stale: an un-refreshed append must fall back to the base
    VersionedTable.append(ev.filter(col("event_id") % 1000 === 0)
      .withColumn("event_id", col("event_id") + 10000000L), src)   // v1
    val p2 = planOf(rollup())
    require(p2.contains("/facts") && !p2.contains("/mv"),
      s"a STALE view must never substitute (snapshot-exact gate):\n$p2")
    // 3. refreshed: the rewrite returns, reflecting the append
    MaterializedView.refresh(s, view)
    val back = rollup()
    val p3 = planOf(back)
    require(p3.contains("/mv") && !p3.contains("/facts"),
      s"the refreshed view must serve again:\n$p3")
    back
  }

  val q96MvRewriteSql: String =
    """WITH src AS (
      |  SELECT event_type, user_id, value FROM events
      |  UNION ALL
      |  SELECT event_type, user_id, value FROM events
      |  WHERE event_id % 1000 = 0)
      |SELECT event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS users,
      |  round(sum(value), 2) AS sum_value,
      |  round(min(value), 2) AS min_value, round(avg(value), 2) AS avg_value
      |FROM src WHERE event_type <> 'error'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DERIVED PARTITION PRUNING on a generated partition column under
    * the hash gate — the date-from-timestamp layout completed: the
    * table is partitioned by `day GENERATED ALWAYS AS (CAST(ts AS
    * DATE))`, the query filters on RAW `ts` (as queries naturally do),
    * and [[graft.catalog.GraftFileIndex]] derives the partition bounds
    * the user never wrote (`day BETWEEN date(lo) AND date(hi)` — the
    * expression is monotone by shape), so a 30-day table reads ~4 days.
    * Asserted in-query on the file-index seam: files listed ≤ the four
    * covered days' files (per-file ts stats may prune further within
    * the boundary days) and strictly fewer than the table's total; the
    * exact stand-alone derivation mechanics (stats sidecars removed)
    * are spec-pinned in GeneratedColumnSpec. The per-day rollup
    * hash-checks against the closed form.
    */
  def q97GeneratedPrune(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    val ev = Tables.events(s, d)
      .select("event_id", "ts", "event_type", "value")
    val t = graft.Caches.newTempDir("graft_genprune_q97").toString + "/t"
    VersionedTable.setGeneratedColumn(s, t, "day", "CAST(ts AS DATE)")
    VersionedTable.commit(ev, t, partitionCols = Seq("day"))        // v0
    val (df, idx) = GraftScan.readWithIndex(s, t)
    val out = df.filter(
        col("ts") >= lit("2024-01-10 12:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 06:00:00").cast("timestamp"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day")
      // string day on both sides: the oracle harness stringifies a
      // DATE and a TIMESTAMP differently
      .select(col("day").cast("string").as("day"), col("n"),
        col("sum_value"))
    out.collect() // drives listFiles on THIS index
    val hot = Seq("day=2024-01-10", "day=2024-01-11",
      "day=2024-01-12", "day=2024-01-13")
    val keptFiles = df.inputFiles.count(f => hot.exists(f.contains))
    require(idx.lastListedCount > 0 &&
      idx.lastListedCount <= keptFiles && keptFiles < idx.totalFiles,
      s"the derived day bounds must confine the scan to the 4 covered " +
        s"days: listed ${idx.lastListedCount}, covered-day files " +
        s"$keptFiles, total ${idx.totalFiles}")
    out
  }

  val q97GeneratedPruneSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n,
      |  round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 12:00:00'
      |  AND ts < TIMESTAMP '2024-01-13 06:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Materialized-view maintenance ACROSS DELETION-VECTOR commits under
    * the hash gate: the refresh window contains ONLY merge-on-read
    * mutations (a DV delete that wrote zero data files and a DV update
    * whose base files were never rewritten — both asserted in-query on
    * the history sidecars and the v0 file set), and the view still
    * folds the position-exact change feed in DELTA mode (asserted via
    * the refresh-mode seam), never re-reading the source. q78's DV
    * machinery composed with q82's view.
    */
  def q87IncrViewDv(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{MaterializedView, VersionedTable}
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val dir = graft.Caches.newTempDir("graft_mv_q87").toString
    val src = s"$dir/src"; val view = s"$dir/view"
    docs.repartition(4).write.format("graft")
      .mode("errorifexists").save(src)                             // v0
    val v0Files = VersionedTable.read(s, src).inputFiles.toSet
    graft.sql.GraftSql.run(s,
      s"""CREATE MATERIALIZED VIEW graft.`$view` AS
         |SELECT source, count(*) AS n, sum(n_chars) AS chars
         |FROM graft.`$src` GROUP BY source""".stripMargin)
    VersionedTable.deleteWhere(s, src, Some("doc_id % 11 = 3"),
      dv = true)                                                   // v1
    VersionedTable.updateWhere(s, src, Seq("n_chars" -> "n_chars + 9"),
      Some("doc_id % 13 = 1"), dv = true)                          // v2
    // the window is PURELY merge-on-read: the delete wrote zero data
    // files, the update never rewrote a base file, vectors are live
    val hist = VersionedTable.history(s, src)
      .filter(col("version") > 0)
      .select("version", "op", "files").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    require(hist.map(_._2).toSet == Set("delete_dv", "update_dv"),
      s"the window must hold only DV commits, got $hist")
    require(hist.find(_._2 == "delete_dv").get._3 == 0L,
      "a DV delete must write zero data files")
    require(v0Files.subsetOf(VersionedTable.read(s, src).inputFiles.toSet),
      "merge-on-read must never rewrite a base file")
    require(VersionedTable.hasDeletionVectors(s, src))
    graft.sql.GraftSql.run(s, s"REFRESH MATERIALIZED VIEW graft.`$view`")
    require(MaterializedView.lastRefreshModeFor(view) == "delta",
      "a count/sum view folds DV windows in delta mode, never recompute")
    require(MaterializedView.refreshedVersion(s, view) ==
      VersionedTable.versions(s, src).max,
      "the watermark must reach the source head")
    MaterializedView.read(s, view)
      .select(col("source"), col("n"),
        col("chars").cast("bigint").as("chars"))
      .orderBy("source")
  }

  val q87IncrViewDvSql: String =
    """WITH post AS (
      |  SELECT source,
      |         CASE WHEN doc_id % 13 = 1 THEN n_chars + 9
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 11 <> 3
      |)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM post GROUP BY source ORDER BY source""".stripMargin

  /** WIDE-WINDOW change feed under the hash gate: a 100-commit append
    * ladder (one row per commit) replayed batch-side over the whole
    * window — every row must surface exactly once, stamped with ITS
    * commit version. The scale property is asserted in-query: the
    * feed's physical plan contains O(1) file scans, never one per
    * version ([[graft.catalog.VersionedTable.changeFeed]] walks ONE
    * incremental file-set diff and reads each involved file once per
    * schema epoch) — the r13 shape unioned 100 per-version sub-plans.
    * The oracle restates the ladder closed-form over `documents`.
    */
  /** The q69 fixture (a 100-commit single-row append ladder) is built
    * once per JVM and dataset dir: the measured operation is the
    * WIDE-WINDOW REPLAY over a long-lived table's history, not the
    * history's construction — a second rep re-building 100 commits
    * would time the fixture, not the feed.
    */
  private val cdfLadder =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def q69ChangeFeedWide(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = cdfLadder.getOrElseUpdate(d, {
      val path = graft.Caches.newTempDir("graft_cdf_q69").toString + "/t"
      VersionedTable.commit(docs.filter(col("doc_id") > 100), path)  // v0
      val ladder = docs.filter(col("doc_id").between(1, 100))
        .orderBy("doc_id").collect()
      val schema = docs.schema
      ladder.foreach { r =>                                       // v1..100
        VersionedTable.append(
          s.createDataFrame(java.util.List.of(r), schema), path)
      }
      path
    })
    val feed = VersionedTable.changeFeed(s, t, 1, 100)
    val scans = feed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    require(scans.size <= 2,
      s"a 100-commit window must plan O(1) scans, got ${scans.size}")
    feed.select("doc_id", "source", "n_chars", "_change_type",
      "_commit_version").orderBy("doc_id")
  }

  val q69ChangeFeedWideSql: String =
    """SELECT doc_id, source, n_chars, 'insert' AS _change_type,
      |  CAST(doc_id AS INT) AS _commit_version
      |FROM documents WHERE doc_id BETWEEN 1 AND 100
      |ORDER BY doc_id""".stripMargin

  /** SQL DML under the hash gate: a conditional three-clause
    * `MERGE INTO`, a predicate `DELETE FROM`, an expression `UPDATE`,
    * and an `INSERT INTO VALUES` — every mutation driven purely
    * through SQL statements ([[graft.sql.GraftSql]]; Spark's own DML
    * grammar claimed onto the commit verbs by
    * [[graft.sql.GraftDml]]), mirroring the reference's SQL-string
    * surface (/root/reference/scripts/wiki/__init__.py:149-216). SQL
    * time travel (`VERSION AS OF 0`) is asserted in-query to still see
    * the pre-DML base. The
    * read-back aggregate is hash-checked against the closed-form
    * restatement.
    */
  def q70SqlDml(s: SparkSession, d: String): DataFrame = {
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_sql_q70").toString + "/t"
    docs.write.format("graft").mode("errorifexists").save(t)        // v0
    docs.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", lit(400L))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("n_chars", lit(400L)))
      .createOrReplaceTempView("q70_patch")
    GraftSql.run(s,
      s"""MERGE INTO graft.`$t` AS t USING q70_patch AS s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED AND t.n_chars < 150 THEN DELETE
         |WHEN MATCHED AND s.n_chars > t.n_chars
         |  THEN UPDATE SET n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)            // v1
    GraftSql.run(s, s"DELETE FROM graft.`$t` WHERE doc_id % 13 = 0") // v2
    GraftSql.run(s,
      s"UPDATE graft.`$t` SET n_chars = n_chars + 5 " +
        "WHERE source = 'src0'")                                    // v3
    GraftSql.run(s,
      s"INSERT INTO graft.`$t` VALUES (9000001, 'synthetic', 7)")   // v4
    // SQL time travel sees through the whole DML ladder: v0 is still
    // the untouched base corpus, by statement alone
    require(GraftSql.run(s,
      s"SELECT count(*) AS n FROM graft.`$t` VERSION AS OF 0")
      .head().getLong(0) == docs.count(),
      "VERSION AS OF 0 must read the pre-DML snapshot")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q70SqlDmlSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0 AND n_chars < 400 THEN 400
      |         ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE NOT (doc_id % 7 = 0 AND n_chars < 150)
      |  UNION ALL
      |  SELECT doc_id + 2000000, source, 400 FROM documents
      |  WHERE doc_id % 50 = 0),
      |afterdel AS (SELECT * FROM merged WHERE doc_id % 13 <> 0),
      |afterupd AS (SELECT doc_id, source,
      |  CASE WHEN source = 'src0' THEN n_chars + 5 ELSE n_chars END
      |    AS n_chars FROM afterdel),
      |final AS (SELECT * FROM afterupd
      |  UNION ALL SELECT 9000001, 'synthetic', 7)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM final GROUP BY source ORDER BY source""".stripMargin

  /** The FULL MERGE clause surface in ONE sync-style statement under
    * the hash gate: two ordered `WHEN MATCHED` clauses (conditional
    * UPDATE first, conditional DELETE second — first-match-wins), a
    * conditional column-list `WHEN NOT MATCHED ... INSERT (cols)
    * VALUES (...)`, and both `WHEN NOT MATCHED BY SOURCE` forms
    * (conditional UPDATE, then DELETE) — the sync-a-snapshot idiom:
    * after the statement the table mirrors the source snapshot plus
    * the by-source-guarded survivors. Executed purely as SQL
    * ([[graft.sql.GraftDml]] → [[graft.catalog.VersionedTable
    * .mergeClauses]]'s file-pruned two-phase rewrite) and hash-checked
    * against the closed-form DuckDB restatement.
    */
  def q71SyncMerge(s: SparkSession, d: String): DataFrame = {
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_sql_q71").toString + "/t"
    docs.write.format("graft").mode("errorifexists").save(t)        // v0
    docs.filter(col("doc_id") % 3 === 0)
      .withColumn("n_chars", lit(150L))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("n_chars", col("n_chars") * 2))
      .createOrReplaceTempView("q71_snap")
    GraftSql.run(s,
      s"""MERGE INTO graft.`$t` AS t USING q71_snap AS s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.n_chars > t.n_chars
         |  THEN UPDATE SET n_chars = s.n_chars
         |WHEN MATCHED AND t.source = 'src1' THEN DELETE
         |WHEN NOT MATCHED AND s.n_chars > 500
         |  THEN INSERT (doc_id, n_chars) VALUES (s.doc_id, s.n_chars)
         |WHEN NOT MATCHED BY SOURCE AND t.source = 'src2'
         |  THEN UPDATE SET n_chars = -1
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)      // v1
    GraftSql.run(s,
      s"""SELECT coalesce(source, 'inserted') AS source,
         |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY 1 ORDER BY source""".stripMargin)
  }

  val q71SyncMergeSql: String =
    """WITH final AS (
      |  -- matched (doc_id % 3 = 0): UPDATE wins when 150 > n_chars,
      |  -- else the src1 DELETE, else carried unchanged
      |  SELECT doc_id, source,
      |    CASE WHEN n_chars < 150 THEN 150 ELSE n_chars END AS n_chars
      |  FROM documents
      |  WHERE doc_id % 3 = 0 AND NOT (n_chars >= 150 AND source = 'src1')
      |  UNION ALL
      |  -- not matched by source: src2 flagged, everything else deleted
      |  SELECT doc_id, source, -1 FROM documents
      |  WHERE doc_id % 3 <> 0 AND source = 'src2'
      |  UNION ALL
      |  -- conditional column-list insert: source column unlisted → null
      |  SELECT doc_id + 3000000, NULL, n_chars * 2 FROM documents
      |  WHERE doc_id % 10 = 7 AND n_chars * 2 > 500)
      |SELECT coalesce(source, 'inserted') AS source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM final GROUP BY 1 ORDER BY source""".stripMargin

  /** MULTI-LEVEL hive partitioning under the hash gate: a two-level
    * (`lang`, `bucket`) table created by `CREATE TABLE ... PARTITIONED
    * BY (lang, bucket) AS SELECT`, mutated by SQL `UPDATE`/`DELETE`
    * (the rewrite must PRESERVE both layout levels —
    * [[graft.catalog.VersionedTable.layoutPartitionCols]]), and read
    * back with a two-predicate filter whose scan is asserted in-query
    * to list EXACTLY the one leaf dir's files — the layout shape of a
    * 100 TB corpus (date × lang), where pruning on both levels is the
    * difference between scanning a leaf and scanning a month.
    */
  def q72MultiPartition(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.{GraftScan, VersionedTable}
    import graft.sql.GraftSql
    val t = graft.Caches.newTempDir("graft_multipart_q72").toString + "/t"
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 4).as("bucket"),
        col("n_chars"))
      .createOrReplaceTempView("q72_docs")
    s.sql("DROP TABLE IF EXISTS q72_t")
    GraftSql.run(s,
      s"""CREATE TABLE q72_t USING graft OPTIONS (path '$t')
         |PARTITIONED BY (lang, bucket)
         |AS SELECT * FROM q72_docs""".stripMargin)                  // v0
    require(VersionedTable.layoutPartitionCols(s, t) ==
      Seq("lang", "bucket"),
      "CTAS must land the declared two-level layout")
    GraftSql.run(s,
      s"UPDATE graft.`$t` SET n_chars = n_chars + 1000 " +
        "WHERE bucket = 2")                                          // v1
    GraftSql.run(s, s"DELETE FROM graft.`$t` WHERE doc_id % 10 = 9") // v2
    val files = VersionedTable.read(s, t).inputFiles
    require(files.nonEmpty && files.forall(f =>
      f.matches(".*/lang=[^/]+/bucket=[^/]+/[^/]+$")),
      "DML rewrites must preserve BOTH layout levels")
    // two-predicate scan: exactly the one leaf dir's files listed
    val (df, idx) = GraftScan.readWithIndex(s, t)
    val lang0 = df.select("lang").orderBy("lang").head().getString(0)
    val out = df.filter(col("lang") === lang0 && col("bucket") === 2)
      .agg(count(lit(1)).as("n"),
        sum("n_chars").cast("long").as("chars"))
      .withColumn("lang", lit(lang0))
      .select("lang", "n", "chars")
    val n = out.head() // forces the scan; lastListedCount is now set
    val leaf = idx.inputFiles.count(f =>
      f.contains(s"/lang=$lang0/") && f.contains("/bucket=2/"))
    require(idx.lastListedCount == leaf && leaf < idx.totalFiles,
      s"two-level pruning must list exactly the leaf: listed " +
        s"${idx.lastListedCount}, leaf $leaf of ${idx.totalFiles}")
    s.sql("DROP TABLE IF EXISTS q72_t")
    s.createDataFrame(java.util.List.of(n), out.schema)
  }

  val q72MultiPartitionSql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) + 1000 * count(*)
      |  AS BIGINT) AS chars
      |FROM documents
      |WHERE doc_id % 4 = 2 AND doc_id % 10 <> 9
      |  AND lang = (SELECT min(lang) FROM documents)
      |GROUP BY lang""".stripMargin

  /** Predicate-scoped overwrite (replaceWhere) under the hash gate —
    * the idempotent-backfill idiom: (1) `INSERT OVERWRITE ...
    * PARTITION (source='src3')` recomputes ONE partition from the
    * table's own pre-statement snapshot (snapshot isolation lets the
    * replace read what it replaces) while every other partition is
    * asserted in-query to carry forward BY FILE REFERENCE; (2) a
    * data-predicate `replaceWhere` through the writer option caps
    * over-long documents in ONE atomic swap (matching rows vanish,
    * non-matching rows of touched files survive the rewrite). Both
    * against the closed-form DuckDB restatement.
    */
  def q73ReplaceWhere(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_replw_q73").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))                   // v0
    val preOther = VersionedTable.read(s, t).inputFiles
      .filterNot(_.contains("/source=src3/")).toSet
    // backfill one partition from its own snapshot (halved n_chars)
    GraftSql.run(s,
      s"""INSERT OVERWRITE graft.`$t` PARTITION (source='src3')
         |SELECT doc_id, CAST(n_chars div 2 AS BIGINT)
         |FROM graft.`$t` WHERE source = 'src3'""".stripMargin)      // v1
    require(preOther.subsetOf(VersionedTable.read(s, t).inputFiles.toSet),
      "the scoped replace must carry every other partition by reference")
    // data-predicate replaceWhere: cap over-long docs atomically
    VersionedTable.read(s, t)
      .filter(col("n_chars") >= 400)
      .withColumn("n_chars", lit(400L))
      .select("doc_id", "source", "n_chars")
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "n_chars >= 400").save(t)             // v2
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$t` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q73ReplaceWhereSql: String =
    """WITH after1 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN source = 'src3' THEN n_chars // 2
      |         ELSE n_chars END AS n_chars
      |  FROM documents),
      |after2 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN n_chars >= 400 THEN 400 ELSE n_chars END AS n_chars
      |  FROM after1)
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM after2 GROUP BY source ORDER BY source""".stripMargin

  /** Zero-copy lake adoption under the hash gate: a plain hive-
    * partitioned parquet tree written by stock Spark is adopted as a
    * versioned table in place (`CONVERT TO GRAFT` — files RENAMED into
    * the manifest layout, zero parquet bytes copied, stats harvested),
    * then immediately driven with the full lakehouse surface: SQL
    * DELETE, time travel back to the adoption snapshot (asserted
    * in-query), and a partition-pruned aggregate. The 100 TB migration
    * story: adopting an existing corpus costs metadata ops, not a
    * rewrite.
    */
  def q74Convert(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val root = graft.Caches.newTempDir("graft_convert_q74").toString +
      "/lake"
    docs.write.partitionBy("source").parquet(root)   // a plain Spark lake
    GraftSql.run(s, s"CONVERT TO GRAFT parquet.`$root`")            // v0
    require(VersionedTable.layoutPartitionCols(s, root) == Seq("source"),
      "adoption must surface the tree's own hive layout")
    GraftSql.run(s, s"DELETE FROM graft.`$root` WHERE doc_id % 5 = 0") // v1
    require(GraftSql.run(s,
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 0")
      .head().getLong(0) == docs.count(),
      "the adoption snapshot must time-travel")
    GraftSql.run(s,
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM graft.`$root` GROUP BY source ORDER BY source""".stripMargin)
  }

  val q74ConvertSql: String =
    """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id % 5 <> 0
      |GROUP BY source ORDER BY source""".stripMargin

  /** Operational metadata verbs under the hash gate: `SHOW PARTITIONS`
    * lists the head snapshot's partition tuples straight from manifest
    * metadata (zero data bytes read — asserted by construction, there
    * is no scan in the plan), and `DESCRIBE DETAIL`'s file/partition
    * counts are cross-checked in-query against the snapshot's own
    * numbers. The oracle restates the partition list closed-form.
    */
  def q75ShowPartitions(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import graft.sql.GraftSql
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_showpart_q75").toString + "/t"
    VersionedTable.commit(docs, t, Seq("source"))
    val detail = GraftSql.run(s, s"DESCRIBE DETAIL graft.`$t`").head()
    require(detail.getLong(2) ==
      VersionedTable.read(s, t).inputFiles.length.toLong &&
      detail.getString(4) == "source",
      "DESCRIBE DETAIL must mirror the snapshot's files and layout")
    val parts = GraftSql.run(s, s"SHOW PARTITIONS graft.`$t`")
    require(parts.count() == detail.getLong(5),
      "DESCRIBE DETAIL num_partitions must match SHOW PARTITIONS")
    parts.orderBy("partition")
  }

  val q75ShowPartitionsSql: String =
    """SELECT DISTINCT 'source=' || source AS partition
      |FROM documents ORDER BY partition""".stripMargin

  val q59AppendEvolveSql: String =
    """SELECT doc_id, source, n_chars,
      |  CASE WHEN doc_id <= 100 THEN 'late' END AS tier
      |FROM documents
      |UNION ALL
      |SELECT 9000000, 'synthetic', 1, NULL
      |ORDER BY doc_id""".stripMargin

  /** RESTORE under the hash gate: delete a slice of a versioned table,
    * then roll the head back to v0 with [[graft.catalog.VersionedTable
    * .restore]] — the read must hash-match the untouched source table,
    * and the history must name the restore (asserted in-query).
    */
  def q56Restore(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_restore").toString + "/t"
    VersionedTable.commit(docs.repartition(4), t)
    VersionedTable.deleteRows(
      Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
        .select("doc_id"), t, "doc_id")
    VersionedTable.restore(s, t, 0)
    val ops = VersionedTable.history(s, t).select("op").collect()
      .map(_.getString(0))
    require(ops.last == "restore" && ops.length == 3,
      s"expected commit/delete_rows/restore history, got ${ops.toSeq}")
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  val q56RestoreSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Batch point-lookup under the hash gate: k keys through
    * [[graft.catalog.VersionedTable.readEqualsAny]] over a hash-laid
    * bloom-written table — one footer pass per surviving file for the
    * whole key set, file pruning asserted in-query.
    */
  def q58MultiLookup(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_multi").toString + "/t"
    VersionedTable.commit(docs.repartition(8), t,
      writerOptions = VersionedTable.bloomOptions(Seq("doc_id"), 1000L))
    val keys = Seq(3L, 97L, 250L, 404L)
    val q = VersionedTable.readEqualsAny(s, t, "doc_id", keys)
    require(q.inputFiles.length < 8,
      s"multi-key bloom lookup failed to prune: ${q.inputFiles.length} of 8")
    q.orderBy("doc_id")
  }

  val q58MultiLookupSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id IN (3, 97, 250, 404) ORDER BY doc_id""".stripMargin

  /** CHECK constraints under the hash gate: a violating append must
    * abort pre-claim leaving the table untouched (asserted in-query),
    * and the expectations path must quarantine exactly the violating
    * rows — the surviving table hash-matches the closed-form
    * restatement.
    */
  def q57Constraints(s: SparkSession, d: String): DataFrame = {
    import graft.catalog.VersionedTable
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
    val t = graft.Caches.newTempDir("graft_vtable_check").toString + "/t"
    VersionedTable.commit(docs.repartition(4), t)
    VersionedTable.setConstraint(s, t, "n_chars_nonneg", "n_chars >= 0")
    val vBefore = VersionedTable.versions(s, t)
    val thrown =
      try { VersionedTable.append(Seq((-9L, "bad", -5L))
        .toDF("doc_id", "source", "n_chars"), t); false }
      catch { case _: VersionedTable.ConstraintViolationException => true }
    require(thrown && VersionedTable.versions(s, t) == vBefore,
      "violating append must abort without committing a version")
    val mixed = Seq((-1L, "q", -5L), (-2L, "q", 7L))
      .toDF("doc_id", "source", "n_chars")
    val (clean, quarantined) = VersionedTable.splitByConstraints(s, t, mixed)
    require(quarantined.count() == 1, "exactly one row quarantines")
    VersionedTable.append(clean, t)
    VersionedTable.read(s, t).orderBy("doc_id")
  }

  val q57ConstraintsSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |UNION ALL SELECT -2 AS doc_id, 'q' AS source, 7 AS n_chars
      |ORDER BY doc_id""".stripMargin

  /** Bucketed point-in-interval range join ([[RangeJoin]]), KEYLESS and
    * big on both sides — the shape q19's broadcast-BNLJ answer cannot
    * survive (no small side to broadcast, and a nested loop is
    * |P|×|I|): every non-purchase event joined to every 2-hour purchase
    * window covering it, rolled up per event. The plan is asserted
    * in-query to be a shuffled equi-join — any nested-loop/cartesian
    * fallback fails the row, not just a benchmark.
    */
  def q53RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_s", col("ts").cast("long"))
    val points = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("ts_s"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("w_id"), col("ts_s").as("w_start"),
        (col("ts_s") + 7200L).as("w_end"))
    val joined = RangeJoin.pointInInterval(points, windows,
      "ts_s", "w_start", "w_end", bucketWidth = 7200L)
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "range join fell back to a nested loop")
    joined.groupBy("event_id")
      .agg(count(col("w_id")).as("n_windows"), min("w_id").as("first_window"))
      .orderBy("event_id")
  }

  val q53RangeJoinSql: String =
    """WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      |           FROM events WHERE event_type <> 'purchase'),
      |w AS (SELECT event_id AS w_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS w_start,
      |        CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS w_end
      |      FROM events WHERE event_type = 'purchase')
      |SELECT e.event_id, count(w.w_id) AS n_windows,
      |  min(w.w_id) AS first_window
      |FROM e JOIN w ON e.ts_s BETWEEN w.w_start AND w.w_end
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  /** Bucketed interval-overlap join ([[RangeJoin.intervalOverlap]]):
    * 30-minute click windows × 30-minute error windows that intersect,
    * counted per click window — each qualifying pair emitted exactly
    * once by the first-shared-bucket rule, no distinct pass.
    */
  def q54IntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("ts_s", col("ts").cast("long"))
    def win(t: String, idc: String, lo: String, hi: String) =
      ev.filter(col("event_type") === t)
        .select(col("event_id").as(idc), col("ts_s").as(lo),
          (col("ts_s") + 1800L).as(hi))
    RangeJoin.intervalOverlap(
      win("click", "c_id", "c_lo", "c_hi"),
      win("error", "e_id", "e_lo", "e_hi"),
      "c_lo", "c_hi", "e_lo", "e_hi", bucketWidth = 1800L)
      .groupBy("c_id")
      .agg(count(col("e_id")).as("n_overlaps"), min("e_id").as("first_error"))
      .orderBy("c_id")
  }

  val q54IntervalOverlapSql: String =
    """WITH c AS (SELECT event_id AS c_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS c_lo,
      |        CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS c_hi
      |      FROM events WHERE event_type = 'click'),
      |e AS (SELECT event_id AS e_id,
      |        CAST(floor(epoch(ts)) AS BIGINT) AS e_lo,
      |        CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e_hi
      |      FROM events WHERE event_type = 'error')
      |SELECT c.c_id, count(e.e_id) AS n_overlaps, min(e.e_id) AS first_error
      |FROM c JOIN e ON c.c_lo <= e.e_hi AND e.e_lo <= c.c_hi
      |GROUP BY c.c_id ORDER BY c.c_id""".stripMargin

  val q47CdcDeleteSql: String =
    """WITH m AS (SELECT min(source) AS ms, max(source) AS xs FROM documents)
      |SELECT doc_id, source, n_chars * 2 AS n_chars,
      |  'insert' AS _change_type
      |FROM documents WHERE source = (SELECT ms FROM m)
      |UNION ALL
      |SELECT doc_id, source, n_chars, 'delete' AS _change_type
      |FROM documents
      |WHERE source = (SELECT ms FROM m) OR source = (SELECT xs FROM m)
      |ORDER BY doc_id, _change_type""".stripMargin

  /** Typo-tolerant lookup under the hash gate: queries are part names
    * with the first character deleted (planted distance-1 typos), the
    * dict is the distinct part names; [[FuzzyLookup.lookup]] must return
    * exactly the pairs DuckDB's unconstrained
    * `levenshtein(q, name) <= 1` cross join returns — proving the
    * deletion-neighborhood candidate join loses nothing while never
    * running the cross join itself.
    */
  def q45FuzzyLookup(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d)
    val dict = part.select("p_name")
    val queries = part.filter(col("p_partkey") % 50 === 0)
      .select(col("p_name").substr(lit(2), length(col("p_name"))).as("q"))
    FuzzyLookup.lookup(queries, "q", dict, "p_name", maxDist = 1)
      .select(col("q"), col("p_name").as("hit"), col("dist"))
      .orderBy("q", "hit")
  }

  val q45FuzzyLookupSql: String =
    """WITH dict AS (SELECT DISTINCT p_name FROM part),
      |q AS (SELECT DISTINCT substring(p_name, 2) AS q FROM part
      |      WHERE p_partkey % 50 = 0)
      |SELECT q, p_name AS hit, CAST(levenshtein(q, p_name) AS INT) AS dist
      |FROM q JOIN dict ON levenshtein(q, p_name) <= 1
      |ORDER BY q, hit""".stripMargin

  /** CUBE over two dimensions with grouping_id — all four grouping sets
    * in one pass (q16 covers ROLLUP's prefix sets). Null grouping keys
    * from the subtotal rows are coalesced to sentinels per the oracle
    * parity rules.
    */
  def q34Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  val q34CubeSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** Nested-type surface: per-order quantity arrays built, sorted,
    * reduced, and sliced with array functions (collect_list / sort_array /
    * aggregate / slice), stringified for the compare harness (never ship
    * an array-typed oracle column).
    */
  def q27ArrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 1000)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qtys"))
      .select(col("l_orderkey"),
        size(col("qtys")).as("n_items"),
        aggregate(col("qtys"), lit(0L), (acc, x) => acc + x).as("total_qty"),
        array_join(transform(col("qtys"), _.cast("string")), ",").as("qty_list"),
        array_join(transform(slice(col("qtys"), 1, 3), _.cast("string")), ",")
          .as("smallest3"))
      .orderBy("l_orderkey")

  val q27ArrayFuncsSql: String =
    """WITH oa AS (
      |  SELECT l_orderkey,
      |    list_sort(array_agg(CAST(l_quantity AS BIGINT))) AS qtys
      |  FROM lineitem WHERE l_orderkey <= 1000 GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  len(qtys) AS n_items,
      |  CAST(list_sum(qtys) AS BIGINT) AS total_qty,
      |  array_to_string(qtys, ',') AS qty_list,
      |  array_to_string(list_slice(qtys, 1, 3), ',') AS smallest3
      |FROM oa ORDER BY l_orderkey""".stripMargin

  /** Statistical aggregates (corr / sample stddev / sample covariance) —
    * identical textbook definitions in both engines; rounded to absorb
    * summation-order ULPs.
    */
  def q28StatsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_linestatus")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy("l_linestatus")

  val q28StatsAggSql: String =
    """SELECT l_linestatus,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc,
      |  round(avg(l_extendedprice), 2) AS avg_price
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Window-function breadth beyond ranking (q20): lead/lag offsets,
    * ntile bucketing, and running cumulative distribution per partition —
    * the remaining §2.12 window family, on a deterministic
    * (o_custkey, o_orderkey) order.
    */
  def q29WindowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    Tables.orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price_raw"),
        lead(col("o_totalprice"), 1).over(w).as("next_price_raw"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cd"))
      .select(col("o_custkey"), col("o_orderkey"),
        round(coalesce(col("prev_price_raw"), lit(0.0)), 2).as("prev_price"),
        round(coalesce(col("next_price_raw"), lit(0.0)), 2).as("next_price"),
        col("quartile"), col("cd"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q29WindowFuncsSql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price,
      |  round(coalesce(lead(o_totalprice, 1) OVER w, 0.0), 2) AS next_price,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Correlated EXISTS / NOT EXISTS subqueries (decorrelated by Catalyst
    * into semi/anti joins — asserted in the plan by the semi-join family
    * q5/q6; here the SQL-surface form itself is exercised end-to-end).
    */
  def q30Exists(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("t_customer")
    Tables.orders(s, d).createOrReplaceTempView("t_orders")
    s.sql(
      """SELECT c_custkey, c_name FROM t_customer c
        |WHERE EXISTS (SELECT 1 FROM t_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM t_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F'
        |                    AND o.o_totalprice < 1000)
        |ORDER BY c_custkey LIMIT 100""".stripMargin)
  }

  val q30ExistsSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 100000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice < 1000)
      |ORDER BY c_custkey LIMIT 100""".stripMargin

  /** Pivot: event counts per day re-shaped to one column per event type
    * (`groupBy().pivot()` — Spark widens to a fixed column set; the
    * oracle states the same reshape as portable conditional aggregates).
    */
  def q24Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val q24PivotSql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Exact percentiles (median / p90 of order totals per priority) —
    * Spark `percentile` and DuckDB `quantile_cont` share the linear-
    * interpolation definition. NOTE exact percentile buffers each group's
    * values; it is the right tool when groups fit an executor (as here:
    * 5 priorities of orders). For high-cardinality/100 TB groups use
    * `approx_percentile` (t-digest sketch, mergeable map-side) — the
    * agreement of the two is asserted in a spec, and the oracle pins the
    * exact form.
    */
  def q25Percentile(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  val q25PercentileSql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  def queries: Map[String, Q] = Map(
    "q23_asof_join" -> (q23AsofJoin _),
    "q24_pivot" -> (q24Pivot _),
    "q25_percentile" -> (q25Percentile _),
    "q26_asof_forward" -> (q26AsofForward _),
    "q27_array_funcs" -> (q27ArrayFuncs _),
    "q28_stats_agg" -> (q28StatsAgg _),
    "q29_window_funcs" -> (q29WindowFuncs _),
    "q30_exists" -> (q30Exists _),
    "q31_asof_nearest" -> (q31AsofNearest _),
    "q32_bloom_anti" -> (q32BloomAnti _),
    "q33_hll_distinct" -> (q33HllDistinct _),
    "q34_cube" -> (q34Cube _),
    "q35_cms_topk" -> (q35CmsTopk _),
    "q36_resample" -> (q36Resample _),
    "q37_hll_distinct" -> (q37HllDistinct _),
    "q38_quantile_sketch" -> (q38QuantileSketch _),
    "q39_decimal" -> (q39Decimal _),
    "q40_scalar_subquery" -> (q40ScalarSubquery _),
    "q41_zorder_scan" -> (q41ZorderScan _),
    "q42_map_funcs" -> (q42MapFuncs _),
    "q43_time_travel" -> (q43TimeTravel _),
    "q44_sketch_cube" -> (q44SketchCube _),
    "q45_fuzzy_lookup" -> (q45FuzzyLookup _),
    "q46_table_changes" -> (q46TableChanges _),
    "q47_cdc_delete" -> (q47CdcDelete _),
    "q48_merge_rows" -> (q48MergeRows _),
    "q51_merge_when" -> (q51MergeWhen _),
    "q52_point_lookup" -> (q52PointLookup _),
    "q53_range_join" -> (q53RangeJoin _),
    "q54_interval_overlap" -> (q54IntervalOverlap _),
    "q55_schema_evolution" -> (q55SchemaEvolution _),
    "q56_restore" -> (q56Restore _),
    "q57_constraints" -> (q57Constraints _),
    "q58_multi_lookup" -> (q58MultiLookup _),
    "q59_append_evolve" -> (q59AppendEvolve _),
    "q60_rename_column" -> (q60RenameColumn _),
    "q61_drop_column" -> (q61DropColumn _),
    "q62_optimize_partitions" -> (q62OptimizePartitions _),
    "q63_indexed_scan" -> (q63IndexedScan _),
    "q64_partition_prune" -> (q64PartitionPrune _),
    "q65_graft_format" -> (q65GraftFormat _),
    "q66_sql_verbs" -> (q66SqlVerbs _),
    "q67_sql_maintenance" -> (q67SqlMaintenance _),
    "q68_change_feed" -> (q68ChangeFeed _),
    "q69_change_feed_wide" -> (q69ChangeFeedWide _),
    "q70_sql_dml" -> (q70SqlDml _),
    "q71_sync_merge" -> (q71SyncMerge _),
    "q72_multi_partition" -> (q72MultiPartition _),
    "q73_replace_where" -> (q73ReplaceWhere _),
    "q74_convert" -> (q74Convert _),
    "q75_show_partitions" -> (q75ShowPartitions _),
    "q76_changes_tvf" -> (q76ChangesTvf _),
    "q77_changes_ts" -> (q77ChangesTs _),
    "q78_dv_delete" -> (q78DvDelete _),
    "q79_dv_update" -> (q79DvUpdate _),
    "q80_dv_merge" -> (q80DvMerge _),
    "q81_dv_replace" -> (q81DvReplace _),
    "q82_incr_view" -> (q82IncrView _),
    "q83_incr_view_minmax" -> (q83IncrViewMinmax _),
    "q86_incr_view_distinct" -> (q86IncrViewDistinct _),
    "q87_incr_view_dv" -> (q87IncrViewDv _),
    "q88_incr_view_var" -> (q88IncrViewVariance _),
    "q89_bucketed_join" -> (q89BucketedJoin _),
    "q90_bucketed_dml" -> (q90BucketedDml _),
    "q91_bucket_prune" -> (q91BucketPrune _),
    "q92_bucketed_partitioned" -> (q92BucketedPartitioned _),
    "q93_bucketed_sorted" -> (q93BucketedSorted _),
    "q94_multicol_bucket" -> (q94MultiColBucket _),
    "q95_runtime_dpp" -> (q95RuntimeDpp _),
    "q96_mv_rewrite" -> (q96MvRewrite _),
    "q97_generated_prune" -> (q97GeneratedPrune _),
    "q84_identity" -> (q84Identity _),
    "q85_generated" -> (q85Generated _),
    "q49_delete_rows" -> (q49DeleteRows _),
    "q50_stats_skip" -> (q50StatsSkip _),
    "q1_agg" -> (q1Agg _),
    "q2_join_broadcast" -> (q2JoinBroadcast _),
    "q3_left_join_agg" -> (q3LeftJoinAgg _),
    "q4_window_share" -> (q4WindowShare _),
    "q5_anti_join" -> (q5AntiJoin _),
    "q6_semi_join" -> (q6SemiJoin _),
    "q7_union_agg" -> (q7UnionAgg _),
    "q8_explode_wordcount" -> (q8ExplodeWordcount _),
    "q9_distinct" -> (q9Distinct _),
    "q10_topk" -> (q10TopK _),
    "q11_string_funcs" -> (q11StringFuncs _),
    "q12_json" -> (q12Json _),
    "q13_date_trunc" -> (q13DateTrunc _),
    "q14_case_agg" -> (q14CaseAgg _),
    "q15_having" -> (q15Having _),
    "q16_rollup" -> (q16Rollup _),
    "q17_intersect" -> (q17Intersect _),
    "q18_except" -> (q18Except _),
    "q19_range_join" -> (q19RangeJoin _),
    "q20_rank_window" -> (q20RankWindow _),
    "q21_in_list" -> (q21InList _),
    "q22_fallback" -> (q22Fallback _))

  def oracles: Map[String, String] = Map(
    "q24_pivot" -> q24PivotSql,
    "q25_percentile" -> q25PercentileSql,
    "q26_asof_forward" -> q26AsofForwardSql,
    "q27_array_funcs" -> q27ArrayFuncsSql,
    "q28_stats_agg" -> q28StatsAggSql,
    "q29_window_funcs" -> q29WindowFuncsSql,
    "q30_exists" -> q30ExistsSql,
    "q31_asof_nearest" -> q31AsofNearestSql,
    "q32_bloom_anti" -> q32BloomAntiSql,
    "q33_hll_distinct" -> q33HllDistinctSql,
    "q34_cube" -> q34CubeSql,
    "q35_cms_topk" -> q35CmsTopkSql,
    "q36_resample" -> q36ResampleSql,
    "q37_hll_distinct" -> q37HllDistinctSql,
    "q38_quantile_sketch" -> q38QuantileSketchSql,
    "q39_decimal" -> q39DecimalSql,
    "q40_scalar_subquery" -> q40ScalarSubquerySql,
    "q41_zorder_scan" -> q41ZorderScanSql,
    "q42_map_funcs" -> q42MapFuncsSql,
    "q43_time_travel" -> q43TimeTravelSql,
    "q44_sketch_cube" -> q44SketchCubeSql,
    "q45_fuzzy_lookup" -> q45FuzzyLookupSql,
    "q46_table_changes" -> q46TableChangesSql,
    "q47_cdc_delete" -> q47CdcDeleteSql,
    "q48_merge_rows" -> q48MergeRowsSql,
    "q51_merge_when" -> q51MergeWhenSql,
    "q52_point_lookup" -> q52PointLookupSql,
    "q53_range_join" -> q53RangeJoinSql,
    "q54_interval_overlap" -> q54IntervalOverlapSql,
    "q55_schema_evolution" -> q55SchemaEvolutionSql,
    "q56_restore" -> q56RestoreSql,
    "q57_constraints" -> q57ConstraintsSql,
    "q58_multi_lookup" -> q58MultiLookupSql,
    "q59_append_evolve" -> q59AppendEvolveSql,
    "q60_rename_column" -> q60RenameColumnSql,
    "q61_drop_column" -> q61DropColumnSql,
    "q62_optimize_partitions" -> q62OptimizePartitionsSql,
    "q63_indexed_scan" -> q63IndexedScanSql,
    "q64_partition_prune" -> q64PartitionPruneSql,
    "q65_graft_format" -> q65GraftFormatSql,
    "q66_sql_verbs" -> q66SqlVerbsSql,
    "q67_sql_maintenance" -> q67SqlMaintenanceSql,
    "q68_change_feed" -> q68ChangeFeedSql,
    "q69_change_feed_wide" -> q69ChangeFeedWideSql,
    "q70_sql_dml" -> q70SqlDmlSql,
    "q71_sync_merge" -> q71SyncMergeSql,
    "q72_multi_partition" -> q72MultiPartitionSql,
    "q73_replace_where" -> q73ReplaceWhereSql,
    "q74_convert" -> q74ConvertSql,
    "q75_show_partitions" -> q75ShowPartitionsSql,
    "q76_changes_tvf" -> q76ChangesTvfSql,
    "q77_changes_ts" -> q77ChangesTsSql,
    "q78_dv_delete" -> q78DvDeleteSql,
    "q79_dv_update" -> q79DvUpdateSql,
    "q80_dv_merge" -> q80DvMergeSql,
    "q81_dv_replace" -> q81DvReplaceSql,
    "q82_incr_view" -> q82IncrViewSql,
    "q83_incr_view_minmax" -> q83IncrViewMinmaxSql,
    "q86_incr_view_distinct" -> q86IncrViewDistinctSql,
    "q87_incr_view_dv" -> q87IncrViewDvSql,
    "q88_incr_view_var" -> q88IncrViewVarianceSql,
    "q89_bucketed_join" -> q89BucketedJoinSql,
    "q90_bucketed_dml" -> q90BucketedDmlSql,
    "q91_bucket_prune" -> q91BucketPruneSql,
    "q92_bucketed_partitioned" -> q92BucketedPartitionedSql,
    "q93_bucketed_sorted" -> q93BucketedSortedSql,
    "q94_multicol_bucket" -> q94MultiColBucketSql,
    "q95_runtime_dpp" -> q95RuntimeDppSql,
    "q96_mv_rewrite" -> q96MvRewriteSql,
    "q97_generated_prune" -> q97GeneratedPruneSql,
    "q84_identity" -> q84IdentitySql,
    "q85_generated" -> q85GeneratedSql,
    "q49_delete_rows" -> q49DeleteRowsSql,
    "q50_stats_skip" -> q50StatsSkipSql,
    "q23_asof_join" ->
      """WITH p AS (SELECT event_id, user_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |           FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |        max(event_id) AS signup_event_id
        |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts_s, s.signup_event_id
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_s >= s.ts_s
        |ORDER BY p.event_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_broadcast" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q3_left_join_agg" ->
      """WITH oa AS (SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
        |            FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders,
        |  round(sum(coalesce(total, 0.0)), 2) AS revenue
        |FROM customer LEFT JOIN oa ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_window_share" ->
      """SELECT event_id, user_id, value,
        |  round(value / sum(value) OVER (PARTITION BY user_id), 6) AS share
        |FROM events ORDER BY event_id""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM (
        |  SELECT c_custkey, c_name FROM customer
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-3 AS BIGINT), 'orphan_3'),
        |    (CAST(-2 AS BIGINT), 'orphan_2'), (CAST(-1 AS BIGINT), 'orphan_1'))
        |    v(c_custkey, c_name)) c
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q6_semi_join" ->
      """SELECT n_name, count(*) AS n_customers FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q7_union_agg" ->
      """SELECT nationkey, count(*) AS n, count(DISTINCT src) AS n_sources FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS nationkey, 'supplier' AS src FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q8_explode_wordcount" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
    "q9_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,
    "q11_string_funcs" ->
      """SELECT p_partkey,
        |  upper(substr(p_name, 1, 1)) || substr(p_name, 2) AS cap_name,
        |  length(p_name) AS name_len,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  substr(p_type, 1, 5) AS type_prefix
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q12_json" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q13_date_trunc" ->
"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "q14_case_agg" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS returned_value,
        |  round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS kept_value
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q15_having" ->
      """SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
        |FROM part GROUP BY p_brand HAVING count(*) >= 5 ORDER BY p_brand""".stripMargin,
    "q16_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q17_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
        |ORDER BY custkey""".stripMargin,
    "q18_except" ->
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-2 AS BIGINT)), (CAST(-1 AS BIGINT)),
        |    (CAST(-1 AS BIGINT))) v(custkey))
        |EXCEPT SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    "q19_range_join" ->
      """SELECT r_name, count(*) AS n_parts
        |FROM part JOIN region
        |  ON p_size BETWEEN r_regionkey * 10 + 1 AND r_regionkey * 10 + 10
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q20_rank_window" ->
      """SELECT nationkey, c_custkey, acctbal, rn FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey, c_custkey,
        |    round(c_acctbal, 2) AS acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY nationkey, rn""".stripMargin,
    "q21_in_list" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (1, 7, 42, 99) ORDER BY c_custkey""".stripMargin,
    "q22_fallback" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) > 300 THEN substr(text, 1, 50)
        |       ELSE 'short:' || lang END AS summary
        |FROM documents ORDER BY doc_id""".stripMargin)
}
