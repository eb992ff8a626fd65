package graft.analytics

import graft.{QueryDef, Tables}
import graft.api.Analytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operators (SURVEY.md §2.2–§2.4, §2.6): segmentation
  * aggregations, dimension joins, windowed analytics. Each entry has a
  * DuckDB oracle twin; all doubles that pass through an aggregate use
  * the decimal-exact [[graft.analytics.dsum]] path for engine parity.
  */
object CoreQueries {

  /** Flagship (SURVEY §7.2 + TPC-H Q1 shape): pricing summary over
    * lineitem. Single shuffle on the two low-cardinality group keys;
    * partial aggregation happens map-side, so at 100 TB the shuffle
    * carries only (flag,status) × partial-buffer rows.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** A4 segmentation: count / distinct users / sum(value) by day × type.
    * Mirrors the event-explorer contract
    * (reference: rakam-spi/.../AbstractUserService.java:77-86). The
    * day×type key space is tiny, so the shuffle after map-side partial
    * aggregation is negligible even at 100 TB; countDistinct adds an
    * Expand but cardinality stays bounded by (days × types × users).
    */
  def a4Segmentation(spark: SparkSession, dir: String): DataFrame =
    Analytics.segmentation(Tables(spark, dir, "events"),
      "user_id", "ts", "day", Seq("event_type"), Some("value"))
      .withColumnRenamed("bucket", "day")

  val a4Sql: String =
    s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       |  count(*) AS n_events,
       |  count(DISTINCT user_id) AS n_users,
       |  ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** A5 exact distinct users per event type (COUNT DISTINCT contract,
    * reference ProjectConfig.java:15 `_user`). */
  def a5Distinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
  }

  val a5Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** A5 approx variant — the 100 TB scale path (HLL sketch). The sketch
    * value itself is engine-specific, so the oracle-checkable output is
    * the *bounded-error certificate*: the exact count plus a flag that
    * the HLL estimate landed within 5% (or ±5 absolute for tiny groups).
    * The oracle asserts the flag is always true — so this registry row
    * is verifiable, and a sketch regression flips it red.
    *
    * Plan shape: mixing `countDistinct` with `approx_count_distinct` in
    * ONE aggregation makes Catalyst plan the distinct via Expand, whose
    * partial phase then carries the rsd=0.01 HLL buffer (~13 KB of
    * register words) per (event_type, user_id) group — millions of fat
    * buffers, GC-bound (measured 1.7 s vs 0.18 s for the exact twin at
    * sf0.1). The two-level form dedupes on (event_type, user_id) first
    * — map-side combine shrinks the shuffle to |distinct| — then counts
    * and sketches the already-distinct users, so HLL buffers exist only
    * per event_type. One scan, one data-sized shuffle; at 100 TB this
    * is the only shape that doesn't OOM the partial aggregation. */
  def a5Approx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      // NULL users are excluded BEFORE the first grouping: a NULL group
      // would count into n_users_exact while countDistinct, the sketch,
      // and the DuckDB twin's count(DISTINCT …) all skip NULLs — the
      // certificate's exact side must share their NULL semantics
      .filter($"user_id".isNotNull)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("_n"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_users_exact"),
        approx_count_distinct($"user_id", 0.01).as("approx"))
      .select($"event_type", $"n_users_exact",
        (abs($"approx" - $"n_users_exact") <=
          greatest($"n_users_exact" * 0.05, lit(5.0))).as("within_bound"))
  }

  val a5ApproxSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** A2 widest/latest-wins reduce (`max_by` shape, reference
    * PostgresqlEventStore.java:272-282): latest event per user. */
  def a2Latest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(
        max_by($"event_id", $"ts").as("last_event_id"),
        max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"))
  }

  val a2Sql: String =
    """SELECT user_id, arg_max(event_id, ts) AS last_event_id,
      |  max(ts) AS last_ts, count(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** A9 rollup: region ⊃ nation ⊃ total customer stats (event-explorer
    * "group by dimension ∪ total"). */
  def a9Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    // DataFrame.rollup on post-join attributes trips Spark's ambiguous-
    // self-join detector (SPARK false positive); going through SQL keeps
    // the single-scan Expand-based rollup plan without the check.
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(r("r_name").as("rname"), n("n_name").as("nname"), c("c_acctbal").as("bal"))
      .createOrReplaceTempView("a9_rollup_input")
    spark.sql(
      s"""SELECT rname AS r_name, nname AS n_name, count(*) AS n_customers,
         |  ${sqlDsum("bal")} AS sum_acctbal
         |FROM a9_rollup_input GROUP BY ROLLUP (rname, nname)""".stripMargin)
  }

  val a9Sql: String =
    s"""SELECT r_name, n_name, count(*) AS n_customers,
       |  ${sqlDsum("c_acctbal")} AS sum_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** A9': full CUBE over (event day-of-week, event type) — all four
    * grouping sets from ONE scan via Expand (2^k row replication is the
    * inherent cube cost; the scan and shuffle stay single). */
  def a9Cube(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .selectExpr("dayofweek(ts) AS dow", "event_type", "value")
      .createOrReplaceTempView("a9_cube_input")
    spark.sql(
      s"""SELECT dow, event_type, count(*) AS n_events,
         |  ${sqlDsum("value")} AS sum_value
         |FROM a9_cube_input GROUP BY CUBE (dow, event_type)""".stripMargin)
  }

  val a9CubeSql: String =
    s"""SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, event_type,
       |  count(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY CUBE (1, 2)""".stripMargin

  /** A8''': histogram bucketing of the value distribution — fixed-width
    * `width_bucket` bins per event type, the shape every latency/value
    * dashboard renders. One scan, one shuffle on (type, bucket). */
  def a8Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .withColumn("bucket",
        expr("width_bucket(value, 0.0, 200.0, 20)").cast("long"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n_events"),
        min($"value").as("lo"), max($"value").as("hi"))
  }

  // DuckDB has no width_bucket; the twin spells out the same fixed-width
  // formula: bucket i covers [10(i-1), 10i), 0 below range, 21 at/above.
  val a8HistSql: String =
    """SELECT event_type,
      |  CAST(CASE WHEN value < 0.0 THEN 0 WHEN value >= 200.0 THEN 21
      |    ELSE floor(value / 10.0) + 1 END AS BIGINT) AS bucket,
      |  count(*) AS n_events, min(value) AS lo, max(value) AS hi
      |FROM events GROUP BY 1, 2""".stripMargin

  /** A11: calendar gap-fill — densify the hourly (type, hour) series
    * with explicit zero rows so downstream charts/windows see a
    * complete grid (missing hours otherwise silently vanish from
    * dashboards and break frame-based windows). The corpus is
    * aggregated ONCE; the calendar × types grid is generated from the
    * aggregate's own bounds (tiny — hours × types) and left-joins the
    * hourly rollup, so at 100 TB the fill side broadcasts and the scan
    * side never re-reads. */
  def a11Gapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .withColumn("hour", date_trunc("hour", $"ts"))
    // materialize the (tiny) hourly rollup ONCE — its three consumers
    // (grid bounds, type list, fill join) would otherwise each re-scan
    // the corpus: Catalyst prunes them differently, so their exchanges
    // never unify for reuse. At scale this rollup IS the dashboard
    // table; checkpointing it is the real lifecycle, not a workaround.
    val hourly = ev.groupBy($"event_type", $"hour")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .localCheckpoint()
    val grid = hourly
      .agg(min($"hour").as("h0"), max($"hour").as("h1"),
        collect_set($"event_type").as("types"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"),
        $"types")
      .select($"hour", explode($"types").as("event_type"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select($"event_type", $"hour",
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce($"sum_value", lit(0.0)).as("sum_value"))
  }

  val a11Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour, value FROM events),
       |hourly AS (
       |  SELECT event_type, hour, count(*) AS n_events,
       |    ${sqlDsum("value")} AS sum_value
       |  FROM ev GROUP BY 1, 2),
       |bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM ev),
       |cal AS (
       |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
       |  FROM bounds),
       |types AS (SELECT DISTINCT event_type FROM ev)
       |SELECT t.event_type, c.hour,
       |  CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
       |  coalesce(h.sum_value, 0.0) AS sum_value
       |FROM cal c CROSS JOIN types t
       |LEFT JOIN hourly h ON h.event_type = t.event_type AND h.hour = c.hour""".stripMargin

  /** Descriptive-stats gallery per event type (min/max/avg/sum). */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        davg($"value").as("avg_value"),
        dsum($"value").as("sum_value"),
        min($"ts").as("first_ts"),
        max($"ts").as("last_ts"))
  }

  val aggStatsSql: String =
    s"""SELECT event_type, min(value) AS min_value, max(value) AS max_value,
       |  ${sqlDavg("value")} AS avg_value, ${sqlDsum("value")} AS sum_value,
       |  min(ts) AS first_ts, max(ts) AS last_ts
       |FROM events GROUP BY event_type""".stripMargin

  /** A8': percentile latencies per event type — the dashboard staple.
    * Exact `percentile` (sort-based, linear interpolation — the same
    * definition as the oracle's quantile_cont) is the correctness
    * anchor; `approx_percentile` rides alongside exactly like a5's
    * sketch twin: at 100 TB the t-digest sketch answers dashboards
    * with bounded error and no global sort, the exact path remains
    * for reconciliation. The approx column is NOT part of the oracle
    * row (engine-specific sketch); its error bound is spec-checked. */
  def a8Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        expr("percentile(value, 0.99)").as("p99"))
  }

  val a8Sql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95,
      |  quantile_cont(value, 0.99) AS p99
      |FROM events GROUP BY event_type""".stripMargin

  /** A8'' sketch twin (the a5 pattern): `approx_percentile` must land
    * within 5% (or one absolute unit) of the exact percentile; the
    * bound verdict is itself the oracle-checked column, so the sketch
    * is gate-verified without demanding bit-equality of an
    * engine-specific digest. */
  def a8Approx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.95)").as("exact_p95"),
        expr("approx_percentile(value, 0.95, 10000)").as("approx"))
      .select($"event_type", $"exact_p95",
        (abs($"approx" - $"exact_p95") <=
          greatest($"exact_p95" * 0.05, lit(1.0))).as("within_bound"))
  }

  val a8ApproxSql: String =
    """SELECT event_type, quantile_cont(value, 0.95) AS exact_p95,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** A13 rolling-window actives: per day, the distinct users active that
    * day (DAU) and over the trailing 7 days (WAU) — the engagement-ratio
    * pair every analytics product charts. Distinct-over-a-sliding-window
    * is not sum-decomposable, so the formulation is the day-grid range
    * join both engines share: distinct (day, user) pairs fan out to the
    * ≤7 grid days they fall into, then one exact countDistinct per day.
    *
    * Scale: the fan-out is bounded at 7·|user-days| rows keyed by day —
    * a fixed small multiple of the input, with the tiny day grid
    * broadcast (BroadcastNestedLoopJoin on the BETWEEN predicate is the
    * right plan: the build side is ~tens of rows). At 100 TB the exact
    * per-day countDistinct shuffle is the cost; the engine's sketch twin
    * (a5's approx pattern — mergeable HLL per day, union over 7) slots
    * in when dashboards can take ±2%. */
  def a13RollingDau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables(spark, dir, "events")
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val grid = ud.select($"day".as("g_day")).distinct()
    ud.join(broadcast(grid),
        $"day".between(date_sub($"g_day", 6), $"g_day"))
      .groupBy($"g_day")
      .agg(
        countDistinct(when($"day" === $"g_day", $"user_id")).as("dau"),
        countDistinct($"user_id").as("wau7"))
      .select($"g_day".as("day"), $"dau", $"wau7",
        ($"dau".cast("double") / $"wau7").as("stickiness"))
  }

  val a13Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |grid AS (SELECT DISTINCT day AS g_day FROM ud)
      |SELECT g_day AS day,
      |  count(DISTINCT CASE WHEN u.day = g_day THEN user_id END) AS dau,
      |  count(DISTINCT user_id) AS wau7,
      |  CAST(count(DISTINCT CASE WHEN u.day = g_day THEN user_id END) AS DOUBLE)
      |    / count(DISTINCT user_id) AS stickiness
      |FROM grid g JOIN ud u ON u.day BETWEEN g_day - 6 AND g_day
      |GROUP BY g_day""".stripMargin

  /** A13-HLL: rolling WAU through MERGEABLE daily sketches — the 100 TB
    * configuration SCALE.md promises next to the exact a13. The exact
    * form fans every distinct user-day out to its ≤7 grid days (7× of
    * |user-days| through the shuffle); this form builds ONE
    * constant-size HLL sketch per day (Datasketches, `hll_sketch_agg`)
    * and the trailing-7 union merges 7 sketches per grid day — shuffle
    * volume is |days| × sketch bytes, independent of user count. The
    * estimates are engine-specific, so the oracle-checked quantities
    * are the exact counts plus the sketch's error bound (±5% or 5
    * absolute, the a5 convention). */
  def a13HllRollingWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables(spark, dir, "events")
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    // exact trailing-7 (the reconciliation twin, same as a13)
    val grid = ud.select($"day".as("g_day")).distinct()
    val exact = ud.join(broadcast(grid),
        $"day".between(date_sub($"g_day", 6), $"g_day"))
      .groupBy($"g_day")
      .agg(countDistinct($"user_id").as("wau7_exact"))
    // sketch path: one HLL per day, then 7-way sketch union per grid day
    val daily = ud.groupBy($"day")
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val est = daily.join(broadcast(grid),
        $"day".between(date_sub($"g_day", 6), $"g_day"))
      .groupBy($"g_day")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("wau7_est"))
    exact.join(est, "g_day")
      .select($"g_day".as("day"), $"wau7_exact",
        (abs($"wau7_est" - $"wau7_exact") <=
          greatest($"wau7_exact" * 0.05, lit(5.0))).as("within_bound"))
  }

  val a13HllSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |grid AS (SELECT DISTINCT day AS g_day FROM ud)
      |SELECT g_day AS day,
      |  count(DISTINCT user_id) AS wau7_exact,
      |  TRUE AS within_bound
      |FROM grid g JOIN ud u ON u.day BETWEEN g_day - 6 AND g_day
      |GROUP BY g_day""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "q1_agg" -> QueryDef.of(q1Sql)(q1),
    "a13_rolling_dau" -> QueryDef.of(a13Sql)(a13RollingDau),
    "a13_rolling_wau_hll" -> QueryDef.of(a13HllSql)(a13HllRollingWau),
    "a8_percentiles" -> QueryDef.of(a8Sql)(a8Percentiles),
    "a8_approx_percentiles" -> QueryDef.of(a8ApproxSql)(a8Approx),
    "a8_histogram" -> QueryDef.of(a8HistSql)(a8Histogram),
    "a9_cube" -> QueryDef.of(a9CubeSql)(a9Cube),
    "a11_gapfill" -> QueryDef.of(a11Sql)(a11Gapfill),
    "a4_segmentation" -> QueryDef.of(a4Sql)(a4Segmentation),
    "a5_distinct_users" -> QueryDef.of(a5Sql)(a5Distinct),
    "a5_approx_distinct" -> QueryDef.of(a5ApproxSql)(a5Approx),
    "a2_latest_event" -> QueryDef.of(a2Sql)(a2Latest),
    "a9_rollup" -> QueryDef.of(a9Sql)(a9Rollup),
    "agg_stats" -> QueryDef.of(aggStatsSql)(aggStats)
  )
}
