package graft.analytics

import graft.{QueryDef, Tables}
import graft.api.Analytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics (SURVEY.md §2.4 A6/A7/A10, §2.6 W2): funnel,
  * retention, sessionization, and the user-profile op-log merge — the
  * operators the reference's API contract delegates to its SQL backend
  * (reference UserPluginConfig.java:18-19,113-115;
  * AbstractUserService.java:77-86; PostgresqlUserStorage.java:604-766).
  *
  * Scale notes: every stage keys on `user_id`, so after the first
  * shuffle all subsequent joins/aggregations are co-partitioned and AQE
  * reuses the exchange. Nothing collects to the driver; funnel steps are
  * bounded aggregates, not per-user event lists.
  */
object BehavioralQueries {

  /** A6 funnel: ordered step conversion view → click → purchase —
    * the facade's funnel on the test corpus, so the oracle verifies the
    * builder applications call. */
  def a6Funnel(spark: SparkSession, dir: String): DataFrame =
    Analytics.funnel(Tables(spark, dir, "events"), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))

  val a6Sql: String =
    """WITH t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
      |SELECT 1 AS step, count(*) AS n_users FROM t1
      |UNION ALL SELECT 2 AS step, count(*) AS n_users FROM t2
      |UNION ALL SELECT 3 AS step, count(*) AS n_users FROM t3""".stripMargin

  /** A7 retention: weekly first-seen cohort × week offset → distinct
    * returning users — the facade's retention on the test corpus.
    * Offsets are calendar-day differences of the truncated weeks, so
    * they stay whole weeks across DST changes in any session timezone;
    * the oracle's micros division agrees in the registry's UTC session. */
  def a7Retention(spark: SparkSession, dir: String): DataFrame =
    Analytics.retention(Tables(spark, dir, "events"), "user_id", "ts", "week")
      .withColumnsRenamed(Map(
        "cohort_bucket" -> "cohort_week", "offset" -> "week_offset"))

  val a7Sql: String =
    """WITH cohort AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
      |  FROM events)
      |SELECT cohort_week,
      |  (epoch_us(active_week) - epoch_us(cohort_week)) // 604800000000 AS week_offset,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM active a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** The session-gap threshold in minutes — THE constant behind the
    * boundary rule; the streaming twin
    * ([[graft.streaming.SequenceState.sessionExamples]]) derives its
    * millisecond gap from it so the two cannot be retuned apart. */
  val SessionGapMinutes = 30

  /** [[SessionGapMinutes]] as the interval text [[withSessionIndex]]
    * takes. */
  val SessionGap: String = s"$SessionGapMinutes minutes"

  /** The ONE session-boundary rule: a gap longer than `gap` (interval
    * text, e.g. "30 minutes") in a user's (ts, tieBreak)-ordered stream
    * opens a new session. Adds a 1-based `session_idx` on the
    * user-partition window pass — shared by
    * [[graft.api.Analytics.sessionize]] (and so w2) and sq3's
    * session-scoped example windows, so the families sessionize
    * provably alike. */
  def withSessionIndex(events: DataFrame, userCol: String, tsCol: String,
      gap: String, tieBreak: Option[String]): DataFrame = {
    val order = col(tsCol) +: tieBreak.toSeq.map(col)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    events
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("session_idx",
        sum(when(col("__prev_ts").isNull ||
          col(tsCol) > col("__prev_ts") + expr(s"INTERVAL $gap"), 1L)
          .otherwise(0L)).over(w))
      .drop("__prev_ts")
  }

  /** W2 sessionization: a session break is a >30-minute gap (reference
    * UserIdEventMapper.java:50-72 anonymous sessions) — the facade's
    * sessionize on the test corpus, event_id breaking timestamp ties. */
  def w2Sessionize(spark: SparkSession, dir: String): DataFrame =
    Analytics.sessionize(Tables(spark, dir, "events"), "user_id", "ts",
      SessionGap, Some("event_id"))

  val w2SessSql: String =
    """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (
      |    SELECT user_id, ts,
      |      lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |    FROM events))
      |GROUP BY user_id""".stripMargin

  /** W8 session windows via Spark's NATIVE `session_window` operator
    * (ST5's session grain run in batch): one row per (user, session)
    * with start/end/size/duration. Complements [[w2Sessionize]] (which
    * proves the lag+cumsum island formulation): this one exercises the
    * built-in session operator — the state-store-backed primitive the
    * streaming path uses — and the oracle pins both to the same
    * relational definition.
    *
    * Boundary semantics: `session_window(ts, gap)` extends a session
    * through last_ts + gap INCLUSIVE — an event exactly 30 minutes
    * after the previous one still MERGES (SessionWindowSpec pins this
    * empirically) — so the island twin breaks on strict
    * `ts > prev + 30 min`, the same boundary [[w2Sessionize]] uses.
    *
    * Scale: session_window is a single shuffle on user_id then a local
    * sort-and-sweep per user — no self-join, no window-over-everything;
    * exactly the plan a 100 TB sessionization wants. */
  def w8SessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"), max($"ts").as("session_end"))
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        (unix_micros($"session_end".cast("timestamp")) -
          unix_micros($"session_start".cast("timestamp"))).as("duration_us"))
  }

  val w8Sql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM seq)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** A10 / U1-U5 profile merge: events re-read as a profile op-log
    * (signup=set_once, click=set, purchase=increment, error=unset) and
    * folded per user with the reference's merge semantics
    * (PostgresqlUserStorage.java:604-766):
    * set_once → first write wins; set → last write wins;
    * increment → sum; unset → null iff it is the latest set/unset op.
    * min_by/max_by run on single-type subsets (no null orderings), which
    * keeps arg_min/arg_max parity with DuckDB exact. */
  def a10ProfileMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val users = ev.select($"user_id").distinct()
    val setOnce = ev.filter($"event_type" === "signup").groupBy($"user_id")
      .agg(min_by($"value", $"ts").as("first_signup_value"))
    val lastSet = ev.filter($"event_type" === "click").groupBy($"user_id")
      .agg(max_by($"value", $"ts").as("last_click_value"))
    val incr = ev.filter($"event_type" === "purchase").groupBy($"user_id")
      .agg(dsum($"value").as("total_purchase"), count(lit(1)).as("n_increments"))
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val finalVal = ev.filter($"event_type".isin("click", "error"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id",
        when($"event_type" === "click", $"value").as("final_value"))
    users
      .join(setOnce, Seq("user_id"), "left")
      .join(lastSet, Seq("user_id"), "left")
      .join(incr, Seq("user_id"), "left")
      .join(finalVal, Seq("user_id"), "left")
  }

  val a10Sql: String =
    s"""WITH so AS (
       |  SELECT user_id, arg_min(value, ts) AS first_signup_value
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |ls AS (
       |  SELECT user_id, arg_max(value, ts) AS last_click_value
       |  FROM events WHERE event_type = 'click' GROUP BY user_id),
       |inc AS (
       |  SELECT user_id, ${sqlDsum("value")} AS total_purchase,
       |    count(*) AS n_increments
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |fv AS (
       |  SELECT user_id,
       |    CASE WHEN event_type = 'click' THEN value END AS final_value
       |  FROM (
       |    SELECT user_id, event_type, value,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE event_type IN ('click', 'error'))
       |  WHERE rn = 1)
       |SELECT u.user_id, first_signup_value, last_click_value,
       |  total_purchase, n_increments, final_value
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN so  ON u.user_id = so.user_id
       |LEFT JOIN ls  ON u.user_id = ls.user_id
       |LEFT JOIN inc ON u.user_id = inc.user_id
       |LEFT JOIN fv  ON u.user_id = fv.user_id""".stripMargin

  /** A17: LTV cohort matrix — per signup cohort (first-seen week) and
    * week offset: buyers, revenue, CUMULATIVE revenue, and LTV per
    * cohort user. The retention matrix's (a7) revenue twin, and the
    * payback-period readout every subscription dashboard carries.
    *
    * Numeric posture: the running revenue accumulates in exact
    * DECIMAL(38,6) and casts to double only at the edge — a double
    * window-sum would be order-dependent (DuckDB's windowed SUM runs a
    * segment tree, Spark a sequential frame: different addition orders,
    * different last-bit rounding). Offsets are calendar-day differences
    * of the truncated weeks divided by 7, as in a7, so they stay whole
    * weeks across DST changes in any session timezone; the oracle's
    * micros division agrees in the registry's UTC session.
    * Shape: two user shuffles (cohort assignment, weekly rollup) + a
    * window over the tiny (cohort × offset) aggregate. */
  def a17From(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val cohort = ev.groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val sizes = cohort.groupBy($"cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val weekly = ev.filter($"event_type" === "purchase")
      .join(cohort, "user_id")
      .withColumn("week_offset",
        (datediff(date_trunc("week", $"ts").cast("date"),
          $"cohort_week".cast("date")) / 7).cast("long"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_buyers"),
        sum($"value".cast(dec)).as("rev_dec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cohort_week").orderBy($"week_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    weekly
      .withColumn("cum_dec", sum($"rev_dec").over(w))
      .join(sizes, "cohort_week")
      .select($"cohort_week", $"week_offset", $"n_buyers",
        $"rev_dec".cast("double").as("revenue"),
        $"cum_dec".cast("double").as("cum_revenue"),
        ($"cum_dec".cast("double") / $"cohort_size").as("ltv_per_user"))
  }

  def a17LtvCohort(spark: SparkSession, dir: String): DataFrame =
    a17From(Tables(spark, dir, "events"))

  val a17Sql: String =
    """WITH cohort AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1),
      |weekly AS (
      |  SELECT c.cohort_week,
      |    (epoch_us(CAST(date_trunc('week', e.ts) AS TIMESTAMP)) - epoch_us(c.cohort_week)) // 604800000000 AS week_offset,
      |    count(DISTINCT e.user_id) AS n_buyers,
      |    sum(CAST(e.value AS DECIMAL(38,6))) AS rev_dec
      |  FROM events e JOIN cohort c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_week, week_offset, n_buyers, rev_dec,
      |    sum(rev_dec) OVER (PARTITION BY cohort_week ORDER BY week_offset
      |      ROWS UNBOUNDED PRECEDING) AS cum_dec
      |  FROM weekly)
      |SELECT w.cohort_week, w.week_offset, w.n_buyers,
      |  CAST(w.rev_dec AS DOUBLE) AS revenue,
      |  CAST(w.cum_dec AS DOUBLE) AS cum_revenue,
      |  CAST(w.cum_dec AS DOUBLE) / s.cohort_size AS ltv_per_user
      |FROM cum w JOIN sizes s ON w.cohort_week = s.cohort_week""".stripMargin

  // ---------------- A19: time-to-convert distribution ----------------

  /** A19: funnel LATENCY — a6 reports how many users convert, a19
    * reports how long conversion takes: per user the FIRST-EVER `view`
    * and the FIRST-EVER `purchase`, keeping only users whose first
    * purchase is at or after their first view (a user who purchased
    * before ever viewing is EXCLUDED, not re-measured from a later
    * purchase — both the implementation and its SQL twin take the
    * global firsts); then the exact p50/p90/mean of the delta in
    * minutes. One shuffle on user_id (conditional-min pivot), then a
    * single global aggregate over |converted users| rows.
    *
    * Cross-engine: the delta is integer epoch-micros subtraction then
    * ONE double division (timestampdiff/datediff truncate differently
    * across engines at sub-second grain); percentile ≡ quantile_cont is
    * the a8-proven pairing and the mean divides the EXACT long micros
    * sum at the end. */
  /** The a19 core over any event frame in the standard shape
    * (user_id, ts, event_type), parameterized by the entry and
    * conversion events. */
  def a19From(events: DataFrame, fromType: String = "view",
      toType: String = "purchase"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === fromType, $"ts")).as("fv"),
        min(when($"event_type" === toType, $"ts")).as("fp"))
      .filter($"fv".isNotNull && $"fp".isNotNull && $"fp" >= $"fv")
      // exact integer micros delta; the double division happens once per
      // row for the percentiles and once GLOBALLY for the mean — a davg
      // over the divided doubles would round at the decimal cast's 6th
      // decimal, where the two engines' double→decimal roundings differ
      .withColumn("dm",
        unix_micros($"fp".cast("timestamp")) -
          unix_micros($"fv".cast("timestamp")))
      .withColumn("d", $"dm".cast("double") / 60000000.0)
      .agg(
        count(lit(1)).as("n_converters"),
        expr("percentile(d, 0.5)").as("p50_minutes"),
        expr("percentile(d, 0.9)").as("p90_minutes"),
        (sum($"dm").cast("double") / count(lit(1)) / 60000000.0)
          .as("avg_minutes"))
  }

  def a19TimeToConvert(spark: SparkSession, dir: String): DataFrame =
    a19From(Tables(spark, dir, "events"))

  val a19Sql: String =
    s"""WITH fu AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
       |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
       |  FROM events GROUP BY user_id),
       |conv AS (
       |  SELECT epoch_us(fp) - epoch_us(fv) AS dm,
       |    CAST(epoch_us(fp) - epoch_us(fv) AS DOUBLE) / 60000000.0 AS d
       |  FROM fu WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
       |SELECT count(*) AS n_converters,
       |  quantile_cont(d, 0.5) AS p50_minutes,
       |  quantile_cont(d, 0.9) AS p90_minutes,
       |  CAST(sum(dm) AS DOUBLE) / count(*) / 60000000.0 AS avg_minutes
       |FROM conv""".stripMargin

  // ---------------- A21: event co-occurrence (baskets) ----------------

  /** A21: which event types happen TOGETHER — market-basket association
    * over (user × day) baskets: for every type pair, the number of
    * baskets containing both, the support, and the lift
    * (`P(a,b) / (P(a)·P(b))`; lift > 1 = the pair co-occurs more than
    * chance). The feature-correlation readout behind "users who do X
    * also do Y".
    *
    * Shape: the corpus collapses to distinct (user, day, type) baskets
    * first; the pair self-join runs on THAT (≤ |types| rows per basket,
    * so the product is baskets × C(types,2), not events²); type totals
    * and the basket count are tiny broadcast sides. Lift is one
    * fixed-order double chain over exact longs. */
  def a21Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val baskets = Tables(spark, dir, "events")
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
      .distinct()
    val total = baskets.select($"user_id", $"day").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val typeCounts = baskets.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
    val pairs = baskets.alias("x")
      .join(baskets.alias("y"),
        col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeCounts.select($"event_type".as("a"), $"n_t".as("n_a"))), Seq("a"))
      .join(broadcast(typeCounts.select($"event_type".as("b"), $"n_t".as("n_b"))), Seq("b"))
      .crossJoin(broadcast(total))
      .select($"a", $"b", $"n_ab",
        ($"n_ab".cast("double") / $"n_baskets").as("support"),
        ($"n_ab".cast("double") * $"n_baskets" / $"n_a" / $"n_b").as("lift"))
  }

  val a21Sql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      |  FROM events),
      |total AS (
      |  SELECT count(*) AS n_baskets FROM (
      |    SELECT DISTINCT user_id, day FROM baskets)),
      |tc AS (SELECT event_type, count(*) AS n_t FROM baskets GROUP BY event_type),
      |pairs AS (
      |  SELECT x.event_type AS a, y.event_type AS b, count(*) AS n_ab
      |  FROM baskets x JOIN baskets y
      |    ON x.user_id = y.user_id AND x.day = y.day
      |    AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT a, b, n_ab,
      |  CAST(n_ab AS DOUBLE) / n_baskets AS support,
      |  CAST(n_ab AS DOUBLE) * n_baskets / ta.n_t / tb.n_t AS lift
      |FROM pairs, total, tc ta, tc tb
      |WHERE ta.event_type = a AND tb.event_type = b""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "a6_funnel" -> QueryDef.of(a6Sql)(a6Funnel),
    "a21_cooccurrence" -> QueryDef.of(a21Sql)(a21Cooccurrence),
    "a17_ltv_cohort" -> QueryDef.of(a17Sql)(a17LtvCohort),
    "a7_retention" -> QueryDef.of(a7Sql)(a7Retention),
    "w2_sessionize" -> QueryDef.of(w2SessSql)(w2Sessionize),
    "w8_session_window" -> QueryDef.of(w8Sql)(w8SessionWindow),
    "a10_profile_merge" -> QueryDef.of(a10Sql)(a10ProfileMerge),
    "a19_time_to_convert" -> QueryDef.of(a19Sql)(a19TimeToConvert)
  )
}
