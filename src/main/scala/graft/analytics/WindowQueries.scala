package graft.analytics

import graft.{QueryDef, Tables}
import graft.api.Analytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / sort / limit / set-op operators (SURVEY.md §2.6).
  * All windows partition by `user_id` and order by (ts, event_id) — the
  * tiebreak keeps results deterministic for the oracle hash. One shuffle
  * per window spec; specs share the same partitioning so Catalyst reuses
  * the exchange.
  */
object WindowQueries {

  private val byUser = Window.partitionBy("user_id")

  /** W1 + W5: top-k (k=3) most recent events per user — the facade's
    * row_number top-k on the test corpus, event_id breaking ties. */
  def w1TopK(spark: SparkSession, dir: String): DataFrame =
    Analytics.topKPerGroup(
      Tables(spark, dir, "events").select("user_id", "event_id", "ts"),
      "user_id", 3, col("ts").desc, col("event_id").desc)
      .withColumnRenamed("rank", "rn")

  val w1Sql: String =
    """SELECT user_id, event_id, ts, rn FROM (
      |  SELECT user_id, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn <= 3""".stripMargin

  /** W3: running per-user sum of `value` (frame aggregate). The sum runs
    * over the exact decimal domain so prefix results are order-exact. */
  def w3Running(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = byUser.orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .withColumn("running_value",
        sum($"value".cast("decimal(38,9)")).over(w).cast("double"))
      .withColumn("running_n", count(lit(1)).over(w))
      .select($"user_id", $"event_id", $"ts", $"running_value", $"running_n")
  }

  val w3Sql: String =
    """SELECT user_id, event_id, ts,
      |  CAST(sum(CAST(value AS DECIMAL(38,9)))
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      |FROM events""".stripMargin

  /** W2 analytic lag: per-event gap to the previous event of the same
    * user, in microseconds (exact integer arithmetic on both engines). */
  def w2Lag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = byUser.orderBy($"ts", $"event_id")
    Tables(spark, dir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("gap_us",
        unix_micros($"ts".cast("timestamp")) - unix_micros($"prev_ts".cast("timestamp")))
      .select($"user_id", $"event_id", $"ts", $"prev_ts", $"gap_us")
  }

  val w2Sql: String =
    """SELECT user_id, event_id, ts, prev_ts,
      |  CASE WHEN prev_ts IS NULL THEN NULL
      |       ELSE epoch_us(ts) - epoch_us(prev_ts) END AS gap_us
      |FROM (
      |  SELECT user_id, event_id, ts,
      |    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events)""".stripMargin

  /** W4 + W5: global top-100 orders by price (TakeOrderedAndProject —
    * per-partition top-k then a single driver merge of 100-row heaps,
    * no global sort shuffle). */
  def w4TopOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
  }

  val w4Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** W6 set algebra on (user, day) activity cohorts:
    * (purchase-days ∪ signup-days) ∩ click-days − error-days.
    *
    * Plan: ONE scan + ONE shuffle — the set algebra folds into per-
    * (user, day) membership flags (`bool_or` per type) and a filter,
    * instead of 4 scans + 4 distincts + intersect/except shuffles (the
    * round-1 audit's waste finding). The oracle twin still states it as
    * UNION/INTERSECT/EXCEPT — semantic equivalence is the point. */
  def w6SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(
        bool_or($"event_type" === "purchase").as("p"),
        bool_or($"event_type" === "signup").as("s"),
        bool_or($"event_type" === "click").as("c"),
        bool_or($"event_type" === "error").as("e"))
      .filter(($"p" || $"s") && $"c" && !$"e")
      .select($"user_id", $"day")
  }

  val w6Sql: String =
    """SELECT user_id, day FROM (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase'
      |  UNION
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'signup')
      |INTERSECT SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'
      |EXCEPT SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'""".stripMargin

  /** W7: user decile segmentation — EXACT ntile over lifetime spend
    * with NO data-sized single-partition window (the r12 verdict's
    * watch-item: |users| is 10⁸–10⁹ rows at 100 TB, too big for the
    * one window task a global `ntile` requires). ntile needs a total
    * order, not a global window: a range exchange on
    * (spend DESC, user_id) hands each of the P tasks a contiguous
    * slice of the order, so a row's global rank is its slice's offset
    * (a P-row frame, broadcast back) plus its LOCAL row_number, and
    * its decile is then a closed form of (rank, N) — the first N%10
    * tiles take ⌈N/10⌉ rows, the rest ⌊N/10⌋. The tie-break is total,
    * so ranks are engine-identical and independent of where the
    * sampled range bounds fall. The sliced frame is LAZILY
    * localCheckpoint'd because slice ids come from the PHYSICAL
    * partitioning: the offset and rank subtrees must read ONE
    * materialization — two independent instantiations of the range
    * exchange would re-sample bounds under different RDD-id seeds and
    * disagree. Lazy checkpoint (not persist) because a query builder
    * has no unpersist hook: a CacheManager entry would pin the
    * |users| frame for the JVM's lifetime (exactly the leak class the
    * gateway's enrich path guards against), while checkpoint blocks
    * are freed by the ContextCleaner once the RDD is unreachable;
    * eager=false keeps it one action (materialized on first compute,
    * shared by both subtrees — one RDD instance, one bounds
    * sampling). Accepted trade at 1000 executors: checkpoint blocks
    * die with their executor (job restart), the d5/BPE precedent.
    * Largest window task after the rewrite: |users|/P rows. */
  def w7Deciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(dsum($"value").as("total_spend"), count(lit(1)).as("n_events"))
    val slices = spark.sessionState.conf.numShufflePartitions
    val sliced = spend
      .repartitionByRange(slices, $"total_spend".desc, $"user_id")
      .withColumn("__slice", spark_partition_id())
      .localCheckpoint(false)
    val localW = Window.partitionBy($"__slice")
      .orderBy($"total_spend".desc, $"user_id")
    val ranked = sliced.withColumn("__lr", row_number().over(localW))
    // P-row offset frame: rows that precede each slice in the global
    // order (the cumulative window runs over P rows, not the data)
    val offW = Window.orderBy($"__slice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sliced.groupBy($"__slice")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum($"__cnt").over(offW), lit(0L)))
    val total = offsets.agg(sum($"__cnt").as("__n"))
    val rank = $"__off" + $"__lr"
    val base = floor($"__n" / 10)          // ⌊N/10⌋ (N ≪ 2⁵³: exact)
    val rem = $"__n" % 10
    val decile = when(rank <= rem * (base + 1L),
        floor((rank - 1L) / (base + 1L)) + 1L)
      .otherwise(rem + floor((rank - rem * (base + 1L) - 1L) /
        greatest(base, lit(1L))) + 1L)
    ranked
      .join(broadcast(offsets.select($"__slice", $"__off")), "__slice")
      .crossJoin(broadcast(total))
      .withColumn("decile", decile.cast("long"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"),
        dsum($"total_spend").as("decile_spend"),
        min($"total_spend").as("min_spend"),
        max($"total_spend").as("max_spend"))
  }

  val w7Sql: String =
    s"""SELECT decile, count(*) AS n_users,
       |  ${sqlDsum("total_spend")} AS decile_spend,
       |  min(total_spend) AS min_spend, max(total_spend) AS max_spend
       |FROM (
       |  SELECT user_id, total_spend,
       |    ntile(10) OVER (ORDER BY total_spend DESC, user_id) AS decile
       |  FROM (
       |    SELECT user_id, ${sqlDsum("value")} AS total_spend,
       |      count(*) AS n_events
       |    FROM events GROUP BY user_id))
       |GROUP BY decile""".stripMargin

  /** W9: period-over-period growth — daily volume per event_type with
    * the previous day's volume (lag) and the day-over-day percentage
    * change; the trend arrow on every dashboard tile. One partial-final
    * count shuffle to the (day × type) grain, then a lag window over the
    * AGGREGATE (|days × types| rows, never the corpus). The growth ratio
    * is scalar double division — IEEE-identical across engines; days
    * with no prior observation yield NULL, not a fabricated zero. */
  def w9PeriodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "events")
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("prev_n", lag($"n_events", 1).over(w))
      .withColumn("dod_pct",
        when($"prev_n" > 0,
          ($"n_events" - $"prev_n").cast("double") / $"prev_n"))
  }

  val w9Sql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       |    count(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |  FROM events GROUP BY 1, 2)
       |SELECT day, event_type, n_events, sum_value,
       |  lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
       |  CASE WHEN lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY day) > 0
       |    THEN CAST(n_events - lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
       |      / lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY day)
       |  END AS dod_pct
       |FROM daily""".stripMargin

  /** W10: cumulative adopters — running count of distinct users ever
    * seen, per day (the growth dashboard's adoption curve). Distinct
    * counting over an EXPANDING window is not sum-decomposable, but
    * first-seen attribution makes it one: each user contributes to
    * exactly their first day (a min aggregate — order-free), daily
    * new-user counts are tiny, and the running total is a window over
    * the |days| aggregate, never the corpus. */
  def w10CumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val firstSeen = Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(to_date(min($"ts")).as("first_day"))
      .groupBy($"first_day")
      .agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy($"first_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen
      .withColumn("cumulative_users", sum($"new_users").over(w))
      .select($"first_day", $"new_users", $"cumulative_users")
  }

  val w10Sql: String =
    """WITH first_seen AS (
      |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day
      |  FROM events GROUP BY user_id),
      |daily AS (
      |  SELECT first_day, count(*) AS new_users
      |  FROM first_seen GROUP BY first_day)
      |SELECT first_day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY first_day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
      |FROM daily""".stripMargin

  // ---------------- A20: volume anomaly flags ----------------

  /** Trailing days used as the baseline window (excluding the current
    * day), and the minimum prior days required for a verdict. */
  private val AnomalyWindow = 7
  private val AnomalyMinPrior = 4

  /** A20: daily-volume anomaly detection — the ops dashboard's "did
    * ingest break / did a client go rogue" signal. Per (day ×
    * event_type), the z-score of today's count against the trailing
    * [[AnomalyWindow]]-day mean/std (current day excluded); |z| > 3
    * flags. Fewer than [[AnomalyMinPrior]] prior days → NULL verdict,
    * not a fabricated zero.
    *
    * Shape: the corpus collapses to the (day × type) aggregate first;
    * every window runs over that tiny grain. Parity: counts and their
    * squares sum EXACTLY as longs inside the frame; mean/variance come
    * out in one fixed-order double chain, identical on both engines. */
  def a20Anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables(spark, dir, "events")
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-AnomalyWindow, -1)
    daily
      .withColumn("k", count($"n").over(w))
      .withColumn("s", sum($"n").over(w))
      .withColumn("ss", sum($"n" * $"n").over(w))
      .withColumn("mean_prior",
        when($"k" >= AnomalyMinPrior, $"s".cast("double") / $"k"))
      .withColumn("var_prior",
        when($"k" >= AnomalyMinPrior,
          ($"ss".cast("double") - $"s".cast("double") * $"s".cast("double") / $"k") /
            ($"k" - 1)))
      .withColumn("z",
        when($"var_prior" > 0,
          ($"n".cast("double") - $"mean_prior") / sqrt($"var_prior")))
      .withColumn("anomaly",
        when($"z".isNotNull, abs($"z") > 3.0))
      .select($"day", $"event_type", $"n", $"mean_prior", $"z", $"anomaly")
  }

  val a20Sql: String =
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |framed AS (
       |  SELECT day, event_type, n,
       |    count(n) OVER trail AS k,
       |    sum(n) OVER trail AS s,
       |    sum(n * n) OVER trail AS ss
       |  FROM daily
       |  WINDOW trail AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN $AnomalyWindow PRECEDING AND 1 PRECEDING)),
       |scored AS (
       |  SELECT day, event_type, n,
       |    CASE WHEN k >= $AnomalyMinPrior
       |      THEN CAST(s AS DOUBLE) / k END AS mean_prior,
       |    CASE WHEN k >= $AnomalyMinPrior
       |      THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k)
       |        / (k - 1) END AS var_prior
       |  FROM framed)
       |SELECT day, event_type, n, mean_prior,
       |  CASE WHEN var_prior > 0
       |    THEN (CAST(n AS DOUBLE) - mean_prior) / sqrt(var_prior) END AS z,
       |  CASE WHEN var_prior > 0 THEN
       |    abs(CASE WHEN var_prior > 0
       |      THEN (CAST(n AS DOUBLE) - mean_prior) / sqrt(var_prior) END) > 3.0
       |  END AS anomaly
       |FROM scored""".stripMargin

  /** W6'' theta twin (the a5/a8 sketch-twin convention): audience
    * OVERLAP per event-type pair served from mergeable theta-sketch
    * state. The exact form (w6's fold) must rescan events for every
    * new segment pair; the sketch form intersects per-segment state in
    * |sketch| time — per-type sketches are ONE partial-agg'd shuffle,
    * the pair frame is |types|², and the oracle-checked quantity is
    * the sketch GUARANTEE: the exact pair overlap (which DuckDB
    * computes independently) must land inside the intersection's 2σ
    * bounds. Below ~4k distinct users a theta sketch is in exact mode,
    * so at test scale the estimate IS the count — the gate proves the
    * full agg→serialize→intersect→read pipeline, not a tautology. */
  def w6ThetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ThetaSketches._
    val ev = Tables(spark, dir, "events")
    val sketches = ev.groupBy($"event_type")
      .agg(thetaSketchAgg($"user_id").as("sk"))
    val pairs = sketches.alias("a")
      .join(broadcast(sketches.alias("b")),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        thetaIntersect(col("a.sk"), col("b.sk")).as("isk"))
      .select($"type_a", $"type_b",
        thetaLb($"isk").as("lb"), thetaUb($"isk").as("ub"))
    val ut = ev.select($"user_id", $"event_type").distinct()
    val exact = ut.alias("x")
      .join(ut.alias("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both_exact"))
    exact.join(pairs, Seq("type_a", "type_b"))
      .select($"type_a", $"type_b", $"n_both_exact",
        ($"n_both_exact" >= $"lb" && $"n_both_exact" <= $"ub")
          .as("within_bound"))
  }

  val w6ThetaSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT x.event_type AS type_a, y.event_type AS type_b,
      |  count(*) AS n_both_exact, TRUE AS within_bound
      |FROM ut x JOIN ut y
      |  ON x.user_id = y.user_id AND x.event_type < y.event_type
      |GROUP BY 1, 2""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "w6_theta_overlap" -> QueryDef.of(w6ThetaSql)(w6ThetaOverlap),
    "w7_user_deciles" -> QueryDef.of(w7Sql)(w7Deciles),
    "a20_anomaly" -> QueryDef.of(a20Sql)(a20Anomaly),
    "w9_period_over_period" -> QueryDef.of(w9Sql)(w9PeriodOverPeriod),
    "w10_cumulative_users" -> QueryDef.of(w10Sql)(w10CumulativeUsers),
    "w1_topk_per_user" -> QueryDef.of(w1Sql)(w1TopK),
    "w2_lag_gap" -> QueryDef.of(w2Sql)(w2Lag),
    "w3_running_sum" -> QueryDef.of(w3Sql)(w3Running),
    "w4_top_orders" -> QueryDef.of(w4Sql)(w4TopOrders),
    "w6_set_ops" -> QueryDef.of(w6Sql)(w6SetOps)
  )
}
