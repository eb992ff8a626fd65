package graft.api

import graft.{SparkSpec, Tables}
import graft.analytics.CoreQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The parameterized facade must reproduce the oracle-proven registry
  * shapes when instantiated with the test corpus's parameters. Where a
  * registry entry is itself a facade call, the facade is pinned to the
  * oracle's values; elsewhere parity with the registry builder means
  * the facade call inherits the DuckDB verification. */
class AnalyticsSpec extends SparkSpec {

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private lazy val events = Tables(spark, sf(), "events")

  // The registry's a4/a6/a7/w1/w2 entries ARE these facade calls, so
  // the pins below are the DuckDB oracle's own results at sf0.001 (the
  // a4, a6, a7, w2 and w1 SQL run over the same parquet).

  test("funnel(view,click,purchase) == oracle-proven a6") {
    val api = Analytics.funnel(events, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    assert(rows(api) == Seq("1|15", "2|15", "3|15"))
  }

  test("retention(week) == oracle-proven a7") {
    val api = Analytics.retention(events, "user_id", "ts", "week")
      .select(date_format(col("cohort_bucket"), "yyyy-MM-dd"),
        col("offset"), col("n_users"))
    assert(rows(api) == (0 to 4).map(o => s"2024-01-01|$o|15"))
  }

  test("retention(week) offsets stay whole weeks across a DST change " +
    "(America/New_York)") {
    import spark.implicits._
    // 2026-03-08 springs forward: the week of 03-09 starts 7 days minus
    // one hour after the week of 03-02, so an epoch-micros division by
    // a fixed week would put it at offset 0 (and 03-16 at offset 1)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ev = Seq(
        (1L, "2026-03-02 10:00:00"), (1L, "2026-03-09 10:00:00"),
        (1L, "2026-03-16 10:00:00"),
        (2L, "2026-03-05 23:30:00"), (2L, "2026-03-12 23:30:00"))
        .toDF("user_id", "t").select($"user_id", $"t".cast("timestamp").as("ts"))
      val got = Analytics.retention(ev, "user_id", "ts", "week")
        .select(date_format($"cohort_bucket", "yyyy-MM-dd"), $"offset",
          $"n_users")
      assert(rows(got) ==
        Seq("2026-03-02|0|2", "2026-03-02|1|2", "2026-03-02|2|1"))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("a17 LTV week offsets stay whole weeks across a DST change " +
    "(America/New_York)") {
    import spark.implicits._
    // same calendar as the retention test above: a micros division by a
    // fixed week would put the 03-09 purchases at offset 0, 03-16 at 1
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val ev = Seq(
        (1L, "2026-03-02 10:00:00", "view", 0.0),
        (1L, "2026-03-09 10:00:00", "purchase", 5.0),
        (1L, "2026-03-16 10:00:00", "purchase", 2.0),
        (2L, "2026-03-05 23:30:00", "view", 0.0),
        (2L, "2026-03-12 23:30:00", "purchase", 3.0))
        .toDF("user_id", "t", "event_type", "value")
        .select($"user_id", $"t".cast("timestamp").as("ts"), $"event_type",
          $"value")
      val got = graft.analytics.BehavioralQueries.a17From(ev)
        .select(date_format($"cohort_week", "yyyy-MM-dd"), $"week_offset",
          $"n_buyers", $"revenue", $"cum_revenue", $"ltv_per_user")
      assert(rows(got) == Seq(
        "2026-03-02|1|2|8.0|8.0|4.0", "2026-03-02|2|1|2.0|10.0|5.0"))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("sessionize(30 minutes) == oracle-proven w2") {
    val api = Analytics.sessionize(events, "user_id", "ts",
      gap = "30 minutes", tieBreak = Some("event_id"))
    val total = api.agg(count(lit(1)), sum("n_sessions"), sum("n_events"))
    assert(rows(total) == Seq("15|946|1000"))
    val top = api.orderBy(col("n_sessions").desc, col("user_id")).limit(3)
    assert(top.collect().map(_.toSeq.mkString("|")).toSeq ==
      Seq("14|80|88", "7|73|75", "12|68|73"))
  }

  test("segmentation(day × event_type) == oracle-proven a4, sum included") {
    val api = Analytics.segmentation(events, "user_id", "ts", "day",
      Seq("event_type"), valueCol = Some("value"))
    assert(api.columns.toSeq ==
      Seq("bucket", "event_type", "n_events", "n_users", "sum_value"))
    // a4 is this call with the bucket named `day`
    assert(CoreQueries.a4Segmentation(spark, sf()).columns.toSeq ==
      Seq("day", "event_type", "n_events", "n_users", "sum_value"))
    assert(rows(api.agg(count(lit(1)), sum("n_events"), sum("n_users"))) ==
      Seq("150|1000|792"))
    val firstDay = api.filter(col("bucket") === lit("2024-01-01").cast("timestamp"))
      .drop("bucket")
    assert(rows(firstDay) == Seq(
      "click|4|3|390.72", "error|11|9|718.31", "purchase|4|3|56.95",
      "signup|9|6|475.5", "view|5|5|258.88"))
  }

  test("topKPerGroup == oracle-proven w1 shape") {
    val api = Analytics.topKPerGroup(
      events.select("user_id", "event_id", "ts"), "user_id", 3,
      col("ts").desc, col("event_id").desc)
    assert(rows(api.agg(count(lit(1)), countDistinct("user_id"),
      sum("rank"))) == Seq("45|15|90"))
    assert(rows(api.filter(col("user_id") === 0)
      .select("event_id", "rank")) == Seq("979|3", "993|2", "995|1"))
  }

  test("eventPaths == oracle-proven a14") {
    val api = Analytics.eventPaths(events,
      "user_id", "ts", "event_id", "event_type")
    assert(rows(api) ==
      rows(graft.analytics.PathQueries.a14EventPaths(spark, sf())))
  }

  test("pointInIntervalJoin matches a literal BETWEEN join, and rejects collisions") {
    import spark.implicits._
    val intervals = Seq(
      (1L, "2024-01-01 00:10:00", "2024-01-01 02:00:00"),
      (2L, "2024-01-01 03:00:00", "2024-01-01 03:30:00"))
      .toDF("ivl_id", "s", "e")
      .select($"ivl_id", $"s".cast("timestamp").as("start_ts"),
        $"e".cast("timestamp").as("end_ts"))
    val points = Seq(
      (10L, "2024-01-01 00:10:00"), // on the start boundary: inclusive
      (11L, "2024-01-01 01:59:59"),
      (12L, "2024-01-01 02:30:00"), // between intervals: no match
      (13L, "2024-01-01 03:30:00")) // on the end boundary: inclusive
      .toDF("p_id", "t")
      .select($"p_id", $"t".cast("timestamp").as("p_ts"))
    val got = Analytics.pointInIntervalJoin(
      points, intervals, "p_ts", "start_ts", "end_ts")
      .select("p_id", "ivl_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.crossJoin(intervals)
      .filter($"p_ts" >= $"start_ts" && $"p_ts" <= $"end_ts")
      .select("p_id", "ivl_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want == Set((10L, 1L), (11L, 1L), (13L, 2L)))
    // shared column names would make the residual ambiguous — rejected
    intercept[IllegalArgumentException] {
      Analytics.pointInIntervalJoin(
        points.withColumnRenamed("p_ts", "start_ts"),
        intervals, "start_ts", "start_ts", "end_ts")
    }
  }

  test("timeToConvert(view, purchase) == oracle-proven a19") {
    val api = Analytics.timeToConvert(Tables(spark, sf(), "events"),
      "user_id", "ts", "event_type", "view", "purchase")
    val reg = graft.analytics.BehavioralQueries
      .a19TimeToConvert(spark, sf())
    assert(rows(api) == rows(reg))
  }

  test("lastTouchAttribution(purchase, 7d) == oracle-proven a15") {
    val api = Analytics.lastTouchAttribution(events,
      "user_id", "ts", "event_id", "event_type", "value",
      conversionType = "purchase", windowDays = 7)
    assert(rows(api) ==
      rows(graft.analytics.PathQueries.a15Attribution(spark, sf())))
  }
}
