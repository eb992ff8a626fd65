package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The parameterized analytics surface — the oracle-proven query shapes
  * of `graft.analytics` generalized over any events DataFrame (caller
  * names the user/time/type columns, steps, grains). These are what an
  * application calls. The registry's a4/a6/a7/w1/w2 entries call them
  * directly and the rest share the `*From` cores they delegate to, so
  * the DuckDB oracle hash-verifies the builders applications get. Every
  * builder keeps the registry's scale posture: windows over (user, ts),
  * no self-joins, aggregates with map-side partials.
  */
object Analytics {

  /** Segmentation: per time bucket and dimension values, the event
    * count, the exact distinct-user count and, with `valueCol`, the
    * decimal-exact sum (the registry's a4 is this call). */
  def segmentation(events: DataFrame, userCol: String, tsCol: String,
      grain: String, dims: Seq[String],
      valueCol: Option[String] = None): DataFrame = {
    val byCols = date_trunc(grain, col(tsCol)).as("bucket") +: dims.map(col)
    val aggs = Seq(count(lit(1)).as("n_events"),
      countDistinct(col(userCol)).as("n_users")) ++
      valueCol.toSeq.map(v => graft.analytics.dsum(col(v)).as(s"sum_$v"))
    events.groupBy(byCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Ordered-step funnel: users reaching step k (earliest completion
    * time per step, strictly after the previous step). */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("et"),
      col(tsCol).as("t"))
    val first = ev.filter(col("et") === steps.head)
      .groupBy(col("u")).agg(min(col("t")).as("tprev"))
    val reached = steps.tail.scanLeft(first) { (prev, step) =>
      ev.filter(col("et") === step)
        .join(prev, "u").filter(col("t") > col("tprev"))
        .groupBy(col("u")).agg(min(col("t")).as("tprev"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), col("n_users"))
    }.reduce(_.union(_))
  }

  /** First-seen cohort retention matrix at the given grain. Offsets
    * are CALENDAR differences (datediff of the truncated buckets), so
    * they stay correct across DST transitions in any session timezone —
    * a fixed micros-per-grain division would miscount the 23/25-hour
    * days around a transition. */
  def retention(events: DataFrame, userCol: String, tsCol: String,
      grain: String = "week"): DataFrame = {
    val grainDays = grain match {
      case "week" => 7
      case "day" => 1
      case other => throw new IllegalArgumentException(s"grain: $other")
    }
    val cohort = events.groupBy(col(userCol))
      .agg(date_trunc(grain, min(col(tsCol))).as("cohort_bucket"))
    val active = events
      .select(col(userCol), date_trunc(grain, col(tsCol)).as("active_bucket"))
      .distinct()
    active.join(cohort, userCol)
      .withColumn("offset",
        (datediff(col("active_bucket").cast("date"),
          col("cohort_bucket").cast("date")) / grainDays).cast("long"))
      .groupBy(col("cohort_bucket"), col("offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** Gap-based sessionization: per-user session and event counts, by
    * the one session-boundary rule
    * ([[graft.analytics.BehavioralQueries.withSessionIndex]]).
    * `tieBreak` is REQUIRED (pass None explicitly only when `tsCol` is
    * provably unique per user): without a total order, timestamp ties
    * make `lag` — and therefore session counts — nondeterministic
    * across runs. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gap: String, tieBreak: Option[String]): DataFrame =
    graft.analytics.BehavioralQueries
      .withSessionIndex(events, userCol, tsCol, gap, tieBreak)
      .groupBy(col(userCol))
      .agg(max(col("session_idx")).as("n_sessions"),
        count(lit(1)).as("n_events"))

  /** Top-k rows per group by the given ordering. The row number is
    * appended as `rank`; a pre-existing `rank` column is rejected
    * rather than silently overwritten. */
  def topKPerGroup(df: DataFrame, groupCol: String, k: Int,
      order: Column*): DataFrame = {
    require(!df.columns.contains("rank"),
      "input already has a 'rank' column — rename it before topKPerGroup")
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def stdEvents(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame =
    events.select(col(userCol).as("user_id"), col(tsCol).as("ts"),
      col(idCol).as("event_id"), col(typeCol).as("event_type"))

  /** Next-event transition matrix (Markov step counts + probabilities)
    * over per-user event sequences — one user shuffle + one window pass,
    * no self-join (the oracle-proven a14 shape). `idCol` breaks
    * timestamp ties deterministically. */
  def eventPaths(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame =
    graft.analytics.PathQueries.a14From(
      stdEvents(events, userCol, tsCol, idCol, typeCol))

  /** Point-in-interval join where BOTH sides are big — Spark's native
    * plan for a bare BETWEEN join is a nested loop. Intervals explode
    * to the `binUnit` bins they cover, points carry their single bin,
    * and the join is an EQUI join on the bin + the exact BETWEEN
    * residual (each pair meets in exactly one bin — no dedup pass).
    * Returns the matched (point × interval) rows; the two frames must
    * not share column names. The oracle-proven j9 shape. */
  def pointInIntervalJoin(points: DataFrame, intervals: DataFrame,
      pointTsCol: String, startCol: String, endCol: String,
      binUnit: String = "hour"): DataFrame =
    graft.analytics.JoinQueries2.pointInIntervalJoin(
      points, intervals, pointTsCol, startCol, endCol, binUnit)

  /** Last-touch conversion attribution: each conversion credits the most
    * recent preceding non-conversion event by the same user within
    * `windowDays` (or "(none)") — the as-of shape as one window pass
    * (the oracle-proven a15 shape). Credited values run through the
    * exact-decimal sum. */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, valueCol: String,
      conversionType: String, windowDays: Int = 7): DataFrame =
    graft.analytics.PathQueries.a15From(
      events.select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(idCol).as("event_id"), col(typeCol).as("event_type"),
        col(valueCol).as("value")),
      conversionType, windowDays)

  /** Time-to-convert distribution: per user the first `fromType` and
    * first subsequent `toType`, then exact p50/p90/mean of the latency
    * in minutes (the oracle-proven a19 shape — exact long-micros
    * deltas, one double division). */
  def timeToConvert(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String): DataFrame =
    graft.analytics.BehavioralQueries.a19From(
      events.select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(typeCol).as("event_type")),
      fromType, toType)

  /** Next-event prediction examples over per-user ordered histories
    * (the oracle-proven sq1 shape): ≤C previous types as context, the
    * current type as label. One hash-by-user shuffle. */
  def nextEventExamples(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    graft.analytics.SequenceQueries.sq1From(
      stdEvents(events, userCol, tsCol, idCol, typeCol))

  /** Deterministic negative samples per event (the oracle-proven sq2
    * shape): M label-excluded types drawn by md5-ranking the broadcast
    * type vocabulary — reproducible under retries, no event-side
    * shuffle. */
  def negativeSamples(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    graft.analytics.SequenceQueries.sq2From(
      stdEvents(events, userCol, tsCol, idCol, typeCol))

  /** Session-scoped next-event examples (the oracle-proven sq3 shape):
    * [[nextEventExamples]] with the context window RESET at every
    * session gap (>[[graft.analytics.BehavioralQueries.SessionGapMinutes]]
    * minutes), each row carrying its 1-based session index. Same single
    * user shuffle; the streaming twin is
    * [[graft.streaming.SequenceState.sessionExamples]]. */
  def sessionEventExamples(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String): DataFrame =
    graft.analytics.SequenceQueries.sq3From(
      stdEvents(events, userCol, tsCol, idCol, typeCol))

  /** Data-driven (Markov removal-effect) attribution — the upgrade
    * over [[lastTouchAttribution]]'s positional rule: per channel, the
    * drop in 12-step truncated conversion probability when journeys
    * through it are cut, normalized to shares (the oracle-proven a22
    * shape; journeys split at conversions). */
  def markovAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String,
      conversionType: String): DataFrame =
    graft.analytics.PathQueries.a22From(
      stdEvents(events, userCol, tsCol, idCol, typeCol), conversionType)
}
