package graft.store

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental materialized views over an append-only event store — the
  * reference's pre-computed query surface (rakam-presto/src/main/java/org/
  * rakam/presto/analysis/PrestoMaterializedViewService.java materializes a
  * view query into a table and, in "incremental" mode, folds in only the
  * rows beyond the last refresh point instead of re-running the view over
  * history).
  *
  * Spark-first re-expression: the view persists ALGEBRAIC PARTIAL STATE —
  * per group: row count, and per value column an exact decimal sum,
  * non-null count, min, and max. A refresh partial-aggregates the DELTA
  * batch (one shuffle sized by the delta, map-side combined) and merges it
  * with the state frame, whose size is |groups|, never |history rows|.
  * Reads finalize on the way out (avg = decimal sum / count in double
  * space, the [[graft.analytics.davg]] parity formula), so the served
  * result is bit-identical to recomputing the aggregate over the full
  * history — proven per append in MaterializedViewSpec and against the
  * DuckDB oracle by mv1_incremental.
  *
  * 100 TB posture: refresh cost is O(delta) + O(|groups|) regardless of
  * how much history the view already covers; all five state aggregates
  * are commutative+associative, so merge order (and therefore partition
  * layout and replayed batch boundaries) cannot change the result.
  *
  * The persisted state is a [[MergedState]]: [[maintain]] is the
  * reference's continuous query (rakam's PreCalculateQuery /
  * materialized-view refresh loop) over a stream. The batch fence is
  * load-bearing here: a replayed micro-batch re-merged into the sums
  * and counts would double them for good.
  */
final class MaterializedView(
    val groupCols: Seq[String], val valueCols: Seq[String],
    val distinctCols: Seq[String] = Nil,
    val quantileCols: Seq[String] = Nil) extends MergedState {
  import MaterializedView._
  import graft.functions.KllQuantiles.{kllSketchAgg, kllMergeAgg, kllQuantile}

  private def groupExprs: Seq[Column] = groupCols.map(col)

  /** Partial state of one batch: the only pass that sees raw rows.
    * Distinct counts ride as Datasketches HLL binaries — constant-size,
    * union-mergeable state, the only way "distinct users per day" can
    * refresh from deltas without keeping every user id in the view. */
  def partial(batch: DataFrame): DataFrame = {
    val aggs = (count(lit(1)).as(RowCount) +: valueCols.flatMap { c =>
      Seq(
        sum(col(c).cast(Dec)).as(s"__sum_$c"),
        count(col(c)).as(s"__cnt_$c"),
        min(col(c)).as(s"__min_$c"),
        max(col(c)).as(s"__max_$c"))
    }) ++ distinctCols.map(c => hll_sketch_agg(col(c)).as(s"__hll_$c")) ++
      quantileCols.map(c =>
        kllSketchAgg(col(c).cast("double")).as(s"__kll_$c"))
    batch.groupBy(groupExprs: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge any number of partial-state frames — re-aggregation over
    * |groups|-sized inputs (sum/sum/min/max/HLL-union are all
    * mergeable). */
  def merge(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state frame")
    val aggs = (sum(col(RowCount)).as(RowCount) +: valueCols.flatMap { c =>
      Seq(
        sum(col(s"__sum_$c")).as(s"__sum_$c"),
        sum(col(s"__cnt_$c")).as(s"__cnt_$c"),
        min(col(s"__min_$c")).as(s"__min_$c"),
        max(col(s"__max_$c")).as(s"__max_$c"))
    }) ++ distinctCols.map(c => hll_union_agg(col(s"__hll_$c")).as(s"__hll_$c")) ++
      quantileCols.map(c => kllMergeAgg(col(s"__kll_$c")).as(s"__kll_$c"))
    states.reduce(_.unionByName(_))
      .groupBy(groupExprs: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Finalize state into the served view. */
  def result(state: DataFrame): DataFrame = {
    val outs = (col(RowCount).as("n_rows") +: valueCols.flatMap { c =>
      Seq(
        col(s"__sum_$c").cast("double").as(s"sum_$c"),
        (col(s"__sum_$c").cast("double") / col(s"__cnt_$c")).as(s"avg_$c"),
        col(s"__min_$c").as(s"min_$c"),
        col(s"__max_$c").as(s"max_$c"))
    }) ++ distinctCols.map(c =>
      hll_sketch_estimate(col(s"__hll_$c")).as(s"approx_distinct_$c")) ++
      quantileCols.flatMap(c => Seq(
        kllQuantile(col(s"__kll_$c"), 0.5).as(s"approx_p50_$c"),
        kllQuantile(col(s"__kll_$c"), 0.95).as(s"approx_p95_$c")))
    state.select(groupExprs ++ outs: _*)
  }

  /** Serve the view from the persisted state. */
  def read(spark: SparkSession, path: String): DataFrame =
    result(VersionedState.readCurrent(spark, path))
}

object MaterializedView {
  private[store] val RowCount = "__n"
  private[store] val Dec = DecimalType(38, 6)


  /** MV1: the incremental-refresh contract against the oracle — state
    * built from the first half of the month, the second half merged in as
    * a delta, and the FINALIZED view must equal the plain one-shot
    * aggregate over all events (which is exactly what the oracle runs). */
  def mv1Incremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val mv = new MaterializedView(Seq("event_type"), Seq("value"))
    val state = mv.partial(ev.filter(dayofmonth(col("ts")) <= 15))
    val merged = mv.merge(state, mv.partial(ev.filter(dayofmonth(col("ts")) > 15)))
    mv.result(merged)
  }

  /** MV2: the HLL distinct state through the oracle gate (the a5
    * error-bound convention — the sketch is engine-specific, so the
    * oracle-checked quantity is the GUARANTEE): distinct users per
    * event_type served from an INCREMENTALLY refreshed view must land
    * within the sketch bound of the exact count, which DuckDB computes
    * independently. */
  def mv2DistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val mv = new MaterializedView(Seq("event_type"), Nil, Seq("user_id"))
    val served = mv.result(mv.merge(
      mv.partial(ev.filter(dayofmonth(col("ts")) <= 15)),
      mv.partial(ev.filter(dayofmonth(col("ts")) > 15))))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    served.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("approx_distinct_user_id") - col("n_users_exact")) <=
          greatest(col("n_users_exact") * 0.05, lit(5.0))).as("within_bound"))
  }

  /** MV3: KLL quantile state through the oracle gate (the a5/mv2
    * error-bound convention): p50/p95 served from an INCREMENTALLY
    * refreshed view must land inside the sketch's normalized-RANK
    * error window of the exact distribution — i.e. between the exact
    * quantiles at rank q ± 2ε — which DuckDB verifies independently
    * via its own exact quantiles (bit-matching Spark's `percentile`,
    * the a8-proven parity). */
  def mv3QuantileKll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val mv = new MaterializedView(Seq("event_type"), Nil, Nil, Seq("value"))
    val served = mv.result(mv.merge(
      mv.partial(ev.filter(dayofmonth(col("ts")) <= 15)),
      mv.partial(ev.filter(dayofmonth(col("ts")) > 15))))
    val eps = 2 * graft.functions.KllQuantiles.rankError(200)
    val exact = ev.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.5)").as("p50_exact"),
      expr("percentile(value, 0.95)").as("p95_exact"),
      expr(s"percentile(value, ${0.5 - eps})").as("p50_lo"),
      expr(s"percentile(value, ${0.5 + eps})").as("p50_hi"),
      expr(s"percentile(value, ${0.95 - eps})").as("p95_lo"),
      expr(s"percentile(value, ${math.min(1.0, 0.95 + eps)})").as("p95_hi"))
    served.join(exact, Seq("event_type"))
      .select(col("event_type"), col("p50_exact"), col("p95_exact"),
        (col("approx_p50_value").between(col("p50_lo"), col("p50_hi")))
          .as("p50_within"),
        (col("approx_p95_value").between(col("p95_lo"), col("p95_hi")))
          .as("p95_within"))
  }

  val mv3Sql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50_exact,
      |  quantile_cont(value, 0.95) AS p95_exact,
      |  TRUE AS p50_within, TRUE AS p95_within
      |FROM events GROUP BY event_type""".stripMargin

  val mv2Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  val mv1Sql: String = {
    import graft.analytics.{sqlDavg, sqlDsum}
    s"""SELECT event_type, count(*) AS n_rows,
       |  ${sqlDsum("value")} AS sum_value,
       |  ${sqlDavg("value")} AS avg_value,
       |  min(value) AS min_value, max(value) AS max_value
       |FROM events GROUP BY event_type""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "mv1_incremental" -> QueryDef.of(mv1Sql)(mv1Incremental),
    "mv2_distinct_hll" -> QueryDef.of(mv2Sql)(mv2DistinctHll),
    "mv3_quantile_kll" -> QueryDef.of(mv3Sql)(mv3QuantileKll))
}
