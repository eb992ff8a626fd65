package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialized-view contract: incrementally refreshed state serves
  * exactly what a full recompute over history would — per append, across
  * a persisted restart, for empty deltas and late-appearing groups. */
class MaterializedViewSpec extends SparkSpec {

  private def events: DataFrame =
    graft.Tables(spark, sf(), "events")

  private def mv = new MaterializedView(Seq("event_type"), Seq("value"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def full(of: DataFrame): Set[Seq[Any]] =
    rows(mv.result(mv.partial(of)))

  test("merging per-day deltas equals the one-shot aggregate") {
    val ev = events
    val days = Seq(ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
      ev.filter(dayofmonth(col("ts")) > 20))
    // the three slices really partition the input
    assert(days.map(_.count()).sum == ev.count())
    val incremental = mv.result(days.map(mv.partial).reduce(mv.merge(_, _)))
    assert(rows(incremental) == full(ev) && full(ev).nonEmpty)
  }

  test("an empty delta is a no-op and a new group appears on merge") {
    val ev = events
    val base = mv.partial(ev)
    val emptyDelta = mv.partial(ev.filter(lit(false)))
    assert(rows(mv.result(mv.merge(base, emptyDelta))) == full(ev))
    import spark.implicits._
    val late = ev.limit(3)
      .withColumn("event_type", lit("brand_new_type"))
    val merged = mv.result(mv.merge(base, mv.partial(late)))
    val gained = rows(merged) -- full(ev)
    assert(gained.map(_.head) == Set("brand_new_type"))
    assert(rows(merged).size == full(ev).size + 1)
  }

  test("avg denominator is the non-null count, not the row count") {
    import spark.implicits._
    val df = Seq(("a", Some(2.0)), ("a", None), ("a", Some(4.0)))
      .toDF("event_type", "value")
    val out = mv.result(mv.partial(df)).collect().head
    assert(out.getAs[Long]("n_rows") == 3L)
    assert(out.getAs[Double]("avg_value") == 3.0) // (2+4)/2, not /3
    assert(out.getAs[Double]("sum_value") == 6.0)
  }

  test("HLL distinct state refreshes from deltas: estimate within the " +
    "sketch bound of exact, merge order-insensitive") {
    val ev = events
    val dmv = new MaterializedView(Seq("event_type"), Nil, Seq("user_id"))
    val parts = Seq(ev.filter(dayofmonth(col("ts")) <= 10),
      ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20),
      ev.filter(dayofmonth(col("ts")) > 20)).map(dmv.partial)
    def estimates(df: DataFrame): Map[String, Long] =
      dmv.result(df).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("approx_distinct_user_id"))
        .toMap
    val incremental = estimates(parts.reduce(dmv.merge(_, _)))
    val oneShot = estimates(dmv.partial(ev))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // default lgConfigK=12 → RSE ≈ 1.6%; 5% is a 3σ bound
    for ((k, ex) <- exact) {
      assert(math.abs(incremental(k) - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"$k: incremental ${incremental(k)} vs exact $ex")
      assert(math.abs(oneShot(k) - ex) <= math.max(1L, (ex * 0.05).toLong))
    }
    // union is commutative: any delta order serves the same view
    assert(estimates(Seq(parts(2), parts(0), parts(1))
      .reduce(dmv.merge(_, _))) == incremental)
  }

  test("persisted refresh survives a restart and matches the full " +
    "recompute; the pointer flip keeps old state readable until then") {
    val ev = events
    val dir = graft.TempDirs.scratch("graft-mv").toString
    val first = ev.filter(dayofmonth(col("ts")) <= 10)
    val second = ev.filter(dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20)
    val third = ev.filter(dayofmonth(col("ts")) > 20)
    mv.initialize(first, dir)
    assert(rows(mv.read(spark, dir)) == full(first))
    mv.refresh(spark, second, dir)
    // a "restarted" service: a brand-new instance over the same path
    val mv2 = new MaterializedView(Seq("event_type"), Seq("value"))
    mv2.refresh(spark, third, dir)
    assert(rows(mv2.read(spark, dir)) == full(ev))
    // both superseded versions still exist until a compactor removes
    // them; the pointer names exactly one
    def versions = new java.io.File(dir).list().count(_.startsWith("v="))
    assert(versions == 3)
    // compaction with default grace keeps current + one below
    mv2.compact(dir)
    assert(versions == 2)
    assert(rows(mv2.read(spark, dir)) == full(ev))
    mv2.compact(dir, grace = 0)
    assert(versions == 1)
    assert(rows(mv2.read(spark, dir)) == full(ev))
  }
}
