package graft.streaming

import graft.{SparkSpec, Tables}
import graft.store.MaterializedView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's `PreCalculateQuery` continuous pre-aggregation
  * (AbstractUserService.java:77-86), held by the one maintained path
  * the materialized-view doors run: a [[MaterializedView]] kept
  * current from a stream by `maintain` (or a batch at a time by
  * `maintainBatch`) must serve what the batch aggregate over the same
  * rows serves — after the first batch AND after incremental updates.
  * Distinct users ride the view's HLL state, so they are checked
  * against the exact count within the sketch bound (the mv2
  * convention). */
class PreAggregationSpec extends SparkSpec {

  /** Served view and exact batch aggregate, joined on the group
    * columns: counts must be equal, HLL distinct users within 5% (or
    * 5) of the exact count. */
  private def assertServes(served: DataFrame, batch: DataFrame,
      groups: Seq[String]): Unit = {
    val joined = served.join(batch, groups, "full_outer")
    assert(joined.count() == batch.count() && batch.count() > 0)
    val bad = joined.filter(
      col("n_rows").isNull || col("n_events").isNull ||
        col("n_rows") =!= col("n_events") ||
        abs(col("approx_distinct__user") - col("n_users")) >
          greatest(col("n_users") * 0.05, lit(5.0)))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
  }

  private def events: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    Tables(spark, sf(), "events").select(
      $"event_type".as("_collection"),
      $"ts".cast("timestamp").as("_time"),
      concat(lit("u"), $"user_id").as("_user"),
      $"event_type",
      $"props".as("_payload"))
  }

  /** A stream-maintained view over the events, fed in two file
    * batches; `check` runs after each batch on (view, rows so far). */
  private def maintained(name: String, shape: DataFrame => DataFrame,
      view: MaterializedView)(check: (DataFrame, DataFrame) => Unit): Unit = {
    val in = graft.TempDirs.scratch(s"graft-$name-in").toString
    val state = graft.TempDirs.scratch(s"graft-$name-state").toString
    val ckpt = graft.TempDirs.scratch(s"graft-$name-ckpt").toString
    val ev = events
    val b1 = ev.filter(col("_time") < "2024-01-20")
    b1.write.mode("overwrite").parquet(in)
    val stream = Subscriptions.fileStream(spark, b1.schema, in)
    val q = view.maintain(shape(stream), state)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      check(view.read(spark, state), shape(b1))
      // batch 2 arrives: the view must fold it in incrementally
      ev.filter(col("_time") >= "2024-01-20").write.mode("append").parquet(in)
      q.processAllAvailable()
      check(view.read(spark, state), shape(ev))
    } finally q.stop()
  }

  test("materialized pre-aggregate equals batch segmentation, incrementally") {
    val byDay = (df: DataFrame) =>
      df.withColumn("day", date_trunc("day", col("_time")))
    val view = new MaterializedView(Seq("day", "event_type"), Nil, Seq("_user"))
    maintained("preagg", byDay, view) { (served, rows) =>
      assertServes(served, rows.groupBy("day", "event_type").agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("_user")).as("n_users")), Seq("day", "event_type"))
    }
  }

  test("streaming ingest metrics equal the batch a3 shape, incrementally") {
    val metricsRows = (df: DataFrame) => df.select(
      col("_collection").as("collection"), col("_user"),
      length(col("_payload")).cast("long").as("payload_bytes"))
    val view = new MaterializedView(Seq("collection"), Seq("payload_bytes"),
      Seq("_user"))
    maintained("a3s", metricsRows, view) { (served, rows) =>
      val a3 = rows.groupBy("collection").agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("_user")).as("n_users"),
        sum(col("payload_bytes")).as("payload_bytes"))
      assertServes(served, a3, Seq("collection"))
      val bytes = served.join(a3, Seq("collection"))
        .filter(col("sum_payload_bytes") =!= col("payload_bytes").cast("double"))
      assert(bytes.isEmpty, bytes.collect().mkString("\n"))
    }
    // the full-log state is the oracle-checked a3 query's answer
    val a3 = graft.analytics.PathQueries.a3IngestMetrics(spark, sf())
      .select(col("collection"), col("n_events"), col("payload_bytes"))
    val direct = view.result(view.partial(metricsRows(events)))
      .select(col("collection"), col("n_rows").as("n_events"),
        col("sum_payload_bytes").cast("long").as("payload_bytes"))
    assert(direct.collect().toSet == a3.collect().toSet)
  }

  test("collection filter + approx variant stay within HLL error") {
    val ev = events.withColumn("_collection",
      when(col("_user").endsWith("0") || col("_user").endsWith("2"), "a")
        .otherwise("b"))
    val onlyA = ev.filter(col("_collection") === "a")
      .withColumn("day", date_trunc("day", col("_time")))
    val view = new MaterializedView(Seq("day", "event_type"), Nil, Seq("_user"))
    val state = graft.TempDirs.scratch("graft-preagg-fenced").toString
    // the fenced per-batch call: two deliveries, the second replayed
    view.maintainBatch(onlyA.filter(col("_time") < "2024-01-20"), state, 0L)
    val late = onlyA.filter(col("_time") >= "2024-01-20")
    view.maintainBatch(late, state, 1L)
    view.maintainBatch(late, state, 1L)
    val served = view.read(spark, state)
    // only collection 'a' contributes, once
    assert(served.agg(sum(col("n_rows"))).head().getLong(0) == onlyA.count())
    assertServes(served, onlyA.groupBy("day", "event_type").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("_user")).as("n_users")), Seq("day", "event_type"))
  }
}
