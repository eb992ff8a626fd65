package graft.analytics

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layout/profiling operators: the Z-order write must actually deliver
  * the locality zo1 measures, and prof1 must profile in ONE table scan. */
class LayoutQueriesSpec extends SparkSpec {

  private lazy val events = Tables(spark, sf(), "events")

  test("zo1: z-order buckets are narrow in BOTH dimensions vs a time sort") {
    import spark.implicits._
    val audit = LayoutQueries.zo1From(events)
      .agg(avg($"u_span").as("u"), avg($"t_span_us").as("t"))
      .head()
    val bounds = events
      .agg((max($"user_id") - min($"user_id")).cast("double"),
        (unix_micros(max($"ts".cast("timestamp"))) -
          unix_micros(min($"ts".cast("timestamp")))).cast("double"))
      .head()
    // a time-only sort leaves every bucket's user span ≈ the full user
    // range; the Morton buckets must be far narrower on both axes
    assert(audit.getDouble(0) < bounds.getDouble(0) / 4,
      s"user span not clustered: ${audit.getDouble(0)} vs full ${bounds.getDouble(0)}")
    assert(audit.getDouble(1) < bounds.getDouble(1) / 4,
      s"time span not clustered: ${audit.getDouble(1)} vs full ${bounds.getDouble(1)}")
  }

  test("zorderWrite: row-preserving, schema-preserving, and every file is narrow") {
    import spark.implicits._
    val out = graft.TempDirs.scratch("zorder").toString
    LayoutQueries.zorderWrite(events, numFiles = 8)
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() === events.count())
    assert(back.columns.sorted.toSeq === events.columns.sorted.toSeq)
    // per-file min/max width on user_id: the pruning statistic a reader
    // uses. With 10-bit codes over 8 files every file must span far less
    // than the full user range (time-only sort would give ~full range).
    val full = events.agg(max($"user_id") - min($"user_id")).head().getLong(0)
    val spans = back
      .withColumn("f", input_file_name())
      .groupBy($"f").agg((max($"user_id") - min($"user_id")).as("span"))
      .agg(avg($"span")).head().getDouble(0)
    assert(spans < full / 2.0, s"files not user-clustered: avg span $spans of $full")
  }

  test("zorderWrite: a user×time box overlaps every arrival-order file " +
    "but at most half of the z-ordered files; rows are preserved exactly") {
    import spark.implicits._
    val numFiles = 16
    val base = graft.TempDirs.scratch("zorder-box").toString
    // arrival order: the append layout, clustered by time
    events.repartitionByRange(numFiles, $"ts").sortWithinPartitions($"ts")
      .write.parquet(s"$base/arrival")
    LayoutQueries.zorderWrite(events, numFiles).write.parquet(s"$base/zorder")

    // clustering is a permutation, not a transformation
    val zorder = spark.read.parquet(s"$base/zorder")
    assert(zorder.collect().map(_.toSeq).toSet ==
      events.collect().map(_.toSeq).toSet)
    assert(zorder.count() == events.count())

    // the busiest user over the month less a day at each end: every
    // time-sorted file still holds some of the band and of the user
    val user = events.groupBy($"user_id").count()
      .orderBy(desc("count"), $"user_id").head().getLong(0)
    val band = events.agg(min($"ts") + expr("INTERVAL 1 DAY"),
      max($"ts") - expr("INTERVAL 1 DAY")).head()
    val (lo, hi) = (band.get(0), band.get(1))
    // per-file min/max: the footer stats a pushed filter consults
    def overlapping(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min($"user_id").as("umin"), max($"user_id").as("umax"),
          min($"ts").as("tmin"), max($"ts").as("tmax"))
        .filter($"umin" <= user && $"umax" >= user &&
          $"tmin" <= lit(hi) && $"tmax" >= lit(lo))
        .count()
    val arrivalHit = overlapping(s"$base/arrival")
    val zHit = overlapping(s"$base/zorder")
    assert(arrivalHit == numFiles.toLong,
      s"expected the arrival layout to overlap everywhere, got $arrivalHit")
    assert(zHit * 2 <= arrivalHit,
      s"z-order should halve the candidate files at worst: $zHit vs $arrivalHit")
    // and the box's rows are intact through the layout
    def inBox(df: DataFrame) =
      df.filter($"user_id" === user && $"ts".between(lit(lo), lit(hi))).count()
    assert(inBox(zorder) == inBox(events) && inBox(events) > 0)
  }

  test("zorderWrite: a constant clustering column divides by nothing " +
    "and keeps every row") {
    import spark.implicits._
    val oneUser = spark.range(0, 1000).select($"id", lit(7L).as("user_id"),
      timestamp_seconds($"id" * 60).as("ts"))
    val oneCell = oneUser.withColumn("ts", timestamp_seconds(lit(0L)))
    for (df <- Seq(oneUser, oneCell)) {
      val ids = LayoutQueries.zorderWrite(df, numFiles = 4)
        .select($"id").as[Long].collect().sorted.toSeq
      assert(ids == (0L until 1000L))
    }
  }

  test("prof1: exact pass Expands count buffers only — every HLL aggregate " +
    "lives in its own single-group pass, never above the Expand") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = LayoutQueries.prof1From(events)
    val plan = df.queryExecution.sparkPlan
    // the exact multi-distinct pass must still be the one-scan Expand
    assert(plan.find { case _: ExpandExec => true; case _ => false }.isDefined,
      "exact NDV pass should plan as one Expand scan")
    // the scale contract: an aggregate holding HLL++ sketch buffers must
    // never sit above an Expand — that shape materializes one ~16 KB
    // buffer per (gid, distinct-value) group (measured ~100 s on 100k
    // rows); the sketch pass is a single-group aggregate with exactly
    // six sketches in the whole job
    plan.collect {
      case h: BaseAggregateExec
        if h.aggregateExpressions.exists(
          _.toString.contains("hll_sketch_agg")) => h
    }.foreach { h =>
      assert(h.find { case _: ExpandExec => true; case _ => false }.isEmpty,
        s"HLL aggregate sits above an Expand — the prof1 pathology is back:\n$h")
    }
    // the two 1-row frames meet in a broadcast join, never a shuffle
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "sketch frame must broadcast into the exact frame")
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === 6)
    val total = rows("event_id").getLong(1) + rows("event_id").getLong(2)
    rows.values.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === total, s"null+nonnull != total for ${r.getString(0)}")
      assert(r.getBoolean(4), s"sketch out of bound for ${r.getString(0)}")
    }
  }

  test("prof1_served: no Expand anywhere — one scan, one single-group " +
    "aggregate, six sketches total") {
    import org.apache.spark.sql.execution.ExpandExec
    val df = LayoutQueries.prof1ServedFrom(events)
    val plan = df.queryExecution.sparkPlan
    assert(plan.find { case _: ExpandExec => true; case _ => false }.isEmpty,
      "served profiler must not Expand — no count(DISTINCT) at scale")
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "served profiler is a single pass, no joins")
    val rows = df.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size === 6)
    rows.values.foreach { r =>
      assert(r.getBoolean(3), s"andv_positive violated for ${r.getString(0)}")
      assert(r.getBoolean(4), s"andv_le_rows violated for ${r.getString(0)}")
    }
    // served null accounting agrees with the exact audit
    val exact = LayoutQueries.prof1From(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { case (c, r) =>
      assert((r.getLong(1), r.getLong(2)) === exact(c),
        s"served counts diverge from audit for $c")
    }
  }

  test("prof2: a null burst and an enum explosion in the NEW half flag " +
    "drifted; stable columns do not") {
    import spark.implicits._
    // 200 events over 200 minutes; the second half (ts past midpoint):
    // event_type explodes 4 → 40 values and value goes 60% null
    val rows = (0 until 200).map { i =>
      val newHalf = i >= 100
      (s"e$i",
        new java.sql.Timestamp(1767225600000L + i * 60000L),
        i.toLong % 20,
        if (newHalf) s"t${i % 40}" else s"t${i % 4}",
        if (newHalf && i % 10 < 6) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(i.toDouble))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = LayoutQueries.prof2From(rows).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size == 5) // props absent from this frame — facade filter
    assert(out("event_type").getAs[Boolean]("drifted"),
      "enum explosion (NDV ratio 10) must flag")
    assert(out("value").getAs[Boolean]("drifted"),
      "null burst (rate 0 -> 0.6) must flag")
    assert(!out("user_id").getAs[Boolean]("drifted"), "stable key flagged")
    assert(!out("event_id").getAs[Boolean]("drifted"), "stable id flagged")
    val vt = out("value")
    assert(vt.getAs[Double]("null_rate_a") == 0.0 &&
      vt.getAs[Double]("null_rate_b") == 0.6)
    assert(out("event_type").getAs[Double]("ndv_ratio") == 10.0)
  }

  test("zorderWrite: fails fast when a scratch name collides with a column") {
    import spark.implicits._
    val clash = events.withColumn("__zo_zval", lit(1))
    val e = intercept[IllegalArgumentException] {
      LayoutQueries.zorderWrite(clash, numFiles = 2)
    }
    assert(e.getMessage.contains("__zo_zval"))
  }
}
