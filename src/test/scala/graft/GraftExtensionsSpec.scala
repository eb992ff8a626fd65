package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The session-extension surface: SQL registration of the native
  * expressions, and the binned interval-join optimizer rule — plan shape,
  * result parity with the nested loop, and the broadcast-size guard. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a NEW session built with GraftExtensions (getOrCreate
    * would reuse the suite-shared one, which was built without them); the
    * SparkContext is shared, so the session must not be stopped — just
    * unset as default after. */
  private def withExtSession(f: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val builder = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // programmatic form — `spark.sql.extensions` is a static conf and
      // would be ignored once another suite created the first session
      .withExtensions(new GraftExtensions())
    // on the builder, static confs included: when this suite is the
    // first in its JVM to compile, the codegen cache is sized here, and
    // a default-sized cache evicts what later suites in the JVM
    // (HttpGatewaySpec's steady-state collects) expect to stay compiled
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      f(spark)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("hyperplane_signature registers and matches the DataFrame API") {
    withExtSession { spark =>
      Tables(spark, "/root/testdata/sf0.001", "embeddings")
        .createOrReplaceTempView("emb_ext")
      val viaSql = spark.sql(
        "SELECT vec_id, hyperplane_signature(embedding) AS sig FROM emb_ext")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaApi = Tables(spark, "/root/testdata/sf0.001", "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          analytics.SimilarityQueries.signature(
            org.apache.spark.sql.functions.col("embedding")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaSql == viaApi && viaSql.nonEmpty)
      // arity is enforced
      intercept[Exception](spark.sql("SELECT hyperplane_signature(1, 2)").collect())
    }
  }

  test("vector_dot / vector_sqdist register and match the expressions") {
    withExtSession { spark =>
      Tables(spark, "/root/testdata/sf0.001", "embeddings")
        .createOrReplaceTempView("emb_vf")
      val viaSql = spark.sql(
        """SELECT vec_id,
          |  vector_dot(embedding, embedding) AS d,
          |  vector_sqdist(embedding, embedding) AS s
          |FROM emb_vf""".stripMargin)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      import org.apache.spark.sql.functions.col
      val viaApi = Tables(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id"),
          column(graft.functions.VectorDot(
            expression(col("embedding")), expression(col("embedding")))).as("d"),
          column(graft.functions.VectorSqDist(
            expression(col("embedding")), expression(col("embedding")))).as("s"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(viaSql == viaApi && viaSql.nonEmpty)
      // self sqdist is exactly zero
      assert(viaSql.values.forall(_._2 == 0.0))
      intercept[Exception](spark.sql("SELECT vector_dot(array(1.0))").collect())
    }
  }

  test("phrase_count registers; phrase must be a literal") {
    withExtSession { spark =>
      val got = spark.sql(
        """SELECT phrase_count(split('a b a b a', ' '), 'a b a') AS n,
          |  phrase_count(split('x y', ' '), 'a b a') AS zero,
          |  phrase_count(split('a', ' '), 'a b a') AS short""".stripMargin)
        .collect()(0)
      assert(got.getLong(0) == 2L && got.getLong(1) == 0L &&
        got.getLong(2) == 0L)
      intercept[Exception](spark.sql(
        "SELECT phrase_count(split('a b', ' '), concat('a', rand()))").collect())
    }
  }

  // ---------------- binned interval-join rule ----------------

  /** Points every 7 min; intervals every 53 min spanning 90 min — plus a
    * degenerate end<start interval (must produce no rows, not a sequence()
    * error) and a null-end interval (BETWEEN is null → dropped). */
  private def frames(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val points = spark.range(0, 500).select($"id".as("p_id"),
      expr("timestamp_ntz'2024-03-01 00:00:00' + id * INTERVAL '7' MINUTE")
        .as("p_ts"))
    val intervals = spark.range(0, 80).select($"id".as("iv_id"),
      expr("timestamp_ntz'2024-03-01 00:00:00' + id * INTERVAL '53' MINUTE")
        .as("start_ts"))
      .withColumn("end_ts",
        when($"iv_id" === 77, $"start_ts" - expr("INTERVAL '2' HOUR"))
          .when($"iv_id" === 78, lit(null).cast("timestamp_ntz"))
          .otherwise($"start_ts" + expr("INTERVAL '90' MINUTE")))
    (points, intervals)
  }

  private def joined(spark: SparkSession): DataFrame = {
    val (points, intervals) = frames(spark)
    import org.apache.spark.sql.functions.col
    points.join(intervals,
      col("p_ts") >= col("start_ts") && col("p_ts") <= col("end_ts"))
  }

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("interval-join rule: binned equi join replaces the nested loop, " +
    "same rows") {
    withExtSession { spark =>
      // neither side is broadcastable → without the rule this is a
      // CartesianProduct / BNLJ
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val loop = joined(spark)
        val loopPlan = physical(loop)
        assert(loopPlan.contains("CartesianProduct") ||
          loopPlan.contains("BroadcastNestedLoopJoin"),
          s"expected a nested-loop baseline, got:\n$loopPlan")
        val expected = loop.collect().map(_.toSeq).toSet

        spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        val binned = joined(spark)
        val plan = physical(binned)
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"rule did not remove the nested loop:\n$plan")
        assert(plan.contains("Generate"), s"no interval explode in:\n$plan")
        val actual = binned.collect().map(_.toSeq).toSet
        assert(actual == expected && expected.nonEmpty)
        // every non-degenerate interval matched at least one point; the
        // degenerate and null intervals matched none
        val ivs = binned.select("iv_id").collect().map(_.getLong(0)).toSet
        assert(!ivs.contains(77L) && !ivs.contains(78L))
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.graft.intervalJoin.enabled")
      }
    }
  }

  test("interval-join rule: strict bounds and residual conjuncts keep " +
    "nested-loop semantics") {
    withExtSession { spark =>
      import org.apache.spark.sql.functions.col
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (points, intervals) = frames(spark)
        def q() = points.join(intervals,
          col("p_ts") > col("start_ts") && col("p_ts") < col("end_ts") &&
            col("p_id") % 3 === col("iv_id") % 3)
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val expected = q().collect().map(_.toSeq).toSet
        spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        val df = q()
        val plan = physical(df)
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"), plan)
        assert(df.collect().map(_.toSeq).toSet == expected && expected.nonEmpty)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.graft.intervalJoin.enabled")
      }
    }
  }

  test("interval-join rule: DATE-typed bounds bin by day") {
    withExtSession { spark =>
      import org.apache.spark.sql.functions._
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        import spark.implicits._
        val points = spark.range(0, 300).select($"id".as("p_id"),
          expr("date_add(DATE'2024-03-01', CAST(id % 90 AS INT))").as("p_d"))
        val intervals = spark.range(0, 40).select($"id".as("iv_id"),
          expr("date_add(DATE'2024-03-01', CAST(id * 2 AS INT))").as("s_d"))
          .withColumn("e_d", expr("date_add(s_d, 6)"))
        def q() = points.join(intervals,
          col("p_d") >= col("s_d") && col("p_d") <= col("e_d"))
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val expected = q().collect().map(_.toSeq).toSet
        spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        val df = q()
        val plan = physical(df)
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"), plan)
        assert(plan.contains("Generate"), plan)
        assert(df.collect().map(_.toSeq).toSet == expected && expected.nonEmpty)
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.graft.intervalJoin.enabled")
      }
    }
  }

  test("interval-join rule: day bins survive a DST transition in a " +
    "non-UTC session zone (zone-independent bin key)") {
    withExtSession { spark =>
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // America/Los_Angeles springs forward 2024-03-10 02:00 → day bins
      // derived from local midnight sit 23/25 h apart there; local-trunc
      // binning skips a midnight and silently drops matches
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      spark.conf.set("spark.graft.intervalJoin.unit", "day")
      try {
        // LTZ points every 6 h across the transition; intervals start
        // every 16 h and span 36 h
        val points = spark.range(0, 24).select($"id".as("p_id"),
          expr("timestamp'2024-03-08 00:00:00' + id * INTERVAL '6' HOUR")
            .as("p_ts"))
        val intervals = spark.range(0, 8).select($"id".as("iv_id"),
          expr("timestamp'2024-03-08 00:00:00' + id * INTERVAL '16' HOUR")
            .as("start_ts"))
          .withColumn("end_ts", $"start_ts" + expr("INTERVAL '36' HOUR"))
        def q() = points.join(intervals,
          col("p_ts") >= col("start_ts") && col("p_ts") <= col("end_ts"))
        spark.conf.set("spark.graft.intervalJoin.enabled", "false")
        val expected = q().collect().map(_.toSeq).toSet
        spark.conf.set("spark.graft.intervalJoin.enabled", "true")
        val df = q()
        val plan = physical(df)
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"), plan)
        assert(plan.contains("Generate"), plan)
        assert(df.collect().map(_.toSeq).toSet == expected && expected.nonEmpty,
          "binned join dropped rows across the DST transition")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.graft.intervalJoin.enabled")
        spark.conf.unset("spark.graft.intervalJoin.unit")
        spark.conf.set("spark.sql.session.timeZone", prevTz)
      }
    }
  }

  test("interval-join rule: a broadcastable small side keeps its BNLJ " +
    "(size guard), force overrides") {
    withExtSession { spark =>
      // default 10 MB threshold: both test frames are tiny, so the
      // existing broadcast nested loop is the better plan — rule must
      // NOT fire (the j2 dim-range-lookup shape).
      val guarded = physical(joined(spark))
      assert(guarded.contains("BroadcastNestedLoopJoin"),
        s"size guard should have kept the BNLJ:\n$guarded")
      try {
        spark.conf.set("spark.graft.intervalJoin.force", "true")
        val forced = physical(joined(spark))
        assert(!forced.contains("BroadcastNestedLoopJoin"), forced)
        assert(forced.contains("Generate"), forced)
      } finally spark.conf.unset("spark.graft.intervalJoin.force")
    }
  }

  test("interval-join rule: equi-keyed joins and hinted joins are " +
    "untouched") {
    withExtSession { spark =>
      import org.apache.spark.sql.functions._
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (points, intervals) = frames(spark)
        // an equi key exists → planner hash-joins; rule must not rewrite
        // (no Generate in the plan)
        val equi = points.join(intervals,
          points("p_id") === intervals("iv_id") &&
            col("p_ts") >= col("start_ts") && col("p_ts") <= col("end_ts"))
        assert(!physical(equi).contains("Generate"))
        // an explicit broadcast hint is the user's call — untouched
        val hinted = points.join(broadcast(intervals),
          col("p_ts") >= col("start_ts") && col("p_ts") <= col("end_ts"))
        assert(physical(hinted).contains("BroadcastNestedLoopJoin"))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
