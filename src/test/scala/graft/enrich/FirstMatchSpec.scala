package graft.enrich

import graft.SparkSpec
import graft.analytics.MapperQueries
import graft.functions.{FirstMatch, RuleTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The rule-table kernel against the expression it replaces: for each
  * of the four [[UaRules]] tables, [[FirstMatch]] must give, row by
  * row, the index the reference chain
  * `CASE WHEN s RLIKE p0 THEN 0 WHEN s RLIKE p1 THEN 1 … ELSE -1 END`
  * gives — on generated code and on the interpreted path. The inputs
  * are the mapper fixtures (whose first matches cover every rule, as
  * [[RuleLintSpec]] pins), a null and a string no rule matches. */
class FirstMatchSpec extends SparkSpec {
  import spark.implicits._

  private val NoMatch = "zzzz"

  /** The reference: one `rlike` branch per rule, first match wins. */
  private def rlikeChain(s: Column, patterns: Seq[String]): Column =
    patterns.zipWithIndex.tail.foldLeft(when(s.rlike(patterns.head), 0)) {
      case (acc, (p, i)) => acc.when(s.rlike(p), i)
    }.otherwise(-1)

  private def uaInputs: DataFrame =
    spark.sparkContext.parallelize(
      MapperQueries.uaSamples ++ Seq(null, NoMatch, ""), 3).toDF("s")

  /** Hosts exactly as the referrer mapper stages them. */
  private def hostInputs: DataFrame =
    spark.sparkContext.parallelize(MapperQueries.refSamples, 3).toDF("url")
      .select(lower(nullif(try_parse_url($"url", lit("HOST")), lit(""))).as("s"))
      .union(Seq[String](null, NoMatch).toDF("s"))

  private val tables: Seq[(String, RuleTable, () => DataFrame)] = Seq(
    ("browsers", UaRules.browserTable, () => uaInputs),
    ("oses", UaRules.osTable, () => uaInputs),
    ("devices", UaRules.deviceTable, () => uaInputs),
    ("referers", UaRules.refererTable, () => hostInputs))

  private def assertAgrees(generated: Boolean): Unit = tables.foreach {
    case (name, table, inputs) =>
      val out = inputs().select($"s", FirstMatch($"s", table).as("k"),
        rlikeChain($"s", table.patterns).as("ref"))
      val stages = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(stages.exists(_.doCodeGen()._2.body.contains(".firstMatch(")) == generated,
        s"$name: kernel in generated code should be $generated")
      val rows = out.collect().map(r => (Option(r.getString(0)), r.getInt(1), r.getInt(2)))
      val wrong = rows.filter { case (_, k, ref) => k != ref }
      assert(wrong.isEmpty, s"$name: kernel != rlike chain on ${wrong.take(5).toSeq}")
      val onNull = rows.collect { case (None, k, _) => k }
      assert(onNull.nonEmpty && onNull.forall(_ == -1), s"$name: null input")
      assert(rows.collect { case (Some(NoMatch), k, _) => k }.toSeq == Seq(-1), s"$name: no-match input")
      val missed = table.patterns.indices.toSet -- rows.map(_._2)
      assert(missed.isEmpty, s"$name: rules no input hit: ${missed.toSeq.sorted}")
  }

  test("first_match equals the rlike chain on every table: generated code") {
    assertAgrees(generated = true)
  }

  test("first_match equals the rlike chain on every table: interpreted path") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assertAgrees(generated = false)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def kernels(df: DataFrame): Seq[FirstMatch] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case f: FirstMatch => f
    }))

  test("two mapper applications share one compiled table per rule table") {
    val a = kernels(UserAgentMapper(Seq("a").toDF("_user_agent")))
    val b = kernels(UserAgentMapper(Seq("b", "c").toDF("_user_agent")))
    assert(a.map(_.table.name) == Seq("browsers", "oses", "devices"))
    assert(a.zip(b).forall { case (x, y) => (x.table eq y.table) &&
      (x.table.compiled eq y.table.compiled) })
    // equal by table identity, so cached-plan lookups still match
    assert(a == b.map(_.copy(child = a.head.child)))
  }

  test("a deserialized kernel resolves to the JVM's compiled table") {
    val k = FirstMatch(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), UaRules.refererTable)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(k); out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[FirstMatch]
    assert(back.table eq UaRules.refererTable)
    assert(back.table.compiled eq UaRules.refererTable.compiled)
    assert(back == k)
  }

  test("first_match prints short") {
    val k = kernels(ReferrerMapper()(Seq("https://www.google.com/").toDF("_referrer")))
    assert(k.map(_.toString).exists(_.matches(
      """first_match\(__ref_host#\d+, referers\[\d+\]\)""")), k.map(_.toString))
  }
}
