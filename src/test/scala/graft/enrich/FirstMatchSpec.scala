package graft.enrich

import graft.SparkSpec
import graft.analytics.MapperQueries
import graft.functions.{FirstMatch, RuleCapture, RuleTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The rule-table kernels against the expressions they replace: for
  * each of the four [[UaRules]] tables, [[FirstMatch]] must give, row
  * by row, the index the reference chain
  * `CASE WHEN s RLIKE p0 THEN 0 WHEN s RLIKE p1 THEN 1 … ELSE -1 END`
  * gives, and [[RuleCapture]] the `regexp_extract` of the pattern that
  * index picks — on generated code and on the interpreted path. The inputs
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

  private def interpreted(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("first_match equals the rlike chain on every table: interpreted path") {
    interpreted(assertAgrees(generated = false))
  }

  /** (rule index, capture table) pairs as the user-agent mapper reads
    * them: each version table by its detect table's index, the device
    * table by its own, the Android model pattern by index 0. */
  private val captures: Seq[(String, Column, RuleTable)] = Seq(
    ("browser-versions", FirstMatch($"s", UaRules.browserTable), UaRules.browserVersionTable),
    ("os-versions", FirstMatch($"s", UaRules.osTable), UaRules.osVersionTable),
    ("devices", FirstMatch($"s", UaRules.deviceTable), UaRules.deviceTable),
    ("android-model", lit(0), UaRules.androidModelTable))

  /** `rule_capture` against `regexp_extract` of the rule's pattern
    * looked up per row. Rules whose pattern has no group are left out:
    * `regexp_extract` throws on them, and the mapper never asks. */
  private def assertCaptures(generated: Boolean): Unit = captures.foreach {
    case (name, index, table) =>
      val grouped = table.patterns.map(p =>
        p.nonEmpty && java.util.regex.Pattern.compile(p).matcher("").groupCount >= 1)
      val pattern = Mappers.decode($"k", table.patterns.zip(grouped)
        .map { case (p, g) => if (g) p else "" }, "")
      val out = uaInputs.select($"s", index.as("k"))
        .select($"k", RuleCapture($"s", $"k", table).as("c"),
          when(pattern =!= "", call_function("regexp_extract", $"s", pattern, lit(1))).as("ref"))
      val stages = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(stages.exists(_.doCodeGen()._2.body.contains(".capture(")) == generated,
        s"$name: kernel in generated code should be $generated")
      val rows = out.collect().map(r => (r.getInt(0), Option(r.getString(1)), Option(r.getString(2))))
        .filter { case (k, _, _) => k < 0 || table.patterns(k).isEmpty || grouped(k) }
      val wrong = rows.filter { case (_, c, ref) => c != ref }
      assert(wrong.isEmpty, s"$name: rule_capture != regexp_extract on ${wrong.take(5).toSeq}")
      assert(rows.exists(_._2.exists(_.nonEmpty)), s"$name: nothing captured")
  }

  test("rule_capture equals regexp_extract of the rule's pattern: generated code") {
    assertCaptures(generated = true)
  }

  test("rule_capture equals regexp_extract of the rule's pattern: interpreted path") {
    interpreted(assertCaptures(generated = false))
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

  test("the memos answer as the uncached lookups do: repeats, over-long " +
    "inputs and inputs past a full memo") {
    import java.util.regex.Pattern
    import org.apache.spark.unsafe.types.UTF8String
    // tables of their own, so their memos start empty
    val detect = RuleTable("memo-spec", UaRules.browsers.map(_.detect))
    val versions = RuleTable("memo-spec-versions", UaRules.browsers.map(_.version))
    val detectRe = detect.patterns.map(Pattern.compile)
    val versionRe = versions.patterns.map(Pattern.compile)
    def scan(s: String): Int = detectRe.indexWhere(_.matcher(s).find(0))
    def group1(s: String, k: Int): String =
      if (k < 0 || versions.patterns(k).isEmpty) null
      else {
        val m = versionRe(k).matcher(s)
        if (m.find() && m.group(1) != null) m.group(1) else ""
      }
    def check(s: String): Unit = {
      val u = UTF8String.fromString(s)
      val k = scan(s)
      assert(detect.firstMatch(u) == k, s"'${s.take(80)}'")
      // the same input asked for two rules: each answer is its own rule's
      for (i <- Seq(k, (k + 1) % versions.patterns.size))
        assert(Option(versions.capture(u, i)).map(_.toString) == Option(group1(s, i)),
          s"rule $i of '${s.take(80)}'")
    }
    val uas = MapperQueries.uaSamples
    // repeated: the second and third answers come from the memos
    (1 to 3).foreach(_ => uas.foreach(check))
    // over the length cap: looked up every time, never stored
    val long = uas.map(ua => ua + " " * RuleTable.MemoMaxBytes)
    (1 to 2).foreach(_ => long.foreach(check))
    // past the entry cap: the memos are cleared and refilled
    val many = (0 until RuleTable.MemoEntries + 500).map(i => s"${uas(i % uas.size)} x$i")
    (1 to 2).foreach(_ => many.foreach(check))
  }
}
