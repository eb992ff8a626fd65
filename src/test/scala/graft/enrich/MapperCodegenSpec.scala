package graft.enrich

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The rule-table mappers must stay inside whole-stage codegen: a
  * projection whose generated method outgrows Janino's 64 KB limit
  * makes Spark silently fall back to interpreted evaluation (a WARN,
  * not an error), a several-fold scan slowdown at 100 TB that nobody
  * sees. Each rule table is one [[graft.functions.FirstMatch]] kernel,
  * so the generated code no longer grows with the table; these specs
  * attach an appender to the codegen loggers and fail on the fallback
  * message itself, pinning both mappers, and pin that no rule chain
  * creeps back into the plan as a wide `CaseWhen`. */
class MapperCodegenSpec extends SparkSpec {

  test("referrer mapper: full-width chain compiles — no codegen fallback") {
    import spark.implicits._
    val refs = spark.range(512).select(
      concat(lit("https://www.google.com/search?q=term"), $"id").as("_referrer"))
    val out = ReferrerMapper(Seq("my.example.com")).apply(refs)
    val warns = capturingCodegenFallback { out.collect() }
    assert(!warns.exists(_.contains("Whole-stage codegen disabled")),
      s"codegen fell back:\n${warns.mkString("\n")}")
    // and the staged host is parsed ONCE, not once per rule branch
    val plan = out.queryExecution.executedPlan.toString
    val parses = "ParseUrlEvaluator\\(null,HOST".r.findAllIn(plan).length
    assert(parses <= 2, s"host parse inlined $parses times — staging lost")
  }

  test("user-agent mapper: full-width chain compiles — no codegen fallback") {
    import spark.implicits._
    val uas = spark.range(512).select(
      concat(lit("Mozilla/5.0 (Windows NT 10.0; rv:"), $"id",
        lit(") Chrome/120.0")).as("_user_agent"))
    val warns = capturingCodegenFallback { UserAgentMapper(uas).collect() }
    assert(!warns.exists(_.contains("Whole-stage codegen disabled")),
      s"codegen fell back:\n${warns.mkString("\n")}")
  }

  test("no rule table plans as a wide CaseWhen") {
    import spark.implicits._
    val events = spark.range(8).select(
      concat(lit("Mozilla/5.0 (Linux; Android 14; Pixel 8 Build/AP1A) Chrome/"), $"id")
        .as("_user_agent"),
      concat(lit("https://www.google.com/search?q="), $"id").as("_referrer"))
    val plan = ReferrerMapper()(UserAgentMapper(events)).queryExecution.optimizedPlan
    val widths = plan.flatMap(_.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c.branches.size
    }))
    assert(widths.nonEmpty && widths.max <= 16, s"CaseWhen branch counts: $widths")
  }
}
