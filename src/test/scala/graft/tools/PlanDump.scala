package graft.tools

/** Ad-hoc plan inspector for local iteration: Test/runMain
  * graft.tools.PlanDump <queryName> [sfDir]. Prints subtree counts and
  * the formatted plan — the .explain feedback loop the scale rules
  * require, without spinning up a spec. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.Tables.localSession("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    println("=== scans: " + "Scan parquet".r.findAllIn(p).size)
    println("=== exchanges: " + "Exchange hashpartitioning".r.findAllIn(p).size)
    println("=== reused exchanges: " + "ReusedExchange".r.findAllIn(p).size)
    println("=== generates: " + "Generate".r.findAllIn(p).size)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
