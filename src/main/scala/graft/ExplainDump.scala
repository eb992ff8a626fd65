package graft

/** Dump `.explain("formatted")` for registry queries to files — the
  * plan-evidence tool for the optimization rounds (the judge checks
  * plan claims against the committed plans/r17 files, guide §7.2).
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> [q1,q2,...]
  * (no list = the whole registry). Builders that eagerly materialize
  * store state (the ix, ai, di, vs families) execute those side
  * effects; the dump records the serving plan they return.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = Tables.localSession("ERROR")
    val selected = only match {
      case Some(names) => SparkEntry.registry.filter(q => names(q._1))
      case None => SparkEntry.registry
    }
    for ((name, qd) <- selected) {
      try {
        val plan = qd.build(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          plan.getBytes("UTF-8"))
        println(s"[explain] $name ok")
      } catch { case e: Throwable =>
        println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
