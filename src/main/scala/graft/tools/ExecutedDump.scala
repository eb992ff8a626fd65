package graft.tools

import graft.{SparkEntry, Tables}

/** Executed-plan (AQE final plan) dump for registry queries — the
  * runtime companion to [[graft.ExplainDump]]: AQE's exchange/stage
  * reuse only appears in the plan AFTER execution, so claims like "the
  * gram subtree is computed once" are checked here, not in the
  * formatted pre-execution dump.
  *
  * Usage: runMain graft.tools.ExecutedDump <sfDir> <outDir> q1[,q2,...]
  * Measurement tool outside the timed bench path.
  */
object ExecutedDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val names = args(2).split(",").map(_.trim)
    val spark = Tables.localSession("ERROR")
    for (n <- names) {
      val df = SparkEntry.registry.find(_._1 == n).get._2.build(spark, sfDir)
      df.queryExecution.toRdd.count()
      java.nio.file.Files.write(
        outDir.resolve(s"${n}_after_executed.txt"),
        df.queryExecution.executedPlan.toString.getBytes("UTF-8"))
      println(s"[executed] $n ok")
    }
    spark.stop()
  }
}
