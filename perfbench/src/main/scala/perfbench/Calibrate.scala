package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** Re-records the registry golden file:
  * `perfbench.Calibrate <data dir> <out.json> [query,…]`. Runs each
  * query (all registry queries when none are named) once cold and three
  * times warm, and prints per query the first and warm-median times,
  * the row count, the content hash, and whether all four executions
  * agreed. Named queries whose hashes agreed are written to the golden
  * file. */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, out) = args.take(2)
    val named = args.drop(2).headOption.map(_.split(',').toSeq)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Files.createTempDirectory(Paths.get(out).toAbsolutePath.getParent, "calibrate")
    val spark = Main.session(cores, work)
    val queries = named.getOrElse(SparkEntry.registry.map(_._1))
    val defs = SparkEntry.registry.toMap
    val golden = mutable.LinkedHashMap.empty[String, Any]
    queries.foreach { q =>
      try {
        val runs = (0 until 4).map { _ =>
          val t0 = System.nanoTime()
          val df = defs(q).build(spark, dataDir)
          val rows = df.collect()
          ((System.nanoTime() - t0) / 1e6, RegistryWorkload.digest(df.columns, rows))
        }
        val stable = runs.map(_._2).distinct.size == 1
        val (rows, hash) = runs.head._2
        println(Stats.json.writeValueAsString(mutable.LinkedHashMap("query" -> q,
          "first_ms" -> runs.head._1, "warm_ms" -> Stats.median(runs.tail.map(_._1)),
          "rows" -> rows, "hash" -> hash, "stable" -> stable)))
        if (stable && named.isDefined)
          golden(q) = mutable.LinkedHashMap("rows" -> rows, "hash" -> hash)
      } catch {
        case e: Exception => println(Stats.json.writeValueAsString(Map("query" -> q, "error" -> e.toString)))
      }
    }
    if (named.isDefined)
      Files.write(Paths.get(out), (Stats.json.writeValueAsString(golden) + "\n").getBytes("UTF-8"))
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}
