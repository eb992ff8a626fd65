package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** graft.Bench's record: per-query Spark counters next to wall time,
  * one JSON line per query written as it finishes, a new file per run,
  * and the counter gate in tools/check_regression.py. */
class BenchSpec extends SparkSpec {

  private val om = new ObjectMapper()

  private def registryQueries(names: String*): Seq[(String, QueryDef)] =
    names.map(n => n -> SparkEntry.registry.find(_._1 == n).get._2)

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)

  private def tiny(name: String): (String, QueryDef) =
    name -> QueryDef((s, _) => s.range(10).toDF(), None)

  test("every row carries the median rep's Spark counters") {
    val dir = TempDirs.scratch("bench-rec")
    val res = Bench.run(spark, sf(), registryQueries("q1_agg", "a17_ltv_cohort"),
      reps = 2, deadlineS = 600, recordDir = dir)
    assert(res.rows.map(_.query) == Seq("q1_agg", "a17_ltv_cohort"))
    assert(res.truncatedAt.isEmpty)
    for (r <- res.rows) {
      assert(r.ok && r.reps == 2, r)
      assert(r.jobs >= 1 && r.stages >= 1 && r.taskCpuMs > 0 && r.wallS > 0, r)
    }
    // a17 shuffles (cohort assignment, weekly rollup); q1 aggregates
    assert(res.rows.forall(_.shuffleBytes > 0), res.rows)
    val recorded = lines(res.record).map(om.readTree)
    assert(recorded.map(_.get("q").asText) == res.rows.map(_.query))
    for (n <- recorded; k <- Seq("wall_s", "task_cpu_ms", "jobs", "stages",
        "shuffle_bytes"))
      assert(n.has(k), s"$k missing from $n")
    assert(recorded.map(_.get("jobs").asLong) == res.rows.map(_.jobs))
    assert(res.record.getFileName.toString.endsWith(
      s"_c${spark.sparkContext.defaultParallelism}.jsonl"))
  }

  test("a query that throws is failed and left out of the total") {
    val boom = "boom" -> QueryDef(
      (_, _) => throw new IllegalStateException("broken\nsecond line"), None)
    val res = Bench.run(spark, sf(), Seq(tiny("fine"), boom), reps = 3,
      deadlineS = 600, recordDir = TempDirs.scratch("bench-rec"))
    val Seq(fine, failed) = res.rows
    assert(fine.ok && !failed.ok && failed.error.contains("broken"))
    val digest = om.readTree(Bench.digest(res))
    assert(digest.get("failed").asScala.map(_.asText).toSeq == Seq("boom"))
    assert(digest.get("n_queries").asInt == 2)
    assert(digest.get("value").asDouble ==
      BigDecimal(fine.wallS).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val rec = lines(res.record).map(om.readTree)
    assert(!rec(1).get("ok").asBoolean && !rec(1).has("wall_s"))
  }

  test("a row is on disk before the next query starts") {
    val dir = TempDirs.scratch("bench-rec")
    var seen: Seq[String] = Nil
    val probe = "probe" -> QueryDef({ (s, _) =>
      val recs = Files.list(dir).iterator().asScala.toSeq
      seen = recs.flatMap(lines)
      s.range(1).toDF()
    }, None)
    Bench.run(spark, sf(), Seq(tiny("first"), probe), reps = 1,
      deadlineS = 600, recordDir = dir)
    assert(seen.size == 1 && om.readTree(seen.head).get("q").asText == "first")
  }

  test("a second run never reuses the first run's record") {
    val dir = TempDirs.scratch("bench-rec")
    val a = Bench.run(spark, sf(), Seq(tiny("x")), 1, 600, dir)
    val before = lines(a.record)
    val b = Bench.run(spark, sf(), Seq(tiny("y")), 1, 600, dir)
    assert(a.record != b.record)
    assert(lines(a.record) == before)
    assert(lines(b.record).map(om.readTree(_).get("q").asText) == Seq("y"))
  }

  test("the deadline cuts before the next query and names it") {
    val slow = "a" -> QueryDef({ (s, _) => Thread.sleep(200); s.range(1).toDF() },
      None)
    val res = Bench.run(spark, sf(), Seq(slow, tiny("b")), 3,
      deadlineS = 0.1, recordDir = TempDirs.scratch("bench-rec"))
    assert(res.rows.map(_.query) == Seq("a") && res.truncatedAt.contains("b"))
    assert(om.readTree(Bench.digest(res)).get("truncated_at").asText == "b")
  }

  test("check_regression.py gates on counters, not wall time") {
    val dir = TempDirs.scratch("bench-gate")
    def row(q: String, wall: Double, jobs: Int) =
      s"""{"q":"$q","ok":true,"sf":"sf0.1","wall_s":$wall,"reps":3,""" +
        s""""task_cpu_ms":900,"jobs":$jobs,"stages":${jobs + 1},"shuffle_bytes":4096}"""
    def record(name: String, rows: String*): String = {
      val p = dir.resolve(name)
      Files.write(p, rows.mkString("", "\n", "\n").getBytes("UTF-8"))
      p.toString
    }
    val base = record("base.jsonl", row("a", 1.0, 3), row("b", 0.5, 2))
    val moreJobs = record("jobs.jsonl", row("a", 1.0, 4), row("b", 0.5, 2))
    val slower = record("wall.jsonl", row("a", 3.0, 3), row("b", 1.5, 2))
    def gate(cur: String): Int = {
      val p = new ProcessBuilder("python3",
        new java.io.File("tools/check_regression.py").getAbsolutePath, cur, base)
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor()
    }
    assert(gate(moreJobs) == 1)
    assert(gate(slower) == 0)
  }
}
