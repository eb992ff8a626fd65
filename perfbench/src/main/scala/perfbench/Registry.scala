package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.{QueryDef, SparkEntry}

/** The `registry_sf0.001` workload, on the bundled scale-0.001 tables:
  * one client runs a fixed set of `SparkEntry.registry` queries in an
  * order the seed permutes; each query is timed warm, as the median of
  * its first three executions after the set-up's first execution.
  * Every execution's row count and order-insensitive content hash must
  * equal the golden file. */
final class RegistryWorkload(ctx: Ctx, dataDir: String, golden: Map[String, (Long, String)]) {
  private val SetupReps = 3
  private val WarmReps = 3
  private val defs: Map[String, QueryDef] = SparkEntry.registry.toMap
  private val order: Seq[String] =
    new scala.util.Random(ctx.seed).shuffle(golden.keys.toSeq.sorted)

  /** Build and execute one query, timed, then check its rows untimed;
    * returns (ms, ok, detail). */
  private def execute(name: String): (Double, Boolean, String) = {
    val t0 = System.nanoTime()
    val df = defs(name).build(ctx.spark, dataDir)
    val rows = df.collect()
    val ms = (System.nanoTime() - t0) / 1e6
    val (n, h) = RegistryWorkload.digest(df.columns, rows)
    val (gn, gh) = golden(name)
    (ms, n == gn && h == gh, s"$name: rows $n hash $h, golden rows $gn hash $gh")
  }

  def run(res: Result): Unit = {
    def timed(name: String): Double = {
      val (ms, ok, detail) =
        try execute(name) catch { case e: Exception => (0.0, false, s"$name: $e") }
      res.attempted += 1
      if (!ok) res.fail(detail)
      ms
    }
    // set-up, several times: a fresh Spark session, one table-open pass
    // and a first execution of every query as the warm-up; the first
    // set-up's executions are the process's first ones
    var first = Map.empty[String, Double]
    res.setup((0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      ctx.newSession()
      RegistryWorkload.Tables.foreach(t => graft.Tables(ctx.spark, dataDir, t).limit(1).collect())
      val f = order.map(q => q -> timed(q)).toMap
      if (k == 0) first = f
      (System.nanoTime() - t0) / 1e9
    })
    val warm = order.map(_ -> ArrayBuffer.empty[Double]).toMap
    val jvm0 = ctx.jvmMs()
    val cpu0 = ctx.cpuMs()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    // round-robin until the deadline, but at least WarmReps passes
    var execs = 0
    while (execs < WarmReps * order.size || System.nanoTime() < deadline) {
      val q = order(execs % order.size)
      warm(q) += timed(q)
      execs += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuMs = ctx.cpuMs() - cpu0
    val jvm1 = ctx.jvmMs()
    // every run takes each median over the same warm executions, so a
    // faster run fitting more of them does not also read warmer
    val medians = order.map(q => q -> Stats.median(warm(q).take(WarmReps).toSeq)).toMap
    res.info("gc_ms_per_op") = (jvm1._1 - jvm0._1) / execs
    res.info("jit_ms_per_op") = (jvm1._2 - jvm0._2) / execs
    res.info("queries") = order.size
    res.info("executions") = execs
    res.info("window_s") = windowS
    res.info("query_warm_median_ms") = medians
    res.info("query_first_ms") = first
    val total = medians.values.sum / 1000
    val geo = Stats.geomean(medians.values.toSeq)
    res.e2e("registry_total_s", total, "s", WarmReps)
    res.e2e("registry_geomean_ms", geo, "ms", WarmReps)
    res.e2e("cpu_ms_per_op", cpuMs / execs, "ms", execs)
    res.headline(execs / windowS, geo, cpuMs / execs)
    if (ctx.trace) traced(res, first, medians)
  }

  /** One more pass, each query split into build / executedPlan /
    * toRdd.count() spans. */
  private def traced(res: Result, first: Map[String, Double], medians: Map[String, Double]): Unit = {
    val tracer = new Tracer(ctx.spark)
    tracer.start()
    val perQuery = ArrayBuffer.empty[(String, Span, Span, Span, PlanSpan)]
    try order.foreach { q =>
      val (df, b) = tracer.span("analytics.build")(defs(q).build(ctx.spark, dataDir))
      val (_, p) = tracer.span("spark.plan")(df.queryExecution.executedPlan)
      val (_, e) = tracer.span("spark.exec")(df.queryExecution.toRdd.count())
      // the registry path runs `toRdd`, which no QueryExecutionListener
      // sees, so its Catalyst phases are read off the query directly
      perQuery += ((q, b, p, e, Tracer.planSpan(df.queryExecution)))
    } finally tracer.stop()
    res.attempted += perQuery.size
    // per-query span: the three parts back to back
    val merged = perQuery.map { case (q, b, p, e, phases) =>
      Span(q, b.startMs, e.endMs, b.ms + p.ms + e.ms, b.jobs ++ p.jobs ++ e.jobs,
        b.plans ++ p.plans ++ e.plans :+ phases,
        b.compiles + p.compiles + e.compiles, b.compileMs + p.compileMs + e.compileMs)
    }.toSeq
    res.layer("analytics.build_ms", Layers.mean(perQuery.map(_._2.ms).toSeq), "ms")
    res.layer("analytics.build_jobs", Layers.mean(perQuery.map(_._2.jobs.size.toDouble).toSeq), "count")
    res.layer("analytics.first_run_extra_ms",
      Layers.mean(order.map(q => first(q) - medians(q))), "ms")
    res.generic(merged)
    res.info("jobs_per_op_by_package") = Layers.jobsByTag(merged)
    val tracedMs = merged.map(s => s.kind -> s.ms).toMap
    res.overhead(Stats.median(order.map(q => tracedMs(q) - medians(q))),
      Stats.median(merged.map(_.ms)))
  }
}

object RegistryWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Sig = new MathContext(9)

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros().toPlainString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Row count and an order-insensitive content hash of a query's
    * collected rows: columns taken in name order, doubles to 9
    * significant digits, and the per-row SHA-256 prefixes summed. */
  def digest(columns: Array[String], rows: Array[Row]): (Long, String) = {
    val cols = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      val s = cols.map(i => canon(r.get(i))).mkString("|")
      val h = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }
}
