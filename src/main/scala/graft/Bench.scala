package graft

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Registry timer. Each query runs `reps` times (its `build` plus a
  * `toRdd.count()` of its own plan — a `.count()` on top would let
  * Catalyst prune the final projections out of the measurement), and
  * its row is the median rep: wall seconds plus that rep's Spark
  * counters — task CPU, jobs, stages, shuffle bytes read + written.
  * The counters do not move with host load, so a regression is judged
  * on them (`tools/check_regression.py`) and wall time is printed
  * beside them.
  *
  * A run appends one JSON line per query, as the query finishes, to a
  * record it creates new under `bench-records/`: a killed or
  * deadline-cut run keeps every finished row, and no run overwrites
  * another's. Stdout's last line is a compact digest naming the record.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (tables), `SPARK_GRAFT_CPUS` (see
  * [[Tables.localSession]]), `SPARK_GRAFT_BENCH_REPS` (default 3),
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated subset),
  * `SPARK_GRAFT_BENCH_DEADLINE_S` (default 1500).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val deadlineS = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_S")
      .map(s => s.toDoubleOption.getOrElse(sys.error(
        s"SPARK_GRAFT_BENCH_DEADLINE_S must be a number, got '$s'")))
      .getOrElse(1500.0)
    val spark = Tables.localSession()
    // Warm the JVM (codegen, parquet reader, shuffle paths) so the first
    // timed query doesn't absorb ~5s of one-time initialization.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables(spark, sfDir, "lineitem").limit(10).collect()
    val queries = SparkEntry.registry.filter(q => only.forall(_(q._1)))
    val res = run(spark, sfDir, queries, reps, deadlineS,
      Paths.get("bench-records"))
    // spark.stop() logs to stderr; stop first so the digest prints last
    try spark.stop() catch { case _: Exception => () }
    println(digest(res))
  }

  /** One query's row. A failed query keeps its first error line and no
    * numbers; `reps` is how many reps ran (the deadline may shed some). */
  final case class Row(query: String, wallS: Double, reps: Int,
      taskCpuMs: Long, jobs: Long, stages: Long, shuffleBytes: Long,
      error: Option[String] = None) {
    def ok: Boolean = error.isEmpty
  }

  final case class Result(rows: Seq[Row], record: Path,
      truncatedAt: Option[String])

  /** Sums what Spark ran since the last [[take]]. */
  private final class Counters extends SparkListener {
    private val jobs, stages, cpuNs, shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    /** (task CPU ms, jobs, stages, shuffle bytes), then zero. */
    def take(): (Long, Long, Long, Long) = (cpuNs.getAndSet(0) / 1000000,
      jobs.getAndSet(0), stages.getAndSet(0), shuffleBytes.getAndSet(0))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonLine(fields: (String, Any)*): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    json.writeValueAsString(m)
  }

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rowLine(r: Row, sf: String): String = r.error match {
    case None => jsonLine("q" -> r.query, "ok" -> true, "sf" -> sf,
      "wall_s" -> round4(r.wallS), "reps" -> r.reps,
      "task_cpu_ms" -> r.taskCpuMs, "jobs" -> r.jobs, "stages" -> r.stages,
      "shuffle_bytes" -> r.shuffleBytes)
    case Some(e) => jsonLine("q" -> r.query, "ok" -> false, "sf" -> sf,
      "reps" -> r.reps, "error" -> e)
  }

  /** Creates the run's record, `<utc-time>_c<cpus>.jsonl`. CREATE_NEW:
    * an existing record is never reopened, it fails the run instead. */
  private def createRecord(dir: Path, cpus: Int): (Path, OutputStream) = {
    Files.createDirectories(dir)
    val stamp = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .withZone(ZoneOffset.UTC).format(Instant.now())
    val p = dir.resolve(s"${stamp}_c$cpus.jsonl")
    p -> Files.newOutputStream(p, CREATE_NEW, WRITE)
  }

  /** Median-of-`reps` row for one query. Rep 1 always runs; later reps
    * only while the query stays inside `shareS` seconds and the run
    * inside its deadline. A query that throws is a failed row, never a
    * fast success. */
  private def measure(spark: SparkSession, sfDir: String,
      counters: Counters, name: String, qd: QueryDef, reps: Int,
      shareS: Double, pastDeadline: () => Boolean): Row = {
    val sc = spark.sparkContext
    val start = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[Row]
    var error: Option[String] = None
    while (error.isEmpty && done.size < reps && (done.isEmpty ||
        (!pastDeadline() && (System.nanoTime() - start) / 1e9 <= shareS))) {
      ListenerBusDrain(sc)
      counters.take()
      val t0 = System.nanoTime()
      try {
        qd.build(spark, sfDir).queryExecution.toRdd.count()
        val wallS = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(sc)
        val (cpu, jobs, stages, shuffle) = counters.take()
        done += Row(name, wallS, 1, cpu, jobs, stages, shuffle)
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.nextOption().getOrElse("").take(300)
        System.err.println(s"[bench] $name FAILED: $msg")
        error = Some(msg)
      }
    }
    if (error.nonEmpty) Row(name, 0, done.size, 0, 0, 0, 0, error)
    else done.sortBy(_.wallS).apply((done.size - 1) / 2).copy(reps = done.size)
  }

  /** Benches `queries` in order into a new record under `recordDir`.
    * Past `deadlineS` the run stops before the next query
    * (`truncatedAt`); until then each query's optional reps get a fair
    * share of what is left (10% held back), so a slow host sheds reps
    * instead of rows. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryDef)],
      reps: Int, deadlineS: Double, recordDir: Path): Result = {
    val sc = spark.sparkContext
    val start = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - start) / 1e9
    val sf = Paths.get(sfDir).getFileName.toString
    val (record, out) = createRecord(recordDir, sc.defaultParallelism)
    val counters = new Counters
    sc.addSparkListener(counters)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var cut: Option[String] = None
    try for ((name, qd) <- queries if cut.isEmpty) {
      if (elapsedS > deadlineS || sc.isStopped) {
        cut = Some(name)
        System.err.println(s"[bench] stopping before $name: " +
          (if (sc.isStopped) "SparkContext stopped" else s"deadline ${deadlineS}s"))
      } else {
        val shareS = math.max(0.0, deadlineS * 0.9 - elapsedS) /
          (queries.size - rows.size)
        val row = measure(spark, sfDir, counters, name, qd, reps, shareS,
          () => elapsedS > deadlineS)
        rows += row
        out.write((rowLine(row, sf) + "\n").getBytes(UTF_8))
        out.flush()
      }
    } finally {
      sc.removeSparkListener(counters)
      out.close()
    }
    Result(rows.toSeq, record, cut)
  }

  /** The compact stdout line: headline total of the successful rows. */
  def digest(res: Result): String = {
    val fields = Seq[(String, Any)](
      "metric" -> "total",
      "value" -> round4(res.rows.filter(_.ok).map(_.wallS).sum),
      "unit" -> "sec",
      "n_queries" -> res.rows.size,
      "failed" -> res.rows.filterNot(_.ok).map(_.query).asJava,
      "record" -> res.record.toString) ++
      res.truncatedAt.map("truncated_at" -> _)
    jsonLine(fields: _*)
  }
}
