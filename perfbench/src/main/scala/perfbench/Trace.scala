package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' metrics
  * summed. `tag` is the graft package of the first `graft.*` frame in
  * the job's long call site, or else in the call site of the SQL
  * execution that submitted it (adaptive execution submits stage jobs
  * from its own threads); "none" when neither has a graft frame. */
final case class JobSpan(startMs: Long, endMs: Long, tag: String,
    stages: Int, tasks: Int, runMs: Long, cpuMs: Double, gcMs: Long,
    maxTaskMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputRecords: Long)

/** Catalyst phase times of one executed query; `graftRuleMs` is the
  * time spent in graft's own Catalyst rules (`graft.plans`). */
final case class PlanSpan(endMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, graftRuleMs: Double)

/** A closed span — a request or a layer call — with the jobs, plan
  * phases and code generation that fell inside it. */
final case class Span(kind: String, startMs: Long, endMs: Long, ms: Double,
    jobs: Seq[JobSpan], plans: Seq[PlanSpan], compiles: Long, compileMs: Double) {
  /** Wall time covered by at least one of the span's jobs. */
  def jobCoveredMs: Double = {
    val iv = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.min(covered.toDouble, ms)
  }
  /** The span minus the part its Spark job spans cover. */
  def selfMs: Double = ms - jobCoveredMs
}

/** The trace collectors: a `SparkListener` for jobs and task metrics, a
  * `QueryExecutionListener` for Catalyst phase times, and Spark's code
  * generation counters. Only the benchmark registers them; spans stay
  * in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final class JobAcc(val startMs: Long, val ownTag: String, val execId: Option[Long]) {
    @volatile var endMs: Long = -1L
    val stages = ConcurrentHashMap.newKeySet[Int]()
    var tasks, runMs, gcMs, maxTaskMs, shW, shR, spill, inRecs = 0L
    var cpuNs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanSpan]()
  private val execTags = new ConcurrentHashMap[Long, String]()

  private def tag(a: JobAcc): String =
    if (a.ownTag != "none") a.ownTag
    else a.execId.flatMap(id => Option(execTags.get(id))).getOrElse("none")

  private def tagOf(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val parts = f.takeWhile(_ != '(').split('.')
      // package segments are the lower-case ones before the class name
      val pkg = parts.drop(1).takeWhile(p => p.nonEmpty && p.head.isLower)
      if (pkg.isEmpty) "graft" else pkg.head
    }.getOrElse("none")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = e.stageInfos.lastOption.map(_.details).getOrElse("")
      val execId = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs.put(e.jobId, new JobAcc(e.time, tagOf(details), execId))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execTags.put(s.executionId, tagOf(s.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      j.filter(_ => m != null).foreach { a =>
        a.synchronized {
          a.stages.add(e.stageId)
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inRecs += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(Tracer.planSpan(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      plans.add(Tracer.planSpan(qe))
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Codegen compilations so far, and their total time in ms. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** Runs `body` as one span. Nothing else may run Spark meanwhile:
    * jobs and plan phases are attached to the span by time. */
  def span[T](kind: String)(body: => T): (T, Span) = {
    val (c0, cms0) = codegen()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val (c1, cms1) = codegen()
    (out, close(kind, w0, w1, ms, c1 - c0, cms1 - cms0))
  }

  /** Closes a span timed by the caller (e.g. a request timed at the client). */
  def close(kind: String, w0: Long, w1: Long, ms: Double, compiles: Long,
      compileMs: Double): Span = {
    org.apache.spark.perfbench.BusDrain(sc)
    val js = jobs.values().asScala.toSeq
      .filter(j => j.startMs >= w0 && j.startMs <= w1)
      .map { a =>
        a.synchronized {
          JobSpan(a.startMs, if (a.endMs < 0) w1 else a.endMs, tag(a),
            a.stages.size, a.tasks.toInt, a.runMs, a.cpuNs / 1e6, a.gcMs,
            a.maxTaskMs, a.shW, a.shR, a.spill, a.inRecs)
        }
      }.sortBy(_.startMs)
    val ps = plans.asScala.toSeq.filter(p => p.endMs >= w0 && p.endMs <= w1)
    Span(kind, w0, w1, ms, js, ps, compiles, compileMs)
  }
}

object Tracer {
  /** The Catalyst phase times `qe` has recorded so far. */
  def planSpan(qe: QueryExecution): PlanSpan = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val graftNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    val end = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    PlanSpan(end, dur("analysis"), dur("optimization"), dur("planning"), graftNs / 1e6)
  }
}

/** Per-op means over a set of spans, named by layer. */
object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The `spark.plan.*` and `spark.exec.*` metrics, per op. */
  def spark(spans: Seq[Span], cores: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, spans.size).toDouble
    val js = spans.flatMap(_.jobs)
    val ps = spans.flatMap(_.plans)
    val wall = spans.map(_.jobCoveredMs).sum
    val run = js.map(_.runMs).sum.toDouble
    Seq(
      ("spark.plan.analysis_ms", ps.map(_.analysisMs).sum / n, "ms"),
      ("spark.plan.optimization_ms", ps.map(_.optimizationMs).sum / n, "ms"),
      ("spark.plan.planning_ms", ps.map(_.planningMs).sum / n, "ms"),
      ("spark.plan.graft_rules_ms", ps.map(_.graftRuleMs).sum / n, "ms"),
      ("spark.plan.codegen_compiles", spans.map(_.compiles).sum / n, "count"),
      ("spark.plan.codegen_ms", spans.map(_.compileMs).sum / n, "ms"),
      ("spark.exec.wall_ms", wall / n, "ms"),
      ("spark.exec.jobs", js.size / n, "count"),
      ("spark.exec.stages", js.map(_.stages).sum / n, "count"),
      ("spark.exec.tasks", js.map(_.tasks).sum / n, "count"),
      ("spark.exec.task_run_ms", run / n, "ms"),
      ("spark.exec.task_cpu_ms", js.map(_.cpuMs).sum / n, "ms"),
      ("spark.exec.gc_ms", js.map(_.gcMs).sum / n, "ms"),
      ("spark.exec.cores_busy_frac", if (wall > 0) run / (wall * cores) else 0.0, "ratio"),
      ("spark.exec.max_task_ms", js.map(_.maxTaskMs).maxOption.getOrElse(0L).toDouble, "ms"),
      ("spark.exec.shuffle_write_bytes", js.map(_.shuffleWrite).sum / n, "bytes"),
      ("spark.exec.shuffle_read_bytes", js.map(_.shuffleRead).sum / n, "bytes"),
      ("spark.exec.spill_bytes", js.map(_.spill).sum / n, "bytes"),
      ("spark.exec.input_records", js.map(_.inputRecords).sum / n, "count"))
  }

  /** Jobs per op by the graft package that submitted them. */
  def jobsByTag(spans: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, spans.size).toDouble
    spans.flatMap(_.jobs).groupBy(_.tag).map { case (t, js) => t -> js.size / n }
  }
}
