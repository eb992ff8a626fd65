package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.TempDirs.scratch("graft-warehouse").toString)
      .withExtensions(new GraftExtensions())
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` while capturing WARN+ messages of Spark's whole-stage
    * codegen escape hatch (the silent Janino 64 KB fallback); returns
    * the captured lines. Shared by the mapper and registry codegen
    * lints so the logger wiring can't drift between them. */
  def capturingCodegenFallback(body: => Unit): Seq[String] =
    capturingLogs(Seq(
      "org.apache.spark.sql.execution.WholeStageCodegenExec",
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"),
      org.apache.log4j.Level.WARN)(body).map(e => String.valueOf(e.getMessage))

  /** Runs `body` with an appender on the named loggers; returns the
    * events logged there at `level` or above. */
  def capturingLogs(loggerNames: Seq[String], level: org.apache.log4j.Level)(
      body: => Unit): Seq[org.apache.log4j.spi.LoggingEvent] = {
    import org.apache.log4j.{AppenderSkeleton, Logger}
    import org.apache.log4j.spi.LoggingEvent
    val captured = scala.collection.mutable.ArrayBuffer.empty[LoggingEvent]
    val appender = new AppenderSkeleton {
      override def append(e: LoggingEvent): Unit =
        if (e.getLevel.isGreaterOrEqual(level)) captured.synchronized {
          captured += e
        }
      override def close(): Unit = ()
      override def requiresLayout(): Boolean = false
    }
    val loggers = loggerNames.map(Logger.getLogger)
    loggers.foreach(_.addAppender(appender))
    try body finally loggers.foreach(_.removeAppender(appender))
    captured.synchronized(captured.toSeq)
  }

  /** The call site of every Spark job `body` starts ("parquet at
    * EventStore.scala:79"), in start order, followed by the job's tags
    * other than the session's in parentheses when it has any (a
    * broadcast exchange's job: "(broadcast exchange (runId …))"). */
  def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.map(_.name).lastOption.getOrElse("?")
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Seq.empty[String])(_.split(",").toSeq).filterNot(_.startsWith("spark-session-"))
        jobs.add(site + (if (tags.isEmpty) "" else tags.mkString(" (", ", ", ")"))); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
  }

  /** Lines of a plan string that are exchanges. Every exchange counts:
    * table reads add none of their own, so a pin that says "operator X
    * must not shuffle" sees every shuffle in the plan. */
  def algoExchangeLines(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("Exchange")).toSeq

  /** The collect-based twin of [[algoExchangeLines]] for non-AQE
    * executed plans. */
  def algoShuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect { case e: ShuffleExchangeExec => e }
}
