package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a run measures with: the session, the seed, the window. */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val cores: Int, val work: Path) {
  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Stops the current Spark session, if any, and starts a fresh one:
    * a new SparkContext with graft's extensions and session configs. */
  def newSession(): Unit = {
    stop()
    session = Main.session(cores, work)
  }

  def stop(): Unit = if (session != null) session.stop()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** JVM process CPU time so far, ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** Garbage-collection and JIT-compilation time so far, ms: the JVM's
    * own share of `cpuMs`, recorded beside it to explain its spread. */
  def jvmMs(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (mx.map(_.getCollectionTime).sum.toDouble,
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** Data files of a table directory, hidden and staging files excluded. */
  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          val rel = dir.relativize(p).toString
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
            !rel.split('/').exists(seg => seg.startsWith(".") || seg.startsWith("_") && !seg.contains("="))
        }.toVector
      } finally s.close()
    }
}

/** Everything a run reports: the end-to-end metrics under their
  * workload names, the headline metrics every workload shares, the
  * per-layer metrics of a traced run, and the output checks. */
final class Result(cores: Int) {
  val e2eByName = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** The metrics every workload reports under one name each. */
  val headlines = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String, samples: Int): Unit =
    e2eByName(name) = (v, unit, samples)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def fail(msg: String): Unit = failures.synchronized { failures += msg }
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    attempted += 1
    if (!ok) fail(s"check failed: $name ($detail)")
  }

  /** Set-up times of the repeated set-ups, s; `setup_s` is their median.
    * Called when the last set-up is done, so `process_setup_s` is the
    * time from JVM start to the first timed op, cold start included. */
  def setup(reps: Seq[Double]): Unit = {
    e2e("setup_s", Stats.median(reps), "s", reps.size)
    headlines("setup_s") = (Stats.median(reps), "s")
    info("setup_reps_s") = reps
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    e2e("process_setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s", 1)
  }

  /** The workload's headline throughput, latency and CPU per op. */
  def headline(throughput: Double, latencyMs: Double, cpuMsPerOp: Double): Unit =
    headlines ++= Seq("throughput" -> (throughput, "1/s"), "latency_ms" -> (latencyMs, "ms"),
      "cpu_ms_per_op" -> (cpuMsPerOp, "ms"))

  /** The layer metrics every traced workload has: Spark's plan and
    * execution split, and the top layer's self time per op. */
  def generic(spans: Seq[Span]): Unit = {
    Layers.spark(spans, cores).foreach { case (n, v, u) => layer(n, v, u) }
    layer("op.self_ms", Layers.mean(spans.map(_.selfMs)), "ms")
  }

  def overhead(ms: Double, tracedP50: Double): Unit = {
    info("trace_overhead_ms") = ms
    info("trace_overhead_frac") = ms / tracedP50
  }

  def failed: Long = failures.size.toLong

  /** The named metrics from `from`; a name the run did not measure
    * reads NaN, which makes the run incorrect. */
  def pick(names: Seq[String], from: collection.Map[String, (Double, String)]) =
    names.map(n => from.get(n).fold((n, Double.NaN, ""))({ case (v, u) => (n, v, u) }))
}

/** The benchmark harness:
  * `--workload collect_ua|registry_sf0.001 --seed n --seconds s
  *  --trace 0|1 --root <checkout> --work <scratch dir>`.
  * Prints each metric on its own line, writes the run record under
  * `<root>/perfbench/records/`, and ends with one JSON result line. */
object Main {
  val Workloads = Seq("collect_ua", "registry_sf0.001")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val listed = Listed.read(root.resolve("BENCHMARK.json"))
    Files.createDirectories(work)

    val ctx = new Ctx(seed, seconds, trace, cores, work)
    val res = new Result(cores)
    genCheck(res, seed)
    val ok =
      try {
        workload match {
          case "collect_ua" => new GatewayWorkload(ctx).run(res)
          case _ =>
            val golden = Golden.read(root.resolve("perfbench/registry_golden.json"))
            new RegistryWorkload(ctx, root.resolve("perfbench/data/sf0.001").toString, golden)
              .run(res)
        }
        true
      } catch {
        case e: Throwable =>
          res.fail(s"workload aborted: $e")
          e.printStackTrace()
          false
      }
    val metrics =
      if (trace) res.pick(listed.perLayer, res.layers) else res.pick(listed.endToEnd, res.headlines)
    val correct = ok && res.failed == 0 &&
      metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val record = writeRecord(root, workload, seed, seconds, trace, cores, res, correct)

    res.e2eByName.foreach { case (n, (v, u, s)) => println(f"metric $n%-22s $v%14.4f $u (n=$s)") }
    res.layers.foreach { case (n, (v, u)) => println(f"layer  $n%-32s $v%14.4f $u") }
    res.info.get("trace_overhead_ms").foreach(v => println(s"trace overhead: $v ms per op"))
    res.info.get("jobs_per_op_by_package").foreach(v => println(s"jobs per op by package: $v"))
    res.failures.take(20).foreach(f => println(s"FAILED: $f"))
    println(s"record: $record")
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> math.max(1L, res.attempted),
      "failed" -> res.failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> (if (v.isNaN || v.isInfinite) null else v),
          "unit" -> u) }.to(mutable.LinkedHashMap))
    println(Stats.json.writeValueAsString(out))
    System.out.flush()
    ctx.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The generator is deterministic: one seed gives byte-identical
    * bodies, another seed different ones. */
  private def genCheck(res: Result, seed: Long): Unit = {
    def bodies(s: Long) = { val g = new Gen(s).fork(0); Gen.envelope(g.events(500)) }
    res.check("generator: one seed gives byte-identical bodies",
      bodies(seed) == bodies(seed), s"seed $seed")
    res.check("generator: two seeds give different bodies",
      bodies(seed) != bodies(seed + 1), s"seeds $seed, ${seed + 1}")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new graft.GraftExtensions())
    graft.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A record per run, never overwritten: the file is created new. */
  private def writeRecord(root: Path, workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, res: Result, correct: Boolean): Path = {
    val dir = Files.createDirectories(root.resolve("perfbench/records"))
    val stamp = java.time.Instant.now().toString
    val name = s"${stamp.replace(':', '-')}_${workload}_seed${seed}_trace${if (trace) 1 else 0}" +
      s"_${ProcessHandle.current().pid()}.json"
    val rec = mutable.LinkedHashMap[String, Any](
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "unknown"),
      "nproc" -> cores, "seed" -> seed, "workload" -> workload, "seconds" -> seconds,
      "trace" -> trace, "timestamp" -> stamp, "correct" -> correct,
      "attempted" -> res.attempted, "failed" -> res.failed, "failures" -> res.failures,
      "end_to_end" -> res.e2eByName.map { case (n, (v, u, s)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u, "samples" -> s) },
      "headline" -> res.headlines.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "per_layer" -> res.layers.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "checks" -> res.checks.map { case (n, ok, d) =>
        mutable.LinkedHashMap("check" -> n, "ok" -> ok, "detail" -> d) },
      "info" -> res.info)
    val p = dir.resolve(name)
    Files.write(p, Stats.json.writeValueAsBytes(rec), StandardOpenOption.CREATE_NEW)
    p
  }
}

/** The metric names `BENCHMARK.json` lists: the result line carries
  * exactly these. */
final case class Listed(endToEnd: Seq[String], perLayer: Seq[String])

object Listed {
  def read(p: Path): Listed = {
    val node = Stats.json.readTree(p.toFile)
    import scala.jdk.CollectionConverters._
    def names(key: String) = node.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    Listed(names("end_to_end"), names("per_layer"))
  }
}

/** The registry golden file: query → (row count, content hash). */
object Golden {
  def read(p: Path): Map[String, (Long, String)] = {
    val node = Stats.json.readTree(p.toFile)
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
