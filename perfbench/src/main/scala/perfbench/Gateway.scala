package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.api.HttpGateway
import graft.core.SchemaRegistry
import graft.enrich._
import graft.ingest.JsonIngest
import graft.store.EventStore

/** One HTTP client over its own connection to a live gateway. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

  def post(path: String, body: String): (Int, String) = send(
    HttpRequest.newBuilder(uri(path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  def get(path: String): (Int, String) = send(HttpRequest.newBuilder(uri(path)).build())

  private def send(r: HttpRequest): (Int, String) = {
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** One timed request: its door, wall-clock start, latency, and whether
  * its reply passed the output checks; `stored` is the events the
  * gateway acknowledged storing. */
final case class Req(door: String, startMs: Long, endNs: Long, ms: Double,
    ok: Boolean, stored: Long, body: String)

/** A live gateway over its own warehouse, with a persistent schema
  * registry so a restarted gateway sees the same store. */
final class GatewayEnv(ctx: Ctx, dir: Path) {
  val warehouse: String = dir.resolve("warehouse").toString
  private val registryDir = dir.resolve("registry").toString
  val registry: SchemaRegistry = SchemaRegistry.persistent(registryDir)
  private var gw = new HttpGateway(ctx.spark, registry, warehouse, GatewayEnv.Project)
  var port: Int = gw.start()

  def stop(): Unit = gw.stop()

  /** Stops the gateway and starts a fresh one on the same warehouse,
    * with the schema registry reloaded from disk. */
  def restart(): Unit = {
    gw.stop()
    val reloaded = SchemaRegistry.persistent(registryDir)
    reloaded.load(GatewayEnv.Project)
    gw = new HttpGateway(ctx.spark, reloaded, warehouse, GatewayEnv.Project)
    port = gw.start()
  }

  def tableDir: Path =
    java.nio.file.Paths.get(EventStore.tablePath(warehouse, GatewayEnv.Project, Gen.Collection))
}

object GatewayEnv { val Project = "bench" }

/** The `collect_ua` workload: closed-loop single-event collects over a
  * socket, with a single-client traced replay and layer calls when
  * tracing is on. */
final class GatewayWorkload(ctx: Ctx) {
  // Two collect clients: with more, several requests wait on the
  // gateway's write lock at once and the lock, which is not fair, picks
  // among them at random, so the median latency becomes a lottery. With
  // two, the waiter is always served next, and a change that lets
  // concurrent writes share a commit still shows.
  private val Clients = 2
  private val Preload = 1000
  private val SetupReps = 3
  private val gen = new Gen(ctx.seed)
  private val preload = Gen.envelope(gen.fork(1000).events(Preload))

  private def request(c: Client, door: String, g: Gen): Req = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val coll = Gen.Collection
    val (status, body) = door match {
      case "collect" => c.post("/event/collect", g.event())
      case "segmentation" => c.get(s"/analysis/segmentation?collection=$coll&dimension=page")
      case "funnel" => c.get(s"/analysis/funnel?collection=$coll&steps=" +
        Gen.FunnelSteps.mkString(","))
      case "retention" => c.get(s"/analysis/retention?collection=$coll&grain=day")
    }
    val endNs = System.nanoTime()
    val stored = if (door == "collect" && status == 200 && body == "1") 1L else 0L
    val ok = status == 200 && (door match {
      case "collect" => stored > 0
      case "funnel" => GatewayWorkload.funnelOk(body)
      case _ => body.startsWith("[{")
    })
    Req(door, startMs, endNs, (endNs - t0) / 1e6, ok, stored, body)
  }

  /** One set-up: a fresh Spark session, a fresh warehouse, gateway
    * start, bulk preload and one warm-up collect. */
  private def setupEnv(k: Int): (GatewayEnv, Req) = {
    ctx.newSession()
    val env = new GatewayEnv(ctx, ctx.work.resolve(s"gateway-$k"))
    val c = new Client(env.port)
    val (s, b) = c.post("/event/bulk", preload)
    if (s != 200 || b != s"""{"stored":$Preload}""")
      throw new IllegalStateException(s"preload failed: $s $b")
    (env, request(c, "collect", gen.fork(2000 + k)))
  }

  def run(res: Result): Unit = {
    // set-up, several times; the last environment is the one measured
    var env: GatewayEnv = null
    var warm: Req = null
    res.setup((0 until SetupReps).map { k =>
      if (env != null) env.stop()
      val t0 = System.nanoTime()
      val (e, w) = setupEnv(k)
      env = e
      warm = w
      if (!w.ok) res.fail(s"warm-up collect reply rejected: ${w.body.take(200)}")
      (System.nanoTime() - t0) / 1e9
    })
    val acked = ArrayBuffer(warm)

    // the timed window: closed loop, one connection per client
    val loop = closedLoop(env, Clients, ctx.seconds)
    acked ++= loop.all
    report(res, loop)

    // traced replay: one client, so every job falls in one request
    if (ctx.trace) acked ++= traced(res, env, loop.all)

    // output checks: a funnel over everything stored, then the stored
    // count on a restarted gateway over the same warehouse
    val funnel = request(new Client(env.port), "funnel", gen.fork(2999))
    res.check("funnel reply is 3 non-increasing steps", funnel.ok, funnel.body.take(200))
    env.restart()
    val expected = Preload + acked.map(_.stored).sum
    val (qs, qb) = new Client(env.port).post("/query/execute",
      s"""{"query":"SELECT count(*) AS n FROM ${Gen.Collection}"}""")
    val stored = "\"n\":(\\d+)".r.findFirstMatchIn(qb).map(_.group(1).toLong)
    res.check("stored count equals preload + acknowledged events",
      qs == 200 && stored.contains(expected), s"expected $expected, got $qs $qb")
    res.info("events_expected") = expected
    env.stop()
  }

  /** `n` clients for `seconds`: every client's requests in order, and
    * the process CPU from the start until the last client finished. */
  private def closedLoop(env: GatewayEnv, n: Int, seconds: Int): Loop = {
    val perClient = Array.fill(n)(ArrayBuffer.empty[Req])
    val jvm0 = ctx.jvmMs()
    val cpu0 = ctx.cpuMs()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        val c = new Client(env.port)
        val g = gen.fork(i)
        while (System.nanoTime() < deadline) {
          val r = try request(c, "collect", g)
            catch { case e: Exception =>
              Req("error", System.currentTimeMillis(), System.nanoTime(), 0, ok = false, 0, e.toString)
            }
          perClient(i) += r
        }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    val cpu = ctx.cpuMs() - cpu0
    val jvm1 = ctx.jvmMs()
    Loop(perClient.map(_.toSeq).toSeq, t0, cpu, jvm1._1 - jvm0._1, jvm1._2 - jvm0._2)
  }

  private def lat(rs: Seq[Req], door: String => Boolean) =
    rs.filter(r => door(r.door)).map(_.ms)

  /** Events stored per second: each client's acknowledged events over
    * the time to its last reply, summed over clients. Clients start
    * together and finish the request in flight at the deadline, so this
    * is exact for a closed loop, without the quantisation of counting
    * whole requests inside a fixed window. */
  private def eventsPerS(loop: Loop): Double =
    loop.perClient.map { rs =>
      if (rs.isEmpty) 0.0
      else rs.map(_.stored).sum / ((rs.last.endNs - loop.t0Ns) / 1e9)
    }.sum

  /** Every request a client started in the window ran to its end, and
    * counts: latency samples, and CPU up to the last reply per op. */
  private def report(res: Result, loop: Loop): Unit = {
    res.attempted += loop.all.size
    loop.all.filterNot(_.ok).foreach(r => res.fail(s"${r.door} reply rejected: ${r.body.take(200)}"))
    val ok = loop.all.filter(_.ok)
    res.info("requests") = loop.all.size
    res.info("latencies_ms") = loop.perClient.map(_.map(r => s"${r.door}:${r.ms.round}"))
    res.info("window_s") = (loop.all.map(_.endNs).maxOption.getOrElse(loop.t0Ns) - loop.t0Ns) / 1e9
    val cpuPerOp = loop.cpuMs / math.max(1, ok.size)
    res.info("gc_ms_per_op") = loop.gcMs / math.max(1, ok.size)
    res.info("jit_ms_per_op") = loop.jitMs / math.max(1, ok.size)
    val perS = eventsPerS(loop)
    val c = lat(ok, _ == "collect")
    res.e2e("collect_events_per_s", perS, "1/s", ok.size)
    res.e2e("collect_p50_ms", Stats.percentile(c, 50), "ms", c.size)
    res.e2e("collect_p90_ms", Stats.percentile(c, 90), "ms", c.size)
    res.e2e("cpu_ms_per_op", cpuPerOp, "ms", ok.size)
    res.headline(perS, Stats.percentile(c, 50), cpuPerOp)
  }

  private val AnalysisDoors = Seq("segmentation", "funnel", "retention")

  /** The single-client replay: collects, plus one round of the
    * analysis doors, so the read side is traced too. */
  private val ReplayDoors: Seq[String] = Seq.fill(8)("collect") ++ AnalysisDoors

  /** The door the timed window drives; per-op layer metrics cover it. */
  private def isCollect(d: String): Boolean = d == "collect"

  private def traced(res: Result, env: GatewayEnv, window: Seq[Req]): Seq[Req] = {
    val c = new Client(env.port)
    val plainGen = gen.fork(3000)
    val plain = ReplayDoors.map(d => request(c, d, plainGen))
    val tracer = new Tracer(ctx.spark)
    tracer.start()
    val spans = ArrayBuffer.empty[(Req, Span)]
    val g = gen.fork(3001)
    try {
      ReplayDoors.foreach { d =>
        val (cg0, cms0) = tracer.codegen()
        val r = request(c, d, g)
        val (cg1, cms1) = tracer.codegen()
        spans += r -> tracer.close(d, r.startMs, System.currentTimeMillis(), r.ms,
          cg1 - cg0, cms1 - cms0)
      }
      layerReplay(res, tracer, env)
    } finally tracer.stop()
    val reqs = spans.map(_._1).toSeq
    (plain ++ reqs).filterNot(_.ok)
      .foreach(r => res.fail(s"traced ${r.door} reply rejected: ${r.body.take(200)}"))
    res.attempted += plain.size + reqs.size

    def p50(rs: Seq[Req], door: String => Boolean) = Stats.percentile(lat(rs, door), 50)
    res.layer("api.collect_ms", p50(reqs, isCollect), "ms")
    res.layer("api.analysis_ms", p50(reqs, AnalysisDoors.contains), "ms")
    val opSpans = spans.collect { case (r, sp) if isCollect(r.door) => sp }.toSeq
    res.layer("api.self_ms", Layers.mean(opSpans.map(_.selfMs)), "ms")
    res.layer("api.jobs_per_req", Layers.mean(opSpans.map(_.jobs.size.toDouble)), "count")
    val tracedP50 = p50(reqs, isCollect)
    res.layer("api.queue_ms", p50(window.filter(_.ok), isCollect) - tracedP50, "ms")
    res.overhead(tracedP50 - p50(plain, isCollect), tracedP50)
    res.generic(opSpans)
    res.info("jobs_per_op_by_package") = Layers.jobsByTag(opSpans)
    res.layer("store.table_files", ctx.parquetFiles(env.tableDir).size.toDouble, "count")
    plain ++ reqs
  }

  /** The same kind of bodies through each layer's public functions:
    * ingest → built-in mapper chain → store write, then a store read
    * of the gateway's table and the facade over it. */
  private def layerReplay(res: Result, tracer: Tracer, env: GatewayEnv): Unit = {
    val spark = ctx.spark
    val g = gen.fork(4000)
    val bodies: Seq[Seq[String]] = Seq.fill(8)(Seq(g.event()))
    val registry = SchemaRegistry.inMemory()
    val replayWh = ctx.work.resolve("replay-warehouse").toString
    val table = java.nio.file.Paths.get(
      EventStore.tablePath(replayWh, GatewayEnv.Project, Gen.Collection))
    val ingest, enrich, write = ArrayBuffer.empty[Span]
    var lines, dead, files, bytes = 0L
    bodies.foreach { body =>
      val (ingested, si) = tracer.span("ingest") {
        val r = JsonIngest.ingest(spark, registry, GatewayEnv.Project,
          spark.sparkContext.parallelize(body, 1))
        r.byCollection.values.foreach(noop)
        r
      }
      ingest += si
      lines += body.size
      dead += ingested.deadLetter.count()
      val df = ingested.byCollection(Gen.Collection)
      val (enriched, se) = tracer.span("enrich") {
        val chain: Seq[DataFrame => DataFrame] = Seq(
          TimestampMapper(System.currentTimeMillis()).apply, UserIdMapper.apply,
          XffIpMapper.apply, UserAgentMapper.apply, ReferrerMapper().apply)
        val out = chain.foldLeft(df)((d, m) => m(d)).persist(StorageLevel.MEMORY_AND_DISK)
        noop(out)
        out
      }
      enrich += se
      val before = ctx.parquetFiles(table)
      val (_, sw) = tracer.span("store.write") {
        EventStore.write(enriched, replayWh, GatewayEnv.Project, Gen.Collection)
      }
      write += sw
      val added = ctx.parquetFiles(table).filterNot(before.toSet)
      files += added.size
      bytes += added.map(p => Files.size(p)).sum
      enriched.unpersist()
      ingested.unpersist()
    }
    def perCall(spans: ArrayBuffer[Span], f: Span => Double) = Layers.mean(spans.map(f).toSeq)
    res.layer("ingest.ms", perCall(ingest, _.ms), "ms")
    res.layer("ingest.jobs", perCall(ingest, _.jobs.size.toDouble), "count")
    res.layer("ingest.dead_letter_frac", dead.toDouble / lines, "ratio")
    res.layer("enrich.ms", perCall(enrich, _.ms), "ms")
    res.layer("enrich.codegen_compiles", perCall(enrich, _.compiles.toDouble), "count")
    res.layer("enrich.codegen_ms", perCall(enrich, _.compileMs), "ms")
    res.layer("store.write_ms", perCall(write, _.ms), "ms")
    res.layer("store.write_jobs", perCall(write, _.jobs.size.toDouble), "count")
    res.layer("store.files_written", files.toDouble / write.size, "count")
    res.layer("store.bytes_per_event", bytes.toDouble / lines, "bytes")

    val (stored, sr) = tracer.span("store.read") {
      EventStore.read(spark, env.registry, env.warehouse, GatewayEnv.Project, Gen.Collection)
    }
    res.layer("store.read_ms", sr.ms, "ms")
    res.layer("store.read_files", stored.inputFiles.length.toDouble, "count")
    val (_, sf) = tracer.span("api.facade") {
      graft.api.Analytics.funnel(stored, "_user", "_time", "event_type", Gen.FunnelSteps).collect()
      graft.api.Analytics.retention(stored, "_user", "_time", "day").collect()
    }
    res.layer("api.facade_ms", sf.ms, "ms")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** A closed-loop window: each client's requests, in order. */
final case class Loop(perClient: Seq[Seq[Req]], t0Ns: Long, cpuMs: Double,
    gcMs: Double, jitMs: Double) {
  def all: Seq[Req] = perClient.flatten
}

object GatewayWorkload {
  /** A funnel reply is 3 steps whose user counts never increase. */
  def funnelOk(body: String): Boolean = {
    val rows = "\\{\"step\":(\\d+),\"n_users\":(\\d+)\\}".r.findAllMatchIn(body)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toSeq.sortBy(_._1)
    rows.map(_._1) == (1 to Gen.FunnelSteps.size) &&
      rows.map(_._2).sliding(2).forall { case Seq(a, b) => a >= b; case _ => true }
  }
}
