package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.SchemaRegistry
import graft.ingest.BatchSources

/** The HTTP facade drives the REAL engine paths end-to-end over a live
  * socket: collect → typed store → segmentation read, the signed batch
  * envelope, profile batch_operations → folded profile, and the
  * reference's rejection messages as 400s. */
class HttpGatewaySpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withGateway(f: (HttpGateway, Int) => Unit): Unit = {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try f(gw, port) finally gw.stop()
  }

  test("collect → store → segmentation round-trip over HTTP") {
    withGateway { (_, port) =>
      val r1 = post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:30:00.000", "page": "/a"}}""")
      assert(r1.statusCode() == 200 && r1.body() == "1")
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u2", "_time": "2026-01-15 11:00:00.000", "page": "/a"}}""")
        .statusCode() == 200)
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-16 09:00:00.000", "page": "/b"}}""")
        .statusCode() == 200)

      val seg = get(port, "/analysis/segmentation?collection=pageview&dimension=page")
      assert(seg.statusCode() == 200)
      // rows like {"page":"/a","users":2,"events":2}
      val byPage = seg.body().split("\\},\\{").map { s =>
        val page = "\"page\":\"([^\"]+)\"".r.findFirstMatchIn(s).get.group(1)
        val users = "\"users\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
        page -> users
      }.toMap
      assert(byPage == Map("/a" -> 2L, "/b" -> 1L))

      // limit caps the driver-side JSON: top groups by event count, so
      // a high-cardinality dimension can't flood one collect (r14
      // verdict hardening). Bad limit is a 400, not a 500.
      val top1 = get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&limit=1")
      assert(top1.statusCode() == 200)
      assert(top1.body().contains("\"page\":\"/a\"") &&
        !top1.body().contains("\"page\":\"/b\""), top1.body())
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&limit=x")
        .statusCode() == 400)
      // non-positive limits are caller errors too (limit=-1 previously
      // reached DataFrame.limit and surfaced as a 500), and huge values
      // are CAPPED to the documented 1000 ceiling rather than honored
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&limit=-1")
        .statusCode() == 400)
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&limit=0")
        .statusCode() == 400)
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&limit=2000000000")
        .statusCode() == 200)

      // /admin/versions: an unregistered (or traversal-shaped) name 404s
      // without touching the filesystem, and the response stays valid
      // JSON whatever the param carries
      val probe = get(port, "/admin/versions?collection=..%2F..%2Fx%22")
      assert(probe.statusCode() == 404)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(probe.body())

      // time travel through the door: pin the current version, land
      // another event, and the pinned read reproduces the OLD numbers
      val ver = "\"version\":(\\d+)".r.findFirstMatchIn(
        get(port, "/admin/versions?collection=pageview").body()).get.group(1)
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u3", "_time": "2026-01-17 09:00:00.000", "page": "/a"}}""")
        .statusCode() == 200)
      val now = get(port,
        "/analysis/segmentation?collection=pageview&dimension=page")
      assert(now.body().contains("\"users\":3"), now.body())
      val pinned = get(port,
        s"/analysis/segmentation?collection=pageview&dimension=page&version=$ver")
      assert(pinned.statusCode() == 200 &&
        pinned.body().contains("\"users\":2") &&
        !pinned.body().contains("\"users\":3"), pinned.body())
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&version=x")
        .statusCode() == 400)
      // beyond-head and ancient-vacuumed versions are caller errors
      assert(get(port,
        "/analysis/segmentation?collection=pageview&dimension=page&version=999999")
        .statusCode() == 400)
    }
  }

  test("project lifecycle: create → collect into it → list → delete, " +
    "with the reference's gates (lock key, name check, 501 when disabled)") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-proj").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo",
      lockKey = Some("sekrit"), allowProjectDeletion = true)
    val port = gw.start()
    try {
      // lock-key gate: wrong/missing key is the reference's FORBIDDEN
      assert(post(port, "/project/create", """{"name":"crm"}""").statusCode() == 403)
      assert(post(port, "/project/create",
        """{"name":"crm","lock_key":"wrong"}""").statusCode() == 403)
      // bad name: reference's validation message
      val bad = post(port, "/project/create",
        """{"name":"has space","lock_key":"sekrit"}""")
      assert(bad.statusCode() == 400 && bad.body().contains("not valid"))
      // create: returns a minted key pair, name lowercased
      val ok = post(port, "/project/create",
        """{"name":"CRM","lock_key":"sekrit"}""")
      assert(ok.statusCode() == 200)
      assert(ok.body().contains("\"project\":\"crm\"") &&
        ok.body().contains("master_key") && ok.body().contains("write_key"))
      assert(new java.io.File(s"$warehouse/crm").isDirectory)
      // duplicate: the reference's message
      val dup = post(port, "/project/create",
        """{"name":"crm","lock_key":"sekrit"}""")
      assert(dup.statusCode() == 400 && dup.body().contains("already exists"))
      // a gateway serving the NEW project enforces its minted keys
      val master = "\"master_key\":\"([^\"]+)\"".r
        .findFirstMatchIn(ok.body()).get.group(1)
      val gw2 = new HttpGateway(spark, registry, warehouse, "crm")
      val port2 = gw2.start()
      try {
        assert(post(port2, "/event/collect",
          """{"collection":"lead","properties":{"_user":"u1","_time":"2026-01-15 10:00:00.000","v":1}}""")
          .statusCode() == 403)
        assert(post(port2, s"/event/collect?master_key=$master",
          """{"collection":"lead","properties":{"_user":"u1","_time":"2026-01-15 10:00:00.000","v":1}}""")
          .statusCode() == 200)
      } finally gw2.stop()
      // list: lock-key-gated enumeration sees both projects
      assert(get(port, "/project/list").statusCode() == 403)
      val list = get(port, "/project/list?lock_key=sekrit")
      assert(list.statusCode() == 200)
      assert(list.body().contains("\"crm\"") && list.body().contains("\"demo\""))
      // delete of a SIBLING project is gated by the TARGET's master
      // key — the serving project's credentials (or an open gateway)
      // must not suffice to destroy another project's data
      val denied = post(port, "/project/delete", """{"name":"crm"}""")
      assert(denied.statusCode() == 403, denied.body())
      assert(new java.io.File(s"$warehouse/crm").isDirectory)
      val del = post(port, s"/project/delete?master_key=$master",
        """{"name":"crm"}""")
      assert(del.statusCode() == 200 && del.body().contains("true"))
      assert(!new java.io.File(s"$warehouse/crm").exists())
      assert(!registry.projects.contains("crm"))
      assert(!get(port, "/project/list?lock_key=sekrit").body().contains("\"crm\""))
      assert(post(port, "/project/delete", """{"name":"crm"}""").statusCode() == 404)
    } finally gw.stop()
    // deletion stays off by default — the reference's 501 contract
    withGateway { (_, port) =>
      val off = post(port, "/project/delete", """{"name":"demo"}""")
      assert(off.statusCode() == 501 && off.body().contains("disabled"))
    }
  }

  test("batch envelope: stored count, and the reference's rejections as 400") {
    withGateway { (_, port) =>
      val ok = post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "click", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "target": "x"}},
          |{"collection": "click", "properties": {"_user": "u2", "_time": "2026-01-15 10:01:00.000", "target": "y"}}
          |]}""".stripMargin)
      assert(ok.statusCode() == 200 && ok.body() == """{"stored":2}""")

      val badProp = post(port, "/event/batch", """{"junk": 1, "events": []}""")
      assert(badProp.statusCode() == 400 &&
        badProp.body().contains("Invalid property 'junk'"))

      val badChecksum = post(port, "/event/batch",
        """{"api": {"api_key": "k", "checksum": "00000000000000000000000000000000"}, "events": []}""")
      assert(badChecksum.statusCode() == 400 &&
        badChecksum.body().contains("Checksum is invalid"))
    }
  }

  test("bulk door takes an over-cap body the batch door rejects; " +
    "schema routes serve the evolved registry") {
    withGateway { (_, port) =>
      // ~600 KB body: over the 500 KB /event/batch cap
      val big = (0 until 3500).map { i =>
        s"""{"collection": "bulkload", "properties": {"_user": "u$i", "_time": "2026-01-15 10:00:00.000", "payload": "${"x" * 120}"}}"""
      }.mkString("""{"events": [""", ",", "]}")
      assert(big.length > BatchSources.MaxBatchBodyBytes)
      val capped = post(port, "/event/batch", big)
      assert(capped.statusCode() == 413 &&
        capped.body().contains("too big"), capped.body())
      val bulk = post(port, "/event/bulk", big)
      assert(bulk.statusCode() == 200 && bulk.body() == """{"stored":3500}""",
        bulk.body())

      val colls = get(port, "/project/collection")
      assert(colls.statusCode() == 200 && colls.body().contains("bulkload"))
      val schema = get(port, "/project/schema?collection=bulkload")
      assert(schema.statusCode() == 200)
      assert(schema.body().contains(""""name":"payload","type":"STRING""""),
        schema.body())
      assert(get(port, "/project/schema?collection=nope").statusCode() == 404)
    }
  }

  test("remote bulk door fetches a URL through the S6 pipeline and stores") {
    withGateway { (_, port) =>
      val f = java.nio.file.Files.createTempFile("graft-http-bulk", ".json")
      java.nio.file.Files.writeString(f,
        """{"api": {"api_key": "k"}, "events": [
          |  {"collection": "orders", "properties": {"_user": "u1", "_time": "2026-01-15 08:00:00.000", "amount": 10.5}},
          |  {"collection": "orders", "properties": {"_user": "u2", "_time": "2026-01-15 09:00:00.000", "amount": 2.0}}
          |]}""".stripMargin)
      val res = post(port, "/event/bulk/remote",
        s"""{"collection": "orders", "urls": ["${f.toUri}"], "type": "JSON"}""")
      assert(res.statusCode() == 200 && res.body() == """{"stored":2}""",
        res.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM orders"}""")
      assert(q.body() == """[{"n":2}]""", q.body())
      // the engine's guards surface as 400s
      assert(post(port, "/event/bulk/remote",
        """{"collection": "orders", "urls": ["file:///a", "file:///b"], "type": "JSON"}""")
        .statusCode() == 400)
      assert(post(port, "/event/bulk/remote",
        """{"collection": "orders", "urls": ["file:///a"], "type": "PARQUET"}""")
        .statusCode() == 400)
    }
  }

  test("remote bulk JSON stores its dead letters in invalid_schema and " +
    "releases its ingest cache") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      // `amount` is DOUBLE from the first import…
      def remote(events: String): HttpResponse[String] = {
        val f = java.nio.file.Files.createTempFile("graft-http-bulk", ".json")
        java.nio.file.Files.writeString(f,
          s"""{"api": {"api_key": "k"}, "events": [$events]}""")
        post(port, "/event/bulk/remote",
          s"""{"collection": "orders", "urls": ["${f.toUri}"], "type": "JSON"}""")
      }
      assert(remote("""{"collection": "orders", "properties": {"_user": "u1", "_time": "2026-01-15 08:00:00.000", "amount": 10.5}}""")
        .body() == """{"stored":1}""")
      val before = spark.sparkContext.getPersistentRDDs.size
      // …so a non-numeric amount cannot coerce: the event stores with
      // amount=null and the field is dead-lettered
      val res = remote(
        """{"collection": "orders", "properties": {"_user": "u2", "_time": "2026-01-15 09:00:00.000", "amount": 2.0}},
          |{"collection": "orders", "properties": {"_user": "u3", "_time": "2026-01-15 10:00:00.000", "amount": "junk"}}""".stripMargin)
      assert(res.statusCode() == 200 && res.body() == """{"stored":2}""", res.body())
      val dead = spark.read.parquet(s"$warehouse/demo/invalid_schema").collect()
      assert(dead.length == 1)
      assert(dead(0).getAs[String]("property") == "amount")
      assert(dead(0).getAs[String]("_user") == "u3")
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        s"cached RDDs left behind: ${spark.sparkContext.getPersistentRDDs}")
    } finally gw.stop()
  }

  test("query door runs SQL over the stored collections through the " +
    "full engine; analysis errors are 400s") {
    withGateway { (_, port) =>
      for (i <- 1 to 5)
        post(port, "/event/collect",
          s"""{"collection": "purchase", "properties": {"_user": "u${i % 2}", "_time": "2026-01-15 10:0$i:00.000", "amount": ${i * 10}}}""")
      val res = post(port, "/query/execute",
        """{"query": "SELECT _user, count(*) AS n, sum(amount) AS total FROM purchase GROUP BY _user ORDER BY _user"}""")
      assert(res.statusCode() == 200, res.body())
      assert(res.body() ==
        """[{"_user":"u0","n":2,"total":60.0},{"_user":"u1","n":3,"total":90.0}]""",
        res.body())
      // graft's native SQL functions are registered on the session
      val lim = post(port, "/query/execute",
        """{"query": "SELECT _user FROM purchase ORDER BY _time", "limit": 2}""")
      assert(lim.statusCode() == 200 &&
        lim.body().split("_user").length - 1 == 2, lim.body())
      val bad = post(port, "/query/execute",
        """{"query": "SELECT nope FROM purchase"}""")
      assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
      assert(post(port, "/query/execute", """{"query": "SELEC"}""")
        .statusCode() == 400)
    }
  }

  test("funnel and retention reads serve the stored collection") {
    withGateway { (_, port) =>
      val events = Seq(
        ("u1", "2026-01-05 10:00:00.000", "view"),
        ("u1", "2026-01-05 10:05:00.000", "cart"),
        ("u1", "2026-01-05 10:09:00.000", "purchase"),
        ("u2", "2026-01-05 11:00:00.000", "view"),
        ("u2", "2026-01-12 11:30:00.000", "cart"),
        ("u3", "2026-01-12 09:00:00.000", "view"))
      events.foreach { case (u, t, et) =>
        assert(post(port, "/event/collect",
          s"""{"collection": "shop", "properties": {"_user": "$u", "_time": "$t", "event_type": "$et"}}""")
          .statusCode() == 200)
      }
      val fun = get(port,
        "/analysis/funnel?collection=shop&steps=view,cart,purchase")
      assert(fun.statusCode() == 200)
      assert(fun.body() ==
        """[{"step":1,"n_users":3},{"step":2,"n_users":2},{"step":3,"n_users":1}]""",
        fun.body())
      val ret = get(port, "/analysis/retention?collection=shop&grain=week")
      assert(ret.statusCode() == 200)
      // u1+u2 cohort Jan-5 week (offset 0: both; offset 1: u2 returns),
      // u3 cohort Jan-12 week
      val counts = "\"offset\":(\\d+),\"n_users\":(\\d+)".r
        .findAllMatchIn(ret.body()).map(m => (m.group(1), m.group(2))).toSeq
      assert(counts.contains(("0", "2")) && counts.contains(("1", "1")) &&
        counts.contains(("0", "1")), ret.body())
      assert(get(port, "/analysis/retention?collection=shop&grain=month")
        .statusCode() == 400)
    }
  }

  test("paths and attribution reads serve the stored collection") {
    withGateway { (_, port) =>
      // u1: A → purchase (value 5); u2: B dangling — the A-always-
      // converts corpus: markov credits A fully, last-touch credits A
      val events = Seq(
        ("u1", "2026-01-05 10:00:00.000", "A", 0),
        ("u1", "2026-01-05 10:05:00.000", "purchase", 5),
        ("u2", "2026-01-05 11:00:00.000", "B", 0))
      events.foreach { case (u, t, et, v) =>
        assert(post(port, "/event/collect",
          s"""{"collection": "journeys", "properties": {"_user": "$u", "_time": "$t", "event_type": "$et", "value": $v}}""")
          .statusCode() == 200)
      }
      val paths = get(port, "/analysis/paths?collection=journeys")
      assert(paths.statusCode() == 200, paths.body())
      assert(paths.body().contains(
        """"from_type":"A","to_type":"purchase","n":1"""), paths.body())

      val lt = get(port, "/analysis/attribution?collection=journeys" +
        "&conversion=purchase")
      assert(lt.statusCode() == 200, lt.body())
      assert(lt.body().contains(""""touch_type":"A","n_conversions":1"""),
        lt.body())

      val mk = get(port, "/analysis/attribution?collection=journeys" +
        "&conversion=purchase&model=markov")
      assert(mk.statusCode() == 200, mk.body())
      assert(mk.body().contains(""""channel":"A"""") &&
        mk.body().contains(""""attribution":1.0"""), mk.body())
      assert(mk.body().contains(""""channel":"B"""") &&
        mk.body().contains(""""attribution":0.0"""), mk.body())

      assert(get(port, "/analysis/attribution?collection=journeys" +
        "&conversion=purchase&model=nope").statusCode() == 400)
      assert(get(port, "/analysis/paths?collection=journeys&type_column=zz")
        .statusCode() == 400)

      // a MAP-typed property must not break the ordering hash (Spark's
      // hash functions reject map inputs — the tiebreak skips them)
      assert(post(port, "/event/collect",
        """{"collection": "mapped", "properties": {"_user": "u9", "_time": "2026-01-05 10:00:00.000", "event_type": "A", "attrs": {"k": "v"}}}""")
        .statusCode() == 200)
      assert(post(port, "/event/collect",
        """{"collection": "mapped", "properties": {"_user": "u9", "_time": "2026-01-05 10:01:00.000", "event_type": "purchase", "attrs": {"k": "w"}}}""")
        .statusCode() == 200)
      val mp = get(port, "/analysis/paths?collection=mapped")
      assert(mp.statusCode() == 200, mp.body())
      assert(mp.body().contains(""""from_type":"A""""), mp.body())

      // an event type spelled like a reserved virtual state is the
      // client's 400 on the markov model, not a 500
      assert(post(port, "/event/collect",
        """{"collection": "reserved", "properties": {"_user": "u1", "_time": "2026-01-05 10:00:00.000", "event_type": "(conv)"}}""")
        .statusCode() == 200)
      assert(post(port, "/event/collect",
        """{"collection": "reserved", "properties": {"_user": "u1", "_time": "2026-01-05 10:01:00.000", "event_type": "purchase"}}""")
        .statusCode() == 200)
      assert(get(port, "/analysis/attribution?collection=reserved" +
        "&conversion=purchase&model=markov").statusCode() == 400)
    }
  }

  test("user batch_operations fold into the profile served by /user/get") {
    withGateway { (_, port) =>
      assert(post(port, "/user/batch_operations",
        """[
          |{"id": "u1", "time": 1000, "set_properties": {"plan": "free", "city": "berlin"}},
          |{"id": "u1", "time": 2000, "set_once_properties": {"plan": "pro"}, "increment_properties": {"logins": "2"}},
          |{"id": "u1", "time": 3000, "increment_properties": {"logins": "3"}, "unset_properties": ["city"]}
          |]""".stripMargin).statusCode() == 200)

      val prof = get(port, "/user/get?id=u1")
      assert(prof.statusCode() == 200)
      // set_once must NOT override an existing value; increments add;
      // unset nulls the property (the fold's tombstone)
      assert(prof.body().contains("\"plan\":\"free\""), prof.body())
      assert(prof.body().contains("\"logins\":\"5\""), prof.body())
      assert(prof.body().contains("\"city\":null"), prof.body())

      assert(get(port, "/user/get?id=nobody").statusCode() == 404)

      // /user/batch bulk-creates users as Set ops in the same log —
      // and later batch_operations fold on top of them
      assert(post(port, "/user/batch",
        """[
          |{"id": "u7", "time": 500, "properties": {"plan": "trial"}},
          |{"id": "u8", "time": 500, "properties": {"plan": "team"}}
          |]""".stripMargin).statusCode() == 200)
      val u7 = get(port, "/user/get?id=u7")
      assert(u7.statusCode() == 200 && u7.body().contains("\"plan\":\"trial\""),
        u7.body())
      assert(post(port, "/user/batch_operations",
        """[{"id": "u7", "time": 900, "set_properties": {"plan": "pro"}}]""")
        .statusCode() == 200)
      assert(get(port, "/user/get?id=u7").body().contains("\"plan\":\"pro\""))
    }
  }

  test("subscription lifecycle: create → collect → poll sees matching " +
    "rows, the sync() pull contract over HTTP (ST1)") {
    withGateway { (_, port) =>
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "page": "/a"}}""")
        .statusCode() == 200)
      val created = post(port, "/subscription/create",
        """{"id": "s1", "collection": "pageview", "filter": "page = '/a'"}""")
      assert(created.statusCode() == 200, created.body())
      // existing files are the first micro-batch
      val p1 = post(port, "/subscription/poll?id=s1", "")
      assert(p1.body().split("\"_user\"").length - 1 == 1, p1.body())
      // new collects surface on the next pull; the filter drops /b
      post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u2", "_time": "2026-01-15 11:00:00.000", "page": "/a"}}""")
      post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u3", "_time": "2026-01-15 12:00:00.000", "page": "/b"}}""")
      val p2 = post(port, "/subscription/poll?id=s1", "")
      assert(p2.body().split("\"_user\"").length - 1 == 2, p2.body())
      assert(!p2.body().contains("u3"), p2.body())
      assert(post(port, "/subscription/delete?id=s1", "").statusCode() == 200)
      assert(post(port, "/subscription/poll?id=s1", "").statusCode() == 404)
    }
  }

  test("time travel spans the read surface: funnel/retention/paths/" +
    "attribution/statistics and a TrainingSet corpus door all honor the " +
    "version pin — pinned reads reproduce pre-append numbers exactly") {
    withGateway { (_, port) =>
      def collect(user: String, time: String, etype: String,
          doc: Long, text: String): Unit =
        assert(post(port, "/event/collect",
          s"""{"collection": "ev", "properties": {"_user": "$user", "_time": "$time", "event_type": "$etype", "value": 1.0, "doc_id": $doc, "text": "$text"}}""")
          .statusCode() == 200)
      collect("u1", "2026-01-15 10:00:00.000", "view", 1, "alpha beta gamma")
      collect("u1", "2026-01-15 10:05:00.000", "cart", 2, "beta gamma delta")
      collect("u2", "2026-01-15 11:00:00.000", "view", 3, "gamma delta epsilon")

      val ver = "\"version\":(\\d+)".r.findFirstMatchIn(
        get(port, "/admin/versions?collection=ev").body()).get.group(1)
      // record every door's pre-append answer…
      def doors(suffix: String): Seq[String] = Seq(
        get(port, s"/analysis/funnel?collection=ev&steps=view,cart$suffix").body(),
        get(port, s"/analysis/retention?collection=ev&grain=day$suffix").body(),
        get(port, s"/analysis/paths?collection=ev$suffix").body(),
        get(port, s"/analysis/attribution?collection=ev&conversion=cart$suffix").body(),
        get(port, s"/analysis/statistics?collection=ev$suffix").body(),
        post(port, "/tokenizer/drift",
          s"""{"collection": "ev"${if (suffix.isEmpty) ""
             else s""", "version": $ver"""}}""").body())
      val before = doors("")

      // …land more data that changes every one of those answers…
      collect("u3", "2026-01-16 09:00:00.000", "view", 4, "zeta eta theta")
      collect("u3", "2026-01-16 09:05:00.000", "cart", 5, "eta theta iota")

      // …and the pinned reads reproduce the old numbers byte-for-byte,
      // while head reads see the new data
      val pinned = doors(s"&version=$ver")
      assert(pinned == before,
        pinned.zip(before).filter(p => p._1 != p._2).take(1).toString)
      val head = doors("")
      assert(head != before, "head reads did not see the appended events")

      // version without collection on the project-wide statistics
      // listing is ambiguous — a caller error
      assert(get(port, "/analysis/statistics?version=1").statusCode() == 400)

      // the run manifest: /admin/pin recorded BEFORE the append still
      // replays through /query/execute's pins — ad-hoc SQL over the
      // pinned corpus counts the old rows, the unpinned one the new
      val manifest = get(port, "/admin/pin")
      assert(manifest.statusCode() == 200 &&
        manifest.body().contains(s""""ev":"""), manifest.body())
      val pinnedSql = post(port, "/query/execute",
        s"""{"query": "SELECT count(*) AS n FROM ev", "pins": {"ev": $ver}}""")
      assert(pinnedSql.body() == """[{"n":3}]""", pinnedSql.body())
      val headSql = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM ev"}""")
      assert(headSql.body() == """[{"n":5}]""", headSql.body())
      assert(post(port, "/query/execute",
        """{"query": "SELECT 1 AS x", "pins": {"nope": 1}}""")
        .statusCode() == 400)
      assert(post(port, "/query/execute",
        s"""{"query": "SELECT 1 AS x", "pins": {"ev": 999999}}""")
        .statusCode() == 400)

      // the O(delta) diff door: what landed since the recorded pin
      val headVer = "\"version\":(\\d+)".r.findFirstMatchIn(
        get(port, "/admin/versions?collection=ev").body()).get.group(1)
      val diff = get(port, s"/admin/diff?collection=ev&from=$ver&to=$headVer")
      assert(diff.statusCode() == 200, diff.body())
      assert(diff.body().contains("\"added_rows\":2") &&
        diff.body().contains("\"purely_additive\":true") &&
        diff.body().contains("u3"), diff.body())
      assert(get(port, s"/admin/diff?collection=ev&from=$ver&to=999999")
        .statusCode() == 400)
    }
  }

  test("concurrent collects all store: writes serialize behind the " +
    "lock, none are lost to shared staging dirs") {
    withGateway { (_, port) =>
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val codes = Await.result(Future.sequence((1 to 12).map { i =>
        Future(post(port, "/event/collect",
          s"""{"collection": "conc", "properties": {"_user": "u$i", "_time": "2026-01-15 10:00:00.000", "k": $i}}""")
          .statusCode())
      }), 180.seconds)
      assert(codes.forall(_ == 200), codes.toString)
      val res = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n, count(DISTINCT _user) AS u FROM conc"}""")
      assert(res.body() == """[{"n":12,"u":12}]""", res.body())
    }
  }

  test("concurrent same-kind bulk uploads all store: each request owns " +
    "a private scratch dir, so no body file is evicted mid-flight") {
    withGateway { (_, port) =>
      // seed the collection schema so bulk CSV columns come back typed
      assert(post(port, "/event/collect",
        """{"collection": "bulkconc", "properties": {"_user": "u0", "_time": "2026-01-15 10:00:00.000", "amount": 1.0}}""")
        .statusCode() == 200)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      // six concurrent text/csv bulks share the handler pool; under the
      // old keyed two-generation scratch, request 3+ evicted request 1's
      // spooled body before its lazy read executed inside the write lock
      val results = Await.result(Future.sequence((1 to 6).map { i =>
        Future {
          val csv = s"_user,_time,amount\nb$i,2026-01-16 09:00:00.000,$i.5\n"
          client.send(
            HttpRequest.newBuilder(
              URI.create(s"http://localhost:$port/event/bulk?collection=bulkconc"))
              .header("Content-Type", "text/csv")
              .POST(HttpRequest.BodyPublishers.ofString(csv)).build(),
            HttpResponse.BodyHandlers.ofString())
        }
      }), 180.seconds)
      assert(results.forall(_.statusCode() == 200),
        results.map(r => (r.statusCode(), r.body())).toString)
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n, count(DISTINCT _user) AS u FROM bulkconc WHERE _user LIKE 'b%'"}""")
      assert(q.body() == """[{"n":6,"u":6}]""", q.body())
    }
  }

  test("concurrent NEW-FIELD collects converge the registry with no " +
    "lost columns (TestMetastore.testConcurrentSchemaChanges)") {
    withGateway { (_, port) =>
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      // eight threads, each adding a DIFFERENT new field to the same
      // collection — the reference's 20-retry DDL race loop
      // (PostgresqlMetastore.java:259,343-346) makes this converge to
      // the union; the HTTP door path must too
      val codes = Await.result(Future.sequence((1 to 8).map { i =>
        Future(post(port, "/event/collect",
          s"""{"collection": "evo", "properties": {"_user": "u$i", "_time": "2026-01-15 10:00:00.000", "f$i": $i}}""")
          .statusCode())
      }), 180.seconds)
      assert(codes.forall(_ == 200), codes.toString)
      // schema converged to the union: a query touching every new column
      // parses, and each column holds exactly its one writer's value
      val cols = (1 to 8).map(i => s"count(f$i) AS c$i").mkString(", ")
      val q = post(port, "/query/execute",
        s"""{"query": "SELECT count(*) AS n, $cols FROM evo"}""")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"n\":8"), q.body())
      (1 to 8).foreach(i => assert(q.body().contains(s"\"c$i\":1"), q.body()))
    }
  }

  test("spider-rejected ingest leaves no cached blocks behind: the " +
    "enrich persist is released even when the gate throws mid-build") {
    withGateway { (_, port) =>
      // warm the pipeline so lazy one-time caches don't skew the count
      assert(post(port, "/event/collect",
        """{"collection": "pv", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000"}}""")
        .statusCode() == 200)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      (1 to 3).foreach { i =>
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
            .header("User-Agent",
              "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)")
            .POST(HttpRequest.BodyPublishers.ofString(
              s"""{"collection": "pv", "properties": {"_user": "bot$i", "_time": "2026-01-15 10:00:00.000", "_user_agent": true}}"""))
            .build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 403, s"${r.statusCode()} ${r.body()}")
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"spider-rejected requests leaked cached RDDs: $leaked")
    }
  }

  test("a spider in any collection of a batch rejects the whole request " +
    "before any collection is written") {
    withGateway { (_, port) =>
      val bot = "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"
      val human = "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0"
      def event(coll: String, ua: String, page: String) =
        s"""{"collection": "$coll", "properties": {"_user": "u", "_time": "2026-01-15 10:00:00.000", "_user_agent": "$ua", "page": "$page"}}"""
      def count(coll: String): String =
        post(port, "/query/execute", s"""{"query": "SELECT count(*) AS n FROM $coll"}""").body()
      assert(post(port, "/event/batch", s"""{"events": [${event("ca", human, "/0")},
        |${event("cb", human, "/0")}]}""".stripMargin).statusCode() == 200)
      // the spider sits in each collection once, so whichever collection
      // the gateway handles first, a clean one is handled before a bot
      for ((spiderIn, cleanIn) <- Seq("ca" -> "cb", "cb" -> "ca")) {
        val r = post(port, "/event/batch", s"""{"events": [${event(cleanIn, human, "/1")},
          |${event(spiderIn, bot, "/1")}, ${event(spiderIn, human, "/1")}]}""".stripMargin)
        assert(r.statusCode() == 403 && r.body().contains("Spiders are not allowed"), r.body())
      }
      assert(count("ca").contains("\"n\":1") && count("cb").contains("\"n\":1"),
        (count("ca"), count("cb")))
    }
  }

  private val humanUa =
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0"

  private def uaEvent(coll: String, user: String) =
    s"""{"collection": "$coll", "properties": {"_user": "$user", "_time": "2026-01-15 10:00:00.000", "_user_agent": "$humanUa", "_referrer": "https://www.google.com/search?q=x"}}"""

  test("a steady-state collect runs 1 Spark job: a small request ingests " +
    "and enriches as a local relation, and only the store write runs") {
    withGateway { (_, port) =>
      val event = uaEvent("pv", "u1")
      (1 to 2).foreach(_ => assert(post(port, "/event/collect", event).statusCode() == 200))
      val jobs = jobsDuring(assert(post(port, "/event/collect", event).statusCode() == 200))
      assert(jobs.size == 1 && jobs.head.contains("EventStore"), jobs)
    }
  }

  test("a request of 64 lines takes the local leaf; 65 lines take the " +
    "distributed one") {
    withGateway { (_, port) =>
      def batch(n: Int) = (1 to n).map(i => uaEvent("pv", s"u$i"))
        .mkString("""{"events": [""", ",", "]}")
      assert(post(port, "/event/batch", batch(2)).statusCode() == 200)
      val small = jobsDuring(assert(post(port, "/event/batch", batch(64)).body() ==
        """{"stored":64}"""))
      assert(small.size == 1 && small.head.contains("EventStore"), small)
      val large = jobsDuring(assert(post(port, "/event/batch", batch(65)).body() ==
        """{"stored":65}"""))
      // schema fold, spider gate, write, dead-letter check: the rule
      // tables run per row, with no broadcast join
      assert(large.size == 4 && large.exists(_.contains("JsonIngest")) &&
        !large.exists(_.contains("broadcast exchange")), large)
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n, count(_user_agent_family) AS ua FROM pv"}""")
      assert(q.body().contains("\"n\":131") && q.body().contains("\"ua\":131"), q.body())
    }
  }

  test("a collection with a JS mapper keeps the persisted path, stores the " +
    "rows the local path stores, and logs once") {
    withGateway { (_, port) =>
      val script = "function mapper(events, params, sourceIp, headers, sql, config) { " +
        "var ev = events.events(); var n = 0; " +
        "while (ev.hasNext()) { ev.next(); n = n + 1; } logger.info('saw ' + n); }"
      assert(post(port, "/custom-event-mapper/create",
        s"""{"name": "counter", "script": "$script", "collection": "mapped"}""")
        .statusCode() == 200)
      assert(post(port, "/event/collect", uaEvent("plain", "u1")).statusCode() == 200)
      val jobs = jobsDuring(
        assert(post(port, "/event/collect", uaEvent("mapped", "u1")).statusCode() == 200))
      // the spider gate is its own job over the persisted frame
      assert(jobs.exists(_.contains("HttpGateway")), jobs)
      def rows(coll: String) = post(port, "/query/execute",
        s"""{"query": "SELECT * FROM $coll"}""").body()
      assert(rows("mapped") == rows("plain") && rows("plain").contains("Firefox"),
        (rows("mapped"), rows("plain")))
      val logs = post(port, "/javascript-logger/get_logs", """{"prefix": "counter"}""").body()
      assert("saw 1".r.findAllIn(logs).size == 1 && "\"level\"".r.findAllIn(logs).size == 1,
        logs)
      // the test door's script sees a small request as one batch too
      val firstOnly = "function mapper(events, params, sourceIp, headers, sql, config) { " +
        "var ev = events.events(); var first = true; " +
        "while (ev.hasNext()) { var e = ev.next(); if (!first) { e.drop(); } first = false; } }"
      val t = post(port, "/custom-event-mapper/test",
        s"""{"script": "$firstOnly", "events": [${(1 to 3).map(i => uaEvent("t", s"u$i")).mkString(",")}]}""")
      assert(t.statusCode() == 200 && "\"_user\"".r.findAllIn(t.body()).size == 1, t.body())
    }
  }

  test("a 10-event batch in one month writes one part file") {
    val warehouse = graft.TempDirs.scratch("graft-small-files").toString
    val gw = new HttpGateway(spark, SchemaRegistry.inMemory(), warehouse, "demo")
    val port = gw.start()
    try {
      val events = (1 to 10).map(i => uaEvent("pv", s"u$i"))
      assert(post(port, "/event/batch", events.mkString("""{"events": [""", ",", "]}"))
        .body() == """{"stored":10}""")
      val month = new java.io.File(
        graft.store.EventStore.tablePath(warehouse, "demo", "pv"), "_month=2026-01")
      val parts = month.listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length == 1, parts.toSeq)
    } finally gw.stop()
  }

  test("IP2Location CSV dim drives gateway geo enrichment end-to-end: " +
    "the reference-verbatim country NAME lands in _country_code") {
    import graft.enrich.geo.Ip2LocationCsv
    // TEST-NET-3 (203.0.113.0/24) in the headerless fully-quoted vendor
    // row format; ip_from/ip_to are decimal v4 numbers
    val lo = 203L * (1L << 24) + 113L * 256
    val hi = lo + 255
    val dir = graft.TempDirs.scratch("ip2loc-gw")
    val f = dir.resolve("ranges.csv")
    java.nio.file.Files.writeString(f,
      s""""$lo","$hi","AU","Australia","New South Wales","Sydney","-33.8688","151.2093"""" + "\n")
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-ip2loc").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo",
      geoRanges = Some(Ip2LocationCsv.rangeDim(spark, f.toString)))
    val port = gw.start()
    try {
      assert(post(port, "/event/collect",
        """{"collection": "visit", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "_ip": "203.0.113.9"}}""")
        .statusCode() == 200)
      val q = post(port, "/query/execute",
        """{"query": "SELECT _country_code, _region, _city FROM visit"}""")
      // IP2LocationGeoIPEventMapper.java:145-154 binds the long country
      // NAME (CSV capture group 4), not the ISO code, to _country_code
      assert(q.body().contains("\"_country_code\":\"Australia\""), q.body())
      assert(q.body().contains("\"_city\":\"Sydney\""), q.body())
      // an IP outside every vendor range stores the event, geo null
      assert(post(port, "/event/collect",
        """{"collection": "visit", "properties": {"_user": "u2", "_time": "2026-01-15 11:00:00.000", "_ip": "198.51.100.7"}}""")
        .statusCode() == 200)
      val q2 = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS nogeo FROM visit WHERE _user = 'u2' AND _country_code IS NULL"}""")
      assert(q2.body().contains("\"nogeo\":1"), q2.body())
    } finally gw.stop()
  }

  test("right-to-be-forgotten: /user/delete removes events everywhere " +
    "and the profile; /admin/compact consolidates the partition") {
    withGateway { (_, port) =>
      for (i <- 1 to 4)
        post(port, "/event/collect",
          s"""{"collection": "pv", "properties": {"_user": "u${i % 2}", "_time": "2026-01-1$i 10:00:00.000", "x": $i}}""")
      post(port, "/event/collect",
        """{"collection": "clk", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000"}}""")
      post(port, "/user/set_properties",
        """{"id": "u1", "properties": {"plan": "pro"}}""")
      val del = post(port, "/user/delete", """{"id": "u1"}""")
      assert(del.statusCode() == 200, del.body())
      assert(del.body().contains("\"rows_deleted\":3"), del.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n, count(DISTINCT _user) AS u FROM pv"}""")
      assert(q.body() == """[{"n":2,"u":1}]""", q.body())
      assert(get(port, "/user/get?id=u1").statusCode() == 404)

      val comp = post(port, "/admin/compact",
        """{"collection": "pv", "month": "2026-01"}""")
      assert(comp.statusCode() == 200 && comp.body() == """{"files":1}""",
        comp.body())
      // reads survive compaction
      val q2 = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM pv"}""")
      assert(q2.body() == """[{"n":2}]""", q2.body())
      assert(post(port, "/admin/compact",
        """{"collection": "pv", "month": "1999-01"}""").statusCode() == 400)

      // the commit-log ops doors: head version + file count, then
      // vacuum reaps what compaction logically removed
      val vers = get(port, "/admin/versions?collection=pv")
      assert(vers.statusCode() == 200 &&
        vers.body().contains("\"files\":1"), vers.body())
      val vac = post(port, "/admin/vacuum",
        """{"collection": "pv", "grace_ms": 0}""")
      assert(vac.statusCode() == 200, vac.body())
      val deleted = "\"deleted_files\":(\\d+)".r
        .findFirstMatchIn(vac.body()).get.group(1).toInt
      assert(deleted >= 1, s"vacuum reaped nothing: ${vac.body()}")
      val q3 = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM pv"}""")
      assert(q3.body() == """[{"n":2}]""", q3.body())
      assert(get(port, "/admin/versions?collection=nope").statusCode() == 404)
      assert(post(port, "/admin/vacuum",
        """{"collection": "pv", "retain_versions": 0}""").statusCode() == 400)
      // destructive maintenance doors refuse unregistered names outright
      // — a traversal-shaped collection must never reach the filesystem
      assert(post(port, "/admin/vacuum",
        """{"collection": "../../x", "grace_ms": 0}""").statusCode() == 400)
      assert(post(port, "/admin/compact",
        """{"collection": "../../x", "month": "2026-01"}""").statusCode() == 400)
    }
  }

  test("profile pins: an (event version, ops version) pair replays an " +
    "event↔profile join byte-identically across later mutations; an " +
    "erasure fails the pre-erasure pin fast (RTBF outranks pins)") {
    withGateway { (_, port) =>
      post(port, "/event/collect",
        """{"collection": "pv", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000"}}""")
      post(port, "/event/collect",
        """{"collection": "pv", "properties": {"_user": "u2", "_time": "2026-01-15 11:00:00.000"}}""")
      post(port, "/user/set_properties",
        """{"id": "u1", "properties": {"plan": "pro"}}""")
      post(port, "/user/set_properties",
        """{"id": "u2", "properties": {"plan": "free"}}""")

      // the run manifest now covers the profile dimension too
      val pin = get(port, "/admin/pin")
      assert(pin.statusCode() == 200, pin.body())
      def pinOf(body: String, k: String): Long =
        s""""$k":(\\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
      val evV = pinOf(pin.body(), "pv")
      val opsV = pinOf(pin.body(), "__user_ops")

      val joinSql = "SELECT e._user AS u, u.properties['plan'] AS plan, " +
        "count(*) AS n FROM pv e JOIN _users u ON e._user = u.id " +
        "GROUP BY 1, 2 ORDER BY 1"
      def pinnedJoin(): HttpResponse[String] = post(port, "/query/execute",
        s"""{"query": "$joinSql", "pins": {"pv": $evV, "__user_ops": $opsV}}""")
      val before = pinnedJoin()
      assert(before.statusCode() == 200, before.body())
      assert(before.body() ==
        """[{"u":"u1","plan":"pro","n":1},{"u":"u2","plan":"free","n":1}]""",
        before.body())

      // later mutations on BOTH sides: more events, a profile update,
      // a new user — the pinned pair must not see any of it
      post(port, "/event/collect",
        """{"collection": "pv", "properties": {"_user": "u1", "_time": "2026-01-16 10:00:00.000"}}""")
      post(port, "/user/set_properties",
        """{"id": "u1", "properties": {"plan": "enterprise"}}""")
      post(port, "/user/batch",
        """[{"id": "u3", "properties": {"plan": "trial"}}]""")
      assert(pinnedJoin().body() == before.body(),
        "pinned (event, ops) pair drifted under later mutations")
      // …while the unpinned join serves the new state
      val now = post(port, "/query/execute", s"""{"query": "$joinSql"}""")
      assert(now.body().contains("\"plan\":\"enterprise\""), now.body())

      // /user/get serves the same pinned-vs-head contract
      val pinnedGet = get(port, s"/user/get?id=u1&version=$opsV")
      assert(pinnedGet.body().contains("\"plan\":\"pro\""), pinnedGet.body())
      assert(get(port, "/user/get?id=u1").body()
        .contains("\"plan\":\"enterprise\""))
      assert(get(port, "/user/get?id=u1&version=x").statusCode() == 400)

      // ops-log governance doors: head version + O(delta) diff
      val vers = get(port, "/admin/versions?collection=__user_ops")
      assert(vers.statusCode() == 200, vers.body())
      val head = pinOf(vers.body(), "version")
      assert(head > opsV)
      val diff = get(port,
        s"/admin/diff?collection=__user_ops&from=$opsV&to=$head")
      assert(diff.statusCode() == 200 &&
        diff.body().contains("\"purely_additive\":true") &&
        diff.body().contains("\"added_rows\":2"), diff.body())

      // erasure: the pinned pre-erasure ops version must fail FAST
      // (its files are physically gone — a resolvable pin would
      // resurrect the erased user), and the erasure trips the
      // governance flag for any window crossing it
      assert(post(port, "/user/delete", """{"id": "u2"}""")
        .statusCode() == 200)
      assert(get(port, "/user/get?id=u2").statusCode() == 404)
      val stale = pinnedJoin()
      assert(stale.statusCode() == 400, s"pre-erasure pin still served: " +
        s"${stale.statusCode()} ${stale.body()}")
      val head2 = pinOf(
        get(port, "/admin/versions?collection=__user_ops").body(), "version")
      // the window holding just the erasure commit serves the flag…
      val diff2 = get(port,
        s"/admin/diff?collection=__user_ops&from=$head&to=$head2")
      assert(diff2.statusCode() == 200 &&
        diff2.body().contains("\"purely_additive\":false"), diff2.body())
      // …and the erasure is BUCKET-scoped: the window's appended files
      // (u1's and u3's ops, other buckets) survived the rewrite, so
      // this diff still SERVES, flagged non-additive — while a window
      // touching the erased user's own append file fails fast (its
      // delta is physically gone: serving it would resurrect u2)
      val diffAcross = get(port,
        s"/admin/diff?collection=__user_ops&from=$opsV&to=$head2")
      assert(diffAcross.statusCode() == 200 &&
        diffAcross.body().contains("\"purely_additive\":false") &&
        !diffAcross.body().contains("u2"), diffAcross.body())
      val diffGone = get(port,
        s"/admin/diff?collection=__user_ops&from=0&to=$head2")
      assert(diffGone.statusCode() == 400 &&
        diffGone.body().contains("no longer resolvable"), diffGone.body())
      // a FRESH pin pair taken after the erasure replays again
      val pin2 = get(port, "/admin/pin")
      val evV2 = pinOf(pin2.body(), "pv")
      val opsV2 = pinOf(pin2.body(), "__user_ops")
      val after = post(port, "/query/execute",
        s"""{"query": "$joinSql", "pins": {"pv": $evV2, "__user_ops": $opsV2}}""")
      assert(after.statusCode() == 200 &&
        after.body().contains("\"plan\":\"enterprise\"") &&
        !after.body().contains("u2"), after.body())
    }
  }

  test("/user/get?as_of= serves the point-in-time profile (logical cut " +
    "on the op log) and /user/metadata honors the version pin") {
    withGateway { (_, port) =>
      assert(post(port, "/user/set_properties",
        """{"id": "u1", "time": 1000, "properties": {"plan": "free"}}""")
        .statusCode() == 200)
      assert(post(port, "/user/set_properties",
        """{"id": "u1", "time": 2000, "properties": {"plan": "pro", "tier": "gold"}}""")
        .statusCode() == 200)
      // the cut falls between the two ops: first state only
      val mid = get(port, "/user/get?id=u1&as_of=1500")
      assert(mid.statusCode() == 200 && mid.body().contains("\"plan\":\"free\"")
        && !mid.body().contains("tier"), mid.body())
      // at/after the second op: latest state (inclusive cut)
      val late = get(port, "/user/get?id=u1&as_of=2000")
      assert(late.body().contains("\"plan\":\"pro\"") &&
        late.body().contains("\"tier\":\"gold\""), late.body())
      // before any op: the user did not exist yet
      assert(get(port, "/user/get?id=u1&as_of=500").statusCode() == 404)
      assert(get(port, "/user/get?id=u1&as_of=x").statusCode() == 400)

      // metadata pin: a column added after the pin is invisible at it
      val v = """"__user_ops":(\d+)""".r
        .findFirstMatchIn(get(port, "/admin/pin").body()).get.group(1).toLong
      assert(post(port, "/user/set_properties",
        """{"id": "u1", "time": 3000, "properties": {"campaign": "x"}}""")
        .statusCode() == 200)
      assert(get(port, "/user/metadata").body().contains("campaign"))
      val pinned = get(port, s"/user/metadata?version=$v")
      assert(pinned.statusCode() == 200 && !pinned.body().contains("campaign")
        && pinned.body().contains("plan"), pinned.body())
      assert(get(port, "/user/metadata?version=x").statusCode() == 400)
    }
  }

  test("erasing the LAST user leaves a pinnable empty log: the fresh " +
    "pin resolves (empty), never a 400 — and a pre-r17 crashed swap " +
    "migrates at start (roll forward, purge the aside)") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-opslegacy").toString
    val gw1 = new HttpGateway(spark, registry, warehouse, "demo")
    val p1 = gw1.start()
    try {
      assert(post(p1, "/user/set_properties",
        """{"id": "solo", "properties": {"plan": "pro"}}""")
        .statusCode() == 200)
      // erase the only user: the rewrite commits an EMPTY file set
      assert(post(p1, "/user/delete", """{"id": "solo"}""")
        .statusCode() == 200)
      val pin = get(p1, "/admin/pin")
      val opsV = """"__user_ops":(\d+)""".r
        .findFirstMatchIn(pin.body()).get.group(1).toLong
      // the fresh post-erasure pin RESOLVES — an empty log, not a 400
      assert(get(p1, s"/user/get?id=solo&version=$opsV")
        .statusCode() == 404)
      val q = post(p1, "/query/execute",
        s"""{"query": "SELECT count(*) AS n FROM _users", "pins": {"__user_ops": $opsV}}""")
      assert(q.statusCode() == 200 && q.body() == """[{"n":0}]""", q.body())
    } finally gw1.stop()

    // pre-r17 upgrade path: simulate the OLD fixed-name crashed swap
    // (post-erasure truth in `.rewriting`, no main, pre-erasure aside
    // on disk). Fake the pre-manifest layout by dropping the manifest.
    val gw2 = new HttpGateway(spark, registry, warehouse, "demo")
    val p2 = gw2.start()
    try {
      assert(post(p2, "/user/batch_operations",
        """[{"id": "u-kept", "set_properties": {"plan": "pro"}}]""")
        .statusCode() == 200)
    } finally gw2.stop()
    val ops = new java.io.File(s"$warehouse/demo/__user_ops")
    val manifests = new java.io.File(ops, "_manifests")
    graft.FileTree.delete(manifests)
    val tmp = new java.io.File(s"$warehouse/demo/__user_ops.rewriting")
    val aside = new java.io.File(s"$warehouse/demo/__user_ops.erased")
    assert(ops.renameTo(tmp), "fixture: could not stage the crash window")
    aside.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(aside, "pre-erasure.parquet").toPath, Array[Byte](1))

    val gw3 = new HttpGateway(spark, registry, warehouse, "demo")
    val p3 = gw3.start()
    try {
      // migration rolled the rewrite forward: the log serves via the
      // pre-manifest fallback…
      val got = get(p3, "/user/get?id=u-kept")
      assert(got.statusCode() == 200 && got.body().contains("pro"),
        got.body())
      // …the pre-erasure aside (RTBF!) is gone, and so is the tmp
      assert(!aside.exists(), "pre-erasure aside survived migration")
      assert(!tmp.exists())
    } finally gw3.stop()
  }

  test("ops-log crash hygiene under the manifest: uncommitted junk in " +
    "the log dir is invisible to readers; a stale crashed rewrite tmp " +
    "is swept at start while a young one survives") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-opsrec").toString
    val gw1 = new HttpGateway(spark, registry, warehouse, "demo")
    val p1 = gw1.start()
    try {
      assert(post(p1, "/user/batch_operations",
        """[{"id": "u-kept", "set_properties": {"plan": "pro"}}]""")
        .statusCode() == 200)
    } finally gw1.stop()

    val ops = new java.io.File(s"$warehouse/demo/__user_ops")
    // a crashed appender/rewriter's orphan: a part file moved in but
    // never committed. Readers resolve the manifest snapshot, so even
    // GARBAGE bytes here must not reach any parquet scan.
    val orphan = new java.io.File(ops, "part-00000-crashed-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // a crashed erasure attempt's staging dir (per-attempt unique name)
    val tmp = new java.io.File(s"$warehouse/demo/__user_ops.rewriting-dead")
    tmp.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(tmp, "part-x.parquet").toPath, Array[Byte](1))

    val gw2 = new HttpGateway(spark, registry, warehouse, "demo")
    val p2 = gw2.start()
    try {
      // the log serves through the snapshot, junk and all
      val got = get(p2, "/user/get?id=u-kept")
      assert(got.statusCode() == 200 && got.body().contains("pro"), got.body())
      // young tmp survives (another gateway may be mid-erasure);
      // young orphan survives too (an in-flight append's publish gap)
      assert(tmp.exists() && orphan.exists())
    } finally gw2.stop()

    // …but past the grace window both are reaped at the next start
    assert(tmp.setLastModified(System.currentTimeMillis() - 3600_000L))
    assert(orphan.setLastModified(System.currentTimeMillis() - 3600_000L))
    val gw3 = new HttpGateway(spark, registry, warehouse, "demo")
    val p3 = gw3.start()
    try {
      assert(!tmp.exists(), "stale crashed rewrite tmp survived start")
      assert(!orphan.exists(), "stale uncommitted orphan survived start")
      assert(get(p3, "/user/get?id=u-kept").statusCode() == 200)
    } finally gw3.stop()
  }

  test("poll?prune_ms bounds a long-lived ACTIVE tail's spool (links " +
    "pin vacuumed inodes; sweepStale only reaps cold spools) without " +
    "losing or duplicating a single row") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-subprune").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      def collect(u: String): Unit = assert(post(port, "/event/collect",
        s"""{"collection": "pv", "properties": {"_user": "$u", "_time": "2026-01-15 10:00:00.000"}}""")
        .statusCode() == 200)
      collect("u1"); collect("u2")
      assert(post(port, "/subscription/create",
        """{"id": "spr", "collection": "pv"}""").statusCode() == 200)
      def spoolParts(): Int = {
        val table = new java.io.File(s"$warehouse/demo/pv")
        val spools = Option(table.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith(".tail-spr_"))
        assert(spools.length == 1, s"spools: ${spools.map(_.getName).toSeq}")
        def walk(d: java.io.File): Int =
          Option(d.listFiles()).getOrElse(Array.empty).map { f =>
            if (f.isDirectory) walk(f)
            else if (f.getName.startsWith("part-")) 1 else 0
          }.sum
        walk(spools.head)
      }
      // drained poll, then an opt-in zero-window prune on the NEXT poll
      // empties the spool of everything that drain processed
      val p1 = post(port, "/subscription/poll?id=spr", "")
      assert(p1.statusCode() == 200 && p1.body().contains("u2"), p1.body())
      assert(spoolParts() > 0)
      assert(post(port, "/subscription/poll?id=spr&prune_ms=0", "")
        .statusCode() == 200)
      assert(spoolParts() == 0, "prune left processed links in the spool")
      // the pruned tail keeps delivering exactly once
      collect("u3")
      val p2 = post(port, "/subscription/poll?id=spr", "")
      assert(p2.statusCode() == 200, p2.body())
      val users = "\"_user\":\"(u\\d+)\"".r.findAllMatchIn(p2.body())
        .map(_.group(1)).toSeq
      assert(users.sorted == Seq("u1", "u2", "u3"),
        s"pruned tail lost or duplicated rows: $users")
      assert(post(port, "/subscription/poll?id=spr&prune_ms=-1", "")
        .statusCode() == 400)
      assert(post(port, "/subscription/delete?id=spr", "").statusCode() == 200)
    } finally gw.stop()
  }

  test("subscription create with a bad filter is the client's 400 and " +
    "leaks neither the spool nor the id") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-subfail").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "page": "/a"}}""")
        .statusCode() == 200)
      val bad = post(port, "/subscription/create",
        """{"id": "sx", "collection": "pageview", "filter": "((("}""")
      assert(bad.statusCode() == 400, s"${bad.statusCode()}: ${bad.body()}")
      // the spool was cleaned up…
      assert(!new java.io.File(s"$warehouse/demo/pageview/.tail-sx").exists(),
        "failed create leaked its spool")
      // …and the id is reusable end-to-end
      assert(post(port, "/subscription/create",
        """{"id": "sx", "collection": "pageview", "filter": "page = '/a'"}""")
        .statusCode() == 200)
      assert(post(port, "/subscription/poll?id=sx", "").statusCode() == 200)
      assert(post(port, "/subscription/delete?id=sx", "").statusCode() == 200)
    } finally gw.stop()
  }

  test("a subscription on a declared-but-empty collection neither 500s " +
    "nor breaks project-wide SQL (the spool dir must not masquerade as " +
    "a data-bearing table)") {
    withGateway { (_, port) =>
      assert(post(port, "/project/schema/add",
        """{"collection": "declared", "fields": [{"name": "k", "type": "STRING"}]}""")
        .statusCode() == 200)
      assert(post(port, "/subscription/create",
        """{"id": "d1", "collection": "declared"}""").statusCode() == 200)
      // the spool dir now exists inside the (otherwise empty) table dir;
      // project-wide SQL must still analyze — previously this was an
      // 'unable to infer schema' 500 for EVERY query on the project
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM declared"}""")
      assert(q.statusCode() == 200 && q.body() == """[{"n":0}]""", q.body())
      assert(get(port, "/analysis/statistics").statusCode() == 200)
      // events flow end-to-end once data lands (the stream serves the
      // schema as DECLARED at create time — just `k`)
      assert(post(port, "/event/collect",
        """{"collection": "declared", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "k": "x"}}""")
        .statusCode() == 200)
      val p = post(port, "/subscription/poll?id=d1", "")
      assert(p.statusCode() == 200 && p.body().contains("\"k\":\"x\""), p.body())
      assert(post(port, "/subscription/delete?id=d1", "").statusCode() == 200)
    }
  }

  test("/user/get on an empty store is a 404, not a 500") {
    withGateway { (_, port) =>
      assert(get(port, "/user/get?id=anyone").statusCode() == 404)
    }
  }

  test("single-op profile doors feed the same log as batch_operations") {
    withGateway { (_, port) =>
      assert(post(port, "/user/set_properties",
        """{"id": "u9", "time": 1000, "properties": {"plan": "free"}}""")
        .statusCode() == 200)
      assert(post(port, "/user/set_properties_once",
        """{"id": "u9", "time": 2000, "properties": {"plan": "pro", "tier": "a"}}""")
        .statusCode() == 200)
      assert(post(port, "/user/increment_property",
        """{"id": "u9", "time": 3000, "property": "logins", "value": "4"}""")
        .statusCode() == 200)
      assert(post(port, "/user/increment_property",
        """{"id": "u9", "time": 4000, "property": "logins"}""")
        .statusCode() == 200)
      assert(post(port, "/user/unset_properties",
        """{"id": "u9", "time": 5000, "properties": ["tier"]}""")
        .statusCode() == 200)
      val prof = get(port, "/user/get?id=u9").body()
      assert(prof.contains("\"plan\":\"free\""), prof)   // set_once lost
      assert(prof.contains("\"logins\":\"5\""), prof)    // 4 + default 1
      assert(prof.contains("\"tier\":null"), prof)       // unset tombstone
      assert(post(port, "/user/set_properties", """{"id": "u9"}""")
        .statusCode() == 400)
    }
  }

  test("dead letters: a coercion-violating property lands in " +
    "invalid_schema with event identity; the event still stores with " +
    "the field nulled (the S14 field-level contract)") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      // `cnt` infers LONG from the first event…
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:30:00.000", "cnt": 5}}""")
        .statusCode() == 200)
      // …so a non-numeric value cannot coerce: the event stores with
      // cnt=null (collect still succeeds) and the failed FIELD is
      // dead-lettered with the event's identity
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "u2", "_time": "2026-01-15 10:31:00.000", "cnt": "not-a-number"}}""")
        .statusCode() == 200)
      val dead = spark.read.parquet(s"$warehouse/demo/invalid_schema").collect()
      assert(dead.length == 1)
      assert(dead(0).getAs[String]("property") == "cnt")
      assert(dead(0).getAs[String]("_user") == "u2")
      val seg = get(port, "/analysis/segmentation?collection=pageview&dimension=cnt")
      assert(seg.statusCode() == 200)
      assert(seg.body().contains("\"cnt\":5") && !seg.body().contains("not-a-number"),
        seg.body())
    } finally gw.stop()
  }

  test("webhook lifecycle: activate → collect transforms and stores → " +
    "get/list/delete; bad code and dropped bodies handled") {
    withGateway { (_, port) =>
      val code = "function module(params, body, headers) { " +
        "if (body.drop) { return null; } " +
        "return {collection: params.target, properties: {" +
        "_user: body.user, _time: body.ts, " +
        "via: headers.channel, camp: params.campaign}}; }"
      // syntax errors are the client's 400 at activation time
      val bad = post(port, "/event/hook/activate",
        "{\"identifier\": \"h1\", \"code\": \"function module( {\"}")
      assert(bad.statusCode() == 400 && bad.body().contains("invalid code"),
        bad.body())
      // activate with a stored parameter
      val act = post(port, "/event/hook/activate",
        s"""{"identifier": "h1", "code": "$code",
           | "parameters": {"target": "signup"}}""".stripMargin)
      assert(act.statusCode() == 200, act.body())
      // collect: query params overlay stored ones, headers reach the module
      val c1 = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:$port/event/hook/collect/h1?campaign=summer"))
          .header("channel", "partner")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"user": "u9", "ts": "2026-01-15 10:30:00.000"}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(c1.statusCode() == 200 && c1.body() == "1", c1.body())
      // a dropped body answers 0 and stores nothing
      val c2 = post(port, "/event/hook/collect/h1", """{"drop": true}""")
      assert(c2.statusCode() == 200 && c2.body() == "0", c2.body())
      // the stored event went through the standard ingest pipeline
      val q = post(port, "/query/execute",
        """{"query": "SELECT _user, via, camp FROM signup"}""")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"_user\":\"u9\"") &&
        q.body().contains("\"via\":\"partner\"") &&
        q.body().contains("\"camp\":\"summer\""), q.body())
      // management reads
      val got = get(port, "/event/hook/get?identifier=h1")
      assert(got.statusCode() == 200 &&
        got.body().contains("\"identifier\":\"h1\"") &&
        got.body().contains("\"active\":true"), got.body())
      val listed = get(port, "/event/hook/list")
      assert(listed.statusCode() == 200 &&
        listed.body().contains("\"identifier\":\"h1\""), listed.body())
      // unknown hook → 404; delete → 404 afterwards
      assert(post(port, "/event/hook/collect/nope", "{}").statusCode() == 404)
      assert(post(port, "/event/hook/delete", """{"identifier": "h1"}""")
        .statusCode() == 200)
      assert(get(port, "/event/hook/get?identifier=h1").statusCode() == 404)
    }
  }

  test("custom event mappers: create → collect runs the mapper " +
    "(mutate, produce, drop) → update/list/delete; test door is store-free") {
    withGateway { (_, port) =>
      // script: tag every event, derive a produced LONG field, drop bots
      val script = "function mapper(events, params, sourceIp, headers, sql, config) { " +
        "var ev = events.events(); " +
        "while (ev.hasNext()) { var e = ev.next(); " +
        "if (e.get(params.dropWhen) == true) { e.drop(); } " +
        "else { e.set(params.tagField, params.tagValue); " +
        "e.set(params.doubledField, e.get(params.srcField) * 2); } } }"
      val params = """{"dropWhen": "bot", "tagField": "channel", "tagValue": "web",
                     | "srcField": "amount", "doubledField": "amount2"}""".stripMargin
      // create refuses a duplicate; update refuses a missing name
      assert(post(port, "/custom-event-mapper/update",
        s"""{"name": "tagger", "script": "$script"}""").statusCode() == 404)
      val created = post(port, "/custom-event-mapper/create",
        s"""{"name": "tagger", "script": "$script", "parameters": $params,
           | "produced": {"channel": "STRING", "amount2": "LONG"}}""".stripMargin)
      assert(created.statusCode() == 200, created.body())
      assert(post(port, "/custom-event-mapper/create",
        s"""{"name": "tagger", "script": "$script"}""").statusCode() == 400)
      // a collected batch runs through the mapper before the store
      val stored = post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "order", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "amount": 21, "bot": false}},
          |{"collection": "order", "properties": {"_user": "u2", "_time": "2026-01-15 10:01:00.000", "amount": 40, "bot": true}}
          |]}""".stripMargin)
      assert(stored.statusCode() == 200 && stored.body() == """{"stored":1}""",
        stored.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT _user, channel, amount2 FROM order"}""")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"_user\":\"u1\"") &&
        q.body().contains("\"channel\":\"web\"") &&
        q.body().contains("\"amount2\":42") &&
        !q.body().contains("u2"), q.body())
      // the produced fields evolved the registry schema
      val schema = get(port, "/project/schema?collection=order").body()
      assert(schema.contains("\"channel\"") && schema.contains("\"amount2\""),
        schema)
      // test door: runs the script, stores nothing
      val t = post(port, "/custom-event-mapper/test",
        s"""{"script": "$script", "parameters": $params,
           | "produced": {"channel": "STRING", "amount2": "LONG"},
           | "events": [{"collection": "probe", "properties":
           |   {"_user": "u3", "_time": "2026-01-15 12:00:00.000", "amount": 5, "bot": false}}]}""".stripMargin)
      assert(t.statusCode() == 200 &&
        t.body().contains("\"amount2\":10"), t.body())
      assert(post(port, "/query/execute",
        """{"query": "SELECT * FROM probe"}""").statusCode() == 400)
      // lifecycle: deactivate via update → mapper no longer applies
      val off = post(port, "/custom-event-mapper/update",
        s"""{"name": "tagger", "script": "$script", "parameters": $params,
           | "produced": {"channel": "STRING", "amount2": "LONG"},
           | "active": false}""".stripMargin)
      assert(off.statusCode() == 200, off.body())
      assert(post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "order", "properties": {"_user": "u4", "_time": "2026-01-15 13:00:00.000", "amount": 7, "bot": true}}
          |]}""".stripMargin).body() == """{"stored":1}""")
      val listed = get(port, "/custom-event-mapper/list")
      assert(listed.statusCode() == 200 &&
        listed.body().contains("\"name\":\"tagger\"") &&
        listed.body().contains("\"active\":false"), listed.body())
      assert(post(port, "/custom-event-mapper/delete", """{"name": "tagger"}""")
        .statusCode() == 200)
      assert(get(port, "/custom-event-mapper/list").body() == "[]")
    }
  }

  test("collect runs the built-in module mappers: UA parse, referrer, " +
    "header sentinels, timestamp default, user-id surrogate, spider 403") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-builtin").toString
    val fixedNow = 1_767_225_600_000L // 2026-01-01 00:00:00 UTC
    val gw = new HttpGateway(spark, registry, warehouse, "demo",
      internalHosts = Seq("my.example.com"), now = () => fixedNow)
    val port = gw.start()
    try {
      val chromeUa = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36"
      // explicit UA string + referrer + missing _time + missing _user
      assert(post(port, "/event/collect",
        s"""{"collection": "visit", "properties": {"_user_agent": ${
          new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(chromeUa)},
           | "_referrer": "https://www.google.com/search?q=spark", "page": "/a"}}""".stripMargin)
        .statusCode() == 200)
      val q = post(port, "/query/execute",
        """{"query": "SELECT _user, _user_agent_family, _os, _referrer_medium, _referrer_source, _time FROM visit"}""")
      assert(q.statusCode() == 200, q.body())
      // M2/M3 fields stored; M1 server-now default; M5 surrogate id
      assert(q.body().contains("\"_user_agent_family\":\"Chrome\"") &&
        q.body().contains("\"_os\":\"Windows\"") &&
        q.body().contains("\"_referrer_medium\":\"search\"") &&
        q.body().contains("\"_referrer_source\":\"google\"") &&
        q.body().contains("\"_user\":\"") && // anonymous id assigned
        q.body().contains("\"_time\":\"2026-01-01"), q.body())
      // the raw trigger field is source-only: in the registry schema
      // (null-filled on read) but never materialized in the store
      val rawQ = post(port, "/query/execute",
        """{"query": "SELECT count(_user_agent) AS n FROM visit"}""")
      assert(rawQ.body().contains("\"n\":0"), rawQ.body())

      // boolean sentinels read the request headers
      val withHeaders = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("User-Agent", "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0")
          .header("Referer", "https://duckduckgo.com")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visit", "properties": {"_user_agent": true, "_referrer": true, "page": "/b"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(withHeaders.statusCode() == 200, withHeaders.body())
      val q2 = post(port, "/query/execute",
        """{"query": "SELECT _user_agent_family, _referrer_source FROM visit WHERE page = '/b'"}""")
      assert(q2.body().contains("\"_user_agent_family\":\"Firefox\"") &&
        q2.body().contains("\"_referrer_source\":\"duckduckgo\""), q2.body())

      // a spider UA rejects the whole request with the reference's 403
      val spider = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("User-Agent", "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visit", "properties": {"_user_agent": true, "page": "/c"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(spider.statusCode() == 403 &&
        spider.body().contains("Spiders are not allowed"), spider.body())
      assert(post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM visit WHERE page = '/c'"}""")
        .body().contains("\"n\":0"))

      // internal referrer suppresses source/domain
      assert(post(port, "/event/collect",
        """{"collection": "visit", "properties": {"_referrer": "https://my.example.com/home", "page": "/d"}}""")
        .statusCode() == 200)
      val q3 = post(port, "/query/execute",
        """{"query": "SELECT _referrer_medium, _referrer_source FROM visit WHERE page = '/d'"}""")
      assert(q3.body().contains("\"_referrer_medium\":\"internal\"") &&
        !q3.body().contains("\"_referrer_source\":\""), q3.body())

      // /event/copy bypasses ALL mappers (the reference's mapEvents=false)
      assert(post(port, "/event/copy",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "raw", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "page": "/z"}}
          |]}""".stripMargin).statusCode() == 200)
      assert(post(port, "/query/execute",
        """{"query": "SELECT _user_agent_family FROM raw"}""").statusCode() == 400)
    } finally gw.stop()
  }

  test("concurrent mixed traffic: parallel collects, log reads and " +
    "queries all succeed and every stored event lands exactly once") {
    withGateway { (_, port) =>
      val script = "function mapper(events, params, sourceIp, headers, sql, config) { " +
        "var ev = events.events(); var n = 0; " +
        "while (ev.hasNext()) { ev.next(); n = n + 1; } logger.info('n=' + n); }"
      assert(post(port, "/custom-event-mapper/create",
        s"""{"name": "counter", "script": "$script"}""").statusCode() == 200)
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = Executors.newFixedThreadPool(6)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val writes = (1 to 24).map { i =>
          Future(post(port, "/event/collect",
            s"""{"collection": "stress", "properties": {"_user": "u$i", "_time": "2026-01-15 10:00:00.000", "seq": $i}}""").statusCode())
        }
        // log reads race the writers' retention prunes (the listStatus/
        // open window) and must never 500
        val reads = (1 to 12).map { _ =>
          Future(post(port, "/javascript-logger/get_logs",
            """{"prefix": "counter"}""").statusCode())
        }
        val codes = Await.result(Future.sequence(writes ++ reads), 5.minutes)
        assert(codes.forall(_ == 200), codes.toString)
        val q = post(port, "/query/execute",
          """{"query": "SELECT count(*) AS n, count(DISTINCT seq) AS d FROM stress"}""")
        assert(q.body().contains("\"n\":24") && q.body().contains("\"d\":24"),
          q.body())
      } finally pool.shutdown()
    }
  }

  test("anonymous identity round-trips through the _anonymous_user cookie") {
    withGateway { (_, port) =>
      // first userless event: gets an id and a Set-Cookie carrying it
      val r1 = post(port, "/event/collect",
        """{"collection": "visits", "properties": {"_time": "2026-01-15 10:00:00.000", "page": "/a"}}""")
      assert(r1.statusCode() == 200, r1.body())
      val setCookie = r1.headers().firstValue("Set-Cookie")
      assert(setCookie.isPresent && setCookie.get.startsWith("_anonymous_user="),
        r1.headers().map().toString)
      val anonId = setCookie.get.stripPrefix("_anonymous_user=").takeWhile(_ != ';')
      // the client echoes the cookie: same _user on the next event
      val r2 = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("Cookie", s"_anonymous_user=$anonId")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visits", "properties": {"_time": "2026-01-15 11:00:00.000", "page": "/b"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r2.statusCode() == 200, r2.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(DISTINCT _user) AS u, count(*) AS n FROM visits"}""")
      assert(q.body().contains("\"u\":1") && q.body().contains("\"n\":2"), q.body())
      // an event carrying _user never gets a cookie
      val r3 = post(port, "/event/collect",
        """{"collection": "visits", "properties": {"_user": "real", "_time": "2026-01-15 12:00:00.000", "page": "/c"}}""")
      assert(r3.statusCode() == 200 &&
        r3.headers().firstValue("Set-Cookie").isEmpty, r3.headers().map().toString)
    }
  }

  test("/event/batch partial-failure contract: 409 with failed indexes, " +
    "good events still stored, excluded collections ignored") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-409").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo",
      excludedCollections = Set("heartbeat"))
    val port = gw.start()
    try {
      // index 1 has a non-object properties, index 2 a missing collection
      val r = post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "order", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "amount": 1}},
          |{"collection": "order", "properties": "junk"},
          |{"properties": {"_user": "u2"}}
          |]}""".stripMargin)
      assert(r.statusCode() == 409 && r.body() == "[1,2]", r.body())
      // the storable event landed despite the 409 (the reference stores
      // the batch and reports failed indexes)
      val q = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM order"}""")
      assert(q.body().contains("\"n\":1"), q.body())
      // excluded collections are ignored, not failed: 200 with only the
      // non-excluded event stored. A padded name is the same collection
      // to ingest (trimmed, lowercased), so it is excluded too.
      val r2 = post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "heartbeat", "properties": {"_user": "hb"}},
          |{"collection": " heartbeat ", "properties": {"_user": "hb2"}},
          |{"collection": "order", "properties": {"_user": "u3", "_time": "2026-01-15 11:00:00.000", "amount": 2}}
          |]}""".stripMargin)
      assert(r2.statusCode() == 200 && r2.body() == """{"stored":1}""", r2.body())
      assert(post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM order"}""").body().contains("\"n\":2"))
    } finally gw.stop()
  }

  test("/event/bulk content-type dispatch: CSV header-remap and Avro " +
    "reader-schema resolution feed the same enrich-store pipeline") {
    withGateway { (_, port) =>
      // seed the collection's schema (typed columns) via a JSON event
      assert(post(port, "/event/collect",
        """{"collection": "orders", "properties": {"_user": "u0", "_time": "2026-01-15 10:00:00.000", "amount": 1.5}}""")
        .statusCode() == 200)
      // CSV: registered columns come back typed, the NEW column is STRING
      val csv = "someUser,_time,amount,channel\nu1,2026-01-16 09:00:00.000,2.5,web\nu2,2026-01-16 10:00:00.000,3.5,app\n"
        .replace("someUser", "_user")
      val csvResp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/bulk?collection=orders"))
          .header("Content-Type", "text/csv")
          .POST(HttpRequest.BodyPublishers.ofString(csv)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(csvResp.statusCode() == 200 &&
        csvResp.body() == """{"stored":2}""", csvResp.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT sum(amount) AS s, count(channel) AS c FROM orders"}""")
      assert(q.body().contains("\"s\":7.5") && q.body().contains("\"c\":2"), q.body())
      // missing collection param is the client's 400
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/bulk"))
          .header("Content-Type", "text/csv")
          .POST(HttpRequest.BodyPublishers.ofString(csv)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 400)

      // Avro: container resolved against the registered schema
      import org.apache.avro.{Schema, SchemaBuilder}
      import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}
      val writerSchema = SchemaBuilder.record("orders").fields()
        .name("_user").`type`().nullable().stringType().noDefault()
        .name("amount").`type`().nullable().doubleType().noDefault()
        .endRecord()
      val bos = new java.io.ByteArrayOutputStream()
      val w = new org.apache.avro.file.DataFileWriter(
        new GenericDatumWriter[org.apache.avro.generic.GenericRecord](writerSchema))
      w.create(writerSchema, bos)
      w.append(new GenericRecordBuilder(writerSchema)
        .set("_user", "u9").set("amount", 4.5).build())
      w.close()
      val avroResp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/bulk?collection=orders"))
          .header("Content-Type", "application/avro")
          .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(avroResp.statusCode() == 200 &&
        avroResp.body() == """{"stored":1}""", avroResp.body())
      val q2 = post(port, "/query/execute",
        """{"query": "SELECT amount FROM orders WHERE _user = 'u9'"}""")
      assert(q2.body().contains("\"amount\":4.5"), q2.body())
      // Avro against an unregistered collection is the client's 400
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/bulk?collection=nope"))
          .header("Content-Type", "application/avro")
          .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 400)
      // a garbage avro body is a 400 at the door, never a lazy Spark 500
      val junk = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/bulk?collection=orders"))
          .header("Content-Type", "application/avro")
          .POST(HttpRequest.BodyPublishers.ofString("definitely not avro")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(junk.statusCode() == 400 &&
        junk.body().contains("invalid Avro container"), junk.body())
    }
  }

  test("collect enriches geo when the gateway is built with a range dim") {
    import graft.enrich.geo.{MaxmindDb, MmdbFixture}
    val entries = Seq(
      "10.0.0.0/8" -> Map("country" -> Map("iso_code" -> "XX")), // private: must be skipped
      "203.0.113.0/24" -> Map(
        "country" -> Map("iso_code" -> "AU"),
        "city" -> Map("names" -> Map("en" -> "Sydney"))))
    val db = MaxmindDb.read(MmdbFixture.write(entries))
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-geo-gw").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo",
      geoRanges = Some(db.rangeDim(spark)))
    val port = gw.start()
    try {
      // `_ip: true` resolves via the X-Forwarded-For public hop
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("X-Forwarded-For", "10.1.2.3, 203.0.113.9")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visit", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "_ip": true, "page": "/a"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      val q = post(port, "/query/execute",
        """{"query": "SELECT _country_code, _city FROM visit"}""")
      assert(q.body().contains("\"_country_code\":\"AU\"") &&
        q.body().contains("\"_city\":\"Sydney\""), q.body())
      // the Cloudflare fallback: no _ip at all, CF header supplies the
      // country (the reference's null-ip branch)
      val cf = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("HTTP_CF_IPCOUNTRY", "DE")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visit", "properties": {"_user": "u2", "_time": "2026-01-15 11:00:00.000", "page": "/cf"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(cf.statusCode() == 200, cf.body())
      val q2 = post(port, "/query/execute",
        """{"query": "SELECT _country_code FROM visit WHERE page = '/cf'"}""")
      assert(q2.body().contains("\"_country_code\":\"DE\""), q2.body())
      // a resolving _ip wins over the CF header (coalesce order)
      val both = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .header("HTTP_CF_IPCOUNTRY", "DE")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"collection": "visit", "properties": {"_user": "u3", "_time": "2026-01-15 12:00:00.000", "_ip": "203.0.113.7", "page": "/both"}}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(both.statusCode() == 200, both.body())
      val q3 = post(port, "/query/execute",
        """{"query": "SELECT _country_code FROM visit WHERE page = '/both'"}""")
      assert(q3.body().contains("\"_country_code\":\"AU\""), q3.body())
    } finally gw.stop()
  }

  test("/javascript-logger/get_logs serves stored mappers' logger.* " +
    "output: prefix filter, level names, created DESC, start/end bounds") {
    withGateway { (_, port) =>
      val script = "function mapper(events, params, sourceIp, headers, sql, config) { " +
        "var ev = events.events(); var n = 0; " +
        "while (ev.hasNext()) { ev.next(); n = n + 1; } " +
        "logger.info('saw ' + n); logger.warn('odd batch'); }"
      assert(post(port, "/custom-event-mapper/create",
        s"""{"name": "chatty", "script": "$script"}""").statusCode() == 200)
      assert(post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "order", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "amount": 1}},
          |{"collection": "order", "properties": {"_user": "u2", "_time": "2026-01-15 10:01:00.000", "amount": 2}}
          |]}""".stripMargin).body() == """{"stored":2}""")
      // prefix is required (the reference's @ApiParam contract)
      assert(post(port, "/javascript-logger/get_logs", "{}").statusCode() == 400)
      val logs = post(port, "/javascript-logger/get_logs",
        """{"prefix": "chatty"}""")
      assert(logs.statusCode() == 200, logs.body())
      // airlift Level names, message content, ISO timestamp shape —
      // and EXACTLY the two entries the script logged: a re-executed
      // (unpersisted) mapper chain would re-fire the accumulator and
      // duplicate them
      assert(logs.body().contains("\"level\":\"INFO\"") &&
        logs.body().contains("\"message\":\"saw 2\"") &&
        logs.body().contains("\"level\":\"WARN\"") &&
        logs.body().contains("\"message\":\"odd batch\"") &&
        logs.body().contains("\"timestamp\":\"2"), logs.body())
      assert("\"level\"".r.findAllIn(logs.body()).size == 2, logs.body())
      // an unknown prefix sees nothing; bounds are strict > start, < end
      assert(post(port, "/javascript-logger/get_logs",
        """{"prefix": "other"}""").body() == "[]")
      val future = System.currentTimeMillis() + 3600000L
      assert(post(port, "/javascript-logger/get_logs",
        s"""{"prefix": "chatty", "start": $future}""").body() == "[]")
      val iso = java.time.Instant.ofEpochMilli(future).toString
      val bounded = post(port, "/javascript-logger/get_logs",
        s"""{"prefix": "chatty", "start": 0, "end": "$iso"}""")
      assert(bounded.body().contains("saw 2"), bounded.body())
      // a second batch stacks newer entries first (created DESC)
      Thread.sleep(5)
      assert(post(port, "/event/batch",
        """{"api": {"api_key": "k"}, "events": [
          |{"collection": "order", "properties": {"_user": "u3", "_time": "2026-01-15 11:00:00.000", "amount": 3}}
          |]}""".stripMargin).body() == """{"stored":1}""")
      val again = post(port, "/javascript-logger/get_logs",
        """{"prefix": "chatty"}""").body()
      assert(again.indexOf("saw 1") >= 0 &&
        again.indexOf("saw 1") < again.indexOf("saw 2"), again)
      // the per-mapper door serves the same store addressed by name
      val byName = post(port, "/custom-event-mapper/get_logs",
        """{"name": "chatty"}""")
      assert(byName.statusCode() == 200 && byName.body() == again, byName.body())
      assert(post(port, "/custom-event-mapper/get_logs", "{}").statusCode() == 400)
    }
  }

  test("schema/add evolves a collection ahead of data and reports " +
    "rejections; collected events then coerce to the declared types") {
    withGateway { (_, port) =>
      val r = post(port, "/project/schema/add",
        """{"collection": "sensor", "fields": [
          |  {"name": "ReadingValue", "type": "DOUBLE"},
          |  {"name": "$server_time", "type": "LONG"}]}""".stripMargin)
      assert(r.statusCode() == 200, r.body())
      // ingest-rule normalization: camelCase "ReadingValue" → reading_value
      assert(r.body().contains("\"name\":\"reading_value\""), r.body())
      assert(r.body().contains("\"field\":\"$server_time\"") &&
        r.body().contains("reserved"), r.body())
      // a declared DOUBLE coerces a numeric string event value
      assert(post(port, "/event/collect",
        """{"collection": "sensor", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "reading_value": 3}}""")
        .statusCode() == 200)
      val q = post(port, "/query/execute",
        """{"query": "SELECT reading_value FROM sensor"}""")
      assert(q.statusCode() == 200 && q.body().contains("3.0"), q.body())
      // and a later conflicting re-declaration is reported, not applied
      val c = post(port, "/project/schema/add",
        """{"collection": "sensor", "fields": [{"name": "reading_value", "type": "STRING"}]}""")
      assert(c.statusCode() == 200 && c.body().contains("type conflict"),
        c.body())
    }
  }

  private def getBytes(port: Int, path: String): HttpResponse[Array[Byte]] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  test("pixel door stores the query-param event and always answers the gif") {
    withGateway { (_, port) =>
      val hit = getBytes(port,
        "/event/pixel?collection=pageview&prop._user=u1&prop._time=1737000000000&prop.page=%2Fhome")
      assert(hit.statusCode() == 200)
      assert(hit.headers().firstValue("Content-Type").orElse("") == "image/gif")
      // GIF89a magic — the page always gets its image
      assert(new String(hit.body().take(6), "US-ASCII") == "GIF89a")
      assert(hit.headers().firstValue("server-error").isEmpty)

      val seg = get(port, "/analysis/segmentation?collection=pageview&dimension=page")
      assert(seg.body().contains("\"page\":\"/home\"") &&
        seg.body().contains("\"users\":1"), seg.body())

      // no collection param: still the gif, failure only in the header
      val bad = getBytes(port, "/event/pixel?prop.page=x")
      assert(bad.statusCode() == 200 &&
        new String(bad.body().take(6), "US-ASCII") == "GIF89a")
      assert(bad.headers().firstValue("server-error").orElse("")
        .contains("collection"), bad.headers().map())
    }
  }

  test("copy door stores the envelope WITHOUT running stored custom mappers") {
    withGateway { (_, port) =>
      // a stored mapper that tags every event
      assert(post(port, "/custom-event-mapper/create",
        """{"name": "tagger", "produced": {"tagged": "STRING"},
          |"script": "function mapper(events) { var ev = events.events(); while (ev.hasNext()) { ev.next().set('tagged', 'yes'); } }"}""".stripMargin)
        .statusCode() == 200)
      val env =
        """{"events": [
          |{"collection": "imports", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000", "src": "a"}},
          |{"collection": "imports", "properties": {"_user": "u2", "_time": "2026-01-15 10:01:00.000", "src": "b"}}
          |]}""".stripMargin
      val copied = post(port, "/event/copy", env)
      assert(copied.statusCode() == 200 &&
        copied.body() == """{"stored":2}""", copied.body())
      // bulk runs the mapper; copy must not have
      assert(post(port, "/event/bulk",
        """{"events": [{"collection": "imports", "properties": {"_user": "u3", "_time": "2026-01-15 10:02:00.000", "src": "c"}}]}""")
        .statusCode() == 200)
      val q = post(port, "/query/execute",
        """{"query": "SELECT src, tagged FROM imports ORDER BY src"}""")
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("""{"src":"a"}""") &&
        q.body().contains("""{"src":"b"}"""), q.body()) // tagged null → omitted
      assert(q.body().contains(""""src":"c","tagged":"yes""""), q.body())
    }
  }

  test("user metadata door reports the identifier column and folded property names") {
    withGateway { (_, port) =>
      val empty = get(port, "/user/metadata")
      assert(empty.statusCode() == 200 &&
        empty.body() == """{"identifierColumn":"id","columns":[]}""",
        empty.body())
      post(port, "/user/batch_operations",
        """[{"id": "u1", "time": 100, "set_properties": {"plan": "pro", "city": "Oslo"}}]""")
      val meta = get(port, "/user/metadata")
      assert(meta.body().contains(""""identifierColumn":"id""""), meta.body())
      assert(meta.body().contains(""""name":"city","type":"STRING"""") &&
        meta.body().contains(""""name":"plan""""), meta.body())
    }
  }

  test("schema/add/custom maps an Avro record through the registry door") {
    withGateway { (_, port) =>
      val avro =
        """{"type": "record", "name": "Reading", "fields": [
          |  {"name": "SensorName", "type": "string"},
          |  {"name": "value", "type": ["null", "double"]},
          |  {"name": "counts", "type": {"type": "array", "items": "long"}}
          |]}""".stripMargin
      val r = post(port, "/project/schema/add/custom",
        s"""{"collection": "readings", "schema_type": "AVRO",
           | "schema": ${new com.fasterxml.jackson.databind.ObjectMapper()
                .writeValueAsString(avro)}}""".stripMargin)
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains(""""name":"sensor_name","type":"STRING""""), r.body())
      assert(r.body().contains(""""name":"value","type":"DOUBLE""""), r.body())
      assert(r.body().contains(""""name":"counts","type":"ARRAY_LONG""""), r.body())

      // the reference's unsupported-union and non-record 400s
      assert(post(port, "/project/schema/add/custom",
        """{"collection": "readings", "schema_type": "AVRO",
          | "schema": "{\"type\": \"record\", \"name\": \"X\", \"fields\": [{\"name\": \"u\", \"type\": [\"string\", \"long\"]}]}"}""".stripMargin)
        .body().contains("UNION type is not supported"))
      assert(post(port, "/project/schema/add/custom",
        """{"collection": "readings", "schema_type": "AVRO", "schema": "\"string\""}""")
        .body().contains("must be a RECORD"))
      assert(post(port, "/project/schema/add/custom",
        """{"collection": "readings", "schema_type": "JSON", "schema": "{}"}""")
        .statusCode() == 400)
    }
  }

  test("api keys: minting the first pair arms role enforcement; revoke disarms") {
    withGateway { (_, port) =>
      // open gateway: everything passes
      assert(post(port, "/event/collect",
        """{"collection": "c", "properties": {"_user": "u0", "_time": "2026-01-15 10:00:00.000"}}""")
        .statusCode() == 200)

      val minted = post(port, "/project/create-api-keys", "")
      assert(minted.statusCode() == 200, minted.body())
      val master = "\"master_key\":\"([a-z0-9]+)\"".r
        .findFirstMatchIn(minted.body()).get.group(1)
      val write = "\"write_key\":\"([a-z0-9]+)\"".r
        .findFirstMatchIn(minted.body()).get.group(1)

      // armed: no key → 403; wrong role → 403; right role → 200
      val event = """{"collection": "c", "properties": {"_user": "u1", "_time": "2026-01-15 10:01:00.000"}}"""
      assert(post(port, "/event/collect", event).statusCode() == 403)
      assert(post(port, s"/event/collect?api_key=$write", event).statusCode() == 200)
      // the envelope's api node carries the key too
      assert(post(port, "/event/batch",
        s"""{"api": {"api_key": "$write"}, "events": [$event]}""")
        .statusCode() == 200)
      // bulk is a master door: a write key is not enough
      assert(post(port, s"/event/bulk?api_key=$write",
        s"""{"events": [$event]}""").statusCode() == 403)
      assert(post(port, s"/event/bulk?api_key=$master",
        s"""{"events": [$event]}""").statusCode() == 200)
      // reads are master doors on the two-key surface
      assert(get(port, "/analysis/segmentation?collection=c&dimension=_user")
        .statusCode() == 403)
      assert(get(port, s"/analysis/segmentation?collection=c&dimension=_user&api_key=$master")
        .statusCode() == 200)
      // the pixel stays a page-safe gif, failure in the header only
      val noKey = getBytes(port, "/event/pixel?collection=c&prop._user=u9")
      assert(noKey.statusCode() == 200 &&
        noKey.headers().firstValue("server-error").orElse("").contains("api key"))
      assert(getBytes(port,
        s"/event/pixel?collection=c&prop._user=u9&prop._time=1737000000000&api.api_key=$write")
        .headers().firstValue("server-error").isEmpty)

      val check = post(port, "/project/check-api-keys",
        s"""{"project": "demo", "keys": [
           |  {"master_key": "$master", "write_key": "$write"},
           |  {"master_key": "nope"}]}""".stripMargin)
      assert(check.body() == "[true,false]", check.body())
      // wrong project fails a present key; an empty pair checks nothing
      // and is vacuously true (the reference's per-key Optional flow)
      assert(post(port, "/project/check-api-keys",
        s"""{"project": "other", "keys": [{"master_key": "$master"}, {}]}""")
        .body() == "[false,true]")

      // revoke the pair: the gateway is open again
      assert(post(port, "/project/revoke-api-keys",
        s"""{"project": "demo", "master_key": "$master"}""").statusCode() == 200)
      assert(post(port, "/event/collect", event).statusCode() == 200)
      assert(post(port, "/project/revoke-api-keys",
        s"""{"project": "demo", "master_key": "$master"}""").statusCode() == 404)
    }
  }

  test("admin descriptor doors, lock key, health, and the exception door") {
    withGateway { (_, port) =>
      val types = get(port, "/admin/types")
      assert(types.statusCode() == 200 &&
        types.body().contains("\"STRING\"") &&
        types.body().contains("\"MAP_LONG\""), types.body())
      val mappers = get(port, "/admin/event_mappers")
      // geoip absent: this gateway carries no geo dim (module not loaded)
      assert(mappers.statusCode() == 200 &&
        mappers.body().contains("user_agent") &&
        !mappers.body().contains("geoip"), mappers.body())
      val conf = get(port, "/admin/configurations")
      assert(conf.body().contains(""""project":"demo"""") &&
        conf.body().contains(""""api_keys_armed":false"""), conf.body())
      // no lock key configured: anything passes (the reference's null contract)
      assert(get(port, "/admin/lock_key").body() == "true")
      assert(get(port, "/admin/lock_key?lock_key=whatever").body() == "true")
      assert(get(port, "/").statusCode() == 200 &&
        get(port, "/").body().contains("\"ok\""))
      assert(get(port, "/no/such/route").statusCode() == 404)
      assert(post(port, "/project/exception", "{}").statusCode() == 500)
    }
  }

  test("a 5xx is logged at ERROR with its method, path and exception") {
    withGateway { (_, port) =>
      val logged = capturingLogs(Seq(classOf[HttpGateway].getName),
          org.apache.log4j.Level.ERROR) {
        assert(post(port, "/project/exception", "{}").statusCode() == 500)
      }
      assert(logged.size == 1, logged.map(_.getMessage))
      assert(String.valueOf(logged.head.getMessage) ==
        "POST /project/exception failed")
      val thrown = Option(logged.head.getThrowableInformation).map(_.getThrowable)
      assert(thrown.exists(_.isInstanceOf[NullPointerException]), thrown)
    }
  }

  test("steady-state collects compile no generated code, also after the " +
    "analysis doors ran: the clock reaches codegen by reference and the " +
    "codegen cache holds the working set") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a clock that moves 2.5 s per call, off whole seconds, so a clock
    // spelled into generated code would change the class every request
    val clock = new java.util.concurrent.atomic.AtomicLong(1_767_225_600_123L)
    val issued = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val gw = new HttpGateway(spark, SchemaRegistry.inMemory(),
      graft.TempDirs.scratch("graft-codegen-reuse").toString, "demo",
      now = () => { val t = clock.addAndGet(2_500L); issued.add(t); t })
    val port = gw.start()
    try {
      val ua = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
          "(KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36")
      def event(n: Int): String =
        s"""{"collection": "visit", "properties": {"_user": "u${n % 3}",
           | "_user_agent": $ua, "_referrer": "https://www.google.com/search?q=x",
           | "event_type": "${if (n % 2 == 0) "view" else "cart"}", "n": $n}}""".stripMargin
      /** One collect without `_time`; the compiles it added and the
        * clock values it read. */
      def collect(n: Int): (Long, Seq[Long]) = {
        issued.clear()
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val r = post(port, "/event/collect", event(n))
        assert(r.statusCode() == 200, r.body())
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
          issued.asScala.map(_.longValue).toSeq)
      }
      // an existing collection, then one warm-up collect: the one
      // compile of the collect plan
      assert(post(port, "/event/bulk",
        s"""{"events": [${event(-2)}, ${event(-1)}]}""").statusCode() == 200)
      collect(0)
      val steady = (1 to 3).map(collect)
      Seq("/analysis/segmentation?collection=visit&dimension=event_type",
        "/analysis/funnel?collection=visit&steps=view,cart",
        "/analysis/retention?collection=visit&grain=week").foreach { path =>
        val r = get(port, path)
        assert(r.statusCode() == 200, s"$path: ${r.body()}")
      }
      val after = (4 to 5).map(collect)
      val compiles = (steady ++ after).map(_._1)
      assert(compiles.forall(_ == 0), s"compiles per collect: $compiles")
      // the stored server time is the injected clock, truncated to
      // seconds; the mapper chain is the request's first clock read
      val clockOfLast = after.last._2.head
      val q = post(port, "/query/execute",
        """{"query": "SELECT unix_millis(_time) AS ms FROM visit WHERE n = 5"}""")
      assert(q.body().contains(s""""ms":${clockOfLast / 1000 * 1000}"""),
        s"clock $clockOfLast: ${q.body()}")
    } finally gw.stop()
  }

  test("materialized view lifecycle: create materializes history, " +
    "collects fold in continuously, get serves from state, refresh rebuilds") {
    withGateway { (_, port) =>
      def collect(user: String, page: String, amount: Int): Unit =
        assert(post(port, "/event/collect",
          s"""{"collection": "views", "properties": {"_user": "$user", "_time": "2026-01-15 10:00:00.000", "page": "$page", "amount": $amount}}""")
          .statusCode() == 200)

      // history BEFORE the view exists — create must materialize it
      collect("u1", "/a", 10)
      collect("u2", "/a", 30)
      collect("u1", "/b", 5)

      assert(post(port, "/materialized-view/create",
        """{"name": "page_stats", "collection": "views",
          |"group": ["page"], "values": ["amount"], "distinct": ["_user"]}""".stripMargin)
        .statusCode() == 200)
      // duplicate name and unknown column are client errors
      assert(post(port, "/materialized-view/create",
        """{"name": "page_stats", "collection": "views", "group": ["page"]}""")
        .statusCode() == 400)
      assert(post(port, "/materialized-view/create",
        """{"name": "x", "collection": "views", "group": ["nope"]}""")
        .body().contains("unknown column"))

      val v1 = get(port, "/materialized-view/get?name=page_stats")
      assert(v1.statusCode() == 200, v1.body())
      assert(v1.body().contains(""""page":"/a","n_rows":2""") &&
        v1.body().contains(""""sum_amount":40.0"""), v1.body())

      // a later collect folds in WITHOUT a refresh call
      collect("u3", "/a", 20)
      val v2 = get(port, "/materialized-view/get?name=page_stats")
      assert(v2.body().contains(""""page":"/a","n_rows":3""") &&
        v2.body().contains(""""sum_amount":60.0""") &&
        v2.body().contains(""""approx_distinct__user":3"""), v2.body())

      // the served state must agree with the engine recomputing from
      // the store — the ground truth the incremental fold cannot drift from
      val truth = post(port, "/query/execute",
        """{"query": "SELECT page, count(*) AS n_rows, sum(amount) AS sum_amount FROM views GROUP BY page ORDER BY page"}""")
      assert(truth.body().contains(""""n_rows":3""") &&
        truth.body().contains(""""sum_amount":60.0"""), truth.body())

      assert(get(port, "/materialized-view/list").body().contains("page_stats"))

      // full rebuild serves the same result (nothing was deleted)
      assert(post(port, "/materialized-view/refresh",
        """{"name": "page_stats"}""").statusCode() == 200)
      val v3 = get(port, "/materialized-view/get?name=page_stats")
      assert(v3.body() == v2.body(), s"rebuild drifted:\n${v3.body()}\n${v2.body()}")

      assert(post(port, "/materialized-view/delete",
        """{"name": "page_stats"}""").statusCode() == 200)
      assert(get(port, "/materialized-view/get?name=page_stats").statusCode() == 404)
      assert(post(port, "/materialized-view/delete",
        """{"name": "page_stats"}""").statusCode() == 404)
    }
  }

  test("materialized views: create ahead of data starts empty; " +
    "user deletion re-materializes the state") {
    withGateway { (_, port) =>
      // declared via schema/add, never collected: the view starts empty
      assert(post(port, "/project/schema/add",
        """{"collection": "empty_c", "fields": [{"name": "k", "type": "STRING"}]}""")
        .statusCode() == 200)
      assert(post(port, "/materialized-view/create",
        """{"name": "mv_empty", "collection": "empty_c", "group": ["k"]}""")
        .statusCode() == 200)
      assert(get(port, "/materialized-view/get?name=mv_empty").body() == "[]")
      // ad-hoc SQL over the declared-only collection analyzes too
      val q0 = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM empty_c"}""")
      assert(q0.statusCode() == 200 && q0.body() == """[{"n":0}]""", q0.body())

      def collect(user: String): Unit =
        assert(post(port, "/event/collect",
          s"""{"collection": "acts", "properties": {"_user": "$user", "_time": "2026-01-15 10:00:00.000", "kind": "x"}}""")
          .statusCode() == 200)
      collect("u1"); collect("u1"); collect("u2")
      assert(post(port, "/materialized-view/create",
        """{"name": "mv_acts", "collection": "acts", "group": ["kind"], "distinct": ["_user"]}""")
        .statusCode() == 200)
      assert(get(port, "/materialized-view/get?name=mv_acts")
        .body().contains(""""n_rows":3"""))

      // GDPR: deletion must leave the view's counts AND sketches
      assert(post(port, "/user/delete", """{"id": "u1"}""").statusCode() == 200)
      val after = get(port, "/materialized-view/get?name=mv_acts")
      assert(after.body().contains(""""n_rows":1""") &&
        after.body().contains(""""approx_distinct__user":1"""), after.body())
    }
  }

  test("statistics door serves per-collection month counts; " +
    "OPTIONS preflight answers the CORS contract") {
    withGateway { (_, port) =>
      post(port, "/event/collect",
        """{"collection": "a_ev", "properties": {"_user": "u1", "_time": "2026-01-15 10:00:00.000"}}""")
      post(port, "/event/collect",
        """{"collection": "a_ev", "properties": {"_user": "u1", "_time": "2026-02-01 10:00:00.000"}}""")
      post(port, "/event/collect",
        """{"collection": "b_ev", "properties": {"_user": "u2", "_time": "2026-01-20 10:00:00.000"}}""")
      val stats = get(port, "/analysis/statistics")
      assert(stats.statusCode() == 200, stats.body())
      assert(stats.body() ==
        """[{"collection":"a_ev","month":"2026-01","events":1},""" +
        """{"collection":"a_ev","month":"2026-02","events":1},""" +
        """{"collection":"b_ev","month":"2026-01","events":1}]""", stats.body())
      assert(get(port, "/analysis/statistics?collection=b_ev").body()
        .contains(""""collection":"b_ev""""))
      assert(get(port, "/analysis/statistics?collection=nope").statusCode() == 400)

      val pre = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/event/collect"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pre.statusCode() == 200)
      assert(pre.headers().firstValue("Access-Control-Allow-Methods").orElse("")
        .contains("POST"), pre.headers().map())
      // every normal response carries the allow-origin for browser SDKs
      assert(get(port, "/").headers()
        .firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    }
  }

  test("dedup index over HTTP: create → probe verdicts without " +
    "re-shingling → append shifts first-seen") {
    withGateway { (_, port) =>
      def doc(id: Long, text: String) =
        s"""{"doc_id": $id, "text": ${new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(text)}}"""
      val base = "the quick brown fox jumps over the lazy dog again and again"
      assert(post(port, "/index/dedup/create",
        s"""{"name": "corpus", "docs": [${doc(1, base)}, ${doc(2, "completely different words in this one by every measure truly")}]}""")
        .statusCode() == 200)
      assert(post(port, "/index/dedup/create",
        s"""{"name": "corpus", "docs": []}""").statusCode() == 400)

      // an exact copy of doc 1 is flagged; novel text is not
      val probe = post(port, "/index/dedup/probe",
        s"""{"name": "corpus", "docs": [${doc(10, base)}, ${doc(11, "nothing like anything stored before in any shingle of this text")}]}""")
      assert(probe.statusCode() == 200, probe.body())
      assert(probe.body().contains("""{"doc_id":10,"is_dup":true}""") &&
        probe.body().contains("""{"doc_id":11,"is_dup":false}"""), probe.body())

      // append the novel doc; probing it again now flags it
      assert(post(port, "/index/dedup/append",
        s"""{"name": "corpus", "docs": [${doc(11, "nothing like anything stored before in any shingle of this text")}]}""")
        .statusCode() == 200)
      assert(post(port, "/index/dedup/probe",
        s"""{"name": "corpus", "docs": [${doc(20, "nothing like anything stored before in any shingle of this text")}]}""")
        .body().contains("""{"doc_id":20,"is_dup":true}"""))
      assert(post(port, "/index/dedup/probe",
        """{"name": "nope", "docs": []}""").statusCode() == 400)
    }
  }

  test("substring index over HTTP: create → trim rewrites a copied " +
    "passage at a new alignment → append is fenced on batch_id") {
    withGateway { (_, port) =>
      def toks(prefix: String, n: Int) =
        (0 until n).map(i => f"$prefix$i%04d")
      def doc(id: Long, words: Seq[String]) =
        s"""{"doc_id": $id, "text": "${words.mkString(" ")}"}"""
      val span = toks("shared", 30)
      assert(post(port, "/index/substring/create",
        s"""{"name": "corpus", "docs": [${doc(1, toks("a", 8) ++ span)}]}""")
        .statusCode() == 200)
      assert(post(port, "/index/substring/create",
        """{"name": "corpus", "docs": []}""").statusCode() == 400)

      // the copied passage comes back REWRITTEN; novel text untouched
      val trim = post(port, "/index/substring/trim",
        s"""{"name": "corpus", "docs": [${doc(10, toks("b", 5) ++ span ++ toks("c", 4))},
           | ${doc(11, toks("novel", 40))}]}""".stripMargin)
      assert(trim.statusCode() == 200, trim.body())
      assert(trim.body().contains(s""""doc_id":10,"n_toks":39,"kept_toks":9"""),
        trim.body())
      assert(trim.body().contains(
        s""""text_deduped":"${(toks("b", 5) ++ toks("c", 4)).mkString(" ")}""""),
        trim.body())
      assert(trim.body().contains(s""""doc_id":11,"n_toks":40,"kept_toks":40"""),
        trim.body())

      // append requires the client's batch_id (sum state: a blind
      // retry must be a no-op, and only the client knows it's a retry)
      assert(post(port, "/index/substring/append",
        s"""{"name": "corpus", "docs": [${doc(2, toks("extra", 35))}]}""")
        .statusCode() == 400)
      val ap = post(port, "/index/substring/append",
        s"""{"name": "corpus", "batch_id": 7, "docs": [${doc(2, toks("extra", 35))}]}""")
      assert(ap.statusCode() == 200 && ap.body().contains(""""high_water":7"""),
        ap.body())
      // replay of the same delivery: fenced, high-water unchanged
      val replay = post(port, "/index/substring/append",
        s"""{"name": "corpus", "batch_id": 7, "docs": [${doc(2, toks("extra", 35))}]}""")
      assert(replay.statusCode() == 200 &&
        replay.body().contains(""""high_water":7"""), replay.body())
      // the appended passage now trims, exactly once
      val t2 = post(port, "/index/substring/trim",
        s"""{"name": "corpus", "docs": [${doc(20, toks("extra", 35))}]}""")
      assert(t2.body().contains(s""""doc_id":20,"n_toks":35,"kept_toks":0"""),
        t2.body())
      assert(post(port, "/index/substring/trim",
        """{"name": "nope", "docs": []}""").statusCode() == 400)
    }
  }

  test("ann index over HTTP: create → query serves top-k from probed " +
    "cells → append is visible → stats reports occupancy") {
    withGateway { (_, port) =>
      // 20 vectors, 4-dim; ids 0..15 are the frozen seeds (IvfCells)
      def vec(id: Long, x: Double) =
        s"""{"vec_id": $id, "embedding": [${x}, ${1 - x}, 0.25, 0.75], "label": "v$id"}"""
      val boot = (0L until 20L).map(i => vec(i, (i % 10) / 10.0)).mkString(",")
      assert(post(port, "/index/ann/create",
        s"""{"name": "emb", "vectors": [$boot]}""").statusCode() == 200)
      // missing seeds is the client's error, not a 500
      assert(post(port, "/index/ann/create",
        s"""{"name": "emb2", "vectors": [${vec(0, 0.5)}]}""").statusCode() == 400)

      val q = post(port, "/index/ann/query",
        """{"name": "emb", "vector": [0.3, 0.7, 0.25, 0.75], "k": 3}""")
      assert(q.statusCode() == 200, q.body())
      // vec 3 and 13 share x=0.3 — the exact-match cosine tops the list
      assert(q.body().contains(""""vec_id":3""") &&
        q.body().contains(""""vec_id":13"""), q.body())

      // an appended vector with the same direction becomes findable
      assert(post(port, "/index/ann/append",
        s"""{"name": "emb", "batch_id": 0, "vectors": [${vec(100, 0.3)}]}""").statusCode() == 200)
      assert(post(port, "/index/ann/query",
        """{"name": "emb", "vector": [0.3, 0.7, 0.25, 0.75], "k": 3}""")
        .body().contains(""""vec_id":100"""))

      val stats = get(port, "/index/ann/stats?name=emb")
      assert(stats.statusCode() == 200, stats.body())
      assert(stats.body().contains(""""version":2""") &&
        stats.body().contains(""""postings":21"""), stats.body())

      // compaction folds the two versions into one; queries unchanged
      assert(post(port, "/index/ann/compact", """{"name": "emb"}""")
        .statusCode() == 200)
      assert(post(port, "/index/ann/query",
        """{"name": "emb", "vector": [0.3, 0.7, 0.25, 0.75], "k": 3}""")
        .body().contains(""""vec_id":100"""))
    }
  }

  test("text index over HTTP: create → BM25 search from pruned shards → " +
    "append is visible → stats reports shard occupancy") {
    withGateway { (_, port) =>
      def doc(id: Long, text: String) =
        s"""{"doc_id": $id, "text": "$text"}"""
      assert(post(port, "/index/text/create",
        s"""{"name": "lex", "docs": [
           |${doc(1, "spark shuffles the hash join")},
           |${doc(2, "a window frame over events")},
           |${doc(3, "spark spark spark everywhere")}]}""".stripMargin)
        .statusCode() == 200)
      assert(post(port, "/index/text/create",
        """{"name": "lex", "docs": []}""").statusCode() == 400)

      // term repetition ranks doc 3 over doc 1; doc 2 has no query term
      val q = post(port, "/index/text/search",
        """{"name": "lex", "terms": ["spark"], "k": 5}""")
      assert(q.statusCode() == 200, q.body())
      val order = """"doc_id":(\d+)""".r.findAllMatchIn(q.body())
        .map(_.group(1).toLong).toSeq
      assert(order == Seq(3L, 1L), q.body())

      // an appended doc joins the ranking without rebuilding
      assert(post(port, "/index/text/append",
        s"""{"name": "lex", "batch_id": 0, "docs": [${doc(10, "spark spark tuning notes")}]}""")
        .statusCode() == 200)
      val q2 = post(port, "/index/text/search",
        """{"name": "lex", "terms": ["spark"], "k": 5}""")
      assert(q2.body().contains(""""doc_id":10"""), q2.body())

      val stats = get(port, "/index/text/stats?name=lex")
      assert(stats.statusCode() == 200, stats.body())
      assert(stats.body().contains(""""version":2"""), stats.body())

      // phrase serving from positional postings: doc 3 has 'spark spark'
      // twice ('spark spark spark' = 2 windows), doc 10 once
      val ph = post(port, "/index/text/phrase",
        """{"name": "lex", "phrase": ["spark", "spark"]}""")
      assert(ph.statusCode() == 200, ph.body())
      assert(ph.body().contains("""{"doc_id":3,"n_occurrences":2}""") &&
        ph.body().contains("""{"doc_id":10,"n_occurrences":1}"""), ph.body())
      assert(post(port, "/index/text/phrase",
        """{"name": "lex", "phrase": []}""").statusCode() == 400)

      // compaction preserves the ranking
      assert(post(port, "/index/text/compact", """{"name": "lex"}""")
        .statusCode() == 200)
      assert(post(port, "/index/text/search",
        """{"name": "lex", "terms": ["spark"], "k": 5}""")
        .body() == q2.body())

      // bulk create from a parquet source path (the door's other input
      // mode — the trigger for a cluster-scale build)
      val src = graft.TempDirs.scratch("ivx-src").toString
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text").limit(50)
        .write.mode("overwrite").parquet(src)
      assert(post(port, "/index/text/create",
        s"""{"name": "bulk", "source": "$src"}""").statusCode() == 200)
      val bq = post(port, "/index/text/search",
        """{"name": "bulk", "terms": ["spark"], "k": 3}""")
      assert(bq.statusCode() == 200 && bq.body().contains("doc_id"), bq.body())

      // bad requests are the client's error, not a 500
      assert(post(port, "/index/text/search",
        """{"name": "lex", "terms": []}""").statusCode() == 400)
      assert(post(port, "/index/text/search",
        """{"name": "nope", "terms": ["x"]}""").statusCode() == 400)
      assert(post(port, "/index/text/search",
        """{"name": "lex", "terms": ["x"], "k": -1}""").statusCode() == 400)
      // an empty bootstrap on a FRESH name is a 400, not an NPE 500
      assert(post(port, "/index/text/create",
        """{"name": "fresh", "docs": []}""").statusCode() == 400)
      assert(post(port, "/index/text/append",
        """{"name": "lex", "batch_id": 1, "docs": []}""").statusCode() == 400)
    }
  }

  test("text and ann append doors are fenced: the same delivery sent " +
    "twice leaves postings and BM25 scores unchanged; no batch_id is a 400") {
    withGateway { (_, port) =>
      def doc(id: Long, text: String) =
        s"""{"doc_id": $id, "text": "$text"}"""
      assert(post(port, "/index/text/create",
        s"""{"name": "lex", "docs": [${doc(1, "spark shuffles the hash join")},
           |${doc(2, "a window frame over events")}]}""".stripMargin)
        .statusCode() == 200)
      val delivery =
        s"""{"name": "lex", "batch_id": 3, "docs": [${doc(10, "spark spark tuning notes")}]}"""
      val first = post(port, "/index/text/append", delivery)
      assert(first.statusCode() == 200, first.body())
      val search = """{"name": "lex", "terms": ["spark"], "k": 5}"""
      val scores = post(port, "/index/text/search", search).body()
      val stats = get(port, "/index/text/stats?name=lex").body()
      // a blind retry: fenced, so df/tf and the version do not move
      val retry = post(port, "/index/text/append", delivery)
      assert(retry.statusCode() == 200, retry.body())
      assert(post(port, "/index/text/search", search).body() == scores)
      assert(get(port, "/index/text/stats?name=lex").body() == stats)
      assert(Seq(first, retry).forall(_.body().contains(""""high_water":3""")),
        retry.body())
      val noId = post(port, "/index/text/append",
        s"""{"name": "lex", "docs": [${doc(11, "spark again")}]}""")
      assert(noId.statusCode() == 400, noId.body())
      assert(post(port, "/index/text/search", search).body() == scores)

      def vec(id: Long, x: Double) =
        s"""{"vec_id": $id, "embedding": [${x}, ${1 - x}, 0.25, 0.75]}"""
      val boot = (0L until 20L).map(i => vec(i, (i % 10) / 10.0)).mkString(",")
      assert(post(port, "/index/ann/create",
        s"""{"name": "emb", "vectors": [$boot]}""").statusCode() == 200)
      val vectors = s"""{"name": "emb", "batch_id": 0, "vectors": [${vec(100, 0.3)}]}"""
      assert(post(port, "/index/ann/append", vectors).statusCode() == 200)
      val annStats = get(port, "/index/ann/stats?name=emb").body()
      assert(annStats.contains(""""postings":21"""), annStats)
      val annRetry = post(port, "/index/ann/append", vectors)
      assert(annRetry.statusCode() == 200, annRetry.body())
      assert(get(port, "/index/ann/stats?name=emb").body() == annStats)
      assert(annRetry.body().contains(""""high_water":0"""), annRetry.body())
      assert(post(port, "/index/ann/append",
        s"""{"name": "emb", "vectors": [${vec(101, 0.4)}]}""").statusCode() == 400)
      assert(get(port, "/index/ann/stats?name=emb").body() == annStats)
    }
  }

  test("tokenizer over HTTP: train returns the merge list; chunks are " +
    "row-capped and ordered") {
    withGateway { (_, port) =>
      // 'aa aa ab' + 'aa': top pair at step 0 is (a,</w>)=3 tied with
      // (a,a)=3, broken lexicographically → first merge is a</w>
      val train = post(port, "/tokenizer/train",
        """{"k": 2, "docs": [
          |{"doc_id": 1, "text": "aa aa ab"},
          |{"doc_id": 2, "text": "aa"}]}""".stripMargin)
      assert(train.statusCode() == 200, train.body())
      assert(train.body().startsWith(
        """[{"rank":1,"left":"a","right":"</w>","merged":"a</w>","pair_count":3}"""),
        train.body())
      assert("""\{"rank":2""".r.findFirstIn(train.body()).isDefined, train.body())

      assert(post(port, "/tokenizer/train",
        """{"k": 0, "docs": []}""").statusCode() == 400)
      assert(post(port, "/tokenizer/train",
        """{"k": 2}""").statusCode() == 400)

      // 60 tokens at W=32/S=24 → 3 chunks; limit=2 caps in order
      val text = (1 to 60).map(i => s"t$i").mkString(" ")
      val ch = post(port, "/tokenizer/chunks",
        s"""{"docs": [{"doc_id": 7, "text": "$text"}]}""")
      assert(ch.statusCode() == 200, ch.body())
      assert(""""chunk_idx":(\d+)""".r.findAllMatchIn(ch.body())
        .map(_.group(1).toInt).toSeq == Seq(0, 1, 2), ch.body())
      val capped = post(port, "/tokenizer/chunks",
        s"""{"limit": 2, "docs": [{"doc_id": 7, "text": "$text"}]}""")
      assert(""""chunk_idx":(\d+)""".r.findAllMatchIn(capped.body())
        .map(_.group(1).toInt).toSeq == Seq(0, 1), capped.body())
      assert(post(port, "/tokenizer/chunks",
        """{"limit": 0, "docs": []}""").statusCode() == 400)

      // the curation funnel over a posted corpus + benchmark: the
      // CurationFunnelSpec fixture over HTTP
      val good = (1 to 30).map(i => s"w$i").mkString("the ", " ", " a")
      val fn = post(port, "/corpus/funnel",
        s"""{"docs": [
           |{"doc_id": 1, "text": "$good"},
           |{"doc_id": 2, "text": "$good"},
           |{"doc_id": 3, "text": "tiny doc"}],
           |"benchmark": {"docs": [{"doc_id": 0, "text": "b1 b2 b3 b4 b5 b6"}]}}"""
          .stripMargin)
      assert(fn.statusCode() == 200, fn.body())
      assert(fn.body().contains(""""stage":"1_ingested","n_docs":3""") &&
        fn.body().contains(""""stage":"2_quality","n_docs":2""") &&
        fn.body().contains(""""stage":"3_dedup","n_docs":1"""), fn.body())
      assert(post(port, "/corpus/funnel",
        """{"docs": [{"doc_id": 1, "text": "x"}]}""").statusCode() == 400)

      // probe training: a corpus with both keep and drop docs fits a
      // finite weight vector; degenerate corpora are the client's 400
      val keepDoc = ("the " * 15 + "a " * 10).trim
      val probeDocs = (1 to 6).map { i =>
        val text = if (i % 2 == 0) keepDoc + s" w$i" else s"tiny doc $i"
        s"""{"doc_id": $i, "text": "$text"}"""
      }.mkString("[", ",", "]")
      val pt = post(port, "/corpus/probe/train", s"""{"docs": $probeDocs}""")
      assert(pt.statusCode() == 200, pt.body())
      Seq("bias", "w_stop_ratio", "w_mean_tok_len", "w_ln_tokens").foreach {
        k => assert(pt.body().contains(s""""$k":"""), pt.body())
      }
      assert(!pt.body().contains("NaN"), pt.body())
      // a single-document corpus has collinear features → clear 400
      assert(post(port, "/corpus/probe/train",
        """{"docs": [{"doc_id": 1, "text": "one doc"}]}""")
        .statusCode() == 400)

      // vocabulary index: create → served pair ranking → append shifts
      // it → drift between the two versions reports rank agreement
      assert(post(port, "/index/vocab/create",
        """{"name": "vb", "docs": [
          |{"doc_id": 1, "text": "banana band bands"},
          |{"doc_id": 2, "text": "banana band bands"}]}""".stripMargin)
        .statusCode() == 200)
      val pr = get(port, "/index/vocab/pairs?name=vb")
      assert(pr.statusCode() == 200 && pr.body().contains(""""rank":1"""),
        pr.body())
      val tr = get(port, "/index/vocab/train?name=vb&k=3")
      assert(tr.statusCode() == 200 &&
        """"rank":3""".r.findFirstIn(tr.body()).isDefined, tr.body())
      // no predecessor yet → empty drift
      assert(get(port, "/index/vocab/drift?name=vb").body() == "[]")
      val ap = post(port, "/index/vocab/append",
        """{"name": "vb", "batch_id": 5, "docs": [{"doc_id": 3, "text": "zzzz zzzz zzzz zzzz zzzz"}]}""")
      assert(ap.statusCode() == 200 && ap.body().contains(""""batch_id":5"""),
        ap.body())
      val dv = get(port, "/index/vocab/drift?name=vb&k=3")
      assert(dv.statusCode() == 200 &&
        dv.body().contains(""""agree":false"""), dv.body())
      assert(get(port, "/index/vocab/pairs?name=nope").statusCode() == 400)
      // garbage k is the client's 400, not a NumberFormatException 500
      assert(get(port, "/index/vocab/train?name=vb&k=abc")
        .statusCode() == 400)
      // a replayed batch_id is a no-op: sum-merge would double-count
      // without the fence
      val before = get(port, "/index/vocab/pairs?name=vb").body()
      assert(post(port, "/index/vocab/append",
        """{"name": "vb", "batch_id": 5, "docs": [{"doc_id": 9, "text": "qqq qqq"}]}""")
        .statusCode() == 200)
      assert(get(port, "/index/vocab/pairs?name=vb").body() == before,
        "replayed batch_id must not change the state")
      // batch_id is REQUIRED: a server-defaulted high-water+1 would
      // hand a blind retry a fresh fence and double-count — 400, and
      // the state stays untouched
      val noId = post(port, "/index/vocab/append",
        """{"name": "vb", "docs": [{"doc_id": 10, "text": "rrr rrr"}]}""")
      assert(noId.statusCode() == 400, noId.body())
      assert(get(port, "/index/vocab/pairs?name=vb").body() == before)
      // compaction keeps serving (and drift's predecessor survives)
      assert(post(port, "/index/vocab/compact", """{"name": "vb"}""")
        .statusCode() == 200)
      assert(get(port, "/index/vocab/pairs?name=vb").body() == before)
      assert(get(port, "/index/vocab/drift?name=vb&k=3").statusCode() == 200)

      // drift door: identical docs either side of the id midpoint →
      // every rank agrees
      val dr = post(port, "/tokenizer/drift",
        """{"docs": [
          |{"doc_id": 1, "text": "banana band bands"},
          |{"doc_id": 2, "text": "banana band bands"},
          |{"doc_id": 3, "text": "banana band bands"},
          |{"doc_id": 4, "text": "banana band bands"}]}""".stripMargin)
      assert(dr.statusCode() == 200, dr.body())
      assert(!dr.body().contains(""""agree":false"""), dr.body())
      assert(""""rank":1""".r.findFirstIn(dr.body()).isDefined, dr.body())
    }
  }

  test("a configured lock key is enforced on the lock_key door") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo", lockKey = Some("s3cret"))
    val port = gw.start()
    try {
      assert(get(port, "/admin/lock_key?lock_key=s3cret").body() == "true")
      assert(get(port, "/admin/lock_key?lock_key=wrong").body() == "false")
      assert(get(port, "/admin/lock_key").body() == "false")
    } finally gw.stop()
  }

  // -------- create doors under concurrency --------

  /** Races `bodies.size` creates of one name at `door` behind a latch and
    * checks the outcome: exactly one 200 and the others 400 "already
    * exists". Runs `check(warehouse, winner)` with the winner's index
    * into `bodies`, before the gateway stops. */
  private def raceCreates(door: String, bodies: Seq[String],
      setup: Int => Unit = _ => ())(check: (String, Int) => Unit): Unit = {
    val warehouse = graft.TempDirs.scratch("graft-http-race").toString
    val gw = new HttpGateway(spark, SchemaRegistry.inMemory(), warehouse, "demo")
    val port = gw.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    try {
      setup(port)
      val go = new java.util.concurrent.CountDownLatch(1)
      val futures = bodies.map { b =>
        pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
          def call(): HttpResponse[String] = { go.await(); post(port, door, b) }
        })
      }
      go.countDown()
      val rs = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      val winners = rs.indices.filter(rs(_).statusCode() == 200)
      assert(winners.size == 1,
        rs.map(r => s"${r.statusCode()} ${r.body().take(200)}"))
      rs.filter(_.statusCode() != 200).foreach { r =>
        assert(r.statusCode() == 400 && r.body().contains("already exists"),
          s"${r.statusCode()} ${r.body().take(300)}")
      }
      check(warehouse, winners.head)
    } finally { pool.shutdownNow(); gw.stop() }
  }

  private val Racers = 3

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Racer `i`'s one document: distinct words, long enough to shingle. */
  private def racerText(i: Int): String =
    (0 until 40).map(w => s"r${i}w$w").mkString(" ")

  private def racerDocs(i: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq((1L, racerText(i))).toDF("doc_id", "text")
  }

  private def docsBody(i: Int) =
    s"""{"name": "race", "docs": [{"doc_id": 1, "text": "${racerText(i)}"}]}"""

  test("racing dedup creates: one wins, the rest get 400, the state is " +
    "the winner's") {
    raceCreates("/index/dedup/create", (0 until Racers).map(docsBody)) { (wh, w) =>
      val dir = s"$wh/demo/__indexes/dedup/race"
      assert(rowsOf(graft.store.VersionedState.readCurrent(spark, dir)) ==
        rowsOf(graft.store.DedupIndex.partial(racerDocs(w))))
    }
  }

  test("racing substring creates: one wins, the rest get 400, the state " +
    "is the winner's") {
    raceCreates("/index/substring/create", (0 until Racers).map(docsBody)) { (wh, w) =>
      val dir = s"$wh/demo/__indexes/substring/race"
      assert(rowsOf(graft.store.VersionedState.readCurrent(spark, dir)) ==
        rowsOf(graft.store.SubstringIndex.partial(racerDocs(w))))
    }
  }

  test("racing vocab creates: one wins, the rest get 400, the state is " +
    "the winner's") {
    raceCreates("/index/vocab/create", (0 until Racers).map(docsBody)) { (wh, w) =>
      val dir = s"$wh/demo/__indexes/vocab/race"
      assert(rowsOf(graft.store.VocabStore.wordFreq(spark, dir)) ==
        rowsOf(graft.store.VocabStore.partial(racerDocs(w))))
    }
  }

  test("racing text-index creates: one wins, the rest get 400, the state " +
    "is the winner's") {
    val bodies = (0 until Racers).map(i =>
      s"""{"name": "race", "docs": [{"doc_id": ${10 + i}, "text": "${racerText(i)}"}]}""")
    raceCreates("/index/text/create", bodies) { (wh, w) =>
      val dir = s"$wh/demo/__indexes/text/race"
      assert(rowsOf(graft.store.InvertedIndex.postings(spark, dir)
        .select("doc_id").distinct()) == Seq(s"${10 + w}"))
    }
  }

  test("racing ANN creates: one wins, the rest get 400, the state is " +
    "the winner's") {
    def vec(id: Long) =
      s"""{"vec_id": $id, "embedding": [${(id % 10) / 10.0}, 0.5, 0.25], "label": "v$id"}"""
    // every racer carries the 16 seeds plus one vector of its own
    val bodies = (0 until Racers).map(i =>
      ((0L until 16L) :+ (100L + i)).map(vec).mkString(
        """{"name": "race", "vectors": [""", ",", "]}"))
    raceCreates("/index/ann/create", bodies) { (wh, w) =>
      val dir = s"$wh/demo/__indexes/ann/race"
      assert(rowsOf(graft.store.AnnIndex.postings(spark, dir).select("vec_id")) ==
        ((0L until 16L) :+ (100L + w)).map(_.toString).sorted)
    }
  }

  test("racing materialized-view creates: one wins, the rest get 400, the " +
    "view is the winner's") {
    val groups = Seq("page", "_user", "kind")
    val bodies = groups.map(g =>
      s"""{"name": "race", "collection": "views", "group": ["$g"], "values": ["amount"]}""")
    raceCreates("/materialized-view/create", bodies, setup = port =>
      Seq(("u1", "/a", "x"), ("u2", "/b", "y")).foreach { case (u, p, k) =>
        assert(post(port, "/event/collect",
          s"""{"collection": "views", "properties": {"_user": "$u", "_time": "2026-01-15 10:00:00.000", "page": "$p", "kind": "$k", "amount": 3}}""")
          .statusCode() == 200)
      }) { (wh, w) =>
      val state = graft.store.VersionedState.readCurrent(spark, s"$wh/demo/__mvstate/race")
      assert(state.columns.contains(groups(w)) &&
        groups.filterNot(_ == groups(w)).forall(g => !state.columns.contains(g)),
        state.columns.toSeq)
      assert(state.count() == 2L)
    }
  }

  test("an epoch _time Spark cannot hold is a dead letter, not a 500") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      Seq("99999999999999999999", "-1e30", "9223372036854775807").foreach { t =>
        val r = post(port, "/event/collect",
          s"""{"collection": "pageview", "properties": {"_user": "u$t", "_time": $t}}""")
        assert(r.statusCode() == 200, s"_time $t: ${r.statusCode()} ${r.body().take(300)}")
      }
      // a DATE column fed epoch days out of range
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "d0", "d": "2026-01-10"}}""")
        .statusCode() == 200)
      assert(post(port, "/event/collect",
        """{"collection": "pageview", "properties": {"_user": "d1", "d": -1e30}}""")
        .statusCode() == 200)
      val dead = spark.read.parquet(s"$warehouse/demo/invalid_schema").collect()
      assert(dead.map(_.getAs[String]("property")).sorted.toSeq ==
        Seq("_time", "_time", "_time", "d"), dead.toSeq)
      assert(dead.forall(_.getAs[String]("error").contains("out of range")), dead.toSeq)
      // every event stored, its unholdable _time nulled (then given the
      // server clock by the timestamp mapper)
      val n = post(port, "/query/execute",
        """{"query": "SELECT count(*) AS n FROM pageview"}""").body()
      assert(n.contains("\"n\":5"), n)
    } finally gw.stop()
  }

  test("each typed request read answers a mistyped field with a 400 and " +
    "its message: JSON null is absent, a non-integer is never a number") {
    withGateway { (_, port) =>
      def rejects(r: HttpResponse[String], message: String): Unit =
        assert(r.statusCode() == 400 && r.body().contains(message),
          s"${r.statusCode()} ${r.body()}")
      // required text and required scalar: null never reads as "null"
      rejects(post(port, "/user/set_properties",
        """{"id": null, "properties": {"p": "1"}}"""), "id is required")
      rejects(post(port, "/event/hook/activate",
        """{"identifier": null, "code": "function module() { return null; }"}"""),
        "identifier is required")
      rejects(post(port, "/materialized-view/delete", """{"name": "a/b"}"""),
        "identifier must be alphanumeric")
      // integers, with and without a floor
      rejects(post(port, "/user/increment_property",
        """{"id": "u", "property": "p", "time": "abc"}"""),
        "time must be an integer, got 'abc'")
      rejects(post(port, "/admin/vacuum", """{"collection": "c", "grace_ms": -1}"""),
        "grace_ms must be >= 0")
      // row counts: clamped at the top, or bounded at both ends
      rejects(post(port, "/query/execute", """{"query": "SELECT 1", "limit": -1}"""),
        "limit must be >= 1")
      rejects(post(port, "/query/execute", """{"query": "SELECT 1", "limit": "x"}"""),
        "limit must be an integer, got 'x'")
      rejects(post(port, "/tokenizer/train", """{"k": 65, "docs": []}"""),
        "k must be between 1 and 64")
      // string arrays and string maps
      rejects(post(port, "/user/unset_properties", """{"id": "u", "properties": "p"}"""),
        "properties array is required")
      rejects(post(port, "/user/set_properties", """{"id": "u", "properties": ["p"]}"""),
        "properties object is required")
      // the query string reads through the same accessors
      rejects(get(port, "/user/get?id=u&as_of=x"), "as_of must be an integer, got 'x'")
      rejects(get(port, "/analysis/funnel?collection=c&steps=a&version=1.5"),
        "version must be an integer, got '1.5'")
      // a malformed body, and the method rule
      rejects(post(port, "/user/delete", "{"), "invalid JSON")
      rejects(get(port, "/user/delete"), "POST required")
      // a limit above the ceiling is capped, not refused
      val capped = post(port, "/query/execute", """{"query": "SELECT 1 AS one", "limit": 5000}""")
      assert(capped.statusCode() == 200 && capped.body() == """[{"one":1}]""", capped.body())
    }
  }

  test("a fenced append refuses a batch_id that is not an integer >= 0") {
    withGateway { (_, port) =>
      val docs = """"docs": [{"doc_id": 1, "text": "banana band bands"}]"""
      for (kind <- Seq("vocab", "substring")) {
        assert(post(port, s"/index/$kind/create", s"""{"name": "f", $docs}""")
          .statusCode() == 200)
        // read as 0, the first mistyped id would be folded in and the
        // second skipped as its replay, each answered 200
        val a = post(port, s"/index/$kind/append",
          """{"name": "f", "batch_id": "a", "docs": [{"doc_id": 2, "text": "qqq qqq"}]}""")
        val b = post(port, s"/index/$kind/append",
          """{"name": "f", "batch_id": "b", "docs": [{"doc_id": 3, "text": "rrr rrr"}]}""")
        assert(a.statusCode() == 400 && a.body().contains("batch_id must be an integer"),
          s"$kind: ${a.body()}")
        assert(b.statusCode() == 400, s"$kind: ${b.body()}")
        val neg = post(port, s"/index/$kind/append",
          """{"name": "f", "batch_id": -1, "docs": [{"doc_id": 4, "text": "sss sss"}]}""")
        assert(neg.statusCode() == 400 && neg.body().contains("batch_id must be >= 0"),
          s"$kind: ${neg.body()}")
        val ok = post(port, s"/index/$kind/append",
          """{"name": "f", "batch_id": 0, "docs": [{"doc_id": 5, "text": "ttt ttt"}]}""")
        assert(ok.statusCode() == 200 && ok.body().contains(""""high_water":0"""),
          s"$kind: ${ok.body()}")
      }
    }
  }

  test("/admin/vacuum with a mistyped grace_ms is a 400 that deletes nothing") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-http").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    def files(): Set[String] = {
      val root = java.nio.file.Paths.get(
        graft.store.EventStore.tablePath(warehouse, "demo", "pv"))
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    try {
      for (i <- 1 to 2)
        assert(post(port, "/event/collect",
          s"""{"collection": "pv", "properties": {"_user": "u$i", "_time": "2026-01-1$i 10:00:00.000"}}""")
          .statusCode() == 200)
      assert(post(port, "/admin/compact", """{"collection": "pv", "month": "2026-01"}""")
        .statusCode() == 200)
      // the two superseded files stay on disk for pinned readers
      val before = files()
      assert(before.size == 3, before)
      // read as 0, "abc" would reap the just-superseded files at once
      val bad = post(port, "/admin/vacuum", """{"collection": "pv", "grace_ms": "abc"}""")
      assert(bad.statusCode() == 400 && bad.body().contains("grace_ms must be an integer"),
        bad.body())
      assert(files() == before)
      val reap = post(port, "/admin/vacuum", """{"collection": "pv", "grace_ms": 0}""")
      assert(reap.statusCode() == 200 && reap.body().contains(""""deleted_files":2"""),
        reap.body())
    } finally gw.stop()
  }
}
