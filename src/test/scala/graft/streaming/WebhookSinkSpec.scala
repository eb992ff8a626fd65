package graft.streaming

import graft.SparkSpec
import graft.core.SchemaRegistry
import graft.ingest.JsonIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** S13 webhook forward contract, A3 ingest metrics, and M8 (enrichment
  * mappers applied to the profile op-log). */
class WebhookSinkSpec extends SparkSpec {

  test("S13: {activities:[...]} payload, maps dropped, retry x2 then give up") {
    import spark.implicits._
    val batch = Seq(
      ("u1", "view", Map("a" -> "1")),
      ("u2", "click", Map("b" -> "2")))
      .toDF("_user", "event_type", "meta")
    // payload shape: activities array, map column dropped
    val body = WebhookSink.payload(batch)
    assert(body.startsWith("{\"activities\":["))
    assert(body.contains("\"_user\":\"u1\"") && !body.contains("meta"))

    // transport fails twice, succeeds on the 3rd (initial + 2 retries)
    var calls = 0
    val flaky = (_: String) => { calls += 1; calls >= 3 }
    assert(WebhookSink.postWithRetry(flaky, body) == (3, true))
    // always-failing transport gives up after 1 + MaxRetries attempts
    var failCalls = 0
    val dead = (_: String) => { failCalls += 1; false }
    assert(WebhookSink.postWithRetry(dead, body) == (3, false))
    assert(failCalls == 3)
  }

  test("S13: attached to a stream, flushes per trigger and reports") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val stream = in.toDF().toDF("_user", "event_type")
      .withColumn("_collection", lit("pageview"))
    val sub = StreamSubscription("s", Seq(CollectionStreamQuery("pageview",
      Some("event_type = 'click'"))))
    val reports = scala.collection.mutable.ArrayBuffer.empty[WebhookSink.FlushReport]
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = WebhookSink.attach(
      Subscriptions.plan(stream, sub),
      post = { b => bodies += b; true },
      period = "1 second") { r => reports += r }
      .option("checkpointLocation",
        graft.TempDirs.scratch("graft-wh-ckpt").toString)
      .start()
    try {
      in.addData(("u1", "click"), ("u2", "view"), ("u3", "click"))
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.map(_.nActivities).sum == 2) // view filtered out
    assert(reports.forall(_.delivered))
    assert(bodies.forall(_.contains("\"activities\":[")))
  }

  test("S13: oversized batch drains in bounded chunks with carryover") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val stream = in.toDF().toDF("_user", "event_type")
      .withColumn("_collection", lit("pageview"))
    val reports = scala.collection.mutable.ArrayBuffer.empty[WebhookSink.FlushReport]
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = WebhookSink.attach(
      Subscriptions.plan(stream,
        StreamSubscription("s", Seq(CollectionStreamQuery("pageview", None)))),
      post = { b => bodies += b; true },
      period = "1 second", maxPerPost = 10) { r => reports += r }
      .option("checkpointLocation",
        graft.TempDirs.scratch("graft-wh-cap").toString)
      .start()
    try {
      // one replayed micro-batch of 25 events against a cap of 10
      in.addData((1 to 25).map(i => (s"u$i", "click")): _*)
      q.processAllAvailable()
    } finally q.stop()
    // 25 rows → chunks of 10, 10, 5: the driver never materialized more
    // than `maxPerPost` activities per POST, and nothing was dropped
    assert(reports.map(_.nActivities).sorted == Seq(5L, 10L, 10L))
    assert(reports.map(_.chunk).sorted == Seq(0, 1, 2))
    assert(reports.forall(_.delivered))
    assert(bodies.map(b => "\"_user\":".r.findAllIn(b).size).sum == 25)
    assert(bodies.forall(_.startsWith("{\"activities\":[")))
    assert(bodies.forall(_.endsWith("]}")))
  }

  test("A3: per-collection ingest metrics count stored + dead rows") {
    val registry = SchemaRegistry.inMemory()
    JsonIngest.ingest(spark, registry, "p", spark.sparkContext.parallelize(Seq(
      """{"collection": "c1", "properties": {"n": 1.0}}""")))
    val res = JsonIngest.ingest(spark, registry, "p", spark.sparkContext.parallelize(Seq(
      """{"collection": "c1", "properties": {"n": 2.0}}""",
      """{"collection": "c1", "properties": {"n": "junk"}}""",
      """{"collection": "c2", "properties": {"s": "x"}}""")))
    // per collection: rows stored, and field values dead-lettered
    val dead = res.deadLetter.groupBy("collection").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = res.byCollection.map { case (c, df) =>
      c -> (df.count(), dead.getOrElse(c, 0L)) }
    assert(m("c1") == (2L, 1L)) // 2 rows stored, 1 dead-lettered value
    assert(m("c2") == (1L, 0L))
    res.unpersist()
  }

  test("M8: enrichment mappers run unchanged on the profile op-log") {
    import spark.implicits._
    import graft.enrich._
    // op-log rows (user property updates) carrying trigger fields
    val opLog = Seq(
      ("u1", "set", "plan", "pro", "1.0.0.5",
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"),
      ("u2", "set_once", "plan", "free", "192.168.1.9", "curl/8.0"))
      .toDF("user_id", "op", "property", "value", "_ip", "_user_agent")
    val ranges = Seq((16777216L, 16777471L, "AU", "Australia/Sydney"))
      .toDF("ip_lo", "ip_hi", "_country_code", "_timezone")
    val enriched = MapperPipeline.run(opLog,
      Seq(UserAgentMapper, GeoIpMapper(ranges)))
    val byUser = enriched.collect().map(r => r.getAs[String]("user_id") -> r).toMap
    // op-log columns intact
    assert(byUser("u1").getAs[String]("op") == "set")
    // UA + geo enrichment landed on the op-log rows
    assert(byUser("u1").getAs[String]("_os") == "Mac OS X")
    assert(byUser("u1").getAs[String]("_country_code") == "AU")
    assert(byUser("u1").getAs[String]("_timezone") == "Australia/Sydney")
    assert(byUser("u2").getAs[String]("_country_code") == null) // private ip
  }
}
