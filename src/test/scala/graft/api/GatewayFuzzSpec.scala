package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.core.SchemaRegistry

/** Adversarial-body sweep over EVERY gateway door: whatever bytes a
  * client posts, the server must answer with a CLIENT status (2xx-4xx)
  * and keep serving — a 5xx here means an unhandled exception escaped a
  * handler (the reference wraps handler bodies the same way:
  * RakamHttpRequestHandler returns 400s for bad JSON). One hostile
  * request must never poison the next good one. */
class GatewayFuzzSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private val doors = Seq(
    "/event/collect", "/event/batch", "/event/bulk", "/event/bulk/remote",
    "/event/copy", "/event/hook/collect", "/event/hook/test",
    "/event/hook/activate", "/event/hook/delete",
    "/custom-event-mapper/create", "/custom-event-mapper/update",
    "/custom-event-mapper/delete", "/custom-event-mapper/test",
    "/javascript-logger/get_logs", "/custom-event-mapper/get_logs",
    "/user/batch", "/user/batch_operations", "/user/set_properties",
    "/user/set_properties_once", "/user/increment_property",
    "/user/unset_properties", "/user/get", "/user/delete",
    "/analysis/funnel", "/analysis/retention", "/analysis/paths",
    "/analysis/attribution", "/analysis/statistics",
    "/materialized-view/create", "/materialized-view/get",
    "/materialized-view/refresh", "/materialized-view/delete",
    "/query/execute", "/subscription/create", "/subscription/poll",
    "/subscription/delete", "/project/create", "/project/delete",
    "/project/schema/add", "/project/schema/add/custom",
    // /project/exception is excluded: it EXISTS to throw (the
    // reference's exception-test door) — the one door whose 500 is
    // its contract. /project/create-api-keys runs LAST (see below):
    // minting keys ARMS role enforcement, and fuzzing it mid-sweep
    // would leave every later authed door answering 403 at the auth
    // gate, never reaching its handler.
    "/project/check-api-keys", "/project/revoke-api-keys",
    "/index/dedup/create", "/index/dedup/append", "/index/dedup/probe",
    "/index/substring/create", "/index/substring/append",
    "/index/substring/trim",
    "/index/ann/create", "/index/ann/append", "/index/ann/query",
    "/index/ann/reseed", "/index/ann/compact", "/index/ann/stats",
    "/index/text/create", "/index/text/append", "/index/text/search",
    "/index/text/phrase", "/index/text/compact", "/index/text/stats",
    "/index/vocab/create", "/index/vocab/append", "/index/vocab/pairs",
    "/index/vocab/train", "/index/vocab/drift", "/index/vocab/compact",
    "/tokenizer/train", "/tokenizer/chunks", "/tokenizer/drift",
    "/corpus/funnel", "/corpus/probe/train",
    "/admin/compact", "/admin/vacuum", "/admin/versions",
    "/admin/pin", "/admin/diff",
    "/analysis/segmentation", "/admin/lock_key")

  private val bodies = Seq(
    "",
    "{", "}", "[",
    "null", "42", "\"just a string\"",
    "{\"collection\":null}",
    "{\"properties\":{\"_user\":{}}}",
    "[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[[ ]",
    "{\"a\":" * 40 + "1" + "}" * 40,
    "binary junk \u0000 \ufffd \bx", // NUL + replacement + backspace
    """{"collection":"c","properties":[1,2,3]}""",
    """{"name":123,"script":{"nested":true}}""",
    """{"query":"DROP TABLE events; --"}""",
    // epoch values Spark's timestamp and date cannot hold: d is DATE
    // after the first of these, so the last two coerce numbers to it
    """{"collection":"c","properties":{"_time":99999999999999999999,"d":"2026-01-10"}}""",
    """{"collection":"c","properties":{"_time":-1e30,"d":-1e30}}""",
    """{"events":[{"collection":"c","properties":{"d":"2026-01-10"}},""" +
      """{"collection":"c","properties":{"_time":-1e30,"d":99999999999}}]}""")

  test("every door answers hostile bodies with a client status, never a 5xx") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-fuzz").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      doors.foreach { door =>
        bodies.zipWithIndex.foreach { case (body, i) =>
          val r = post(port, door, body)
          // 501 is a DELIBERATE contract (project deletion disabled —
          // the reference's NOT_IMPLEMENTED), not an escaped exception
          assert(r.statusCode() < 500 || r.statusCode() == 501,
            s"$door body#$i -> ${r.statusCode()}: ${r.body().take(300)}")
        }
      }
      // create-api-keys is fuzzed LAST: its first hit MINTS a pair and
      // ARMS role enforcement (after which even minting needs the
      // master key), so running it mid-sweep would leave every later
      // authed door answering 403 at the auth gate, never reaching its
      // handler. Capture the first minted write key for the health
      // check below.
      var writeKey: Option[String] = None
      bodies.zipWithIndex.foreach { case (body, i) =>
        val r = post(port, "/project/create-api-keys", body)
        assert(r.statusCode() < 500 || r.statusCode() == 501,
          s"/project/create-api-keys body#$i -> ${r.statusCode()}: ${r.body().take(300)}")
        if (writeKey.isEmpty && r.statusCode() == 200)
          writeKey = "\"write_key\"\\s*:\\s*\"([^\"]+)\"".r
            .findFirstMatchIn(r.body()).map(_.group(1))
      }
      // the server must still INGEST after ~1000 hostile requests —
      // with the minted write key, a 200 proves the full ingest path
      // survived, not merely that the auth gate answers
      val key = writeKey.getOrElse(fail("no mint succeeded during fuzz"))
      val ok = post(port, s"/event/collect?write_key=$key",
        """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:30:00.000", "page": "/a"}}""")
      assert(ok.statusCode() == 200,
        s"post-fuzz collect: ${ok.statusCode()} ${ok.body().take(200)}")
    } finally gw.stop()
  }
}
