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

  /** Every door in the gateway's door table but two.
    * `/project/exception` EXISTS to throw (the reference's
    * exception-test door) — the one door whose 500 is its contract.
    * `/project/create-api-keys` runs LAST (see below): minting keys
    * ARMS role enforcement, and fuzzing it mid-sweep would leave every
    * later authed door answering 403 at the auth gate, never reaching
    * its handler. */
  private def doors(gw: HttpGateway): Seq[String] =
    gw.doors.map(_.path)
      .filterNot(Set("/project/exception", "/project/create-api-keys"))

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
      """{"collection":"c","properties":{"_time":-1e30,"d":99999999999}}]}""",
    // mistyped fields, each with what its door needs to reach it: a
    // JSON null must read as absent and a non-integer never as a
    // number (the create doors make index `fz` for the appends after)
    """{"identifier":null,"code":"function module(p, b, h) { return null; }"}""",
    """{"name":null,"docs":[{"doc_id":1,"text":"a b a b"}]}""",
    """{"name":"fz","batch_id":"a","docs":[{"doc_id":1,"text":"a b a b"}]}""",
    """{"name":"fz","batch_id":"b","docs":[{"doc_id":2,"text":"c d c d"}]}""",
    """{"name":"fz","k":"a","vector":[1.0,2.0],"terms":["a"],"phrase":["a"],""" +
      """"docs":[{"doc_id":1,"text":"a b"}]}""",
    """{"id":"u1","time":"a","property":"p","properties":{"p":"1"}}""",
    """[{"id":null,"set_properties":{"p":"1"}}]""",
    """{"collection":"c","grace_ms":"10m"}""",
    """{"query":"SELECT 1","limit":-1}""")

  test("every door answers hostile bodies with a client status, never a 5xx") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-fuzz").toString
    val gw = new HttpGateway(spark, registry, warehouse, "demo")
    val port = gw.start()
    try {
      doors(gw).foreach { door =>
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
