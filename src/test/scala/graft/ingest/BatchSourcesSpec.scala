package graft.ingest

import graft.SparkSpec
import graft.core.SchemaRegistry
import graft.ingest.BatchSources._

/** S5/S6/S2/P6: pixel param parsing, the batch envelope with checksum
  * validation and the 500 KB guard, partial-failure indexes, and
  * remote-bulk routing guards. */
class BatchSourcesSpec extends SparkSpec {

  test("pixel: prop.* params become a typed event (S5)") {
    val q = "collection=pageview&api.api_key=kX" +
      "&prop._user=u1&prop.page=%2Fhome&prop._time=1700000000000&ignored=zzz"
    val json = pixelToEventJson(q).get
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("collection").asText() == "pageview")
    assert(node.get("api").get("api_key").asText() == "kX")
    val props = node.get("properties")
    assert(props.get("page").asText() == "/home") // url-decoded
    assert(props.get("_time").isIntegralNumber) // numeric _time stays numeric
    assert(props.get("_user").asText() == "u1")
    assert(props.get("ignored") == null)
    // no collection param → no event
    assert(pixelToEventJson("prop.x=1").isEmpty)
    // malformed percent-escapes (bot traffic) drop the hit, never throw
    assert(pixelToEventJson("collection=c&prop.x=%zz").isEmpty)
    assert(pixelToEventJson("collection=c&prop.x=abc%").isEmpty)
  }

  test("envelope: order-independent api/events, invalid property rejected (S2)") {
    val e1 = parseEnvelope("""{"api": {"api_key": "k"}, "events": [{"collection": "c", "properties": {}}]}""")
    assert(e1.apiKey.contains("k") && e1.events.size == 1)
    val e2 = parseEnvelope("""{"events": [], "api": {"api_key": "k"}}""")
    assert(e2.apiKey.contains("k"))
    assert(intercept[IngestRejected](parseEnvelope("""{"bogus": 1}"""))
      .message.contains("Invalid property"))
    assert(intercept[IngestRejected](parseEnvelope("""{"events": {"not": "array"}}"""))
      .message.contains("must be array"))
    assert(intercept[IngestRejected](parseEnvelope("[1,2]"))
      .message.contains("must be an object"))
  }

  test("envelope checksum: valid passes, tampered rejected (F15)") {
    val events = """[{"collection": "c", "properties": {"n": 1}}]"""
    val sum = checksumOf(Some("key1"), Some("v1"), Some(123L), events)
    val body =
      s"""{"api": {"api_key": "key1", "api_version": "v1", "upload_time": 123, "checksum": "$sum"}, "events": $events}"""
    assert(parseEnvelope(body).events.size == 1)
    // uppercase checksum accepted (reference upper-cases before compare)
    val bodyUpper = body.replace(sum, sum.toUpperCase)
    assert(parseEnvelope(bodyUpper).events.size == 1)
    val tampered = body.replace("\"n\": 1", "\"n\": 2")
    assert(intercept[IngestRejected](parseEnvelope(tampered))
      .message == "Checksum is invalid")
  }

  test("checksum slice anchors on the TOP-LEVEL events key, not a string value") {
    val events = """[{"collection": "c", "properties": {"n": 1}}]"""
    // "events" appears first as a string VALUE inside the api object —
    // an indexOf-based slice would start at the wrong '[' (the tags
    // array) and reject this correctly signed batch
    val sum = checksumOf(Some("events"), Some("v1"), Some(9L), events)
    val body =
      s"""{"api": {"api_key": "events", "tags": ["events", "x"], "api_version": "v1", "upload_time": 9, "checksum": "$sum"}, "events": $events}"""
    assert(parseEnvelope(body).events.size == 1)
    // the key can also follow the value occurrence with whitespace quirks
    val sum2 = checksumOf(None, None, None, events)
    val body2 =
      s"""{"api": {"note": "the \\"events\\" key", "checksum": "$sum2"}, "events" : $events}"""
    assert(parseEnvelope(body2).events.size == 1)
    // direct slice check: exactly the signed byte range
    assert(eventsSlice(body) == events)
    assert(eventsSlice(body2) == events)
  }

  test("large-body guard: >500KB batch rejected toward /bulk (P6)") {
    val big = "x" * (MaxBatchBodyBytes + 1)
    val body = s"""{"events": [{"collection": "c", "properties": {"s": "$big"}}]}"""
    assert(intercept[PayloadTooLarge](parseEnvelope(body))
      .message.contains("use /bulk"))
    // the bulk path takes the same body without the cap
    assert(parseEnvelope(body, enforceBodyCap = false).events.size == 1)
  }

  test("batch ingest: partial-failure indexes + exclusion (409 contract)") {
    val events = parseEnvelope(
      """{"api": {"api_key": "k", "upload_time": 9},
        | "events": [
        |   {"collection": "good", "properties": {"a": 1}},
        |   {"properties": {"missing": "collection"}},
        |   {"collection": "excluded_one", "properties": {"b": 2}},
        |   "not-an-object",
        |   {"collection": "no_properties"},
        |   {"collection": "good", "properties": {"a": 2}},
        |   {"collection": " Excluded_One ", "properties": {"b": 3}}
        | ]}""".stripMargin).events
    val (kept, failed) = checkEvents(events, Set("excluded_one"))
    // missing properties fails its index too — the reference throws
    // "properties is null" (JsonEventDeserializer.java:340)
    assert(failed == Seq(1, 3, 4))
    // excluded events are dropped, not failed, however ingest would
    // spell their name; the kept lines pass through unchanged
    assert(kept == Seq(events(0), events(5)))
  }

  test("remote bulk guards: one url only, no compression (S6)") {
    val registry = SchemaRegistry.inMemory()
    assert(intercept[IngestRejected](remoteBulk(spark, registry, "p",
      BulkEventRemote("c", Seq("file:///a", "file:///b"), CopyType.JSON)))
      .message.contains("Only one url"))
    assert(intercept[IngestRejected](remoteBulk(spark, registry, "p",
      BulkEventRemote("c", Seq("file:///a"), CopyType.JSON, Some("gzip"))))
      .message.contains("Compression"))
    intercept[IngestRejected](CopyType.of("parquet"))
  }

  test("remote bulk JSON: EventList fetched by url through the pipeline (S6)") {
    val registry = SchemaRegistry.inMemory()
    val f = java.nio.file.Files.createTempFile("graft-bulk", ".json")
    java.nio.file.Files.writeString(f,
      """{"api": {"api_key": "mk"}, "events": [
        |  {"collection": "orders", "properties": {"amount": 10.5, "_user": "u1"}},
        |  {"collection": "orders", "properties": {"amount": 2.0, "_user": "u2"}}
        |]}""".stripMargin)
    val res = remoteBulk(spark, registry, "p",
      BulkEventRemote("orders", Seq(f.toUri.toString), CopyType.JSON))
    val df = res.byCollection("orders")
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("amount", "_user"))
    res.unpersist()
  }
}
