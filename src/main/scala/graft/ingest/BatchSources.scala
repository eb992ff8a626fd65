package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{Names, SchemaRegistry}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import scala.util.Try

/** The remaining ingestion surfaces from SURVEY.md §2.1:
  *
  *  - S5 pixel source — GET query params → event
  *    (EventCollectionHttpService.java:278-348);
  *  - S2 batch envelope — `{api, events:[...]}` with MD5 checksum
  *    *validation* and the 500 KB body guard (P6)
  *    (EventListDeserializer.java:42-190,
  *    EventCollectionHttpService.java:564-566);
  *  - S6 remote bulk — URL-addressed JSON/CSV/Avro routed through the
  *    S2/S3/S4 readers (EventCollectionHttpService.java:464-545);
  *  - the 409 partial-failure-indexes contract
  *    (EventCollectionHttpService.java:602-609) — per-event failures
  *    reported by index, not silently dropped.
  */
object BatchSources {

  private val mapper = new ObjectMapper()

  final class IngestRejected(val message: String) extends RuntimeException(message)
  /** The body-cap rejection — its own type so the HTTP layer can answer
    * 413 REQUEST_ENTITY_TOO_LARGE, the reference's status
    * (EventCollectionHttpService.java:563-565). */
  final class PayloadTooLarge(val message: String) extends RuntimeException(message)

  // ---------------- S5: pixel ----------------

  /** One pixel hit's query string → the event JSON the reference builds:
    * `prop.x` params become properties (numeric `_time` kept numeric),
    * `api.api_key` the context, `collection` the collection; everything
    * else is ignored. Returns None when no collection param is present. */
  def pixelToEventJson(query: String): Option[String] = {
    // a malformed percent-escape (bots emit them routinely) must drop
    // THIS hit, not fail the executor task and poison the whole batch
    val decoded = Try {
      query.stripPrefix("?").split('&').iterator
        .filter(_.nonEmpty)
        .map { kv =>
          val i = kv.indexOf('=')
          val k = if (i < 0) kv else kv.substring(0, i)
          val v = if (i < 0) "" else kv.substring(i + 1)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toSeq
    }
    if (decoded.isFailure) return None
    val params = decoded.get
    val root = mapper.createObjectNode()
    val props = root.putObject("properties")
    val api = root.putObject("api")
    var hasCollection = false
    params.foreach { case (k, v) =>
      if (k.startsWith("prop.")) {
        val attr = k.substring(5)
        // `_time` is tryParse'd as epoch millis (the reference's Longs.tryParse)
        if (attr == "_time" && Try(v.toLong).isSuccess) props.put(attr, v.toLong)
        else props.put(attr, v)
      } else if (k == "api.api_key") api.put("api_key", v)
      else if (k == "collection") { root.put("collection", v); hasCollection = true }
    }
    if (hasCollection) Some(mapper.writeValueAsString(root)) else None
  }

  /** Distributed pixel ingest: an RDD of raw query strings (one per GET)
    * through the standard JSON pipeline. */
  def pixelIngest(spark: SparkSession, registry: SchemaRegistry,
      project: String, queries: RDD[String]): JsonIngest.IngestResult =
    JsonIngest.ingest(spark, registry, project,
      queries.flatMap(q => pixelToEventJson(q)))

  // ---------------- S2: batch envelope ----------------

  /** /event/batch body cap; larger bodies must use /bulk (P6). */
  val MaxBatchBodyBytes = 500000

  final case class Envelope(
      apiKey: Option[String],
      apiVersion: Option[String],
      uploadTime: Option[Long],
      checksum: Option[String],
      /** Serialized event objects, in arrival order. */
      events: Vector[String])

  /** Parse + validate the `{api, events:[...]}` envelope:
    * properties in either order, exactly one of each, `events` an array
    * of objects, checksum validated when present (md5 over apiKey +
    * apiVersion + uploadTime + the events-array byte slice — the
    * contract of EventListDeserializer.validateChecksum). Throws
    * [[IngestRejected]] with the reference's messages on violation. */
  def parseEnvelope(body: String, enforceBodyCap: Boolean = true): Envelope = {
    val bytes = body.getBytes("UTF-8")
    if (enforceBodyCap && bytes.length > MaxBatchBodyBytes)
      throw new PayloadTooLarge("The body is too big, use /bulk endpoint.")
    val root = Try(mapper.readTree(body)).getOrElse(
      throw new IngestRejected("Body must be an object"))
    if (root == null || !root.isObject)
      throw new IngestRejected("Body must be an object")
    val names = root.fieldNames().asScala.toSeq
    names.foreach { n =>
      if (n != "api" && n != "events")
        throw new IngestRejected(s"Invalid property '$n'")
    }
    if (names.count(_ == "api") > 1)
      throw new IngestRejected("multiple 'api' property")
    if (!names.contains("events"))
      throw new IngestRejected("events field must be array")
    val eventsNode = root.get("events")
    if (!eventsNode.isArray)
      throw new IngestRejected("events field must be array")
    val api = Option(root.get("api"))
    val env = Envelope(
      apiKey = api.flatMap(a => Option(a.get("api_key")).map(_.asText())),
      apiVersion = api.flatMap(a => Option(a.get("api_version")).map(_.asText())),
      uploadTime = api.flatMap(a => Option(a.get("upload_time")).map(_.asLong())),
      checksum = api.flatMap(a => Option(a.get("checksum")).map(_.asText())),
      events = eventsNode.elements().asScala.map(mapper.writeValueAsString).toVector)
    env.checksum.foreach { expected =>
      val actual = checksumOf(env.apiKey, env.apiVersion, env.uploadTime,
        eventsSlice(body))
      if (!actual.equalsIgnoreCase(expected))
        throw new IngestRejected("Checksum is invalid")
    }
    env
  }

  /** The raw `[...]` slice of the events array, as the client signed it
    * (the reference hashes the byte range of the events tokens).
    *
    * The `"events"` key must be found at TOP level of the envelope object
    * — a raw indexOf would match a string VALUE inside the api object
    * (e.g. `{"api":{"api_key":"events",...},...}`) and slice the wrong
    * bytes, rejecting a correctly signed batch. So this scans the body
    * tracking object depth and in-string state, and only accepts the
    * token when it is a depth-1 key (followed by `:`). */
  private[ingest] def eventsSlice(body: String): String = {
    val n = body.length
    var i = 0; var depth = 0
    var keyEnd = -1 // index just past the ':' of the depth-1 "events" key
    // scan the WHOLE body (no early exit): a duplicate top-level key must
    // be rejected, because Jackson keeps the LAST duplicate while a
    // first-match slice would validate bytes that are not what gets
    // ingested — a checksum-valid batch smuggling unverified content
    while (i < n) {
      val c = body.charAt(i)
      c match {
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' => depth -= 1; i += 1
        case '"' =>
          // consume the whole string token
          val strStart = i
          i += 1
          var esc = false
          while (i < n && (esc || body.charAt(i) != '"')) {
            esc = !esc && body.charAt(i) == '\\'
            i += 1
          }
          val strEnd = i // at closing quote (or n)
          i += 1
          if (depth == 1 && body.substring(strStart, math.min(strEnd + 1, n)) == "\"events\"") {
            // a KEY is followed (modulo whitespace) by ':'
            var j = i
            while (j < n && body.charAt(j).isWhitespace) j += 1
            if (j < n && body.charAt(j) == ':') {
              if (keyEnd >= 0)
                throw new IngestRejected("multiple 'events' property")
              keyEnd = j + 1
            }
          }
        case _ => i += 1
      }
    }
    // No literal top-level key found (e.g. a \u-escaped key name, which
    // Jackson decodes but a byte-range signature cannot reproduce) → an
    // empty slice, so a present checksum fails CLEANLY instead of
    // hashing an arbitrary '[' elsewhere in the body or crashing.
    if (keyEnd < 0) return ""
    val start = body.indexOf('[', keyEnd)
    if (start < 0) return ""
    // matching bracket scan, string-aware
    var d2 = 0; var k = start; var inStr = false; var esc = false
    while (k < n) {
      val c = body.charAt(k)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' => d2 += 1
        case ']' =>
          d2 -= 1
          if (d2 == 0) return body.substring(start, k + 1)
        case _ => ()
      }
      k += 1
    }
    body.substring(start)
  }

  /** md5(apiKey ∥ apiVersion ∥ uploadTime ∥ eventsSlice) — hex. */
  def checksumOf(apiKey: Option[String], apiVersion: Option[String],
      uploadTime: Option[Long], eventsSlice: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    apiKey.foreach(k => md.update(k.getBytes("UTF-8")))
    apiVersion.foreach(v => md.update(v.getBytes("UTF-8")))
    uploadTime.foreach(t => md.update(String.valueOf(t).getBytes("UTF-8")))
    md.update(eventsSlice.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The `/event/batch` per-event check, the 409 partial-failure
    * contract. An event fails its index unless it is an object with a
    * string `collection` and an object `properties`, the shape
    * JsonEventDeserializer accepts; an absent `properties` fails too,
    * as the reference throws "properties is null"
    * (JsonEventDeserializer.java:315,340). An event of an excluded
    * collection is dropped, not failed (P2 at the batch door); both
    * names are compared as ingest stores them
    * ([[Names.normalizeCollection]]). Returns the events to ingest, in
    * order, and the failed indexes. */
  def checkEvents(events: Seq[String], excludedCollections: Set[String])
      : (Seq[String], Seq[Int]) = {
    val excluded = excludedCollections.flatMap(Names.normalizeCollection(_).toOption)
    val kept = Vector.newBuilder[String]
    val failed = Vector.newBuilder[Int]
    events.zipWithIndex.foreach { case (e, i) =>
      val node = mapper.readTree(e)
      val collection = Option(node.get("collection")).filter(_.isTextual)
      if (!node.isObject || collection.isEmpty ||
          !Option(node.get("properties")).exists(_.isObject)) failed += i
      else if (!Names.normalizeCollection(collection.get.asText()).exists(excluded))
        kept += e
    }
    (kept.result(), failed.result())
  }

  // ---------------- S6: remote bulk ----------------

  sealed trait CopyType
  object CopyType {
    case object JSON extends CopyType
    case object CSV extends CopyType
    case object AVRO extends CopyType
    def of(s: String): CopyType = s.toUpperCase match {
      case "JSON" => JSON
      case "CSV" => CSV
      case "AVRO" => AVRO
      case other => throw new IngestRejected("Unsupported or missing type.")
    }
  }

  final case class BulkEventRemote(collection: String, urls: Seq[String],
      tpe: CopyType, compression: Option[String] = None)

  /** /event/bulk/remote: fetch one URL and route by type to the S2
    * (JSON EventList), S3 (CSV) or S4 (Avro) reader. The reference's
    * guards are kept verbatim: exactly one URL, no compression. The
    * bulk path has NO body cap (that's the point of /bulk) and skips
    * the checksum (the transport layer owns integrity for bulk).
    *
    * The guards, and for JSON the fetch and the envelope parse, run
    * here; the returned function runs the ingest, so a caller can
    * fetch before it takes a lock. Its result holds every collection
    * of a JSON list with the list's dead letters, or `req.collection`'s
    * CSV/Avro frame with none. The caller stores it, then calls
    * `unpersist`: the JSON leaf caches its intermediates. */
  def remoteBulk(spark: SparkSession, registry: SchemaRegistry,
      project: String, req: BulkEventRemote): () => JsonIngest.IngestResult = {
    if (req.urls.size != 1)
      throw new IngestRejected("Only one url is supported")
    if (req.compression.isDefined)
      throw new IngestRejected("Compression is not supported yet")
    val url = req.urls.head
    req.tpe match {
      case CopyType.CSV => () => JsonIngest.typedResult(req.collection,
        CsvIngest.ingest(spark, registry, project, req.collection, url))
      case CopyType.AVRO => () => JsonIngest.typedResult(req.collection,
        AvroIngest.ingest(spark, registry, project, req.collection, url))
      case CopyType.JSON =>
        // EventList shape fetched whole (the reference reads the URL into
        // one EventList); events run the standard distributed pipeline
        val events = parseEnvelope(readUrl(url), enforceBodyCap = false).events
        () => JsonIngest.ingest(spark, registry, project,
          spark.sparkContext.parallelize(events, events.size / 5000 + 1))
    }
  }

  private def readUrl(url: String): String = {
    val conn = java.net.URI.create(url).toURL.openConnection()
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val in = conn.getInputStream
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
