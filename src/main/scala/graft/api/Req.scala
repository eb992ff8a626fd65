package graft.api

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import com.sun.net.httpserver.HttpExchange

import graft.ingest.BatchSources.IngestRejected

/** One gateway request, read once. The body's bytes are buffered on
  * first use and shared by the key check and the door; they parse as
  * JSON only when someone asks for [[body]] fields, so the raw-body
  * doors (`/event/collect`, `/event/batch`, `/event/bulk`) pay no
  * extra parse. Doors read every input through [[Fields]]. */
private[api] final class Req(val ex: HttpExchange, mapper: ObjectMapper) {

  def isPost: Boolean = ex.getRequestMethod == "POST"

  lazy val bytes: Array[Byte] = ex.getRequestBody.readAllBytes()

  lazy val text: String = new String(bytes, UTF_8)

  private lazy val tree: Either[JacksonException, JsonNode] =
    try Right(mapper.readTree(text))
    catch { case e: JacksonException => Left(e) }

  /** The body's JSON fields. Malformed client input is the client's 400
    * (the reference's RakamHttpRequestHandler contract), never a raw
    * Jackson 500. */
  def body: Fields = tree.fold(
    e => throw new IngestRejected(s"invalid JSON: ${e.getOriginalMessage}"),
    new Fields(_))

  /** The fields of a POST body that parses, else none: the key check
    * and the lock-key doors read a body without failing on it. */
  def bodyIfValid: Fields =
    new Fields(if (isPost) tree.toOption.orNull else null)

  lazy val params: Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split('&')
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  /** The query string, read with the body's accessors (every value is
    * a JSON string). */
  lazy val query: Fields = {
    val o = JsonNodeFactory.instance.objectNode()
    params.foreach { case (k, v) => o.put(k, v) }
    new Fields(o)
  }
}

/** Typed reads over one JSON object: a request body, an object nested
  * in it, or the query string. Every failed read is the client's 400
  * with the field's message. A JSON `null` reads as absent everywhere,
  * and an integer field never reads a non-integer as a number. */
private[api] final class Fields(val node: JsonNode) {
  import Fields.reject

  def get(name: String): Option[JsonNode] =
    Option(node).flatMap(n => Option(n.get(name))).filterNot(_.isNull)

  /** A JSON string; any other type reads as absent (`"name": 123` names
    * nothing). */
  def text(name: String): Option[String] =
    get(name).filter(_.isTextual).map(_.asText())

  /** Any value as its text, for the fields that take numbers as well as
    * strings (the increment's `"value": 3`). */
  def scalar(name: String): Option[String] = get(name).map(_.asText())

  def need(name: String): String = text(name).getOrElse(Fields.missing(name))

  def needScalar(name: String, nonEmpty: Boolean = false): String =
    scalar(name).filter(s => !nonEmpty || s.nonEmpty)
      .getOrElse(Fields.missing(name))

  /** A required name, restricted to the characters a path segment may
    * safely carry. */
  def ident(name: String): String = Fields.identifier(need(name))

  def bool(name: String, default: Boolean): Boolean =
    get(name).fold(default)(_.asBoolean(default))

  /** An integer: a JSON integer or a string of one; anything else is a
    * 400, as is a value below `min`. */
  def long(name: String, min: Long = Long.MinValue): Option[Long] =
    get(name).map { v =>
      val n = Fields.integral(v).getOrElse(reject(
        s"$name must be an integer, got '${if (v.isValueNode) v.asText() else v}'"))
      if (n < min) reject(s"$name must be >= $min")
      n
    }

  def int(name: String, min: Int = Int.MinValue): Option[Int] =
    long(name, min).map { n =>
      if (!n.isValidInt) reject(s"$name must be an integer, got '$n'")
      n.toInt
    }

  /** A row count (`limit`, `k`) in `[lo, hi]`, `default` when absent.
    * `clamp` caps a value above `hi` instead of refusing it. */
  def count(name: String, default: Int, lo: Int, hi: Int,
      clamp: Boolean = false): Int =
    int(name).fold(default) { n =>
      if (clamp) {
        if (n < lo) reject(s"$name must be >= $lo, got $n")
        math.min(n, hi)
      } else {
        if (n < lo || n > hi) reject(s"$name must be between $lo and $hi")
        n
      }
    }

  /** The commit-log `version` pin of a read. */
  def version: Option[Long] = long("version")

  /** Epoch millis, or an ISO-8601 instant. */
  def instant(name: String): Option[Long] = get(name).map { v =>
    if (v.isNumber) v.asLong()
    else try java.time.Instant.parse(v.asText()).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      reject(s"$name must be epoch millis or ISO-8601")
    }
  }

  def obj(name: String): Option[Fields] =
    get(name).filter(_.isObject).map(new Fields(_))

  /** This node's elements, when it is an array. */
  def elements: Option[Seq[Fields]] =
    Option(node).filter(_.isArray).map(_.elements().asScala.map(new Fields(_)).toSeq)

  def array(name: String): Option[Seq[Fields]] =
    get(name).flatMap(new Fields(_).elements)

  def strings(name: String): Option[Seq[String]] =
    array(name).map(_.map(_.node).filterNot(_.isNull).map(_.asText()))

  def floats(name: String): Option[Seq[Float]] =
    array(name).map(_.map(_.node.floatValue()))

  /** A JSON object's scalar values as text (`parameters`, `produced`,
    * `properties`), in the body's order. */
  def stringMap(name: String): Option[Map[String, String]] =
    obj(name).map(o => ListMap.from(o.node.properties().asScala
      .collect { case e if !e.getValue.isNull => e.getKey -> e.getValue.asText() }))
}

private[api] object Fields {
  def reject(message: String): Nothing = throw new IngestRejected(message)

  def missing(what: String): Nothing = reject(s"$what is required")

  /** A JSON integer, or a string that spells one. */
  def integral(v: JsonNode): Option[Long] =
    if (v.isIntegralNumber && v.canConvertToLong) Some(v.longValue())
    else if (v.isTextual) v.asText().toLongOption
    else None

  def identifier(id: String): String = {
    if (!id.matches("[A-Za-z0-9_-]+")) reject("identifier must be alphanumeric")
    id
  }
}
