package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{FieldType, Names, SchemaRegistry}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, LocalTime, ZoneOffset}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** JSON event ingestion with schema-on-write inference, forgiving
  * coercion and a dead-letter side output — the Spark restatement of the
  * reference's hot path
  * (rakam/src/main/java/org/rakam/collection/JsonEventDeserializer.java).
  *
  * Two logical passes over the batch, ONE Jackson parse: the raw line is
  * parsed once into a per-event [[JsonIngest.Digest]] (normalized
  * property map + inferred-type skeleton + dead-letter identity), and
  * both passes read the cached digests:
  *  1. inference — the digests' skeletons reduce to one union schema
  *     per collection (the "widest schema" the reference computes
  *     event-by-event, here batch-wide — same fixpoint);
  *  2. typed parse — digest values coerced to the registered type;
  *     values that still don't fit are routed to the `$invalid_schema`
  *     dead-letter table (JsonEventDeserializer.java:741-781), never
  *     dropped.
  *
  * The registry (driver-side metadata) is the only non-distributed
  * state; its size is bounded by 200 columns × collections, so this
  * design carries to 100 TB batches unchanged.
  *
  * One implementation, two leaves. The Jackson digest, the schema fold
  * and the typed parse are plain iterator functions. The distributed
  * leaf, `ingest(…, RDD[String])`, runs them inside `mapPartitions`.
  * The local leaf, `ingest(…, Seq[String])`, runs them once on the
  * driver and hands every collection (and the dead letters) out as a
  * `LocalRelation`; the HTTP gateway takes it for every JSON body it
  * holds, which is already a driver-side `Seq[String]`: running the same
  * functions in one Spark task would only add a job's fixed cost.
  * Catalyst then evaluates a projection over such a frame on the
  * driver, at optimization time (`ConvertToLocalRelation`), so the
  * mapper chain over a request body runs no job at all. A list fetched
  * by remote bulk takes the distributed leaf, over one partition per
  * 5,000 events.
  */
object JsonIngest {

  /** Dead-letter row (S14), schema mirrors JsonEventDeserializer.java:85-93:
    * the failed value plus the event's identity (event_id, _user, _time) so
    * dead letters can be replayed against the originating event. */
  final case class DeadLetter(collection: String, property: String,
      targetType: String, error: String, encodedValue: String,
      eventId: String, user: String, time: java.sql.Timestamp)

  val deadLetterSchema: StructType = StructType(Seq(
    StructField("collection", StringType),
    StructField("property", StringType),
    StructField("target_type", StringType),
    StructField("error", StringType),
    StructField("encoded_value", StringType),
    StructField("event_id", StringType),
    StructField("_user", StringType),
    StructField("_time", TimestampType)))

  final case class IngestResult(
      byCollection: Map[String, DataFrame],
      deadLetter: DataFrame,
      rejectedFields: Seq[(String, String, String)], // (collection, field, reason)
      private[ingest] val cached: Option[RDD[_]] = None,
      // the single-parse digest RDD (was the raw-line cache pre-r16)
      private[ingest] val cachedRaw: Option[RDD[_]] = None) {
    /** Release the batch's cached intermediates once byCollection /
      * deadLetter have been materialized; further actions recompute. */
    def unpersist(): Unit = {
      cached.foreach(_.unpersist(blocking = false))
      cachedRaw.foreach(_.unpersist(blocking = false))
    }
  }

  /** A typed frame (CSV, Avro) as the ingest result of one collection:
    * those readers coerce or fail, so there are no dead letters. */
  private[graft] def typedResult(collection: String, df: DataFrame): IngestResult =
    IngestResult(Map(collection -> df), df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](), deadLetterSchema), Nil)

  private val MaxStringLen = 100 // collection.max-string-length (ProjectConfig.java:17)

  // ---- inference (getTypeForUnknown, JsonEventDeserializer.java:116-211) ----

  private val tsFormats = Seq(
    DateTimeFormatter.ISO_LOCAL_DATE_TIME,
    DateTimeFormatter.ofPattern("yyyy-M-d H:m:s.SSS"),
    DateTimeFormatter.ofPattern("yyyy-M-d H:m:s"),
    DateTimeFormatter.ofPattern("yyyy-M-d H:m"))

  /** Every accepted date and timestamp shape starts with its year: a
    * digit, or the sign of a year outside 0000–9999. Any other string
    * is text, answered without the parse attempts, each of which fails
    * by exception (a user agent or URL paid 9 of them). */
  private def mayStartWithYear(s: String): Boolean = s.nonEmpty && {
    val c = s.charAt(0)
    (c >= '0' && c <= '9') || c == '+' || c == '-'
  }

  private[ingest] def parseDate(s: String): Option[LocalDate] =
    if (s.length == 10 && mayStartWithYear(s)) Try(LocalDate.parse(s)).toOption else None

  private[ingest] def parseTimestamp(s: String): Option[Instant] = {
    if (s.length <= 12) return None // length guard (DateTimeUtils.java:72-74)
    if (!mayStartWithYear(s)) return None
    Try(Instant.parse(s)).toOption
      .orElse(tsFormats.view.flatMap(f =>
        Try(LocalDateTime.parse(s.replace('T', ' ').replaceFirst(" ", " "), f))
          .orElse(Try(LocalDateTime.parse(s, f))).toOption)
        .headOption.map(_.toInstant(ZoneOffset.UTC)))
  }

  /** Value-level type inference; None = no type evidence (null/empty). */
  def inferType(node: JsonNode): Option[FieldType] = node match {
    case n if n == null || n.isNull => None
    case n if n.isBoolean => Some(FieldType.BOOLEAN)
    case n if n.isNumber => Some(FieldType.DOUBLE) // all JSON numbers → DOUBLE (141-143)
    case n if n.isTextual =>
      val s = n.asText()
      if (parseDate(s).isDefined) Some(FieldType.DATE)
      else if (parseTimestamp(s).isDefined) Some(FieldType.TIMESTAMP)
      else Some(FieldType.STRING)
    case n if n.isArray =>
      if (n.isEmpty) None // empty array → no field (F14)
      else {
        val elem = n.elements().asScala.flatMap(e => scalarOf(e)).toSeq.headOption
        Some(FieldType.ARRAY(elem.getOrElse(FieldType.STRING)))
      }
    case n if n.isObject =>
      if (n.isEmpty) None // empty object → no field (F14)
      else {
        val v = n.properties().asScala.flatMap(e => scalarOf(e.getValue)).toSeq.headOption
        Some(FieldType.MAP(v.getOrElse(FieldType.STRING)))
      }
    case _ => None
  }

  /** Scalar view of a nested value; objects/arrays stringify (303-305). */
  private def scalarOf(n: JsonNode): Option[FieldType.Scalar] = n match {
    case x if x == null || x.isNull => None
    case x if x.isBoolean => Some(FieldType.BOOLEAN)
    case x if x.isNumber => Some(FieldType.DOUBLE)
    case x if x.isContainerNode => Some(FieldType.STRING) // nested → JSON text (671,714)
    case x if x.isTextual => inferType(x).map(_.asInstanceOf[FieldType.Scalar])
    case _ => Some(FieldType.STRING)
  }

  // ---- coercion (forgiving casts; 512-734 + AvroUtil.java:120-200) ----

  /** Coerce a JSON value to the registered type. Right(null) means SQL
    * NULL; Left(reason) routes to the dead letter. */
  def coerce(node: JsonNode, tpe: FieldType): Either[String, Any] = {
    if (node == null || node.isNull) return Right(null)
    tpe match {
      case FieldType.STRING =>
        val s = if (node.isContainerNode) node.toString
          else node.asText()
        Right(s.substring(0, math.min(s.length, MaxStringLen))) // F2 truncate
      case FieldType.BOOLEAN => node match {
        case b if b.isBoolean => Right(b.asBoolean())
        case t if t.isTextual && (t.asText() == "true" || t.asText() == "false") =>
          Right(t.asText() == "true") // string bools coerced (530-543)
        case _ => Left(s"cannot cast to BOOLEAN")
      }
      case FieldType.INTEGER => numeric(node, _.intValue(), _.toInt)
      case FieldType.LONG => numeric(node, _.longValue(), _.toLong)
      case FieldType.DOUBLE => numeric(node, _.doubleValue(), _.toDouble)
      case FieldType.DECIMAL =>
        numeric[java.math.BigDecimal](node,
          n => n.decimalValue(), s => new java.math.BigDecimal(s))
      case FieldType.DATE => node match {
        case t if t.isTextual => parseDate(t.asText())
          .map(d => java.sql.Date.valueOf(d)).toRight("cannot parse DATE")
        case n if n.isNumber => // epoch days (DateTimeUtils.java:59-61)
          epochDate(n).toRight("epoch days out of range for DATE")
        case _ => Left("cannot cast to DATE")
      }
      case FieldType.TIMESTAMP => node match {
        case n if n.isNumber => // epoch millis (594-607)
          epochTimestamp(n).toRight("epoch millis out of range for TIMESTAMP")
        case t if t.isTextual => parseTimestamp(t.asText())
          .map(i => timestampOf(i).toRight("out of range for TIMESTAMP"))
          .getOrElse(Left("cannot parse TIMESTAMP"))
        case _ => Left("cannot cast to TIMESTAMP")
      }
      case FieldType.TIME => node match { // millis-of-day (587-593)
        case t if t.isTextual => Try(LocalTime.parse(t.asText())).toOption
          .map(lt => (lt.toNanoOfDay / 1000000L).toInt).toRight("cannot parse TIME")
        case _ => Left("cannot cast to TIME")
      }
      case FieldType.BINARY => node match {
        case t if t.isTextual =>
          Try(java.util.Base64.getDecoder.decode(t.asText()))
            .toOption.toRight("cannot base64-decode BINARY")
        case _ => Left("cannot cast to BINARY")
      }
      case FieldType.ARRAY(elem) => node match {
        case a if a.isArray =>
          if (a.isEmpty) Right(null) // F14
          else Right(a.elements().asScala.map(e =>
            coerce(e, elem).getOrElse(null)).toSeq)
        case t if t.isTextual && t.asText().startsWith("[") =>
          // stringified array re-parsed (F11, 619-639)
          Try(mapper.readTree(t.asText())).toOption match {
            case Some(arr) if arr.isArray => coerce(arr, tpe)
            case _ => Left("cannot parse stringified ARRAY")
          }
        case other => // scalar → singleton array promotion (F12, 640-646)
          coerce(other, elem).map(v => Seq(v))
      }
      case FieldType.MAP(valueT) => node match {
        case o if o.isObject =>
          if (o.isEmpty) Right(null) // F14
          else Right(o.properties().asScala.flatMap { e =>
            coerce(e.getValue, valueT).toOption.map(v => e.getKey -> v) // bad entries dropped (F13)
          }.toMap)
        case _ => Left("cannot cast to MAP")
      }
    }
  }

  /** `i` as a timestamp Spark can hold (its value is a long of
    * microseconds, so about ±292,000 years), else None: the conversion
    * a row makes on its way into a DataFrame, run here so an
    * out-of-range value dead-letters instead of failing the write. */
  private def timestampOf(i: Instant): Option[java.sql.Timestamp] =
    Try(java.sql.Timestamp.from(i)).toOption
      .filter(ts => Try(DateTimeUtils.fromJavaTimestamp(ts)).isSuccess)

  /** A JSON number of epoch millis as a timestamp Spark can hold. */
  private def epochTimestamp(n: JsonNode): Option[java.sql.Timestamp] =
    Some(n).filter(_.canConvertToLong)
      .flatMap(n => timestampOf(Instant.ofEpochMilli(n.asLong())))

  /** A JSON number of epoch days as a date Spark can hold (an int of
    * days). */
  private def epochDate(n: JsonNode): Option[java.sql.Date] =
    Some(n).filter(_.canConvertToInt)
      .map(n => java.sql.Date.valueOf(LocalDate.ofEpochDay(n.asLong())))
      .filter(d => Try(DateTimeUtils.fromJavaDate(d)).isSuccess)

  private def numeric[T](node: JsonNode, fromNum: JsonNode => T,
      fromStr: String => T): Either[String, Any] = node match {
    case n if n.isNumber => Right(fromNum(n))
    case t if t.isTextual =>
      Try(fromStr(t.asText().trim)).toOption.toRight(
        s"cannot parse number from '${t.asText().take(40)}'")
    case _ => Left("cannot cast to numeric")
  }

  @transient private lazy val mapper = new ObjectMapper()

  /** The reference's deserializer contract (JsonEventDeserializer.java):
    * `collection` must be a STRING — `{"collection": null}` or a
    * numeric node is the "collection is null/invalid" rejection, never
    * a collection literally named "null" (Jackson's NullNode.asText()
    * trap) — and `properties` must be present and an OBJECT. Lines
    * failing either produce no skeleton/row and the collect door
    * answers 400 "not stored". */
  private def textualCollection(root: JsonNode): Option[String] =
    Option(root.get("collection")).filter(_.isTextual).map(_.asText())

  private def objectProperties(root: JsonNode): Option[JsonNode] =
    Option(root.get("properties")).filter(_.isObject)

  /** Typed parse of one valid event: values coerced to the registered
    * types, per-field failures recorded as dead letters with event
    * identity (JsonEventDeserializer.java:85-93 — api.uuid plus
    * best-effort _user/_time). Operates on the single-parse [[Digest]]'s
    * normalized property map — the raw line is never re-parsed. */
  private def typedRow(fields: Seq[(String, String)], c: String,
      byNorm: Map[String, JsonNode],
      eventId: String): (String, Row, Vector[DeadLetter]) = {
    val dlUser = byNorm.get("_user").map(_.asText()).orNull
    val dlTime = byNorm.get("_time").flatMap { n =>
      if (n.isNumber) epochTimestamp(n)
      else parseTimestamp(n.asText()).flatMap(timestampOf)
    }.orNull
    val dead = Vector.newBuilder[DeadLetter]
    val values = fields.map { case (name, tName) =>
      byNorm.get(name) match {
        case None => null
        case Some(node) =>
          coerce(node, FieldType.fromName(tName)) match {
            case Right(v) => v
            case Left(err) =>
              dead += DeadLetter(c, name, tName, err,
                node.toString.take(200), eventId, dlUser, dlTime)
              null
          }
      }
    }
    (c, Row.fromSeq(values), dead.result())
  }

  // ---- the single-parse batch ingest ----

  /** One event's single-parse digest — everything BOTH downstream passes
    * need, so the raw line is Jackson-parsed exactly once (the r15
    * driver bench showed the old inference+parse double parse dominating
    * the ingest whales s1/s5). `props` None = the reference's
    * "properties is null" rejection (dead-lettered, no skeleton);
    * `skeleton` is the inference view (normalized name → type name,
    * fields with no type evidence absent); `propsRepr`/`lineSnippet`
    * feed dead-letter rows. JsonNode is Serializable, so the cached
    * digest RDD spills cleanly. */
  private[ingest] final case class Digest(
      c: String,
      props: Option[Map[String, JsonNode]],
      skeleton: Map[String, String],
      eventId: String,
      propsRepr: String,
      lineSnippet: String)

  private val NoSkeletons = Map.empty[String, Map[String, String]]

  /** Per-collection union of field→type skeletons: union on names; on a
    * type conflict inside one batch the lexicographically smaller type
    * name wins, so the result does not depend on merge order (registry
    * order decides across batches). */
  private def unionSkeletons(a: Map[String, Map[String, String]],
      b: Map[String, Map[String, String]]): Map[String, Map[String, String]] =
    b.foldLeft(a) { case (acc, (c, fb)) =>
      acc.updated(c, acc.get(c).fold(fb) { fa =>
        (fa.keySet ++ fb.keySet).map { k =>
          k -> ((fa.get(k), fb.get(k)) match {
            case (Some(x), Some(y)) => if (x <= y) x else y
            case (x, y) => x.orElse(y).get
          })
        }.toMap
      })
    }

  /** THE Jackson pass over one partition's raw lines — the only
    * traversal of them, so any upstream pipeline that produced the lines
    * (pixel decode, webhook JS, a remote fetch) also runs once. */
  private def digestLines(lines: Iterator[String]): Iterator[Digest] = {
    val m = new ObjectMapper()
    lines.flatMap { line =>
      Try(m.readTree(line)).toOption.flatMap { root =>
        textualCollection(root)
          .flatMap(c => Names.normalizeCollection(c).toOption)
          .map { c =>
            val eventId = Option(root.get("api"))
              .flatMap(a => Option(a.get("uuid"))).map(_.asText()).orNull
            objectProperties(root) match {
              case None =>
                Digest(c, None, Map.empty, eventId,
                  String.valueOf(root.get("properties")).take(200),
                  line.take(200))
              case Some(props) =>
                val byNorm = props.properties().asScala.flatMap { e =>
                  Names.normalizeField(e.getKey).toOption.map(_ -> e.getValue)
                }.toMap
                // built from props directly — NOT from byNorm — so the
                // resulting (name, typeName) map hashes identically to
                // the pre-fusion inference pass: registry field order
                // is a function of content alone, never of JsonNode
                // identity hashes (PipelineSpec pins the order)
                val skeleton: Map[String, String] =
                  props.properties().asScala.flatMap { e =>
                    Names.normalizeField(e.getKey).toOption.flatMap { name =>
                      val t =
                        if (name == "_time") Some(FieldType.TIMESTAMP)
                        else if (name == "_user") Some(userType(e.getValue))
                        else inferType(e.getValue)
                      t.map(tt => name -> tt.name)
                    }
                  }.toMap
                Digest(c, Some(byNorm), skeleton, eventId, null,
                  line.take(200))
            }
          }
      }
    }
  }

  /** One partition's schema fold: its skeletons reduce to one union
    * schema per collection. Properties-less events contribute NO
    * skeleton (a collection whose every line lacks a valid properties
    * object is never registered — it dead-letters whole, reference
    * behavior). */
  private def foldSkeletons(digests: Iterator[Digest]): Map[String, Map[String, String]] =
    digests.filter(_.props.isDefined)
      .map(d => Map(d.c -> d.skeleton)).foldLeft(NoSkeletons)(unionSkeletons)

  /** One partition's typed parse with dead-letter side output — over the
    * digests, never the raw lines: no second Jackson parse, no second
    * name-normalization sweep. */
  private def parseDigests(schemas: Map[String, Seq[(String, String)]],
      digests: Iterator[Digest]): Iterator[(String, Row, Vector[DeadLetter])] =
    digests.map { d =>
      d.props match {
        case None =>
          // the reference's "properties is null" rejection —
          // RECORDED, not silently dropped: a multi-event batch
          // must account for every lost event
          (d.c, null, Vector(DeadLetter(d.c, "(properties)", "OBJECT",
            "properties is missing or not an object",
            d.propsRepr, d.eventId, null, null)))
        case Some(_) if !schemas.contains(d.c) =>
          (d.c, null, Vector(DeadLetter(d.c, "(event)", "ROW",
            "collection has no storable fields",
            d.lineSnippet, d.eventId, null, null)))
        case Some(byNorm) =>
          typedRow(schemas(d.c), d.c, byNorm, d.eventId)
      }
    }

  private def deadLetterRow(d: DeadLetter): Row =
    Row(d.collection, d.property, d.targetType, d.error, d.encodedValue,
      d.eventId, d.user, d.time)

  /** Registry evolution for a batch's folded schemas: USER_TYPE, then
    * union-only evolution per collection. Returns the storable
    * collections' (name, type name) columns and the rejected fields. */
  private def evolve(registry: SchemaRegistry, project: String,
      skeletons: Map[String, Map[String, String]])
      : (Map[String, Seq[(String, String)]], Seq[(String, String, String)]) = {
    // USER_TYPE set-once across collections (InternalConfig.java:5-7).
    // When two collections in one FIRST batch disagree on _user's type,
    // the winner must not depend on Map iteration order: pick the
    // lexicographically smallest (collection, type) — the same rule the
    // intra-batch skeleton conflict fold uses above (r16 verdict #4).
    skeletons.toSeq
      .flatMap { case (c, fs) => fs.get("_user").map(t => (c, t)) }
      .minOption.foreach { case (_, ut) =>
        registry.setOnce(project, "USER_TYPE", ut)
      }
    val userT = registry.config(project, "USER_TYPE")

    // Registry evolution (union-only) per collection.
    val regResults = skeletons.map { case (c, fs) =>
      val fields = fs.map { case (n, t) =>
        val tpe = if (n == "_user" && userT.isDefined) FieldType.fromName(userT.get)
          else FieldType.fromName(t)
        registry.Field(n, tpe)
      }.toSeq
      c -> registry.getOrCreate(project, c, fields)
    }
    // a collection with NO fields at all (every event's properties
    // empty) has nothing storable — a zero-column frame would either
    // crash the partitioned write or count phantom "stored" rows, so
    // such collections don't materialize and their lines dead-letter
    val registered = regResults.collect {
      case (c, (schema, _)) if schema.nonEmpty =>
        c -> schema.map(f => (f.name, f.tpe.name))
    }
    val rejected = regResults.toSeq.flatMap { case (c, (_, rej)) =>
      rej.map(r => (c, r.field, r.reason))
    }
    (registered, rejected)
  }

  private def sparkSchema(fs: Seq[(String, String)]): StructType =
    StructType(fs.map { case (n, t) =>
      StructField(n, FieldType.fromName(t).spark, nullable = true)
    })

  /** The distributed leaf: the per-partition functions above run inside
    * `mapPartitions`. */
  def ingest(spark: SparkSession, registry: SchemaRegistry, project: String,
      rawJson0: RDD[String]): IngestResult = {

    // The digest RDD is the cache point both downstream passes (schema
    // reduce, typed parse) read; bounded by batch size, spills to disk,
    // released by IngestResult.unpersist().
    val digests: RDD[Digest] = rawJson0.mapPartitions(digestLines)
    digests.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Schema reduce: one single-stage job, no shuffle: each partition
    // folds its own skeletons and the driver folds the per-partition
    // results in partition order (not task completion order, as
    // RDD.aggregate would), so even the field order of a small map is a
    // function of the input alone.
    val skeletons = digests
      .mapPartitions(it => Iterator.single(foldSkeletons(it)))
      .collect().foldLeft(NoSkeletons)(unionSkeletons)
    val (registered, rejected) = evolve(registry, project, skeletons)

    val schemaB = spark.sparkContext.broadcast(registered)
    val parsed = digests.mapPartitions(it => parseDigests(schemaB.value, it))
    parsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val byCollection = registered.map { case (c, fs) =>
      c -> spark.createDataFrame(
        parsed.filter(t => t._1 == c && t._2 != null).map(_._2), sparkSchema(fs))
    }
    val dead = spark.createDataFrame(parsed.flatMap(_._3).map(deadLetterRow),
      deadLetterSchema)
    IngestResult(byCollection, dead, rejected, Some(parsed), Some(digests))
  }

  /** The local leaf: the same per-partition functions run once on the
    * driver, over the lines as one partition, and every frame is a
    * `LocalRelation`. Catalyst folds a projection over it on the driver
    * (`ConvertToLocalRelation`), so a request body's mapper chain runs
    * no Spark job. With one partition the schema fold sees the lines in
    * the order the distributed leaf does over `parallelize(lines, 1)`,
    * so the registry's column order is the same. */
  def ingest(spark: SparkSession, registry: SchemaRegistry, project: String,
      lines: Seq[String]): IngestResult = {
    val digests = digestLines(lines.iterator).toVector
    val skeletons = Iterator.single(foldSkeletons(digests.iterator))
      .foldLeft(NoSkeletons)(unionSkeletons)
    val (registered, rejected) = evolve(registry, project, skeletons)
    val parsed = parseDigests(registered, digests.iterator).toVector
    val byCollection = registered.map { case (c, fs) =>
      c -> spark.createDataFrame(
        parsed.collect { case (`c`, row, _) if row != null => row }.asJava,
        sparkSchema(fs))
    }
    val dead = spark.createDataFrame(
      parsed.flatMap(_._3).map(deadLetterRow).asJava, deadLetterSchema)
    IngestResult(byCollection, dead, rejected)
  }

  /** `_user` is STRING/LONG only (arrays/maps rejected,
    * JsonEventDeserializer.java:390-397). */
  private def userType(n: JsonNode): FieldType =
    if (n.isNumber) FieldType.LONG else FieldType.STRING
}
