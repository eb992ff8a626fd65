package graft.enrich.js

import graft.core.FieldType
import graft.enrich.EventMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The JS engine surface of the reference, rebuilt on [[JsEngine]]:
  *
  *  - [[JsCodeCompiler]] ≈ JSCodeCompiler.java:44-120 — compiles code
  *    with the sandbox bindings (`logger`, `config`, `util.crypt/base64`)
  *    and exposes Invocable-style invocation;
  *  - [[JsCustomMapper]] ≈ CustomEventMapperHttpService.java:316-361 —
  *    per-project `mapper(events, params, sourceIp, headers, sql,
  *    config)` over an events proxy, with the get/set/setOnce contract
  *    and cookie-map return;
  *  - [[JsWebhookTransform]] ≈ WebHookHttpService.java:98-190 — a
  *    `module(params, body, headers)` that turns an arbitrary HTTP body
  *    into 0..n event JSON objects.
  *
  * Executor-side compilation: the code string is the serialized form;
  * each partition compiles once (the reference caches compiled engines
  * 5 min per script — same amortization, different lifetime).
  */
object JsCodeCompiler {

  /** In-memory set-once-able config visible to scripts
    * (JSCodeCompiler.JSConfigManager shape). */
  final class JsConfig extends MiniJs.HostObject {
    val values = mutable.LinkedHashMap.empty[String, Any]
    def invoke(m: String, a: Seq[Any]): Any = m match {
      case "get" => values.get(String.valueOf(a.head)).orNull
      case "set" => values(String.valueOf(a.head)) = a(1); null
      case "setOnce" =>
        val k = String.valueOf(a.head)
        if (!values.contains(k)) values(k) = a(1)
        values(k)
      case other => throw new MiniJs.JsException(s"config.$other is not supported")
    }
  }

  /** Collecting logger (JSCodeCompiler.TestLogger shape). */
  final class JsLogger extends MiniJs.HostObject {
    val entries = mutable.ArrayBuffer.empty[(String, String)]
    def invoke(m: String, a: Seq[Any]): Any = m match {
      case "debug" | "info" | "warn" | "error" =>
        entries += m -> a.map(String.valueOf).mkString(" "); null
      case other => throw new MiniJs.JsException(s"logger.$other is not supported")
    }
  }

  /** `util.crypt` / `util.base64` (JSCodeCompiler.java:52-55, JSUtil). */
  private object Crypt extends MiniJs.HostObject {
    private def hex(alg: String, s: String): String =
      java.security.MessageDigest.getInstance(alg)
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def invoke(m: String, a: Seq[Any]): Any = m match {
      case "sha256Hex" | "sha256" => hex("SHA-256", String.valueOf(a.head))
      case "md5Hex" | "md5" => hex("MD5", String.valueOf(a.head))
      case other => throw new MiniJs.JsException(s"util.crypt.$other is not supported")
    }
  }
  private object B64 extends MiniJs.HostObject {
    def invoke(m: String, a: Seq[Any]): Any = m match {
      case "encode" => java.util.Base64.getEncoder
        .encodeToString(String.valueOf(a.head).getBytes("UTF-8"))
      case "decode" => new String(java.util.Base64.getDecoder
        .decode(String.valueOf(a.head)), "UTF-8")
      case other => throw new MiniJs.JsException(s"util.base64.$other is not supported")
    }
  }
  /** Compile code with the standard sandbox bindings. `util` is a plain
    * object holding the crypt/base64 hosts (the reference's immutable
    * JS_UTIL map, JSCodeCompiler.java:52-55), so scripts write
    * `util.crypt.sha256(x)` exactly as against the reference. */
  def createEngine(code: String,
      extraGlobals: Map[String, Any] = Map.empty,
      logger: JsLogger = new JsLogger,
      config: JsConfig = new JsConfig,
      maxSteps: Long = 5_000_000L,
      now: () => Long = () => System.currentTimeMillis()): JsEngine = {
    val util = mutable.LinkedHashMap[String, Any]("crypt" -> Crypt, "base64" -> B64)
    new JsEngine(code,
      Map[String, Any](
        "logger" -> logger,
        "config" -> config,
        "util" -> util) ++ extraGlobals,
      maxSteps, now)
  }
}

/** One row's fields under the reference's `EventProxy` contract
  * (CustomEventMapperHttpService.java:363-384): `get`/`set`, `setOnce`
  * writes only a field that is absent or null, `drop` removes the event
  * from the batch. */
private[js] final class EventProxy(initial: Map[String, Any]) {
  private val fields = mutable.Map(initial.toSeq: _*)
  var dropped = false

  def get(name: String): Any = fields.get(name).orNull
  def set(name: String, value: Any): Unit = fields(name) = value
  def setOnce(name: String, value: Any): Unit =
    if (get(name) == null) fields(name) = value
  def drop(): Unit = dropped = true
}

/** Wraps the row-level [[EventProxy]] as a script host object. */
private[js] final class JsEventProxy(p: EventProxy, name: String)
    extends MiniJs.HostObject {
  def invoke(m: String, a: Seq[Any]): Any = m match {
    case "collection" => name
    case "get" => p.get(String.valueOf(a.head)) match {
      case i: Int => i.toLong
      case v => v
    }
    case "set" => p.set(String.valueOf(a.head), a(1)); null
    case "setOnce" => p.setOnce(String.valueOf(a.head), a(1)); null
    case "drop" => p.drop(); null
    case other => throw new MiniJs.JsException(s"event.$other is not supported")
  }
}

object JsCustomMapper {
  /** Rows materialized per script invocation — the reference's
    * per-request EventList batch, and the executor-memory bound. */
  val ChunkRows = 1024

  /** Logger entries shipped per partition at most — bounds the
    * accumulator against a script logging per row. */
  val MaxLogsPerPartition = 1000

  /** Align a script-produced value to the column's DECLARED Spark type.
    * In the sandbox every integer literal is a Long and float math a
    * Double, so `ev.set('x', 100)` into a DOUBLE column (or `0.5 * n`
    * into a LONG column) would otherwise put the wrong runtime class
    * into the Row and kill the job inside createDataFrame's Catalyst
    * converter. Values that cannot be coerced degrade to null — the
    * reference dead-letters cast failures rather than failing the batch
    * (JsonEventDeserializer.java:741-781). Untouched pass-through values
    * already carry the declared type and hit the identity cases. */
  private[js] def normalize(v: Any, t: DataType): Any = v match {
    case null | MiniJs.Undefined => null
    case m: mutable.LinkedHashMap[String @unchecked, Any @unchecked] => t match {
      case MapType(_, vt, _) =>
        m.map { case (k, x) => k -> normalize(x, vt) }.toMap
      case StringType => JsJson.stringify(m)
      case _ => null
    }
    case mm: scala.collection.Map[_, _] => t match {
      case MapType(_, vt, _) =>
        mm.map { case (k, x) => String.valueOf(k) -> normalize(x, vt) }.toMap
      case StringType => JsJson.stringify(
        mutable.LinkedHashMap(mm.toSeq.map { case (k, x) => String.valueOf(k) -> x }: _*))
      case _ => null
    }
    case a: mutable.ArrayBuffer[Any @unchecked] => t match {
      case ArrayType(et, _) => a.map(normalize(_, et)).toSeq
      case StringType => JsJson.stringify(a)
      case _ => null
    }
    case sq: scala.collection.Seq[_] => t match {
      case ArrayType(et, _) => sq.map(normalize(_, et)).toSeq
      case _ => null
    }
    case other => t match {
      case StringType => other match {
        case s: String => s
        case d: Double =>
          // JS number formatting: whole doubles print without the ".0"
          if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString
        case x => String.valueOf(x)
      }
      case DoubleType => other match {
        case d: Double => d
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case f: Float => f.toDouble
        case s: String => s.trim.toDoubleOption.map(Double.box).orNull
        case _ => null
      }
      case FloatType => other match {
        case f: Float => f
        case d: Double => d.toFloat
        case l: Long => l.toFloat
        case i: Int => i.toFloat
        case s: String => s.trim.toFloatOption.map(Float.box).orNull
        case _ => null
      }
      case LongType => other match {
        case l: Long => l
        case i: Int => i.toLong
        case d: Double =>
          // range-check like IntegerType below: toLong SATURATES for
          // whole doubles ≥ 2^63 (isWhole is true for 1e19), which would
          // silently store Long.MaxValue — corruption, not coercion
          if (d.isWhole && d >= Long.MinValue.toDouble && d < Long.MaxValue.toDouble)
            d.toLong
          else null
        case s: String => s.trim.toLongOption.map(Long.box).orNull
        case _ => null
      }
      case IntegerType => other match {
        case i: Int => i
        case l: Long => if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else null
        case d: Double =>
          if (d.isWhole && d >= Int.MinValue && d <= Int.MaxValue) d.toInt else null
        case s: String => s.trim.toIntOption.map(Int.box).orNull
        case _ => null
      }
      case BooleanType => other match {
        case b: java.lang.Boolean => b
        case s: String if s == "true" || s == "false" => s == "true"
        case _ => null
      }
      case TimestampType => other match {
        case ts: java.sql.Timestamp => ts
        case i: java.time.Instant => i
        case l: Long => new java.sql.Timestamp(l) // epoch millis, §1.2
        case d: Double =>
          // float math on epoch millis (ms/1000*1000) yields a whole
          // Double — same value contract as the Long case above
          if (d.isWhole && d >= Long.MinValue.toDouble && d < Long.MaxValue.toDouble)
            new java.sql.Timestamp(d.toLong)
          else null
        case _ => null
      }
      case DateType => other match {
        case d: java.sql.Date => d
        case d: java.time.LocalDate => d
        case _ => null
      }
      case _: DecimalType => other match {
        case bd: java.math.BigDecimal => bd
        case bd: BigDecimal => bd
        case l: Long => java.math.BigDecimal.valueOf(l)
        case d: Double => java.math.BigDecimal.valueOf(d)
        case _ => null
      }
      case BinaryType => other match {
        case b: Array[Byte] => b
        case _ => null
      }
      // scalar sent to an array field promotes to a singleton (the
      // ingest F12 rule, JsonEventDeserializer.java:640-646); a scalar
      // cannot become a map
      case ArrayType(et, _) => Seq(normalize(other, et))
      case _: MapType => null
      case _ => other
    }
  }
}

/** M7 with a JS body: `mapper(events, params, sourceIp, headers, sql,
  * config)` invoked once per [[JsCustomMapper.ChunkRows]]-row chunk
  * over an events iterator — the reference's batch shape (one `mapper`
  * call per EventList, CustomEventMapperHttpService.java:316-330).
  * Produced fields are declared up front (`addFieldDependency` rule).
  * Events the script drops are removed; rows the script never pulls
  * pass through unchanged. */
final case class JsCustomMapper(
    override val name: String,
    collection: String,
    produced: Seq[(String, FieldType)],
    params: Map[String, String],
    code: String,
    // one invoke handles a whole partition, so the budget scales with
    // batch size; still finite — a stuck loop cannot wedge an executor
    maxSteps: Long = 2_000_000_000L,
    // optional side channel for script `logger.*` output: entries ride
    // a CollectionAccumulator from the executors to the driver, which
    // persists them for `/javascript-logger/get_logs` (the reference's
    // JSCodeJDBCLoggerService.java:53-88 writes a JDBC row per entry).
    // Accumulator semantics make delivery best-effort telemetry — a
    // retried task may double-report, exactly like the reference's
    // per-row inserts on a retried request — and a per-partition cap
    // bounds driver memory against a logger.info-in-a-loop script
    logAcc: Option[org.apache.spark.util.CollectionAccumulator[(String, String)]] = None)
  extends EventMapper {

  override def constantFields: Seq[(String, FieldType)] = produced

  // fail fast on syntax errors at registration time (the reference
  // compiles at CRUD time too)
  MiniJs.parse(code)

  def apply(df: DataFrame): DataFrame = {
    val inNames = df.columns.toSeq
    val outSchema = StructType(df.schema.fields ++
      produced.filterNot(p => inNames.contains(p._1))
        .map(p => StructField(p._1, p._2.spark, nullable = true)))
    val outNames = outSchema.fieldNames.toSeq
    val outTypes = outSchema.fields.map(_.dataType).toSeq
    val codeStr = code
    val coll = collection
    val paramMap = params
    val stepBudget = maxSteps
    val chunkRows = JsCustomMapper.ChunkRows
    val acc = logAcc.orNull
    val rows = df.rdd.mapPartitions { it =>
      val jsLogger = new JsCodeCompiler.JsLogger
      val engine = JsCodeCompiler.createEngine(codeStr, logger = jsLogger,
        maxSteps = stepBudget)
      var logged = 0
      // The script is invoked once per CHUNK, not per partition — the
      // reference invokes it per request batch, and a whole production
      // partition materialized as proxies would OOM the executor. Only
      // chunkRows proxies are live at a time; the engine (compiled
      // script) is reused across chunks.
      it.grouped(chunkRows).flatMap { chunk =>
        val proxies = chunk.map { row =>
          new EventProxy(
            inNames.zipWithIndex.map { case (n, i) => n -> row.get(i) }.toMap)
        }
        val rowIt = proxies.iterator
        val eventsProxy = new MiniJs.HostObject {
          def invoke(m: String, a: Seq[Any]): Any = m match {
            case "project" => "default"
            case "events" => new MiniJs.HostObject {
              def invoke(m2: String, a2: Seq[Any]): Any = m2 match {
                case "hasNext" => rowIt.hasNext
                case "next" => new JsEventProxy(rowIt.next(), coll)
                case other => throw new MiniJs.JsException(s"iterator.$other?")
              }
            }
            case other => throw new MiniJs.JsException(s"events.$other is not supported")
          }
        }
        engine.invoke("mapper", eventsProxy, paramMap, "127.0.0.1",
          Map.empty[String, Any], null, null)
        if (acc != null && jsLogger.entries.nonEmpty) {
          jsLogger.entries.foreach { e =>
            if (logged < JsCustomMapper.MaxLogsPerPartition) {
              acc.add(e); logged += 1
            }
          }
          jsLogger.entries.clear()
        }
        // chunk order is row order, so visited-then-rest equals in-order
        proxies.iterator.filterNot(_.dropped)
          .map(p => Row.fromSeq(outNames.zip(outTypes)
            .map { case (n, t) => JsCustomMapper.normalize(p.get(n), t) }))
      }
    }
    df.sparkSession.createDataFrame(rows, outSchema)
  }

}

/** S7 with a JS body: each webhook HTTP body → `module(params, body,
  * headers)` → 0..n JSON event lines for [[graft.ingest.JsonIngest]].
  * The module may return one object or an array of objects
  * (WebHookHttpService.java:156-272). */
final case class JsWebhookTransform(code: String,
    params: Map[String, String] = Map.empty) {

  MiniJs.parse(code)

  def apply(bodies: org.apache.spark.rdd.RDD[String]): org.apache.spark.rdd.RDD[String] = {
    val codeStr = code
    val paramMap = params
    bodies.mapPartitions { it =>
      val engine = JsCodeCompiler.createEngine(codeStr)
      it.flatMap { body =>
        JsWebhookTransform.invokeModule(engine, paramMap, body,
          Map.empty[String, Any])
      }
    }
  }

  /** Driver-side single-body invocation — the HTTP gateway's
    * per-request path. The reference also compiles per request (its
    * cache key carries a per-request UUID, WebHookHttpService.java:180)
    * and evaluates on a JS executor pool (:189). Query params overlay
    * the hook's stored parameters as the module's first argument;
    * request headers are the third. Same contract as [[apply]]:
    * 0..n event JSON lines. */
  def transformOne(body: String,
      queryParams: Map[String, String] = Map.empty,
      headers: Map[String, String] = Map.empty): Seq[String] =
    JsWebhookTransform.invokeModule(
      JsCodeCompiler.createEngine(code), params ++ queryParams, body,
      headers)
}

object JsWebhookTransform {
  /** `module(params, body, headers)` → 0..n stringified event objects;
    * a JSON body arrives parsed, anything else as the raw string
    * (WebHookHttpService.java:156-272; the module may return one object
    * or an array). */
  private[js] def invokeModule(engine: JsEngine, params: Map[String, Any],
      body: String, headers: Map[String, Any]): Seq[String] = {
    val parsed = try JsJson.parse(body) catch { case _: Throwable => body }
    engine.invoke("module", params, parsed, headers) match {
      case null | MiniJs.Undefined => Nil
      case a: mutable.ArrayBuffer[Any @unchecked] =>
        a.toSeq.map(JsJson.stringify)
      case one => Seq(JsJson.stringify(one))
    }
  }
}
