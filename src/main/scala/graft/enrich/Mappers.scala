package graft.enrich

import graft.core.FieldType
import graft.functions.{FirstMatch, ReferenceLiteral, RuleCapture}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment mapper pipeline (SURVEY.md §2.7) — the reference's
  * per-event dataflow (rakam-spi/.../EventMapper.java) restated as
  * `DataFrame => DataFrame` stages. Each mapper declares the fields it
  * produces (constant) and the trigger→produced dependency (dependent),
  * mirroring FieldDependencyBuilder.java:12-53, so the registry can
  * admit module fields.
  *
  * All transforms are column expressions (codegen'd, no UDF
  * boundary); the UA/referrer rule tables are
  * [[graft.functions.FirstMatch]] kernels, also whole-stage-codegen
  * eligible.
  */
trait EventMapper {
  def name: String
  /** Fields always added. */
  def constantFields: Seq[(String, FieldType)] = Seq.empty
  /** trigger field → fields added when trigger is present. */
  def dependentFields: Map[String, Seq[(String, FieldType)]] = Map.empty
  def apply(df: DataFrame): DataFrame
}

object Mappers {
  /** The reference's private-range regex, verbatim
    * (MaxmindGeoIPEventMapper.java:52). */
  val PrivateIpRegex: String =
    "(^127\\.0\\.0\\.1)|(^10\\.)|(^172\\.1[6-9]\\.)|(^172\\.2[0-9]\\.)|(^172\\.3[0-1]\\.)|(^192\\.168\\.)"

  /** `df` with each of `outputs` replacing the column of that name in
    * place, or appended in order, and the `dropped` columns removed: the
    * columns chained `withColumn` calls and a `drop` would give, as ONE
    * projection that is analyzed once. */
  def project(df: DataFrame, outputs: Seq[(String, Column)],
      dropped: Seq[String] = Nil): DataFrame = {
    val byName = outputs.toMap
    val kept = df.columns.toSeq.filterNot(dropped.contains).map { c =>
      byName.get(c).fold(col(quoted(c)))(_.as(c))
    }
    val added = outputs.collect { case (n, e) if !df.columns.contains(n) => e.as(n) }
    df.select(kept ++ added: _*)
  }

  /** A column reference to the field `name` as written, dots included. */
  def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** `values(i)` for a rule index `i` from [[FirstMatch]], `miss` for
    * its no-match value -1: one constant array lookup. */
  def decode(index: Column, values: Seq[String], miss: String): Column =
    element_at(ReferenceLiteral.strings(miss +: values), index + 2)
}

object MapperPipeline {
  /** Ordered mapper chain (EventCollectionHttpService.java:123-151). */
  def run(df: DataFrame, mappers: Seq[EventMapper]): DataFrame =
    mappers.foldLeft(df)((d, m) => m.apply(d))
}

/** M1: `_time` fix-up (TimestampEventMapper.java:44-58): missing _time
  * → server now; client _time with upload_time → skew-corrected
  * `client + (now − upload)`. `now` is injected for determinism
  * (second precision ×1000, as the reference truncates).
  *
  * A per-request constant reaches generated code as a reference, never
  * as source text: both `now` values are
  * [[graft.functions.ReferenceLiteral]]s, not `lit`s, so the collect
  * projection compiles once per JVM instead of once per clock second. */
final case class TimestampMapper(nowMillis: Long) extends EventMapper {
  val name = "timestamp"
  override def constantFields = Seq("_time" -> FieldType.TIMESTAMP)
  def apply(df: DataFrame): DataFrame = {
    val serverNow = ReferenceLiteral.timestampMillis(nowMillis / 1000 * 1000)
    val hasUpload = df.columns.contains("_upload_time")
    val corrected: Column =
      if (hasUpload)
        when(col("_time").isNotNull && col("_upload_time").isNotNull,
          timestamp_millis(unix_millis(col("_time")) +
            (ReferenceLiteral.long(nowMillis) - col("_upload_time"))))
          .otherwise(col("_time"))
      else col("_time")
    val base = if (df.columns.contains("_time")) corrected
      else lit(null).cast("timestamp")
    df.withColumn("_time", coalesce(base, serverNow))
  }
}

/** M2: user-agent parse (UserAgentEventMapper.java:63-131) — family /
  * version / OS / device from the [[UaRules]] tables (the uap-core
  * database shape the reference's bundled ua-parser reads). Spider
  * device rows are flagged (the reference rejects them with 403; here
  * the caller filters `_device_family = 'Spider'` to a side output).
  * Reference version semantics: MAJOR versions only, desktop devices
  * are "Other" (TestUserAgentEventMapper.java:60-63).
  *
  * Each table is one [[graft.functions.FirstMatch]] kernel returning
  * the first matching rule's index (-1: none), with its patterns
  * compiled once per JVM, as the reference's ua-parser object compiles
  * its database once at start-up. A rule's family, literal version and
  * device prefix decode from constant arrays indexed by that int, and
  * its version or model capture is one [[graft.functions.RuleCapture]]
  * over the matching table of capture patterns, so the plan holds a
  * few small expressions, not hundreds of `rlike` branches that every
  * analysis, optimization and code generation pass would walk per
  * request. Both kernels memoize their answer per input, so a repeated
  * UA costs a few hash lookups. Codegen'd, no join, no UDF. */
case object UserAgentMapper extends EventMapper {
  val name = "user-agent"
  override def dependentFields = Map("_user_agent" -> Seq(
    "_user_agent_family" -> FieldType.STRING,
    "_user_agent_version" -> FieldType.STRING,
    "_os" -> FieldType.STRING,
    "_os_version" -> FieldType.STRING,
    "_device_family" -> FieldType.STRING))

  private val scratch = Seq("__ua_b", "__ua_o", "__ua_d")

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_user_agent")) return df
    scratch.foreach { c =>
      require(!df.columns.contains(c), s"scratch column $c already present")
    }
    val ua = col("_user_agent")
    // the three rule indices are staged in their own projection, so
    // each kernel runs once per row: CollapseProject keeps a non-cheap
    // expression that is read more than once where it is
    val staged = Mappers.project(df, Seq(
      "__ua_b" -> FirstMatch(ua, UaRules.browserTable),
      "__ua_o" -> FirstMatch(ua, UaRules.osTable),
      "__ua_d" -> FirstMatch(ua, UaRules.deviceTable)))
    val (b, o, d) = (col("__ua_b"), col("__ua_o"), col("__ua_d"))
    val family = Mappers.decode(b, UaRules.browsers.map(_.family), "Other")
    // a capture is NULL for a miss and for a rule with no version
    // pattern, "" when the pattern does not capture: both decode to NULL
    val version = nullif(RuleCapture(ua, b, UaRules.browserVersionTable), lit(""))

    val os = Mappers.decode(o, UaRules.oses.map(_.family), "Other")
    val osLiteral = Mappers.decode(o, UaRules.oses.map(_.literal), "")
    val osVersion = when(osLiteral =!= "", osLiteral)
      .otherwise(nullif(RuleCapture(ua, o, UaRules.osVersionTable), lit("")))

    // device table hit (NULL = miss): [[UaRules.devices]] — branded
    // hardware with the model captured by the SAME regex that detects
    // it (a rule can never match-then-fail-to-capture)
    val dFamily = Mappers.decode(d, UaRules.devices.map(_.family), "")
    val tableDevice = when(dFamily =!= "", dFamily)
      .when(d >= 0, concat(
        Mappers.decode(d, UaRules.devices.map(_.prefix), ""),
        RuleCapture(ua, d, UaRules.deviceTable)))
    // devices: Spider first (needs the browser family), then the
    // device table hit, then the uap-core generic-Android tails;
    // desktops deliberately report "Other"
    val androidModel = nullif(RuleCapture(ua, lit(0), UaRules.androidModelTable), lit(""))
    val device =
      when(family === "Spider", "Spider")
        .when(tableDevice =!= "", tableDevice)
        .when(ua.contains("Android") && androidModel.isNotNull, androidModel)
        .when(ua.contains("Android") && ua.contains("Mobile"), "Generic Smartphone")
        .when(ua.contains("Android"), "Generic Tablet")
        .otherwise("Other")

    Mappers.project(staged, Seq(
      "_user_agent_family" -> family,
      "_user_agent_version" -> version,
      "_os" -> os,
      "_os_version" -> osVersion,
      "_device_family" -> device), dropped = scratch)
  }
}

/** M3: referrer parse (ReferrerEventMapper.java:46-149): URL →
  * medium/source/term/domain/path; internal medium (referrer host ==
  * page host) suppresses domain/path. The referers table (snowplow
  * referers.yml shape) is one [[graft.functions.FirstMatch]] kernel
  * over the host: the first matching rule wins both source and medium
  * (email rows precede search, so mail.google.com is email), decoded
  * from constant arrays indexed by the rule. */
final case class ReferrerMapper(internalHosts: Seq[String] = Seq.empty) extends EventMapper {
  val name = "referrer"
  override def dependentFields = Map("_referrer" -> Seq(
    "_referrer_medium" -> FieldType.STRING,
    "_referrer_source" -> FieldType.STRING,
    "_referrer_term" -> FieldType.STRING,
    "_referrer_domain" -> FieldType.STRING,
    "_referrer_path" -> FieldType.STRING))

  private val scratch = Seq("__ref_host", "__ref_path", "__ref_hit")

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_referrer")) return df
    scratch.foreach { c =>
      require(!df.columns.contains(c), s"scratch column $c already present")
    }
    // host/path are staged in their own projection, and the rule index
    // in the next, so each URL is parsed once per row: the host feeds
    // the kernel, the medium and the domain, and CollapseProject leaves
    // a non-cheap expression that is read more than once staged
    val staged = Mappers.project(df, Seq(
      "__ref_host" ->
        lower(nullif(try_parse_url(col("_referrer"), lit("HOST")), lit(""))),
      "__ref_path" -> nullif(try_parse_url(col("_referrer"), lit("PATH")), lit(""))))
    val withHit = Mappers.project(staged, Seq(
      "__ref_hit" -> FirstMatch(col("__ref_host"), UaRules.refererTable)))
    // medium precedence, term-param extraction and the internal-traffic
    // suppression, as one projection that also drops the scratch columns
    val host = col("__ref_host")
    val source = Mappers.decode(col("__ref_hit"), UaRules.referers.map(_.source), null)
    val tableMedium = Mappers.decode(col("__ref_hit"), UaRules.referers.map(_.medium), null)
    val isInternal = if (internalHosts.nonEmpty) host.isin(internalHosts: _*) else lit(false)
    val medium =
      when(host.isNull, lit(null).cast("string"))
        .when(isInternal, "internal")
        .otherwise(coalesce(tableMedium, lit("unknown")))
    val term = when(medium === "search", coalesce(
      UaRules.termParams.map(p =>
        nullif(try_parse_url(col("_referrer"), lit("QUERY"), lit(p)), lit(""))): _*))
    Mappers.project(withHit, Seq(
      "_referrer_medium" -> medium,
      "_referrer_source" -> when(medium =!= "internal", source),
      "_referrer_term" -> term,
      "_referrer_domain" -> when(medium =!= "internal", host),
      "_referrer_path" -> when(medium =!= "internal", col("__ref_path"))),
      dropped = scratch)
  }
}

/** M4/J1/J2: GeoIP enrichment as broadcast range joins, both address
  * families — the reference resolves any `java.net.InetAddress`
  * (MaxmindGeoIPEventMapper.java:292-358); here:
  *
  *   - every v4-REPRESENTABLE literal — dotted quad, v4-mapped
  *     `::ffff:a.b.c.d` (Java parses those to `Inet4Address`),
  *     v4-compatible `::a.b.c.d` (the MMDB spec's own ::/96 embedding)
  *     — canonicalizes to a dotted quad
  *     ([[graft.functions.Ipv4Canonical]], codegen'd) and probes the
  *     LONG-keyed v4 dim with `lo <= ipNum <= hi`;
  *   - every other v6 literal becomes its 16 network-order bytes
  *     ([[graft.functions.Ipv6Bytes]]) and probes the BINARY-keyed v6
  *     dim — byte-wise unsigned comparison is 128-bit containment.
  *
  * Private ranges are skipped (MaxmindGeoIPEventMapper.java:140-154
  * for v4, verbatim regex; fc00::/7 unique-local and fe80::/10
  * link-local for v6 — a real database maps neither, so the skip only
  * saves probes). At 100 TB each dim is a few hundred MB broadcast
  * once and the scan stays codegen'd.
  *
  * The dims carry the full Maxmind city+ISP+connection-type field set
  * (`_country_code,_region,_city,_latitude,_longitude,_timezone,_isp,
  * _connection_type` — MaxmindGeoIPEventMapper.java:280-353); every
  * dim column other than the range bounds is an output field, so a dim
  * built from only the city database enriches the city subset, exactly
  * like the reference's optional isp/connection-type databases. A row
  * matches at most one family's dim (the keys are mutually exclusive
  * by construction), so shared output columns coalesce safely. */
final case class GeoIpMapper(ranges: DataFrame,
    rangesV6: Option[DataFrame] = None,
    skipPrivateV6: Boolean = true) extends EventMapper {
  val name = "geoip"

  private def attrCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(Set("ip_lo", "ip_hi", "ip6_lo", "ip6_hi"))

  /** Maxmind city-database attribute set + ISP + connection type. */
  override def dependentFields = Map("_ip" ->
    (attrCols(ranges) ++ rangesV6.map(attrCols).getOrElse(Nil)).distinct.map { c =>
      c -> (c match {
        case "_latitude" | "_longitude" => FieldType.DOUBLE
        case _ => FieldType.STRING
      })
    })

  private def bridged(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr0(c: Column) =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_ip")) return df
    (Seq("__ipnum", "__ip6") ++
      rangesV6.toSeq.flatMap(attrCols).map("__v6_" + _)).foreach { c =>
      require(!df.columns.contains(c), s"scratch column $c already present")
    }
    // canonical dotted quad (null for non-v4-representable input) —
    // octets are validated (≤ 255) and zero-padded forms normalize, so
    // the private-range regex sees what the join key sees
    val canon = bridged(graft.functions.Ipv4Canonical(expr0(col("_ip"))))
    val parts = split(canon, "\\.")
    val ipNum = parts.getItem(0).cast("long") * 16777216L +
      parts.getItem(1).cast("long") * 65536L +
      parts.getItem(2).cast("long") * 256L +
      parts.getItem(3).cast("long")
    val isPrivate = canon.rlike(Mappers.PrivateIpRegex)
    val keyed = df.withColumn("__ipnum", when(!isPrivate, ipNum))
    val out4 = keyed.join(broadcast(ranges),
        keyed("__ipnum") >= ranges("ip_lo") && keyed("__ipnum") <= ranges("ip_hi"),
        "left")
      .drop("ip_lo", "ip_hi")
    rangesV6 match {
      case None => out4.drop("__ipnum")
      case Some(r6) =>
        val attrs6 = attrCols(r6)
        val renamed = attrs6.foldLeft(r6)(
          (d, c) => d.withColumnRenamed(c, "__v6_" + c))
        val ip6 = bridged(graft.functions.Ipv6Bytes(expr0(col("_ip"))))
        // DIVERGENCE from the reference: its private-range check is the
        // v4-only regex above (MaxmindGeoIPEventMapper.java:52) — an
        // InetAddress walk happily enriches fc00::/7 or fe80::/10 when
        // a customer database deliberately maps them (lab/VPN overlay
        // deployments do). The default skip only saves probes against
        // real public databases; pass skipPrivateV6 = false to restore
        // exact reference behavior for ULA/link-local-mapped dims.
        val v6Private =
          if (!skipPrivateV6) lit(false)
          else (ip6 >= lit(GeoIpMapper.UniqueLocalLo) &&
            ip6 <= lit(GeoIpMapper.UniqueLocalHi)) ||
          (ip6 >= lit(GeoIpMapper.LinkLocalLo) &&
            ip6 <= lit(GeoIpMapper.LinkLocalHi))
        val keyed6 = out4.withColumn("__ip6", when(!v6Private, ip6))
        val joined = keyed6.join(broadcast(renamed),
            keyed6("__ip6") >= renamed("ip6_lo") &&
              keyed6("__ip6") <= renamed("ip6_hi"),
            "left")
          .drop("ip6_lo", "ip6_hi", "__ip6", "__ipnum")
        attrs6.foldLeft(joined) { (d, c) =>
          if (d.columns.contains(c))
            d.withColumn(c, coalesce(col(c), col("__v6_" + c)))
              .drop("__v6_" + c)
          else d.withColumnRenamed("__v6_" + c, c)
        }
    }
  }
}

object GeoIpMapper {
  private def fill(first: Array[Int], rest: Int): Array[Byte] = {
    val out = Array.fill[Byte](16)(rest.toByte)
    first.indices.foreach(i => out(i) = first(i).toByte)
    out
  }
  /** fc00::/7 (RFC 4193 unique local). */
  private[enrich] val UniqueLocalLo = fill(Array(0xfc), 0x00)
  private[enrich] val UniqueLocalHi = fill(Array(0xfd), 0xff)
  /** fe80::/10 (RFC 4291 link local). */
  private[enrich] val LinkLocalLo = fill(Array(0xfe, 0x80), 0x00)
  private[enrich] val LinkLocalHi = fill(Array(0xfe, 0xbf), 0xff)
}

/** F16: first-public-IP extraction from X-Forwarded-For — the
  * reference's findNonPrivateIpAddress scans the header for IPv4
  * matches and returns the first that is not in a private range
  * (MaxmindGeoIPEventMapper.java:51-52,140-154, regexes kept verbatim).
  * Deliberately v4-ONLY, like the reference's regex: a v6 hop in the
  * header is skipped here exactly as it is there — v6 enrichment
  * applies to the event's own `_ip` (which [[GeoIpMapper]] handles for
  * both families), not to XFF scanning.
  * Populates `_ip` (when not already set) so [[GeoIpMapper]] can run
  * behind proxies. Pure column expressions — codegen'd, no UDF. */
case object XffIpMapper extends EventMapper {
  val name = "xff-ip"
  override def dependentFields =
    Map("_x_forwarded_for" -> Seq("_ip" -> FieldType.STRING))

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_x_forwarded_for")) return df
    val firstPublic = expr(
      s"""try_element_at(filter(
         |  regexp_extract_all(_x_forwarded_for,
         |    '([0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3})', 1),
         |  x -> NOT x RLIKE '${Mappers.PrivateIpRegex}'), 1)""".stripMargin)
    val existing = if (df.columns.contains("_ip")) col("_ip")
      else lit(null).cast("string")
    df.withColumn("_ip", coalesce(existing, firstPublic))
  }
}

/** M5: user-id assignment (UserIdEventMapper.java:50-90): `_user` null →
  * anonymous cookie id, else a deterministic surrogate derived from the
  * event itself (the reference generates a snowflake-style id; a random
  * id is not reproducible under retries, a content hash is). */
case object UserIdMapper extends EventMapper {
  val name = "user-id"
  override def constantFields = Seq("_user" -> FieldType.STRING)
  def apply(df: DataFrame): DataFrame = {
    val anon = if (df.columns.contains("_anonymous_user"))
      col("_anonymous_user") else lit(null).cast("string")
    val existing = if (df.columns.contains("_user"))
      col("_user").cast("string") else lit(null).cast("string")
    val surrogate = concat(lit("anon_"),
      sha2(to_json(struct(df.columns.map(c => col(Mappers.quoted(c))).toIndexedSeq: _*)),
        256).substr(1, 16))
    df.withColumn("_user", coalesce(existing, anon, surrogate))
  }
}
