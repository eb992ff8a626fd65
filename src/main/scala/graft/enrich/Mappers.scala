package graft.enrich

import graft.core.FieldType
import graft.functions.ReferenceLiteral
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Enrichment mapper pipeline (SURVEY.md §2.7) — the reference's
  * per-event dataflow (rakam-spi/.../EventMapper.java) restated as
  * `DataFrame => DataFrame` stages. Each mapper declares the fields it
  * produces (constant) and the trigger→produced dependency (dependent),
  * mirroring FieldDependencyBuilder.java:12-53, so the registry can
  * admit module fields.
  *
  * All transforms are pure column expressions (codegen'd, no UDF
  * boundary) except UA/referrer classification which use built-in
  * regexp functions — still whole-stage-codegen eligible.
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
  * version / OS / device folded from the [[UaRules]] tables (the
  * uap-core database shape the reference's bundled ua-parser reads);
  * Spider device rows are flagged (the reference rejects them with
  * 403; here the caller filters `_device_family = 'Spider'` to a side
  * output). Reference version semantics: MAJOR versions only, desktop
  * devices are "Other" (TestUserAgentEventMapper.java:60-63). */
case object UserAgentMapper extends EventMapper {
  val name = "user-agent"
  override def dependentFields = Map("_user_agent" -> Seq(
    "_user_agent_family" -> FieldType.STRING,
    "_user_agent_version" -> FieldType.STRING,
    "_os" -> FieldType.STRING,
    "_os_version" -> FieldType.STRING,
    "_device_family" -> FieldType.STRING))

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_user_agent")) return df
    val ua = col("_user_agent")

    Seq("__ua_bi", "__ua_o", "__ua_d").foreach { c =>
      require(!df.columns.contains(c), s"scratch column $c already present")
    }
    // fold each table into ONE FLAT CaseWhen chain (`.when()` chaining
    // appends a branch; nesting coalesce(when(..)) instead builds a
    // 28-deep conditional tree the optimizer expands combinatorially —
    // measured minutes of planning). First matching rule wins family
    // AND version, emitted as ONE "family<sep>version" hit per table:
    // separate family/version chains would run every detect regex
    // TWICE and double the generated code — at full uap-core width
    // that crosses Janino's 64 KB method limit and silently drops the
    // projection out of whole-stage codegen (MapperCodegenSpec pins
    // the compile). Codegen'd, no join, no UDF.
    def chain(rules: Seq[(String, Column)]): Column =
      rules.tail.foldLeft(when(ua.rlike(rules.head._1), rules.head._2)) {
        (acc, r) => acc.when(ua.rlike(r._1), r._2)
      }
    val sep = "\u0001" // never appears in family names or versions

    // The browser table (165+ rules) is too wide to inline a
    // regexp_extract per branch: past ~150 rules the generated method
    // overflows Janino's 64 KB limit whenever the chain's inputs are
    // whole-stage codegen variables (e.g. fed by an aggregate, where
    // Spark cannot split one expression's code into sub-methods the
    // way row-based projection can — the m2 dictionary shape hit
    // exactly this). So the chain emits only the winning rule's INDEX
    // — each branch is one regex test plus an int literal, a few
    // hundred bytes — and family/version decode OUTSIDE the chain:
    // the family from a constant array literal (one object reference,
    // zero per-branch code) and the version from ONE regexp_extract
    // whose pattern is looked up from a constant array. A non-foldable
    // pattern recompiles only when its value changes between rows —
    // and real event streams cluster by UA family, while the scale
    // shape (the m2 dictionary) runs the chain once per DISTINCT UA
    // anyway.
    val browserIdx = chain(UaRules.browsers.zipWithIndex.map {
      case (r, i) => r.detect -> lit(i)
    }).otherwise(-1)
    val bFamilies = typedLit(UaRules.browsers.map(_.family))
    val bVersions = typedLit(UaRules.browsers.map(_.version))

    // `__ua_bi` is referenced here ONLY to pin project boundaries: the
    // guard is never false (the browser chain always emits), but the
    // second reference (with the downstream pass-through) stops
    // CollapseProject from merging the os chain into the browser
    // chain's projection — each table keeps its own generated method
    val osHit = when(col("__ua_bi").isNotNull,
      chain(UaRules.oses.map { r =>
        val v =
          if (r.literal.nonEmpty) lit(r.literal)
          else if (r.versionRe.nonEmpty) regexp_extract(ua, r.versionRe, 1)
          else lit("")
        r.detect -> concat(lit(r.family + sep), v)
      }).otherwise("Other" + sep))

    // device table hit ("" = miss): [[UaRules.devices]] — branded
    // hardware with the model captured by the SAME regex that detects
    // it (a rule can never match-then-fail-to-capture); the generic
    // uap-core tails run after the table, below
    val deviceHit = when(col("__ua_o").isNotNull, // boundary pin, as above
      UaRules.devices.map { r =>
        r.detect -> (if (r.family.nonEmpty) lit(r.family)
          else concat(lit(r.prefix), regexp_extract(ua, r.detect, 1)))
      } match {
        case rules => rules.tail.foldLeft(
          when(ua.rlike(rules.head._1), rules.head._2)) {
          (acc, r) => acc.when(ua.rlike(r._1), r._2)
        }.otherwise("")
      })

    val staged = df
      .withColumn("__ua_bi", browserIdx)
      .withColumn("__ua_o", osHit)
      .withColumn("__ua_d", deviceHit)
    val bi = col("__ua_bi")
    val familyCol =
      when(bi >= 0, element_at(bFamilies, bi + 1)).otherwise("Other")
    // versionless rules carry "" in the pattern array; regexp_extract
    // returns "" on a no-match, and both decode to NULL via nullif
    val vPattern = element_at(bVersions, bi + 1)
    val version = when(bi >= 0 && vPattern =!= "",
      nullif(call_function("regexp_extract", ua, vPattern, lit(1)), lit("")))
    val os = substring_index(col("__ua_o"), sep, 1)
    val osVersion = nullif(substring_index(col("__ua_o"), sep, -1), lit(""))

    // devices: Spider first (needs the browser family), then the
    // staged [[UaRules.devices]] table hit, then the uap-core
    // generic-Android tails; desktops deliberately report "Other"
    val androidModel =
      nullif(regexp_extract(ua, UaRules.AndroidModelRe, 1), lit(""))
    val device =
      when(familyCol === "Spider", "Spider")
        .when(col("__ua_d") =!= "", col("__ua_d"))
        .when(ua.contains("Android") && androidModel.isNotNull, androidModel)
        .when(ua.contains("Android") && ua.contains("Mobile"), "Generic Smartphone")
        .when(ua.contains("Android"), "Generic Tablet")
        .otherwise("Other")

    staged
      .withColumn("_user_agent_family", familyCol)
      .withColumn("_user_agent_version", version)
      .withColumn("_os", os)
      .withColumn("_os_version", osVersion)
      .withColumn("_device_family", device)
      .drop("__ua_bi", "__ua_o", "__ua_d")
  }

  /** The 100 TB shape of this mapper: run the ~220-rule chain once per
    * DISTINCT user-agent and broadcast-join the dictionary back, so the
    * regex work is O(|distinct UA|) — ~10^5 at web scale — instead of
    * O(|events|) ~10^12 (the m2 oracle query measures exactly this
    * shape). Null-safe equality keeps the null-UA row matching its
    * dictionary entry, so results are bit-identical to [[apply]] (a
    * property spec pins it); the chain itself evaluates only under the
    * dictionary aggregate, never on the fact side. */
  def dictionary(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_user_agent")) return df
    // [[apply]] overwrites pre-existing enrichment columns in place
    // (withColumn); the join-based shape must drop them first or the
    // output carries duplicate names (ingest's dependent expansion
    // pre-creates them as nulls)
    val produced = dependentFields("_user_agent").map(_._1)
    val base = df.drop(produced.filter(df.columns.contains): _*)
    val dict = apply(base.select(col("_user_agent")).distinct())
    base.join(broadcast(dict), base("_user_agent") <=> dict("_user_agent"), "left")
      .drop(dict("_user_agent"))
  }
}

/** M3: referrer parse (ReferrerEventMapper.java:46-149): URL →
  * medium/source/term/domain/path; internal medium (referrer host ==
  * page host) suppresses domain/path. */
final case class ReferrerMapper(internalHosts: Seq[String] = Seq.empty) extends EventMapper {
  val name = "referrer"
  override def dependentFields = Map("_referrer" -> Seq(
    "_referrer_medium" -> FieldType.STRING,
    "_referrer_source" -> FieldType.STRING,
    "_referrer_term" -> FieldType.STRING,
    "_referrer_domain" -> FieldType.STRING,
    "_referrer_path" -> FieldType.STRING))

  private val sep = "\u0001" // never appears in source/medium slugs

  /** STAGE host/path once: inlining the parse_url into every rule
    * branch would execute it ~|rules| times per row AND (with the full
    * referers.yml-scale table) push the generated method past Janino's
    * 64 KB limit, silently disabling whole-stage codegen. A separate
    * projection keeps each branch a small RLIKE on a bound attribute —
    * CollapseProject leaves it staged because the value is consumed
    * many times. */
  private def stage(df: DataFrame): DataFrame = df
    .withColumn("__ref_host",
      lower(nullif(try_parse_url(col("_referrer"), lit("HOST")), lit(""))))
    .withColumn("__ref_path",
      nullif(try_parse_url(col("_referrer"), lit("PATH")), lit("")))

  /** ONE flat CaseWhen over the referers table (snowplow referers.yml
    * shape) emitting one U+0001-separated "source<SOH>medium" pair —
    * first matching host rule wins BOTH (email rows precede search so
    * mail.google.com is email); a single chain halves the per-row regex
    * work and the generated code vs separate source/medium chains. */
  private def hitChain(host: Column): Column =
    UaRules.referers.tail.foldLeft(
      when(host.rlike(UaRules.referers.head.hostRe),
        lit(UaRules.referers.head.source + sep + UaRules.referers.head.medium))) {
      (acc, r) => acc.when(host.rlike(r.hostRe), lit(r.source + sep + r.medium))
    }

  /** The per-row tail over a frame carrying `__ref_host`/`__ref_path`/
    * `__ref_hit`: medium precedence, term-param extraction, and the
    * internal-traffic suppression. */
  private def finish(withHit: DataFrame): DataFrame = {
    val host = col("__ref_host")
    val source = substring_index(col("__ref_hit"), sep, 1)
    val tableMedium = substring_index(col("__ref_hit"), sep, -1)
    val isInternal = if (internalHosts.nonEmpty) host.isin(internalHosts: _*) else lit(false)
    val medium =
      when(host.isNull, lit(null).cast("string"))
        .when(isInternal, "internal")
        .otherwise(coalesce(tableMedium, lit("unknown")))
    val term = when(medium === "search", coalesce(
      UaRules.termParams.map(p =>
        nullif(try_parse_url(col("_referrer"), lit("QUERY"), lit(p)), lit(""))): _*))
    withHit
      .withColumn("_referrer_medium", medium)
      .withColumn("_referrer_source", when(medium =!= "internal", source))
      .withColumn("_referrer_term", term)
      .withColumn("_referrer_domain", when(medium =!= "internal", host))
      .withColumn("_referrer_path", when(medium =!= "internal", col("__ref_path")))
      .drop("__ref_host", "__ref_path", "__ref_hit")
  }

  private def guard(df: DataFrame): Unit =
    Seq("__ref_host", "__ref_path", "__ref_hit", "__dict_host").foreach { c =>
      require(!df.columns.contains(c), s"scratch column $c already present")
    }

  def apply(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_referrer")) return df
    guard(df)
    finish(stage(df).withColumn("__ref_hit", hitChain(col("__ref_host"))))
  }

  /** The 100 TB shape: referrer URLs are high-cardinality (query
    * strings), but the classification chain only reads the HOST — so
    * the ~110-regex chain runs once per DISTINCT host (~10^5 at web
    * scale) and broadcast-joins back, while term/path extraction (a
    * couple of try_parse_url calls) stays per-row. A null-safe join
    * keeps the null-host (malformed URL) row identical to [[apply]];
    * property-pinned bit-equal. */
  def dictionary(df: DataFrame): DataFrame = {
    if (!df.columns.contains("_referrer")) return df
    guard(df)
    // overwrite pre-existing enrichment columns, like [[apply]] does
    val produced = dependentFields("_referrer").map(_._1)
    val st = stage(df.drop(produced.filter(df.columns.contains): _*))
    val dict = st.select(col("__ref_host").as("__dict_host")).distinct()
      .withColumn("__ref_hit", hitChain(col("__dict_host")))
    finish(st.join(broadcast(dict),
        col("__ref_host") <=> col("__dict_host"), "left")
      .drop("__dict_host"))
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
      sha2(to_json(struct(df.columns.map(col).toIndexedSeq: _*)), 256).substr(1, 16))
    df.withColumn("_user", coalesce(existing, anon, surrogate))
  }
}
