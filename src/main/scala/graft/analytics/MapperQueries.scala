package graft.analytics

import graft.{QueryDef, Tables}
import graft.core.FieldType
import graft.enrich.js.JsCustomMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M7 proven against the oracle: events flow through a *JavaScript*
  * custom mapper (the sandboxed [[graft.enrich.js.JsEngine]], the
  * reference's CustomEventMapperHttpService contract), then a normal
  * aggregation; the DuckDB twin restates the script's arithmetic in
  * SQL. Exercises get/set/drop, number and string ops, and params —
  * through the real executor-side per-partition path. */
object MapperQueries {

  private val mapperJs =
    """function mapper(events, params, sourceIp, headers, sql, config) {
      |  var it = events.events();
      |  while (it.hasNext()) {
      |    var ev = it.next();
      |    if (ev.get('event_type') === params.dropType) { ev.drop(); continue; }
      |    ev.set('value_floor', Math.floor(ev.get('value')));
      |    ev.set('tag', ev.get('event_type').toUpperCase());
      |  }
      |}""".stripMargin

  def m7JsMapper(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val mapped = JsCustomMapper(
      name = "m7",
      collection = "events",
      produced = Seq("value_floor" -> FieldType.LONG, "tag" -> FieldType.STRING),
      params = Map("dropType" -> "error"),
      code = mapperJs)(ev)
    mapped.groupBy($"tag")
      .agg(count(lit(1)).as("n_events"),
        sum($"value_floor").as("sum_floor"))
  }

  val m7Sql: String =
    """SELECT upper(event_type) AS tag, count(*) AS n_events,
      |  CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor
      |FROM events WHERE event_type <> 'error'
      |GROUP BY upper(event_type)""".stripMargin

  /** M4 + F16 against the oracle: every event gets a synthetic
    * X-Forwarded-For header (private hop first, then a deterministic
    * public IP — or a private one for every 5th user); the XFF mapper
    * extracts the first public IP, the geo mapper range-joins the full
    * Maxmind field set, and the counts per (country, timezone, isp,
    * connection_type) must match the oracle's closed-form derivation. */
  def m4Geoip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.enrich.{GeoIpMapper, MapperPipeline, XffIpMapper}
    val dim = Seq(
      (16777216L, 16777471L, "AU", "Australia/Sydney", "Telstra", "Cable/DSL"),
      (16777472L, 16777727L, "US", "America/New_York", "Comcast", "Corporate"),
      (16777728L, 16777983L, "DE", "Europe/Berlin", "DTAG", "Cellular"))
      .toDF("ip_lo", "ip_hi", "_country_code", "_timezone", "_isp", "_connection_type")
    val ev = Tables(spark, dir, "events")
      .withColumn("pub_ip",
        when($"user_id" % 5 === 0, lit("192.168.0.1"))
          .otherwise(concat(lit("1.0."), ($"user_id" % 4).cast("string"), lit(".7"))))
      .withColumn("_x_forwarded_for", concat(lit("10.0.0.1, "), $"pub_ip"))
      .select($"event_id", $"_x_forwarded_for")
    val enriched = MapperPipeline.run(ev, Seq(XffIpMapper, GeoIpMapper(dim)))
    enriched.groupBy($"_country_code", $"_timezone", $"_isp", $"_connection_type")
      .agg(count(lit(1)).as("n_events"))
  }

  val m4Sql: String =
    """SELECT
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 4 = 0 THEN 'AU' WHEN user_id % 4 = 1 THEN 'US'
      |       WHEN user_id % 4 = 2 THEN 'DE' ELSE NULL END AS _country_code,
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 4 = 0 THEN 'Australia/Sydney'
      |       WHEN user_id % 4 = 1 THEN 'America/New_York'
      |       WHEN user_id % 4 = 2 THEN 'Europe/Berlin' ELSE NULL END AS _timezone,
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 4 = 0 THEN 'Telstra' WHEN user_id % 4 = 1 THEN 'Comcast'
      |       WHEN user_id % 4 = 2 THEN 'DTAG' ELSE NULL END AS _isp,
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 4 = 0 THEN 'Cable/DSL' WHEN user_id % 4 = 1 THEN 'Corporate'
      |       WHEN user_id % 4 = 2 THEN 'Cellular' ELSE NULL END AS _connection_type,
      |  count(*) AS n_events
      |FROM events GROUP BY 1, 2, 3, 4""".stripMargin

  /** M1 against the oracle: the `_time` fix-up semantics
    * (TimestampEventMapper.java:44-58) — missing `_time` → server now
    * truncated to seconds, client `_time` with `_upload_time` →
    * skew-corrected `client + (now − upload)`, `_time` without upload
    * kept verbatim. Deterministic synthetic skew per event; the twin
    * restates the arithmetic in epoch-millis. */
  def m1Timestamp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.enrich.TimestampMapper
    val now = 1700000000123L
    val ev = Tables(spark, dir, "events")
      .withColumn("_time",
        when($"event_id" % 7 === 0, lit(null).cast("timestamp"))
          .otherwise($"ts".cast("timestamp")))
      .withColumn("_upload_time",
        when($"event_id" % 3 === 0, lit(null).cast("long"))
          .otherwise(unix_millis($"ts".cast("timestamp")) +
            pmod($"event_id", lit(997L))))
      .select($"event_id", $"_time", $"_upload_time")
    TimestampMapper(now)(ev)
      .withColumn("bucket",
        when($"event_id" % 7 === 0, "missing_time")
          .when($"event_id" % 3 === 0, "no_upload")
          .otherwise("skew_corrected"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis($"_time")).as("min_ms"),
        max(unix_millis($"_time")).as("max_ms"))
  }

  val m1Sql: String =
    """WITH src AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE ts END AS t,
      |    CASE WHEN event_id % 3 = 0 THEN NULL
      |         ELSE epoch_ms(ts) + ((event_id % 997 + 997) % 997) END AS up
      |  FROM events),
      |fixed AS (
      |  SELECT event_id,
      |    CASE WHEN t IS NULL THEN 1700000000000
      |         WHEN up IS NULL THEN epoch_ms(t)
      |         ELSE epoch_ms(t) + (1700000000123 - up) END AS ms
      |  FROM src)
      |SELECT CASE WHEN event_id % 7 = 0 THEN 'missing_time'
      |            WHEN event_id % 3 = 0 THEN 'no_upload'
      |            ELSE 'skew_corrected' END AS bucket,
      |  count(*) AS n_events, min(ms) AS min_ms, max(ms) AS max_ms
      |FROM fixed GROUP BY 1""".stripMargin

  /** M5 against the oracle: user-id assignment precedence
    * (UserIdEventMapper.java:50-90) — explicit `_user` wins, else the
    * anonymous cookie id, else a deterministic content-hash surrogate
    * (prefixed `anon_`). The surrogate's VALUE is engine-specific
    * (sha2 over Spark's to_json), so the oracle pins the precedence,
    * the prefix contract, and injectivity (distinct events → distinct
    * surrogates), which is everything downstream identity stitching
    * relies on. */
  def m5UserId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.enrich.{MapperPipeline, UserIdMapper}
    val ev = Tables(spark, dir, "events")
      .withColumn("_user",
        when(pmod($"event_id", lit(3L)) === 0, concat(lit("u"), $"user_id")))
      .withColumn("_anonymous_user",
        when(pmod($"event_id", lit(3L)) === 1, concat(lit("a"), $"user_id")))
      .select($"event_id", $"_user", $"_anonymous_user")
    MapperPipeline.run(ev, Seq(UserIdMapper))
      .withColumn("bucket",
        when(pmod($"event_id", lit(3L)) === 0, "explicit")
          .when(pmod($"event_id", lit(3L)) === 1, "anon")
          .otherwise("surrogate"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"_user").as("n_users"),
        sum(when($"_user".startsWith("anon_"), 1L).otherwise(0L))
          .as("n_surrogate_form"))
  }

  val m5Sql: String =
    """SELECT
      |  CASE ((event_id % 3) + 3) % 3 WHEN 0 THEN 'explicit'
      |       WHEN 1 THEN 'anon' ELSE 'surrogate' END AS bucket,
      |  count(*) AS n_events,
      |  CASE ((event_id % 3) + 3) % 3
      |       WHEN 0 THEN count(DISTINCT 'u' || CAST(user_id AS VARCHAR))
      |       WHEN 1 THEN count(DISTINCT 'a' || CAST(user_id AS VARCHAR))
      |       ELSE count(DISTINCT event_id) END AS n_users,
      |  CASE ((event_id % 3) + 3) % 3
      |       WHEN 2 THEN count(*) ELSE CAST(0 AS BIGINT) END AS n_surrogate_form
      |FROM events
      |GROUP BY 1, ((event_id % 3) + 3) % 3""".stripMargin

  /** M4 for the OTHER address family: every event gets a synthetic
    * IPv6 literal — link-local for every 5th user (skipped), a
    * v4-MAPPED `::ffff:1.0.0.7` for users ≡1 (mod 5) (redirected into
    * the v4 dim), otherwise a public v6 under 2001:db8::/32 whose
    * 48-bit site picks one of three dim networks. The twin re-derives
    * the enrichment closed-form, so the whole parse→canonicalize→
    * binary-range-join path is oracle-checked. */
  def m4GeoipV6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.enrich.{GeoIpMapper, MapperPipeline}
    def cidr6(c: String): (Array[Byte], Array[Byte]) = {
      val Array(ip, len) = c.split("/")
      val lo = graft.functions.IpAddr.parse16(ip)
      val hi = lo.clone()
      var bit = len.toInt
      while (bit < 128) {
        hi(bit >> 3) = (hi(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
        bit += 1
      }
      (lo, hi)
    }
    val dim4 = Seq((16777216L, 16777471L, "AU", "Australia/Sydney"))
      .toDF("ip_lo", "ip_hi", "_country_code", "_timezone")
    val dim6 = Seq(
      (cidr6("2001:db8:0::/48"), "US", "America/New_York"),
      (cidr6("2001:db8:1::/48"), "DE", "Europe/Berlin"),
      (cidr6("2001:db8:2::/48"), "JP", "Asia/Tokyo"))
      .map { case ((lo, hi), cc, tz) => (lo, hi, cc, tz) }
      .toDF("ip6_lo", "ip6_hi", "_country_code", "_timezone")
    val ev = Tables(spark, dir, "events")
      .withColumn("_ip",
        when($"user_id" % 5 === 0, lit("fe80::1"))
          .when($"user_id" % 5 === 1, lit("::ffff:1.0.0.7"))
          .otherwise(concat(lit("2001:db8:"),
            ($"user_id" % 3).cast("string"), lit("::1"))))
      .select($"event_id", $"_ip")
    val enriched = MapperPipeline.run(ev, Seq(GeoIpMapper(dim4, Some(dim6))))
    enriched.groupBy($"_country_code", $"_timezone")
      .agg(count(lit(1)).as("n_events"))
  }

  val m4V6Sql: String =
    """SELECT
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 5 = 1 THEN 'AU'
      |       WHEN user_id % 3 = 0 THEN 'US' WHEN user_id % 3 = 1 THEN 'DE'
      |       ELSE 'JP' END AS _country_code,
      |  CASE WHEN user_id % 5 = 0 THEN NULL
      |       WHEN user_id % 5 = 1 THEN 'Australia/Sydney'
      |       WHEN user_id % 3 = 0 THEN 'America/New_York'
      |       WHEN user_id % 3 = 1 THEN 'Europe/Berlin'
      |       ELSE 'Asia/Tokyo' END AS _timezone,
      |  count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------- M2/M3 against the oracle: the rule TABLES cross-engine ----------
  //
  // The UA and referrer mappers fold [[graft.enrich.UaRules]] into
  // CaseWhen chains; here the DuckDB twins are GENERATED from the very
  // same tables (single source of truth), so the oracle compare runs
  // the rule regexes through an independent engine (RE2) against
  // Spark's java.util.regex over a fixed sample list selected per
  // event — the cross-engine check canned specs can't give. Coverage
  // caveat: every DETECTION regex executes against every sample on
  // both engines, but first-match-wins means an EXTRACTION regex only
  // runs when its rule is the first hit for some sample — rules no
  // sample reaches are structurally mirrored, not executed. The tables
  // deliberately avoid lookarounds/backreferences, so both regex
  // dialects agree by construction.

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `CASE WHEN regexp_matches(input, re1) THEN out1 … ELSE dflt END`
    * — first-match-wins, the mapper chains' rule. */
  private def caseChain(input: String, rules: Seq[(String, String)],
      dflt: String): String =
    rules.map { case (re, out) =>
      s"WHEN regexp_matches($input, ${sqlLit(re)}) THEN $out"
    }.mkString("CASE ", " ", s" ELSE $dflt END")

  /** Real-world UA strings spanning desktop/mobile/webview/legacy/
    * spider/tool families — inputs only; EXPECTED outputs come from the
    * rule tables on both engines, never from this list. */
  private[graft] val uaSamples: Seq[String] = Seq(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.71 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0",
    "Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "curl/8.4.0",
    "python-requests/2.31.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/119.0.6045.109 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 10; Pixel 3 Build/QQ3A.200805.001) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 12; SM-A515F Build/SP1A.210812.016; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/117.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; rv:11.0) like Gecko",
    "Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.0)",
    "Opera/9.80 (J2ME/MIDP; Opera Mini/9.80 (S60; SymbOS; Opera Mobi/23.348; U; en) Presto/2.5.25 Version/10.54",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/108.0.0.0 YaBrowser/23.1.2.987 Safari/537.36",
    "Mozilla/5.0 (Linux; U; Android 9; en-US; Redmi Note 7 Build/PKQ1.180904.001) AppleWebKit/537.36 UCBrowser/13.4.0.1306 Mobile Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 15_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/19A346",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Safari/537.36 Vivaldi/6.4.3160.47",
    "Mozilla/5.0 (Linux; Android 13; 2211133G) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36 MiuiBrowser/17.4.80420",
    "Mozilla/5.0 (Linux; Android 12; ELS-NX9 Build/HUAWEIELS-N29) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.88 HuaweiBrowser/13.0.3.302 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/63.0.3239.26 Safari/537.36 MQQBrowser/6.2",
    "Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/119.0 Mobile/15E148 Safari/605.1.15",
    "Mozilla/5.0 (Android 14; Mobile; rv:121.0) Gecko/121.0 Firefox/121.0",
    "Mozilla/5.0 (Linux; Android 11; Lenovo TB-X606F) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 Safari/537.36",
    "Dalvik/2.1.0 (Linux; U; Android 11; SM-T500 Build/RP1A.200720.012)",
    "okhttp/4.12.0",
    "Mozilla/5.0 (PlayStation; PlayStation 5/8.40) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    // long-tail rows chosen to reach version-extraction regexes deeper
    // in the table (each sample's first-hit rule runs its extraction
    // on BOTH engines)
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Safari/537.36 Brave/1.48",
    "Mozilla/5.0 (Linux; Android 13; SM-G991N) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.0.0 Whale/3.21.192.18 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 12; V2111A) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/108.0.0.0 Quark/6.2.2.246 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/100.0.0.0 Safari/537.36 OPT/3.3.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36 OPX/2.2.1",
    "Mozilla/5.0 (Windows NT 6.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/55.0.2883.87 Safari/537.36 2345Explorer/9.2.1",
    "Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/65.0.3325.181 Safari/537.36 Maxthon/5.2.6.1000",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/114.0.5735.134 Safari/537.36 coc_coc_browser/114.0.134",
    "Mozilla/5.0 (Linux; Android 13; 23013RK75C Build/TKQ1.221114.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/112.0.5615.136 Mobile Safari/537.36 XiaoMi/MiuiBrowser/18.1.50910",
    "Mozilla/5.0 (Linux; U; Android 12; zh-CN; 21091116AC Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.58 Quark/5.9.3.228 Mobile Safari/537.36 Mint Browser/3.9.3",
    "Mozilla/5.0 (Linux; Android 10; VOG-L29 Build/HUAWEIVOG-L29) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/92.0.4515.105 HuaweiBrowser/12.1.0.303 Mobile Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/114.0.1823.63 Version/16.0 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 13; Pixel 7 Build/TQ2A.230505.002) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.5672.77 Mobile Safari/537.36 EdgA/113.0.1774.38",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.5845.96 Safari/537.36 Electron/26.1.0",
    "Mozilla/5.0 (Linux; Android 11; KFTRWI) AppleWebKit/537.36 (KHTML, like Gecko) Silk/112.5.1 like Chrome/112.0.5615.213 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0 Epiphany/45.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1 Ecosia ios@9.2.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1 DuckDuckGo/7",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_3 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Instagram 271.1.0.21.84",
    "Mozilla/5.0 (Linux; Android 12; SM-S908U Build/SP1A.210812.016; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.88 Mobile Safari/537.36 [FB_IAB/FB4A;FBAV/410.0.0.26.115;]",
    "Mozilla/5.0 (Linux; Android 13; SM-A536B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/113.0.5672.77 Mobile Safari/537.36 Line/13.8.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/109.0.0.0 Safari/537.36 MetaSr 1.0",
    // round-10 tail: headless/automation, CN shells, in-app webviews,
    // the pre-Chrome Android stock browser, feature/text-mode
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/118.0.5993.70 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X) AppleWebKit/538.1 (KHTML, like Gecko) PhantomJS/2.1.1 Safari/538.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/78.0.3904.108 Safari/537.36 QIHU 360SE",
    "Mozilla/5.0 (Linux; Android 13; SM-A525F) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.5790.166 Mobile Safari/537.36 AlohaBrowser/5.10.2",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 Safari/537.36 Ghostery:3.0",
    "Mozilla/5.0 (Linux; U; Android 12; zh-CN; M2012K11AC Build/SKQ1.211006.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/89.0.4389.72 MQQBrowser/6.2 Mobile Safari/537.36 DingTalk/7.0.10",
    "Mozilla/5.0 (Linux; U; Android 13; zh-cn; 2211133C Build/TKQ1.220829.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/89.0.4389.72 MQQBrowser/6.2 Mobile Safari/537.36 AliApp(AP/10.3.80.8000)",
    "Mozilla/5.0 (Linux; U; Android 4.3; en-us; GT-I9300 Build/JSS15J) AppleWebKit/534.30 (KHTML, like Gecko) Version/4.0 Mobile Safari/534.30",
    "UCWEB/2.0 (MIDP-2.0; U; Adr 9.0; en-US; Redmi Note 5 Pro) U2/1.0.0 UCBrowser/12.11.1.1197 Mobile",
    "Links (2.29; Linux 6.1.0 x86_64; GNU C 12.2; text)",
    "NetSurf/3.10 (RISC OS)",
    "Mozilla/5.0 (Java; U; en-us; nokia202) UCBrowser/8.7.0.218/70/352 UCWEB Mobile",
    "Obigo/Q05A (LGE; U; U880; 1.0) Profile/MIDP-2.0 Configuration/CLDC-1.1",
    // round-11 tail: Electron app shells, messenger/commerce in-app
    // webviews, gecko forks, consoles/TVs/media runtimes, HarmonyOS,
    // feature phones, Transsion/vivo/Asus/Fairphone hardware
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Slack/4.36.140 Chrome/114.0.5735.289 Electron/25.8.4 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) discord/1.0.9030 Chrome/120.0.6099.291 Electron/28.2.10 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Teams/1.6.00.4472 Chrome/108.0.5359.215 Electron/22.3.27 Safari/537.36",
    "WhatsApp/2.23.24.76 A",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8 Build/UQ1A.240105.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.6099.230 Mobile Safari/537.36 Telegram-Android/10.6.1",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Reddit/Version 2023.50.0/Build 1421365/iPhone",
    "Outlook-Android/2.0",
    "Microsoft Office/16.0 (Windows NT 10.0; Microsoft Outlook 16.0.16827; Pro)",
    "com.google.android.youtube/19.02.39 (Linux; U; Android 14) gzip",
    "Mozilla/5.0 (Linux; U; Android 12; zh-CN; M2102J2SC Build/SKQ1.211006.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/92.0.4515.131 Mobile Safari/537.36 AliApp(TB/10.31.10)",
    "Mozilla/5.0 (Linux; Android 13; 22081212C Build/TKQ1.220829.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/110.0.5481.154 Mobile Safari/537.36 ksNebula/11.8.40.6108",
    "Mozilla/5.0 (Linux; Android 13; PGT-AN10 Build/HONORPGT-AN10; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/99.0.4844.88 Mobile Safari/537.36 aweme/23.5.0",
    "Mozilla/5.0 (Linux; Android 12; V2111A Build/SP1A.210812.016; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/116.0.0.0 Mobile Safari/537.36 Zalo android/23.10.01",
    "Mozilla/5.0 (Linux; Android 13; SM-G990B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/116.0.0.0 Mobile Safari/537.36 VKAndroidApp/8.15-16821",
    "Mozilla/5.0 (Linux; Android 13; Infinix X678B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/115.0.5790.166 Mobile Safari/537.36 Shopee Beeshop locale/en app_ver=3.19.31",
    "Mozilla/5.0 (Linux; Android 14; SM-S921N Build/UP1A.231005.007; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.0.0 Mobile Safari/537.36 NAVER(inapp; search; 2000; 12.1.2)",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 LibreWolf/121.0.2-1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Floorp/11.8.0 Firefox/121.0",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) qutebrowser/3.1.0 Chrome/118.0.5993.220 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15 Ddg/17.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/86.0.4240.198 Safari/537.36 CentBrowser/4.3.9.248",
    "Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) AppleWebKit/609.4 (KHTML, like Gecko) NF/6.0.2.21.3 NintendoBrowser/5.1.0.22474",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; Xbox; Xbox Series X) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edge/120.0.0.0",
    "HbbTV/1.2.1 (; Samsung; SmartTV2019; T-KTM2DEUC-1490.3; ;) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/63.0.3239.84 TV Safari/537.36",
    "Mozilla/5.0 (Web0S; Linux/SmartTV) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/87.0.4280.88 Safari/537.36 WebAppManager",
    "AppleCoreMedia/1.0.0.21B101 (iPhone; U; CPU OS 17_1_1 like Mac OS X; en_us)",
    "VLC/3.0.20 LibVLC/3.0.20",
    "Mozilla/5.0 (Linux; Android 10; HarmonyOS; ELS-AN00; HMSCore 6.12.0.302) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.88 HuaweiBrowser/13.0.6.302 Mobile Safari/537.36",
    "Mozilla/5.0 (Phone; OpenHarmony 4.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/114.0.0.0 Safari/537.36 ArkWeb/4.1.6.1 Mobile",
    "Mozilla/5.0 (Fuchsia) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (PlayStation; PlayStation 4/11.00) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 11; ASUS_I005DA) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; TECNO CK7n Build/TP1A.220624.014) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; FP4 Build/TQ2A.230505.002) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36",
    "Go-http-client/2.0",
    "Mozilla/5.0 (Linux; Android 11; Lenovo TB-8505F Build/QP1A.190711.020; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/117.0.0.0 Safari/537.36",
    // round-11 second batch: Messenger vs Facebook precedence, QQ app,
    // Yandex app, news readers, Sony/HTC/ZTE hardware, Hisense VIDAA TV
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 [FBAN/MessengerForiOS;FBAV/437.0.0.21.115;FBBV/535897340]",
    "Mozilla/5.0 (Linux; Android 13; SM-F936B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/116.0.0.0 Mobile Safari/537.36 V1_AND_SQ_8.9.76 QQ/8.9.76.12115",
    "Mozilla/5.0 (Linux; arm_64; Android 13; 2201117TY) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 YaApp_Android/23.112.1 Mobile Safari/537.36",
    "Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Flipboard/4.3.25",
    "Mozilla/5.0 (Linux; Android 14; SO-51D Build/64.1.A.0.812) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Mobile Safari/537.36 SmartNews/23.12.40",
    "Mozilla/5.0 (Linux; Android 9; HTC U12+ Build/PQ2A.190205.002) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 12; ZTE A2322G Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 9; VIDAA; Hisense 55A6H) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/79.0.3945.120 Safari/537.36",
    "UP.Browser/6.2.3.8 (GUI) MMP/2.0",
    "Nokia215/2.0 (03.20) Profile/MIDP-2.0 Configuration/CLDC-1.1 MAUI WAP Browser",
    // round-12 tail: one witness per remaining rule so RuleLintSpec can
    // prove every table row reachable (dead-rule/precedence lint) —
    // Opera variants, CN/privacy Chromium shells, social in-app
    // webviews, gecko forks, WebKit shells, legacy mobile, text-mode,
    // Windows literals, mobile/TV/desktop OSes, branded Android hardware
    "Opera/9.80 (Windows Mobile; WM8; U; en) Presto/2.4.13 Opera Mobi/35; Version/10.00",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 9_0 like Mac OS X) AppleWebKit/601.1.46 (KHTML, like Gecko) Coast/5.04.110603 Mobile/13A344 Safari/7534.48.3",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/53.0.2785.143 Safari/537.36 MMS/1.0.2459.0",
    "Mozilla/5.0 (Linux; Android 12; V2154A Build/SP1A.210812.003) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/87.0.4280.141 Mobile Safari/537.36 VivoBrowser/12.0.10.0",
    "Mozilla/5.0 (Linux; U; Android 11; zh-cn; PEGM00 Build/RKQ1.201105.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/83.0.4103.101 Mobile Safari/537.36 OppoBrowser/36.8.5.1",
    "Mozilla/5.0 (Linux; U; Android 13; zh-cn; CPH2437 Build/TP1A.220905.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/99.0.4844.88 HeyTapBrowser/45.10.7.1 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/46.0.2490.76 BIDUBrowser/8.7 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; 2211133C Build/TKQ1.220829.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/108.0.5359.128 Mobile Safari/537.36 baiduboxapp/13.40.0.10",
    "Mozilla/5.0 (Windows NT 6.3; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/45.0.2454.101 Safari/537.36 LBBROWSER",
    "Mozilla/5.0 (Windows NT 6.2) AppleWebKit/537.36 (KHTML, like Gecko) Iron/31.0.1700.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 5.1) AppleWebKit/537.36 (KHTML, like Gecko) Comodo_Dragon/16.1.1.0 Chrome/16.0.912.63 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Avast/120.0.21962.123 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 AVG/119.0.20600.121 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; SM-A137F Build/TP1A.220624.014) AppleWebKit/537.36 (KHTML, like Gecko) SznProhlizec/38.0.5a Chrome/116.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.0) AppleWebKit/537.36 (KHTML, like Gecko) MRCHROME SOC Chrome/34.0.1847.135 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 9; SM-G960F Build/PPR1.180610.011) AppleWebKit/537.36 (KHTML, like Gecko) Puffin/9.7.2.51367AP Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 7.0; PLK-L01 Build/HONORPLK-L01) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/55.0.2883.91 Crosswalk/23.53.589.4 Mobile Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) QtWebEngine/5.15.2 Chrome/83.0.4103.122 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 Safari/537.36 Slimjet/41.0.6.0",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/42.0.2311.90 Torch/42.0.0.10608 Safari/537.36",
    "Mozilla/5.0 (Linux; U; Android 9; en-us; SM-J701F Build/PPR1.180610.011) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/57.0.2987.108 ACHEETAHI/1 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 8.1.0; CPH1803 Build/OPM1.171019.026; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/66.0.3359.158 APUSBrowser/1.9.7 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; M2101K6G Build/TKQ1.220829.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.127 Mobile Safari/537.36 Via/5.9.0",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Falkon/23.08.1 Chrome/87.0.4280.144 Safari/537.36",
    "Mozilla/5.0 (X11; Ubuntu; Linux x86_64) AppleWebKit/538.1 (KHTML, like Gecko) Otter/1.0.03 Safari/538.1",
    "Mozilla/5.0 (X11; Fedora; Linux x86_64) AppleWebKit/538.1 (KHTML, like Gecko) QupZilla/2.2.6 Safari/538.1",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Midori/9.0 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; 22081212C Build/TKQ1.220829.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/107.0.5304.141 Mobile Safari/537.36 XWEB/5075 MMWEBSDK/20230701 MicroMessenger/8.0.40.2420",
    "Mozilla/5.0 (Linux; Android 14; SM-S926N Build/UP1A.231005.007; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/121.0.0.0 Mobile Safari/537.36;KAKAOTALK 2410590",
    "Mozilla/5.0 (Linux; Android 13; SM-G781B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/118.0.0.0 Mobile Safari/537.36 Snapchat/12.61.0.46",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 [Pinterest/iOS]",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Twitter for iPhone/10.24",
    "Mozilla/5.0 (Linux; Android 13; SM-S901B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/117.0.0.0 Mobile Safari/537.36 LinkedInApp/4.1.903",
    "Mozilla/5.0 (Linux; Android 13; SM-A546E Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/115.0.0.0 Mobile Safari/537.36 musical_ly_2023305040 JsSdk/1.0 NetType/WIFI Channel/googleplay",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/287.0.588508713 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chromium/120.0.6099.129 Chrome/120.0.6099.129 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Focus/123.0 Chrome/121.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Klar/123.0 Chrome/121.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:91.0) Gecko/20100101 Firefox/91.0 SeaMonkey/2.53.10",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20100101 Firefox/102.0 Waterfox/102.10.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20220101 Goanna/6.3 PaleMoon/32.5.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:68.9) Gecko/20100101 Goanna/4.8 Firefox/68.9 Basilisk/20230511",
    "Mozilla/5.0 (X11; GNU Linux x86_64; rv:102.0) Gecko/20100101 IceCat/102.15.0",
    "Mozilla/5.0 (X11; Debian; Linux x86_64; rv:38.0) Gecko/20100101 Iceweasel/38.8.0",
    "Mozilla/5.0 (Windows NT 5.2; rv:31.0) Gecko/20100101 Firefox/31.0 K-Meleon/76.4.7",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_6_8) Gecko/20120308 Camino/2.1.2 (like Firefox/3.6.28)",
    "Mozilla/5.0 (X11; Linux x86_64; rv:115.0) Gecko/20100101 Thunderbird/115.6.0",
    "Mozilla/5.0 (Linux; U; Sailfish 4.5; Mobile; rv:78.0) Gecko/78.0 Firefox/78.0 SailfishBrowser/2.2",
    "Mozilla/5.0 (Linux; U; Android 9; en-US; SM-A205F Build/PPR1.180610.011) AppleWebKit/534.30 (KHTML, like Gecko) Version/4.0 Mobile Safari/534.30 Dolphin/12.1.3",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 9_3 like Mac OS X) AppleWebKit/601.1.46 (KHTML, like Gecko) Mercury/9.2.1 Mobile/13E238 Safari/601.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.1 Safari/605.1.15 Sleipnir/4.7.5",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 15_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Lunascape 13.1.0 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) iCab/6.1.1 Safari/605.1.15",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) OmniWeb/v622.8.0.112941",
    "Mozilla/5.0 (BB10; Touch) AppleWebKit/537.35+ (KHTML, like Gecko) Version/10.3.3.2205 Mobile Safari/537.35+",
    "BlackBerry9900/7.1.0.346 Profile/MIDP-2.1 Configuration/CLDC-1.1 VendorID/109",
    "Mozilla/5.0 (Symbian/3; Series60/5.3 NokiaN8-00/111.040.1511; Profile/MIDP-2.1 Configuration/CLDC-1.1 ) AppleWebKit/535.1 (KHTML, like Gecko) NokiaBrowser/8.3.1.4 Mobile Safari/535.1",
    "SonyEricssonK810i/R1KG Browser/NetFront/3.3 Profile/MIDP-2.0 Configuration/CLDC-1.1",
    "Mozilla/5.0 (Macintosh; U; Intel Mac OS X 10_5_7; en-us) AppleWebKit/530.17 (KHTML, like Gecko) Version/4.0 Skyfire/2.0 Safari/530.17",
    "Mozilla/5.0 (X11; U; Linux armv7l like Android; en-us) AppleWebKit/531.2+ (KHTML, like Gecko) Version/5.0 Safari/533.2+ Kindle/3.0+",
    "Mozilla/5.0 (compatible; MSIE 10.0; Windows Phone 8.0; Trident/6.0; IEMobile/10.0; ARM; Touch; NOKIA; Lumia 920)",
    "Mozilla/4.0 (compatible; MSIE 6.0; Windows CE; IEMobile 7.11)",
    "Mozilla/5.0 (X11; Linux x86_64) KHTML/5.103 konqueror/22.12.3",
    "Mozilla/5.0 (Windows; U; Windows NT 5.0; en-US; rv:1.7.2) Gecko/20040804 Netscape/7.2 (ax)",
    "Lynx/2.8.9rel.1",
    "w3m/0.5.3+git20230121",
    "ELinks/0.13.1 (textmode; Linux 5.10.0 x86_64; 202x60-2)",
    "Mozilla/5.0 (Mobile; Nokia_8110_4G; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5",
    "Mozilla/5.0 (SMART-TV; LINUX; Tizen 6.5) AppleWebKit/537.36 (KHTML, like Gecko) 85.0.4183.93/6.5 TV Safari/537.36",
    "Mozilla/5.0 (AppleTV; CPU tvOS 17_2 like Mac OS X) AppleWebKit/605.1.15",
    "Mozilla/5.0 (Apple Watch; CPU watchOS 10_2 like Mac OS X) AppleWebKit/605.1.15",
    "Mozilla/5.0 (Mobile; rv:26.0) Gecko/26.0 Firefox/26.0",
    "Mozilla/5.0 (MeeGo; NokiaN9) AppleWebKit/534.13 (KHTML, like Gecko) NokiaBrowser/8.5.0 Mobile Safari/534.13",
    "Mozilla/5.0 (X11; U; Linux armv7l; en-GB; rv:1.9.2.3pre) Gecko/20100723 Firefox/3.5 Maemo Browser 1.7.4.8 RX-51 N900",
    "Mozilla/5.0 (SAMSUNG; SAMSUNG-GT-S8500/S8500XXJL2; U; Bada/1.2; en-us) AppleWebKit/533.1 (KHTML, like Gecko) Dolfin/2.2 Mobile WVGA profile/MIDP-2.1 configuration/CLDC-1.1",
    "Roku/DVP-9.10 (519.10E04111A)",
    "Mozilla/5.0 (X11; Linux x86_64; Linux Mint 21.2) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; Arch Linux; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (X11; CentOS; Linux x86_64; rv:102.0) Gecko/20100101 Firefox/102.0",
    "Mozilla/5.0 (X11; Red Hat Enterprise Linux; Linux x86_64; rv:102.0) Gecko/20100101 Firefox/102.0",
    "Mozilla/5.0 (X11; openSUSE Tumbleweed; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (X11; Gentoo; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (X11; Slackware 15.0; Linux x86_64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; Mageia; Linux x86_64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; Manjaro; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (X11; FreeBSD amd64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (X11; OpenBSD amd64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; NetBSD amd64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; DragonFly x86_64; rv:115.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; SunOS i86pc; rv:102.0) Gecko/20100101 Firefox/102.0",
    "Mozilla/5.0 (iPod touch; CPU iPhone OS 15_8 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.6 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux aarch64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/100.0.4896.160 Safari/537.36 CrKey/1.56.500000",
    "Mozilla/5.0 (Linux; Android 9; AFTKA Build/PS7633; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/118.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 10; BRAVIA 4K VH2 Build/QTG3.200305.006.S292) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/92.0.4515.166 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 11; SHIELD Android TV Build/RQ1A.210105.003) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/104.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 8.0.0; HUAWEI VTR-L09 Build/HUAWEIVTR-L09) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/95.0.4638.74 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 10; ONEPLUS A6003 Build/QKQ1.190716.003) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 11; vivo 1906 Build/RP1A.200720.012) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; moto g 5G - 2023 Build/T1TGS33.44) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 12; Nokia G21 Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; XQ-BC52 Build/61.2.A.0.472B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 10; LM-G850 Build/QKQ1.200614.002) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Linux; Android 13; RMX3630 Build/TP1A.220905.001) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Mobile Safari/537.36",
    // round-12 NEW families: VR/car/CN-mobile shells, desktop app
    // shells, the Threads webview, Haiku/WebPositive, TV/JioPhone
    // hardware — every rule added this round ships its lint witness
    "Mozilla/5.0 (X11; Linux x86_64; Quest 3) AppleWebKit/537.36 (KHTML, like Gecko) OculusBrowser/31.1.0.21.137 SamsungBrowser/4.0 Chrome/126.0.6478.122 VR Safari/537.36",
    "Mozilla/5.0 (Linux; Android 10; Quest 2 Build/QQ3A.200805.001; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 OculusBrowser/32.0 SamsungBrowser/4.0 Chrome/121.0.0.0 VR Safari/537.36",
    "Mozilla/5.0 (X11; GNU/Linux) AppleWebKit/537.36 (KHTML, like Gecko) Chromium/79.0.3945.130 Chrome/79.0.3945.130 Safari/537.36 Tesla/2023.38.6-7a9b3b6806d2",
    "Mozilla/5.0 (Linux; Android 12; PDYM20 Build/SP1A.210812.016; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/89.0.4389.116 Mobile Safari/537.36 SogouMobileBrowser/5.30.8",
    "Mozilla/5.0 (Linux; Android 11; V2034A Build/RP1A.200720.012; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/87.0.4280.141 Mobile Safari/537.36 Mb2345Browser/9.0",
    "Mozilla/5.0 (Linux; Android 11; TECNO KG5j Build/RP1A.200720.011) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/105.0.0.0 Mobile Safari/537.36 PHX/13.2",
    "Mozilla/5.0 (Linux; Android 10; LM-X420 Build/QKQ1.200114.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/96.0.4664.45 Mobile Safari/537.36 JioPages/4.1.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/104.0.5112.102 Atom/26.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Signal/6.44.0 Chrome/116.0.5845.188 Electron/26.2.4 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Viber/20.3.0.1 Chrome/108.0.5359.215 Electron/22.3.27 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Skype/8.108.0.205 Chrome/109.0.5414.120 Electron/22.3.27 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Notion/2.2.3 Chrome/114.0.5735.289 Electron/25.8.4 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) obsidian/1.4.16 Chrome/114.0.5735.289 Electron/25.8.1 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Spotify/1.2.26.1187 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Barcelona 302.0.0.36.111 (iPhone14,5; iOS 17_0; en_US)",
    "Evolution/3.50.1",
    "Mozilla/5.0 (Macintosh; Intel Haiku R1 x86_64) AppleWebKit/605.1.15 (KHTML, like Gecko) WebPositive/1.3 Version/13.0 Safari/605.1.15",
    "Roblox/WinInet",
    "Mozilla/5.0 (X11; FreeBSD; U; Viera; en-US) AppleWebKit/537.11 (KHTML, like Gecko) Viera/3.10.14 Chrome/23.0.1271.97 Safari/537.11",
    "Mozilla/5.0 (X11; Linux) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/53.0.2785.34 Safari/537.36 NETTV/9.0.0 SmartTvA/5.0.0",
    "Mozilla/5.0 (Mobile; LYF/F300B/LYF-F300B-001-02-22-130318;Android;rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5",
    // tail round 5: CN super-apps, JP portal app, Lenovo shell,
    // Steam Deck / Surface Duo hardware
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Weibo (iPhone13,2__weibo__13.12.0__iphone__os17.1)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 XHS/8.12.0",
    "jdapp;iPhone;12.2.2;17.1;network/wifi;Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
    "Mozilla/5.0 (Linux; Android 13; SM-S901C Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/117.0.0.0 Mobile Safari/537.36 YJApp-ANDROID jp.co.yahoo.android.yjtop/3.5.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.51 Safari/537.36 SLBrowser/8.0.0.12022 SLBChan/25",
    "Mozilla/5.0 (X11; Linux x86_64; Steam Deck) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.5790.170 Safari/537.36",
    "Mozilla/5.0 (Linux; Android 12; Surface Duo 2 Build/2022.823.41) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 Mobile Safari/537.36",
    // legacy versioned-OS witnesses (the version-extraction lint):
    // Palm/HP webOS and classic SymbianOS carry slash versions
    "Mozilla/5.0 (hp-tablet; Linux; hpwOS/3.0.5; U; en-US) AppleWebKit/534.6 (KHTML, like Gecko) wOSBrowser/234.83 Safari/534.6 TouchPad/1.0",
    "Mozilla/5.0 (SymbianOS/9.4; Series60/5.0 Nokia5800d-1/60.0.003; Profile/MIDP-2.1 Configuration/CLDC-1.1 ) AppleWebKit/533.4 (KHTML, like Gecko) NokiaBrowser/7.3.1.33 Mobile Safari/533.4",
    // tail round 6: TV/cast/VR runtimes, CEF game-platform shells,
    // CN app webviews, Transsion/Meizu/mini Android shells, enterprise
    // email/office webviews, legacy Trident shells — every new rule
    // ships its RuleLintSpec witness (+ version-extraction sample)
    "Opera/9.80 (Linux armv7l; U; CE-HTML/1.0 NETRANGEMMH; en) Presto/2.12.407 Version/12.50 OMI/4.13.3.150.Marula.277",
    "Mozilla/5.0 (X11; Linux x86_64; PICO 4) AppleWebKit/537.36 (KHTML, like Gecko) PicoBrowser/3.4.0 Chrome/105.0.5195.68 VR Safari/537.36",
    "Mozilla/5.0 (Windows; U; Windows NT 10.0; en-US; Valve Steam GameOverlay/1705108172; ) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/85.0.4183.121 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) EpicGamesLauncher/16.3.0 UnrealEngine/4.27.0-37521377 Chrome/90.0.4430.212 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 TitansX/20.0.1 KNB/1.2.0 iOS imeituan/12.4.208",
    "Mozilla/5.0 (Linux; Android 13; M2012K11AC Build/TKQ1.220829.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/107.0.5304.141 Mobile Safari/537.36 BiliApp/7660300",
    "Mozilla/5.0 (Linux; U; Android 8.1.0; zh-cn; MEIZU E3 Build/OPM1.171019.026) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/53.0.2785.134 Mobile Safari/537.36 MZBrowser/8.1.1",
    "Mozilla/5.0 (Linux; Android 12; TECNO KI5k Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/100.0.4896.58 Mobile Safari/537.36 HiBrowser/v2.9.0.1",
    "Mozilla/5.0 (Linux; Android 13; M2102J2SC Build/TKQ1.220829.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/108.0.0.0 Mobile Safari/537.36 XBrowser/4.0.0",
    "Mozilla/5.0 (Windows NT 10.0; WOW64; Trident/7.0; Avant TriCore; rv:11.0) like Gecko",
    "Mozilla/4.0 (compatible; Lotus-Notes/6.0; Windows-NT)",
    "Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 10.0; WOW64; Trident/7.0; .NET4.0C; .NET4.0E; ms-office; MSOffice 16)",
    // tail round 7: app-token webviews (Facebook Lite, WeCom, Lark,
    // Gmail, Daum, Amazon, AliExpress), the VS Code Electron pane, and
    // the crawler tokens that don't say "bot" — every new rule ships
    // its RuleLintSpec witness (+ version-extraction sample)
    "Mozilla/5.0 (Linux; Android 11; SM-A107F Build/RP1A.200720.012; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/119.0.0.0 Mobile Safari/537.36 [FBAN/EMA;FBLC/en_US;FBAV/404.0.0.13.113;]",
    "Mozilla/5.0 (Linux; Android 13; SM-G9910 Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/108.0.5359.128 Mobile Safari/537.36 MicroMessenger/7.0.1 wxwork/4.1.10 ColorScheme/Light",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Lark/7.8.0 LarkLocale/en_US ttnet SDK-Version/sdk-and-lite",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Gmail/6.0.231112 (iPhone16,1)",
    "Mozilla/5.0 (Linux; Android 13; SM-G991N Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/115.0.0.0 Mobile Safari/537.36 DaumApps/9.5.1 DaumDevice/mobile",
    "Amazon.com/28.10.0 (iPhone; iOS 17.1; Scale/3.00)",
    "Mozilla/5.0 (Linux; Android 12; CPH2211 Build/SKQ1.210216.001; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/110.0.0.0 Mobile Safari/537.36 AliApp(AE/8.20.0) AliExpress/8.20.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Code/1.85.1 Chrome/114.0.5735.289 Electron/25.9.7 Safari/537.36",
    "Mozilla/5.0 (compatible; Yeti/1.1; +https://naver.me/spd)",
    "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; ChatGPT-User/1.0; +https://openai.com/chatgpt-user",
    "meta-externalagent/1.1 (+https://developers.facebook.com/docs/sharing/webmasters/crawler)",
    // tail round 8: privacy/de-googled Chromium shells, search-engine
    // browsers, RU/JP/legacy shells, historical Gecko shells — one
    // witness per new rule (RuleLintSpec), version digits present
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Iridium/2022.04 Safari/537.36 Chrome/100.0.4896.56",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/68.0.3440.106 Safari/537.36 Blisk/11.0.77.86",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) BeakerBrowser/1.1.0 Chrome/87.0.4280.67 Electron/11.0.3 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) QwantiOS/6.1.2 Mobile/15E148 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Norton/120.0.21962.123 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/64.0.3282.140 Safari/537.36 UR/64.0.3282.5438",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.235 Safari/537.36 Thorium/120.0.6099.235",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/66.0.3359.181 Kinza/4.7.2 Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/43.0.2357.132 Superbird/28.0.1500.73 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Colibri/1.19.1 Chrome/83.0.4103.122 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/52.0.2743.116 Polarity/9.3.4 Safari/537.36",
    "Mozilla/5.0 (Macintosh; U; Intel Mac OS X 10_6_6; en-US) AppleWebKit/534.7 (KHTML, like Gecko) Chrome/7.0.517.44 Safari/534.7 RockMelt/0.9.58.494",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/47.0.2526.111 Amigo/47.10.2526.111 MRCHROME SOC Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/44.0.2403.107 Orbitum/37.2.1.8 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/103.0.5060.138 Safari/537.36 Sputnik/1.4.370",
    "Mozilla/5.0 (Windows; U; Windows NT 6.1; en-US; rv:1.9.2.13) Gecko/20101203 Firefox/3.6.13 Flock/2.6.1",
    "Mozilla/5.0 (X11; U; Linux i686; en-US; rv:1.8.1.16) Gecko/20080716 Galeon/2.0.6 Firefox/2.0.0.16",
    // tail round 9: workspace/security Chromium shells, Qt/KDE WebKit
    // shells, TV runtimes, commerce app webviews, retro platforms —
    // one witness per new rule (RuleLintSpec)
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Wavebox/10.121.2 Chrome/120.0.6099.109 Electron/28.1.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Sidekick/124.0.6367.119 Chrome/124.0.6367.119 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 CCleaner/120.0.24438.144",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Dooble/2023.10.07 Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/45.0.2454.101 Safari/537.36 TheWorld 7",
    "Mozilla/5.0 (Linux; U) AppleWebKit/537.36 (KHTML, like Gecko) Version/5.1 Espial/6.0.4 SMART-TV Safari/537.36",
    "Mozilla/5.0 (Web0S; Linux/SmartTV) AppleWebKit/537.41 (KHTML, like Gecko) Large Screen Safari/537.41 LG Browser/7.00.00(LGE; 43UF6400-UA; 03.00.15)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 13_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1 Mobile/15E148 Safari/605.1.15 Smooz/1.15.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Tumblr/33.4",
    "Mozilla/5.0 (Linux; Android 13; SM-G991B Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.0.0 Mobile Safari/537.36 eBayAndroid/6.130.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 EtsyInc/6.47",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 15_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 MXiOS/5.0.71",
    "Mozilla/5.0 (X11; U; Linux; en-US) AppleWebKit/533.3 (KHTML, like Gecko) Arora/0.11.0 Safari/533.3",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.21 (KHTML, like Gecko) rekonq/2.4.2 Safari/537.21",
    "Dillo/3.0.5",
    "NetSurf/3.10 (Amiga; PowerPC)",
    "Mozilla/5.0 (OS/2; Warp 4.5; rv:45.0) Gecko/20100101 Firefox/45.0",
    // tail round 10: TV runtimes, vendor/niche Chromium shells, Firefox
    // forks and early Mozilla names, keyboard-driven WebKit shells,
    // official-app webviews, consoles, retro platforms — one witness
    // per new rule (RuleLintSpec), version digits where the rule has a
    // version group
    "Opera/9.80 (Linux mips; U; NETTV/3.3.0; en) Presto/2.6.33 Version/10.60",
    "Mozilla/5.0 (Linux; Android 13; RMX3085) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Mobile Safari/537.36 RealmeBrowser/45.5.0.1",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Min/1.31.0 Chrome/122.0.6261.156 Electron/29.1.5 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/78.0.3904.108 Safari/537.36 Cliqz/1.34.0",
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/534.34 (KHTML, like Gecko) SlimBoat/1.1.54 Safari/534.34",
    "Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1; Trident/4.0; GreenBrowser)",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:52.9) Gecko/20100101 Goanna/3.4 Firefox/52.9 Cyberfox/52.9.1",
    "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:38.0) Gecko/20100101 Firefox/38.0 IceDragon/38.0.5",
    "Mozilla/5.0 (Macintosh; PPC Mac OS X 10.4; rv:45.0) Gecko/20100101 Firefox/45.0 TenFourFox/7450",
    "Mozilla/5.0 (Windows; U; Windows NT 5.0; en-US; rv:1.5) Gecko/20031007 Firebird/0.7",
    "Mozilla/5.0 (Windows; U; WinNT4.0; en-US; rv:1.2b) Gecko/20021029 Phoenix/0.4",
    "Mozilla/5.0 (X11; U; Linux armv6l; rv 1.8.1.5pre) Gecko/20070619 Minimo/0.020",
    "Mozilla/5.0 (X11; Linux x86_64; rv:28.0) Gecko/20100101 conkeror/1.0pre",
    "Mozilla/5.0 (Macintosh; U; PPC Mac OS X; en-US; rv:1.3.1) Gecko/20090826 Classilla/CFM",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/538.1+ (KHTML, like Gecko) luakit/2.1 Safari/538.1",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/538.15 (KHTML, like Gecko) vimb/2.12 Safari/538.15",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/605.1.15 (KHTML, like Gecko) Nyxt/2.2.4 Safari/605.1.15",
    "Uzbl (Webkit 1.3) (Linux i686 [i686])",
    "WikipediaApp/7.4.4 (iOS; 17.1; Phone)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Airbnb/24.02",
    "Mozilla/5.0 (Nintendo 3DS; U; ; en) Version/1.7412.EU",
    "Mozilla/3.0 (compatible; NetPositive/2.2.1; BeOS)",
    "Mozilla/5.0 (compatible; IBrowse 3.0; AmigaOS4.1)",
    "Amiga-AWeb/3.4.167SE",
    "AmigaVoyager/3.2 (AmigaOS/MC680x0)",
    "Mozilla/4.7 (compatible; OffByOne; Windows 2000) Webster Pro V3.4")

  /** M2 against the oracle: each event picks a UA sample; Spark parses
    * through [[graft.enrich.UserAgentMapper]], the twin through the
    * generated RE2 chain; family/version/os/os_version/device counts
    * must agree. */
  def m2UaParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = uaSamples.length
    // dictionary shape — the scale-correct UA enrichment plan: count
    // per RAW string first (a cheap hash agg, no regex), run the ~200
    // regexes over the |distinct-UA| frame only, re-aggregate. At
    // 100 TB the distinct-UA set is ~10^5 while events are ~10^12;
    // running the chain per event would be 10^7× the regex work.
    // pmod, not %: a negative event_id under % yields a negative
    // remainder, which element_at resolves from the array END while the
    // twin's join drops the row — a silent oracle divergence
    val perUa = Tables(spark, dir, "events")
      .withColumn("_user_agent",
        element_at(array(uaSamples.map(lit): _*),
          pmod(coalesce($"event_id", lit(0L)), lit(n.toLong)).cast("int") + 1))
      .groupBy($"_user_agent")
      .agg(count(lit(1)).as("n_raw"))
    graft.enrich.UserAgentMapper(perUa)
      .groupBy($"_user_agent_family".as("family"),
        $"_user_agent_version".as("version"),
        $"_os".as("os"), $"_os_version".as("os_version"),
        $"_device_family".as("device"))
      .agg(sum($"n_raw").as("n_events"))
  }

  def m2Sql: String = {
    import graft.enrich.UaRules
    val n = uaSamples.length
    val values = uaSamples.zipWithIndex
      .map { case (ua, i) => s"($i, ${sqlLit(ua)})" }.mkString(",\n    ")
    val family = caseChain("ua",
      UaRules.browsers.map(r => r.detect -> sqlLit(r.family)), "'Other'")
    val version = caseChain("ua",
      UaRules.browsers.map { r =>
        r.detect -> (if (r.version.nonEmpty)
          s"nullif(regexp_extract(ua, ${sqlLit(r.version)}, 1), '')"
        else "NULL")
      }, "NULL")
    val os = caseChain("ua",
      UaRules.oses.map(r => r.detect -> sqlLit(r.family)), "'Other'")
    val osVersion = caseChain("ua",
      UaRules.oses.map { r =>
        r.detect -> (if (r.literal.nonEmpty) sqlLit(r.literal)
        else if (r.versionRe.nonEmpty)
          s"nullif(regexp_extract(ua, ${sqlLit(r.versionRe)}, 1), '')"
        else "NULL")
      }, "NULL")
    val model = s"nullif(regexp_extract(ua, ${sqlLit(UaRules.AndroidModelRe)}, 1), '')"
    // the device table rows, GENERATED from UaRules.devices exactly
    // like the Spark chain (first match wins; literal family or
    // prefix || capture group 1 of the detect regex itself)
    val deviceRows = UaRules.devices.map { r =>
      val out =
        if (r.family.nonEmpty) sqlLit(r.family)
        else s"${sqlLit(r.prefix)} || regexp_extract(ua, ${sqlLit(r.detect)}, 1)"
      s"WHEN regexp_matches(ua, ${sqlLit(r.detect)}) THEN $out"
    }.mkString("\n       ")
    s"""WITH samples(i, ua) AS (VALUES
       |    $values),
       |evua AS (
       |  SELECT ua FROM events JOIN samples
       |    ON samples.i = ((coalesce(event_id, 0) % $n) + $n) % $n),
       |parsed AS (
       |  SELECT ua,
       |    $family AS family,
       |    $version AS version,
       |    $os AS os,
       |    $osVersion AS os_version
       |  FROM evua)
       |SELECT family, version, os, os_version,
       |  CASE WHEN family = 'Spider' THEN 'Spider'
       |       $deviceRows
       |       WHEN contains(ua, 'Android') AND $model IS NOT NULL THEN $model
       |       WHEN contains(ua, 'Android') AND contains(ua, 'Mobile')
       |         THEN 'Generic Smartphone'
       |       WHEN contains(ua, 'Android') THEN 'Generic Tablet'
       |       ELSE 'Other' END AS device,
       |  count(*) AS n_events
       |FROM parsed GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** Referrer URL samples: major + regional search (distinct term
    * params), webmail, social, an unknown domain, an internal host, a
    * malformed string, and a path-less URL. All well-formed entries are
    * plain `scheme://host/path?query` so the twin's regex host/path
    * extraction coincides with Spark's parse_url exactly. */
  private[graft] val refSamples: Seq[String] = Seq(
    "https://www.google.com/search?q=spark+engine",
    "https://www.bing.com/search?q=duck",
    "https://yandex.ru/search/?text=spark",
    "https://www.baidu.com/s?wd=analytics",
    "https://search.naver.com/search.naver?query=kimchi",
    "https://search.goo.ne.jp/web.jsp?MT=term",
    "https://mail.google.com/mail/u/0/",
    "https://outlook.live.com/mail/",
    "https://news.ycombinator.com/item?id=1",
    "https://medium.com/@a/post",
    "https://www.instagram.com/p/abc/",
    "https://t.co/abc123",
    "https://some.unknown-blog.example.org/post/1",
    "https://my.example.com/home",
    "not a url ::",
    "https://duckduckgo.com",
    "https://go.mail.ru/search?q=x",
    "https://ok.ru/profile/1",
    // long-tail search (distinct engines, q-style terms), webmail, social
    "https://www.ecosia.org/search?q=trees",
    "https://www.qwant.com/?q=privacy",
    "https://www.startpage.com/sp/search?query=anon",
    "https://www.sogou.com/web?query=sogou+term",
    "https://search.seznam.cz/?q=praha",
    "https://mail.proton.me/u/0/inbox",
    "https://mail.zoho.com/zm/",
    "https://e.mail.ru/inbox/",
    "https://bsky.app/profile/someone",
    "https://www.linkedin.com/feed/update/abc",
    "https://szukaj.onet.pl/wyniki?q=warszawa",
    "https://arianna.libero.it/search/abin/search?query=roma",
    // term-param audit: every distinct UaRules.termParams entry has a
    // sample (q/text/wd/query/MT above; p and word here), plus the
    // precedence case — an empty q must fall through to p identically
    // in parse_url and the twin's regex extraction
    "https://search.yahoo.com/search?p=weather+radar",
    "https://m.baidu.com/s?word=deep+learning",
    "https://search.yahoo.com/search?q=&p=fallback+term",
    // round-11 tail: AI/regional search, webmail precedence over the
    // same brand's search rule, creator/social platforms
    "https://www.perplexity.ai/search?q=spark+aqe",
    "https://petalsearch.com/search?query=huawei",
    "https://coccoc.com/search?query=hanoi",
    "https://you.com/search?q=engines",
    "https://email.seznam.cz/inbox",
    "https://mail.icloud.com/mail/",
    "https://newsletter.substack.com/p/issue-42",
    "https://linktr.ee/someone",
    "https://rumble.com/v1abc-video.html",
    "https://www.patreon.com/creator",
    "https://www.xiaohongshu.com/explore/abc",
    "https://www.producthunt.com/posts/tool",
    "https://chatgpt.com/share/abc",
    "https://mail.qq.com/cgi-bin/frame_html",
    "https://blog.naver.com/someone/223",
    "https://www.douyin.com/video/7300",
    "https://www.kuaishou.com/short-video/3x",
    // round-12 tail: one witness URL per remaining referers row
    // (RuleLintSpec dead-rule lint) — regional webmail, regional /
    // meta search, and the social/video/community tail
    "https://mail.yahoo.com/d/folders/1",
    "https://mail.yandex.ru/u2210/",
    "https://mail.aol.com/webmail-std/en-us/suite",
    "https://navigator-bs.gmx.net/mail",
    "https://3c.web.de/mail/",
    "https://www.fastmail.com/mail/Inbox",
    "https://webmail.orange.fr/webmail/fr_FR/inbox.html",
    "https://mail.comcast.net/appsuite/inbox",
    "https://email.t-online.de/em",
    "https://mail.naver.com/v2/folders/0",
    "https://mail.libero.it/appsuite/",
    "https://www.ask.com/web?q=how+to",
    "https://search.aol.com/aol/search?q=news",
    "https://search.daum.net/search?w=tot&q=seoul",
    "https://www.so.com/s?q=beijing",
    "https://nova.rambler.ru/search?query=moskva",
    "https://search.brave.com/search?q=private",
    "https://search.lycos.com/web/?q=retro",
    "https://results.excite.com/serp?q=classic",
    "https://www.mojeek.com/search?q=crawler",
    "https://kagi.com/search?q=paid",
    "https://www.dogpile.com/serp?q=meta",
    "https://www.webcrawler.com/serp?q=old",
    "https://metager.org/meta/meta.ger3?eingabe=berlin",
    "https://searx.be/search?q=foss",
    "https://presearch.com/search?q=crypto",
    "https://szukaj.wp.pl/szukaj?q=wiadomosci",
    "https://szukaj.interia.pl/szukaj?q=sport",
    "https://search.virgilio.it/ricerca?qs=milano",
    "https://search.biglobe.ne.jp/cgi-bin/search?q=tokyo",
    "https://www.najdi.si/najdi?q=ljubljana",
    "https://search.centrum.cz/index.php?q=praha",
    "https://swisscows.com/en/web?query=privacy",
    "https://www.facebook.com/groups/12345/",
    "https://www.reddit.com/r/apachespark/comments/abc/",
    "https://www.pinterest.com/pin/1234567/",
    "https://www.youtube.com/watch?v=abc123",
    "https://www.tiktok.com/@user/video/7300",
    "https://vk.com/wall-1_2345",
    "https://weibo.com/u/123456",
    "https://someone.tumblr.com/post/1",
    "https://www.quora.com/What-is-Spark",
    "https://www.threads.net/@someone/post/abc",
    "https://www.snapchat.com/add/someone",
    "https://chat.whatsapp.com/invite/abc",
    "https://t.me/somechannel/42",
    "https://www.twitch.tv/streamer",
    "https://mastodon.social/@someone/111",
    "https://github.com/apache/spark/pull/1",
    "https://app.slack.com/client/T01/C02",
    "https://discord.com/channels/1/2",
    "https://line.me/R/ti/p/abc",
    "https://open.kakao.com/o/abc",
    "https://mp.weixin.qq.com/s/abcdef",
    "https://user.qzone.qq.com/12345",
    "https://www.douban.com/group/topic/1/",
    "https://www.zhihu.com/question/1",
    "https://www.bilibili.com/video/BV1",
    "https://www.nicovideo.jp/watch/sm1",
    "https://www.dailymotion.com/video/x1",
    "https://vimeo.com/123456",
    "https://www.flickr.com/photos/someone/1",
    "https://www.meetup.com/group/events/1/",
    "https://www.xing.com/discover/updates",
    "https://nextdoor.com/news_feed/",
    "https://invite.viber.com/?g2=abc",
    "https://kick.com/streamer",
    "https://lobste.rs/s/abc123",
    // round-12 NEW referer rows: AI assistants, brand-subdomain
    // products, portal webmail, developer/creator communities
    "https://gemini.google.com/app/abc",
    "https://news.google.com/stories/abc",
    "https://news.yahoo.co.jp/articles/abc",
    "https://tieba.baidu.com/p/123",
    "https://claude.ai/chat/abc",
    "https://copilot.microsoft.com/chats/abc",
    "https://chat.deepseek.com/a/chat",
    "https://chat.mistral.ai/chat",
    "https://grok.com/share/abc",
    "https://www.meta.ai/c/abc",
    "https://poe.com/chat/abc",
    "https://www.phind.com/search?q=spark",
    "https://mail.163.com/js6/main.jsp",
    "https://mail.inbox.lv/horde/imp",
    "https://poczta.wp.pl/k/inbox",
    "https://poczta.interia.pl/folder/inbox",
    "https://stackoverflow.com/questions/1/how",
    "https://slashdot.org/story/1",
    "https://www.pixiv.net/artworks/1",
    "https://www.deviantart.com/someone/art/1",
    "https://www.behance.net/gallery/1",
    "https://dribbble.com/shots/1",
    "https://getpocket.com/read/1",
    "https://feedly.com/i/entry/abc",
    "https://www.inoreader.com/article/abc",
    // tail round 5: webmail tail, yandex short domain, KR cafes,
    // dev platforms, JP/CN/PL communities
    "https://mail.rambler.ru/folder/INBOX",
    "https://poczta.onet.pl/inbox",
    "https://app.tuta.com/mail",
    "https://app.hey.com/imbox",
    "https://ya.ru/search/?text=privet",
    "https://cafe.naver.com/somecafe/1",
    "https://cafe.daum.net/somecafe/1",
    "https://gitlab.com/group/project/-/issues/1",
    "https://bitbucket.org/team/repo/pull-requests/1",
    "https://gitee.com/user/repo",
    "https://codepen.io/user/pen/abc",
    "https://huggingface.co/datasets/squad",
    "https://www.kaggle.com/competitions/titanic",
    "https://arxiv.org/abs/1706.03762",
    "https://dev.to/user/post-1",
    "https://qiita.com/user/items/abc",
    "https://zenn.dev/user/articles/abc",
    "https://note.com/user/n/abc",
    "https://ameblo.jp/user/entry-1.html",
    "https://b.hatena.ne.jp/entry/s/example.org/",
    "https://www.youku.com/v_show/id_1",
    "https://www.iqiyi.com/v_1.html",
    "https://lemmy.world/post/1",
    "https://truthsocial.com/@user/posts/1",
    "https://wykop.pl/link/1",
    "https://flipboard.com/@user/magazine",
    // tail round 6 witnesses: CN AI assistants (incl. the
    // baidu-subdomain precedence case), regional search, meeting/chat
    // platforms, news readers, RU/KR/VN communities, package
    // registries, newsletter campaign hosts
    "https://yiyan.baidu.com/",
    "https://www.doubao.com/chat/",
    "https://kimi.moonshot.cn/",
    "https://tongyi.aliyun.com/qianwen/",
    "https://chatglm.cn/main/alltoolsdetail",
    "https://search.nifty.com/websearch/search?q=tokyo",
    "https://www.messenger.com/t/12345",
    "https://teams.microsoft.com/l/message/ch/1",
    "https://zoom.us/j/9912345",
    "https://web.skype.com/",
    "https://apple.news/AbCdEf123",
    "https://www.smartnews.com/en/article",
    "https://www.newsbreak.com/n/some-story",
    "https://rutube.ru/video/abc123/",
    "https://odysee.com/@channel:1/video:a",
    "https://dzen.ru/a/ZxYw",
    "https://pikabu.ru/story/zagolovok_10000001",
    "https://habr.com/ru/articles/800000/",
    "https://band.us/band/12345678/post/1",
    "https://zalo.me/g/abcdef123",
    "https://www.npmjs.com/package/apache-spark",
    "https://starwars.fandom.com/wiki/Main_Page",
    "https://mailchi.mp/acme/weekly-newsletter-42",
    // tail round 7 witnesses: CN mobile search + ByteDance hosts (incl.
    // the so.toutiao precedence case), the yahoo-subdomain Q&A
    // precedence case, CN/TW/KR/JP communities, RU/legacy blogs, image
    // boards, package registries, ESP click-tracking hosts
    "https://m.sm.cn/s?q=shanghai",
    "https://so.toutiao.com/search?keyword=news",
    "https://www.toutiao.com/article/7300000000000000000/",
    "https://chiebukuro.yahoo.co.jp/question/detail/q10000000000",
    "https://www.v2ex.com/t/900000",
    "https://juejin.cn/post/7300000000000000000",
    "https://blog.csdn.net/user/article/details/100000000",
    "https://www.cnblogs.com/user/p/17000000.html",
    "https://www.dcard.tw/f/relationship/p/250000000",
    "https://www.ptt.cc/bbs/Gossiping/M.1700000000.A.ABC.html",
    "https://someone.tistory.com/42",
    "https://mao.5ch.net/test/read.cgi/news4vip/1700000000/",
    "https://gab.com/user/posts/110000000000000000",
    "https://my.mail.ru/community/some.group/",
    "https://someone.livejournal.com/123456.html",
    "https://www.goodreads.com/book/show/12345",
    "https://imgur.com/gallery/abc123",
    "https://9gag.com/gag/abc123",
    "https://pypi.org/project/pyspark/",
    "https://crates.io/crates/arrow",
    "https://rubygems.org/gems/rails",
    "https://pkg.go.dev/github.com/apache/arrow/go",
    "https://www.nuget.org/packages/Newtonsoft.Json",
    "https://mvnrepository.com/artifact/org.apache.spark/spark-core",
    "https://url1234.sendgrid.net/ls/click?upn=abc",
    "https://mandrillapp.com/track/click/30000000/example.org",
    // tail round 10 witnesses: hosted blogs (per-blog subdomains), KR/CN
    // dev communities, game/film communities, academic network, and the
    // beehiiv newsletter host
    "https://somecook.blogspot.com/2026/01/recipe.html",
    "https://someauthor.wordpress.com/2026/01/15/post/",
    "https://velog.io/@user/spark-post",
    "https://www.jianshu.com/p/abcdef123456",
    "https://segmentfault.com/a/1190000000000000",
    "https://www.oschina.net/news/300000",
    "https://acme-games.itch.io/cool-game",
    "https://steamcommunity.com/app/440/discussions/",
    "https://www.researchgate.net/publication/300000000",
    "https://letterboxd.com/user/film/some-film/",
    "https://link.beehiiv.com/ss/c/abc123")

  /** M3 against the oracle: each event picks a referrer sample; Spark
    * classifies through [[graft.enrich.ReferrerMapper]] (with an
    * internal host), the twin through the generated referers chain. */
  def m3ReferrerParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = refSamples.length
    // same dictionary shape as m2 — classify each distinct URL once
    val perRef = Tables(spark, dir, "events")
      .withColumn("_referrer",
        element_at(array(refSamples.map(lit): _*),
          pmod(coalesce($"event_id", lit(0L)), lit(n.toLong)).cast("int") + 1))
      .groupBy($"_referrer")
      .agg(count(lit(1)).as("n_raw"))
    graft.enrich.ReferrerMapper(Seq("my.example.com"))(perRef)
      .groupBy($"_referrer_medium".as("medium"),
        $"_referrer_source".as("source"), $"_referrer_term".as("term"),
        $"_referrer_domain".as("domain"), $"_referrer_path".as("path"))
      .agg(sum($"n_raw").as("n_events"))
  }

  def m3Sql: String = {
    import graft.enrich.UaRules
    val n = refSamples.length
    val values = refSamples.zipWithIndex
      .map { case (u, i) => s"($i, ${sqlLit(u)})" }.mkString(",\n    ")
    val source = caseChain("host",
      UaRules.referers.map(r => r.hostRe -> sqlLit(r.source)), "NULL")
    val tableMedium = caseChain("host",
      UaRules.referers.map(r => r.hostRe -> sqlLit(r.medium)), "NULL")
    val term = UaRules.termParams.map { p =>
      s"nullif(regexp_extract(url, ${sqlLit(s"[?&]$p=([^&#]*)")}, 1), '')"
    }.mkString("coalesce(", ", ", ")")
    s"""WITH samples(i, url) AS (VALUES
       |    $values),
       |evref AS (
       |  SELECT url FROM events JOIN samples
       |    ON samples.i = ((coalesce(event_id, 0) % $n) + $n) % $n),
       |hosted AS (
       |  SELECT url,
       |    lower(nullif(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '')) AS host,
       |    nullif(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1), '') AS pathv
       |  FROM evref),
       |classified AS (
       |  SELECT url, host, pathv,
       |    CASE WHEN host IS NULL THEN NULL
       |         WHEN host = 'my.example.com' THEN 'internal'
       |         ELSE coalesce($tableMedium, 'unknown') END AS medium,
       |    $source AS src
       |  FROM hosted)
       |SELECT medium,
       |  CASE WHEN medium <> 'internal' THEN src END AS source,
       |  CASE WHEN medium = 'search' THEN $term END AS term,
       |  CASE WHEN medium <> 'internal' THEN host END AS domain,
       |  CASE WHEN medium <> 'internal' THEN pathv END AS path,
       |  count(*) AS n_events
       |FROM classified GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "m7_js_mapper" -> QueryDef.of(m7Sql)(m7JsMapper),
    "m1_timestamp" -> QueryDef.of(m1Sql)(m1Timestamp),
    "m5_user_id" -> QueryDef.of(m5Sql)(m5UserId),
    "m4_geoip" -> QueryDef.of(m4Sql)(m4Geoip),
    "m4_geoip_v6" -> QueryDef.of(m4V6Sql)(m4GeoipV6),
    "m2_ua_parse" -> QueryDef.of(m2Sql)(m2UaParse),
    "m3_referrer_parse" -> QueryDef.of(m3Sql)(m3ReferrerParse)
  )
}
