package graft.enrich

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Mapper fixtures per FIXTURES.md §A4 (reference mapper test suites). */
class MappersSpec extends SparkSpec {
  import spark.implicits._

  test("M1: missing _time → server now; client skew corrected") {
    assertM1()
  }

  test("M1: interpreted path (no codegen) gives the same times") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assertM1()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("M1: a new clock value reuses the compiled projection") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a range, not a local relation: the projection must run as
    // generated code rather than be folded into the relation
    val df = spark.range(4).select(
      when($"id" % 2 === 0, timestamp_millis($"id" * 1000 + 1_700_000_000_000L))
        .as("_time"),
      ($"id" * 500 + 1_699_999_990_000L).as("_upload_time"))
    def run(now: Long): (Seq[Long], Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val times = TimestampMapper(now).apply(df).select(unix_millis($"_time"))
        .collect().map(_.getLong(0)).toSeq
      (times, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    // even rows: client + (now − upload); odd rows: server now
    def expected(now: Long): Seq[Long] = (0L until 4L).map { i =>
      if (i % 2 == 0) 1_700_000_000_000L + i * 1000 + (now - (1_699_999_990_000L + i * 500))
      else now / 1000 * 1000
    }
    val t1 = 1_700_000_123_456L
    val t2 = t1 + 61_789L
    val (first, _) = run(t1)
    val (second, compiles) = run(t2)
    assert(compiles == 0, s"the second clock value compiled $compiles classes")
    assert(first == expected(t1) && second == expected(t2), (first, second))
  }

  private def assertM1(): Unit = {
    val now = 1_700_000_123_456L
    val df = Seq(
      (Some(1_700_000_000_000L), Some(1_699_999_990_000L)), // client ts + upload
      (None, None))                                          // missing
      .toDF("client_ms", "upload_ms")
      .withColumn("_time", timestamp_millis($"client_ms"))
      .withColumn("_upload_time", $"upload_ms")
    val out = TimestampMapper(now).apply(df).collect()
    val corrected = out(0).getAs[java.sql.Timestamp]("_time").getTime
    // client + (now − upload) = 1.7e12 + (…123456 − …990000)
    assert(corrected == 1_700_000_000_000L + (now - 1_699_999_990_000L))
    val filled = out(1).getAs[java.sql.Timestamp]("_time").getTime
    assert(filled == now / 1000 * 1000) // second precision ×1000
  }

  test("M2: UA parse — Chrome, Windows, and Spider flag (reference " +
    "semantics: MAJOR versions, desktops are 'Other')") {
    val chrome = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
    val bot = "Googlebot/2.1 (+http://www.google.com/bot.html)"
    val iphone = "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) " +
      "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1"
    val out = UserAgentMapper(Seq(chrome, bot, iphone).toDF("_user_agent")).collect()
    assert(out(0).getAs[String]("_user_agent_family") == "Chrome")
    assert(out(0).getAs[String]("_user_agent_version") == "120")
    assert(out(0).getAs[String]("_os") == "Windows")
    assert(out(0).getAs[String]("_os_version") == "10")
    assert(out(1).getAs[String]("_device_family") == "Spider") // reject path
    assert(out(2).getAs[String]("_user_agent_family") == "Mobile Safari")
    assert(out(2).getAs[String]("_os") == "iOS")
    assert(out(2).getAs[String]("_os_version") == "17")
    assert(out(2).getAs[String]("_device_family") == "iPhone")
    // desktops report "Other" — the ua-parser device convention the
    // reference's own test pins (TestUserAgentEventMapper.java:63)
    assert(out(0).getAs[String]("_device_family") == "Other")
  }

  test("M2: the reference's canned UA — Chrome on Mac " +
    "(TestUserAgentEventMapper.java:28,60-63 expectations verbatim)") {
    val ua = "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_11_2) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/47.0.2526.111 Safari/537.36"
    val out = UserAgentMapper(Seq(ua).toDF("_user_agent")).collect()(0)
    assert(out.getAs[String]("_user_agent_family") == "Chrome")
    assert(out.getAs[String]("_user_agent_version") == "47")
    assert(out.getAs[String]("_os") == "Mac OS X")
    assert(out.getAs[String]("_os_version") == "10")
    assert(out.getAs[String]("_device_family") == "Other")
  }

  test("M2: UA parse — Chromium shells, Chrome OS, Android models, iOS shells") {
    val samsung = "Mozilla/5.0 (Linux; Android 14; SM-S921B) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36"
    val vivaldi = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Vivaldi/6.5"
    val cros = "Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
    val mac = "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 " +
      "(KHTML, like Gecko) Version/17.1 Safari/605.1.15"
    val pixel = "Mozilla/5.0 (Linux; Android 13; Pixel 7 Build/TQ2A) " +
      "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 Mobile Safari/537.36"
    val crios = "Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) " +
      "AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/114.0.5735.99 Mobile/15E148 Safari/604.1"
    val edge = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91"
    val out = UserAgentMapper(
      Seq(samsung, vivaldi, cros, mac, pixel, crios, edge).toDF("_user_agent")).collect()
    assert(out(0).getAs[String]("_user_agent_family") == "Samsung Internet")
    assert(out(0).getAs[String]("_user_agent_version") == "23")
    assert(out(1).getAs[String]("_user_agent_family") == "Vivaldi")
    assert(out(2).getAs[String]("_os") == "Chrome OS")
    assert(out(3).getAs[String]("_user_agent_family") == "Safari")
    assert(out(3).getAs[String]("_device_family") == "Other")
    // Android device via the UaRules.devices brand table (was the
    // bare Build/ capture before the table landed)
    assert(out(4).getAs[String]("_device_family") == "Google Pixel 7")
    assert(out(4).getAs[String]("_os") == "Android")
    assert(out(4).getAs[String]("_os_version") == "13")
    assert(out(5).getAs[String]("_user_agent_family") == "Chrome Mobile iOS")
    assert(out(5).getAs[String]("_user_agent_version") == "114")
    assert(out(6).getAs[String]("_user_agent_family") == "Edge")
    assert(out(6).getAs[String]("_user_agent_version") == "120")
  }

  test("M2: long-tail families — shells win over the engine tokens they carry") {
    val cases: Seq[(String, String, String)] = Seq(
      // (UA, expected family, expected major version or null)
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0",
        "Opera", "105"),
      ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) " +
        "Chrome/119.0.0.0 Safari/537.36 OPX/2.1.0", "Opera GX", "2"),
      ("Mozilla/5.0 (Linux; Android 13; 2201117TY) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36 " +
        "XiaoMi/MiuiBrowser/13.28.0-gn", "MiuiBrowser", "13"),
      ("Mozilla/5.0 (Linux; U; Android 12; en-US; V2134 Build/SP1A) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/100.0.4896.58 " +
        "UCBrowser/15.5.0.1312 Mobile Safari/537.36", "UC Browser", "15"),
      ("Mozilla/5.0 (Linux; Android 11; KFQUWI) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Silk/112.5.1 like Chrome/112.0.5615.213 " +
        "Safari/537.36", "Amazon Silk", "112"),
      ("Mozilla/5.0 (Android 13; Mobile; rv:109.0) Gecko/117.0 " +
        "Firefox/117.0 Focus/117.0", "Firefox Focus", "117"),
      ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) " +
        "AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/116.2 " +
        "Mobile/15E148 Safari/605.1.15", "Firefox iOS", "116"),
      // Android in-app WebView: the `; wv)` token, not Chrome Mobile
      ("Mozilla/5.0 (Linux; Android 13; SM-A536B Build/TP1A; wv) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 " +
        "Chrome/115.0.0.0 Mobile Safari/537.36", "Chrome Mobile WebView", "115"),
      // iOS app WebView without Version/ — the uap-core fallback family
      ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_3 like Mac OS X) " +
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
        "Mobile Safari UI/WKWebView", null),
      ("Mozilla/5.0 (BB10; Touch) AppleWebKit/537.10+ (KHTML, like Gecko) " +
        "Version/10.3.3 Mobile Safari/537.10+", "BlackBerry WebKit", "10"),
      ("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 " +
        "Firefox/115.0 Waterfox/115.0", "Waterfox", "115"),
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/114.0.0.0 Safari/537.36 " +
        "Brave/1.52.129", "Brave", "1"),
      ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_0 like Mac OS X) " +
        "AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/276.0.554115618 " +
        "Mobile/15E148 Safari/604.1", "Google Search App", "276"),
      ("Mozilla/5.0 (Linux; arm_64; Android 12; SM-A515F) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/106.0.0.0 " +
        "YaBrowser/22.11.7.42 Mobile Safari/537.36", "Yandex Browser", "22"),
      ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) SailfishBrowser/2.2 like Safari/537.36",
        "Sailfish Browser", "2"),
      ("Lynx/2.8.9rel.1 libwww-FM/2.14 SSL-MM/1.4.1", "Spider", null))
    val out = UserAgentMapper(cases.map(_._1).toDF("_user_agent")).collect()
    cases.zipWithIndex.foreach { case ((ua, fam, ver), i) =>
      assert(out(i).getAs[String]("_user_agent_family") == fam,
        s"family of: $ua")
      if (ver != null)
        assert(out(i).getAs[String]("_user_agent_version") == ver,
          s"version of: $ua")
    }
  }

  test("M2: device table — branded hardware, TV sticks, generic tails") {
    val cases: Seq[(String, String)] = Seq(
      // (UA, expected device family)
      ("Mozilla/5.0 (Linux; Android 12; SM-S908U Build/SP1A; wv) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 " +
        "Chrome/100.0.0.0 Mobile Safari/537.36", "Samsung SM-S908U"),
      ("Mozilla/5.0 (Linux; Android 13; Pixel 7 Build/TQ2A) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 " +
        "Mobile Safari/537.36", "Google Pixel 7"),
      ("Mozilla/5.0 (Linux; Android 13; 23013RK75C Build/TKQ1) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 " +
        "Mobile Safari/537.36", "Xiaomi 23013RK75C"),
      ("Mozilla/5.0 (Linux; Android 10; VOG-L29 Build/HUAWEIVOG-L29) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/92.0.0.0 " +
        "HuaweiBrowser/12.1.0.303 Mobile Safari/537.36", "Huawei VOG-L29"),
      ("Mozilla/5.0 (Linux; Android 11; KFTRWI) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Silk/112.5.1 like Chrome/112.0.0.0 " +
        "Safari/537.36", "Amazon Kindle Fire KFTRWI"),
      ("Mozilla/5.0 (Linux; Android 9; AFTKA Build/PS7633) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/88.0.0.0 " +
        "Safari/537.36", "Amazon Fire TV AFTKA"),
      ("Mozilla/5.0 (X11; Linux armv7l) AppleWebKit/537.36 (KHTML, like " +
        "Gecko) Chrome/88.0.4324.208 Safari/537.36 CrKey/1.56.500000",
        "Chromecast"),
      ("Roku/DVP-12.0 (12.0.0.4182-88)", "Roku"),
      ("Mozilla/5.0 (Linux; Android 12; CPH2409 Build/RKQ1) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 " +
        "Mobile Safari/537.36", "Oppo CPH2409"),
      ("Mozilla/5.0 (Linux; Android 13; moto g stylus Build/T1TGS33) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 " +
        "Mobile Safari/537.36", "Motorola moto g stylus"),
      // generic tails unchanged: unbranded model, phone, tablet, desktop
      ("Mozilla/5.0 (Linux; Android 13; Weird-X1 Build/X) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/113.0.0.0 " +
        "Mobile Safari/537.36", "Weird-X1"),
      ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like " +
        "Gecko) Chrome/113.0.0.0 Mobile Safari/537.36", "Generic Smartphone"),
      ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like " +
        "Gecko) Chrome/113.0.0.0 Safari/537.36", "Generic Tablet"),
      ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36", "Other"))
    val out = UserAgentMapper(cases.map(_._1).toDF("_user_agent")).collect()
    cases.zipWithIndex.foreach { case ((ua, dev), i) =>
      assert(out(i).getAs[String]("_device_family") == dev, s"device of: $ua")
    }
  }

  test("M2: long-tail OSes — platform tokens win before the Linux/Mac fallbacks") {
    val cases: Seq[(String, String)] = Seq(
      ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:109.0) Gecko/20100101 " +
        "Firefox/115.0", "Ubuntu"),
      ("Mozilla/5.0 (X11; Fedora; Linux x86_64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/117.0.0.0 Safari/537.36", "Fedora"),
      ("Mozilla/5.0 (X11; FreeBSD amd64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/110.0.0.0 Safari/537.36", "FreeBSD"),
      ("Mozilla/5.0 (X11; OpenBSD amd64; rv:109.0) Gecko/20100101 " +
        "Firefox/112.0", "OpenBSD"),
      ("Mozilla/5.0 (Mobile; rv:26.0) Gecko/26.0 Firefox/26.0", "Firefox OS"),
      ("Mozilla/5.0 (Linux; U; Sailfish 3.0; Mobile; rv:45.0) Gecko/45.0 " +
        "Firefox/45.0 SailfishBrowser/1.0", "Sailfish"),
      ("Mozilla/5.0 (webOS/1.4.0; U; en-US) AppleWebKit/532.2 " +
        "(KHTML, like Gecko) Version/1.0 Safari/532.2 Pre/1.1", "webOS"),
      ("Mozilla/5.0 (SMART-TV; Linux; Tizen 6.5) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Version/6.5 TV Safari/537.36", "Tizen"),
      ("Mozilla/5.0 (BB10; Touch) AppleWebKit/537.10+ (KHTML, like Gecko) " +
        "Version/10.3.3 Mobile Safari/537.10+", "BlackBerry OS"),
      ("Roku/DVP-12.0 (12.0.0.4182-88)", "Roku"),
      // classic Kindle e-reader: "like Android" must NOT win over the
      // Kindle/x token; a real Android Kindle Fire still reads Android
      ("Mozilla/5.0 (X11; U; Linux armv7l like Android; en-us) " +
        "AppleWebKit/531.2+ (KHTML, like Gecko) Version/5.0 Safari/533.2+ " +
        "Kindle/3.0+", "Kindle"),
      ("Mozilla/5.0 (Linux; U; Android 4.4.3; en-us; KFTHWI Build/KTU84M) " +
        "AppleWebKit/537.36 (KHTML, like Gecko) Silk/47.1.79 like " +
        "Chrome/47.0.2526.80 Safari/537.36", "Android"),
      ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 " +
        "(KHTML, like Gecko) Chrome/116.0.0.0 Safari/537.36", "Linux"))
    val out = UserAgentMapper(cases.map(_._1).toDF("_user_agent")).collect()
    cases.zipWithIndex.foreach { case ((ua, os), i) =>
      assert(out(i).getAs[String]("_os") == os, s"os of: $ua")
    }
  }

  test("M2: apply over repeated UAs, a null UA and a pre-created placeholder") {
    // duplicates (the rule kernels answer a repeat from their memo), a
    // null UA, and rule-table hits across every family class: each row
    // parses as its UA does among the distinct samples
    val uas = graft.analytics.MapperQueries.uaSamples
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 29 == 0) null else uas(i % uas.size))
    }
    val df = rows.toDF("event_id", "_user_agent")
    val produced = UserAgentMapper.dependentFields("_user_agent").map(_._1)
    def parsed(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"event_id").select(produced.map(col): _*).collect().map(_.toSeq).toSeq
    val out = parsed(UserAgentMapper(df))
    val alone = uas.zip(parsed(UserAgentMapper(uas.zipWithIndex
      .map { case (ua, i) => (i.toLong, ua) }.toDF("event_id", "_user_agent")))).toMap
    rows.zip(out).foreach {
      case ((_, null), r) => assert(r == Seq("Other", null, "Other", null, "Other"), r)
      case ((_, ua), r) => assert(r == alone(ua), ua)
    }
    // ingest's dependent expansion pre-creates enrichment columns as
    // nulls: apply overwrites them in place, never duplicates them
    val withPlaceholder = df.withColumn("_user_agent_family", lit(null).cast("string"))
    val replaced = UserAgentMapper(withPlaceholder)
    assert(replaced.columns.count(_ == "_user_agent_family") == 1)
    assert(parsed(replaced) == out)
  }

  test("M3: apply over repeated URLs, a null URL and a pre-created placeholder") {
    val urls = graft.analytics.MapperQueries.refSamples
    val m = ReferrerMapper(Seq("my.example.com"))
    val rows = (0 until 240).map { i =>
      (i.toLong, if (i % 31 == 0) null else urls(i % urls.size))
    }
    val df = rows.toDF("event_id", "_referrer")
    val produced = m.dependentFields("_referrer").map(_._1)
    def parsed(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"event_id").select(produced.map(col): _*).collect().map(_.toSeq).toSeq
    val out = parsed(m(df))
    val alone = urls.zip(parsed(m(urls.zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("event_id", "_referrer")))).toMap
    rows.zip(out).foreach {
      case ((_, null), r) => assert(r.forall(_ == null), r)
      case ((_, url), r) => assert(r == alone(url), url)
    }
    val withPlaceholder = df.withColumn("_referrer_source", lit(null).cast("string"))
    val replaced = m(withPlaceholder)
    assert(replaced.columns.count(_ == "_referrer_source") == 1)
    assert(parsed(replaced) == out)
  }

  test("M3: referrer parse — widened source families and term params") {
    val rows = Seq(
      "https://yandex.ru/search/?text=spark+engine",
      "https://www.baidu.com/s?wd=analytics",
      "https://www.instagram.com/p/abc/",
      "https://youtu.be/xyz",
      "https://x.com/someone/status/1")
      .toDF("_referrer")
    val out = ReferrerMapper().apply(rows).collect()
    assert(out(0).getAs[String]("_referrer_source") == "yandex")
    assert(out(0).getAs[String]("_referrer_term") == "spark+engine")
    assert(out(1).getAs[String]("_referrer_source") == "baidu")
    assert(out(1).getAs[String]("_referrer_term") == "analytics")
    assert(out(2).getAs[String]("_referrer_source") == "instagram")
    assert(out(2).getAs[String]("_referrer_medium") == "social")
    assert(out(3).getAs[String]("_referrer_source") == "youtube")
    assert(out(4).getAs[String]("_referrer_source") == "twitter")
  }

  test("M3: email hosts classify as email, never as their search twin") {
    val rows = Seq(
      "https://mail.google.com/mail/u/0/",
      "https://outlook.live.com/mail/",
      "https://search.brave.com/search?q=x",
      "https://search.naver.com/search.naver?query=kimchi")
      .toDF("_referrer")
    val out = ReferrerMapper().apply(rows).collect()
    assert(out(0).getAs[String]("_referrer_medium") == "email")
    assert(out(0).getAs[String]("_referrer_source") == "gmail")
    assert(out(1).getAs[String]("_referrer_medium") == "email")
    assert(out(2).getAs[String]("_referrer_medium") == "search")
    assert(out(3).getAs[String]("_referrer_source") == "naver")
    assert(out(3).getAs[String]("_referrer_term") == "kimchi")
  }

  test("M3: referrer parse — google search with term, internal, malformed") {
    val rows = Seq(
      "https://www.google.com/search?q=spark+engine",
      "https://myapp.example.com/home",
      "https://some.unknown-blog.example.org/post/1",
      "not a url ::")
      .toDF("_referrer")
    val out = ReferrerMapper(Seq("myapp.example.com")).apply(rows).collect()
    assert(out(0).getAs[String]("_referrer_medium") == "search")
    assert(out(0).getAs[String]("_referrer_source") == "google")
    assert(out(0).getAs[String]("_referrer_term") == "spark+engine")
    assert(out(0).getAs[String]("_referrer_domain") == "www.google.com")
    assert(out(1).getAs[String]("_referrer_medium") == "internal")
    assert(out(1).getAs[String]("_referrer_domain") == null) // suppressed
    assert(out(2).getAs[String]("_referrer_medium") == "unknown")
    assert(out(3).getAs[String]("_referrer_medium") == null) // unparseable
  }

  test("M3: long-tail families from the broadened referers table") {
    val cases = Seq(
      ("https://e.mail.ru/inbox/", "mail-ru", "email"),
      ("https://mail.proton.me/u/0/", "proton-mail", "email"),
      ("https://mail.zoho.com/zm/", "zoho-mail", "email"),
      ("https://go.mail.ru/search?q=term", "mail-ru-search", "search"),
      ("https://www.mojeek.com/search?q=x", "mojeek", "search"),
      ("https://kagi.com/search?q=x", "kagi", "search"),
      ("https://szukaj.onet.pl/wyniki?q=x", "onet", "search"),
      ("https://search.goo.ne.jp/web.jsp?MT=term", "goo", "search"),
      ("https://news.ycombinator.com/item?id=1", "hackernews", "social"),
      ("https://medium.com/@a/post", "medium", "social"),
      ("https://bsky.app/profile/x", "bluesky", "social"),
      ("https://www.zhihu.com/question/1", "zhihu", "social"),
      ("https://ok.ru/profile/1", "odnoklassniki", "social"),
      ("https://discordapp.com/channels/1", "discord", "social"))
    val out = ReferrerMapper().apply(cases.map(_._1).toDF("_referrer")).collect()
    cases.zipWithIndex.foreach { case ((url, src, medium), i) =>
      assert(out(i).getAs[String]("_referrer_source") == src, s"source of $url")
      assert(out(i).getAs[String]("_referrer_medium") == medium, s"medium of $url")
    }
    // goo's MT search-term parameter is in the widened term set
    assert(out(7).getAs[String]("_referrer_term") == "term")
  }

  test("M4: maxmind field set — timezone/isp/connection_type enrich too") {
    import spark.implicits._
    // fixture values in the shape of TestGeoIPEventMapper's assertions
    val ranges = Seq(
      (16777216L, 16777471L, "AU", "Oceania", "Sydney", -33.8688, 151.2093,
        "Australia/Sydney", "Telstra", "Cable/DSL"))
      .toDF("ip_lo", "ip_hi", "_country_code", "_region", "_city",
        "_latitude", "_longitude", "_timezone", "_isp", "_connection_type")
    val mapper = GeoIpMapper(ranges)
    // all dim columns are declared dependent fields of _ip
    val declared = mapper.dependentFields("_ip").map(_._1).toSet
    assert(declared == Set("_country_code", "_region", "_city", "_latitude",
      "_longitude", "_timezone", "_isp", "_connection_type"))
    val out = mapper(Seq("1.0.0.5").toDF("_ip")).collect().head
    assert(out.getAs[String]("_timezone") == "Australia/Sydney")
    assert(out.getAs[String]("_isp") == "Telstra")
    assert(out.getAs[String]("_connection_type") == "Cable/DSL")
    assert(out.getAs[String]("_region") == "Oceania")
  }

  test("F16: first public IP extracted from X-Forwarded-For") {
    import spark.implicits._
    val df = Seq(
      (Some("10.0.0.1, 172.16.3.4, 8.8.8.8, 1.1.1.1"), None: Option[String]),
      (Some("192.168.1.1"), None),
      (Some("127.0.0.1, 203.0.113.9"), None),
      (None, Some("9.9.9.9")), // existing _ip wins
      (None, None))
      .toDF("_x_forwarded_for", "_ip")
    val out = XffIpMapper(df).select("_ip").collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("8.8.8.8"), None, Some("203.0.113.9"),
      Some("9.9.9.9"), None))
  }

  test("M4: geoip range join enriches public IPs, skips private") {
    val ranges = Seq(
      (16777216L, 16777471L, "AU", "Sydney", -33.8, 151.2),
      (3232235520L, 3232301055L, "XX", "PrivateWouldBe", 0.0, 0.0))
      .toDF("ip_lo", "ip_hi", "_country_code", "_city", "_latitude", "_longitude")
    val events = Seq("1.0.0.5", "192.168.1.10", "8.8.8.8", "junk")
      .toDF("_ip")
    val out = GeoIpMapper(ranges).apply(events).collect()
    assert(out(0).getAs[String]("_country_code") == "AU")
    assert(out(0).getAs[String]("_city") == "Sydney")
    assert(out(1).getAs[String]("_country_code") == null) // private skipped
    assert(out(2).getAs[String]("_country_code") == null) // no range match
    assert(out(3).getAs[String]("_country_code") == null) // unparseable
  }

  test("M5: user-id assignment — keep, cookie, surrogate") {
    val df = Seq(
      (Some("u1"), Some("anon9")),
      (None, Some("anon9")),
      (None, None))
      .toDF("_user", "_anonymous_user")
    val out = UserIdMapper(df).collect()
    assert(out(0).getAs[String]("_user") == "u1")
    assert(out(1).getAs[String]("_user") == "anon9")
    val surrogate = out(2).getAs[String]("_user")
    assert(surrogate.startsWith("anon_") && surrogate.length == 21)
    // deterministic: same row → same surrogate
    val again = UserIdMapper(df).collect()(2).getAs[String]("_user")
    assert(again == surrogate)
  }

  test("M5: the surrogate reads fields whose names carry dots") {
    // ingest keeps a property named `a.b` as one column; the surrogate
    // must read it as that column, not as field `b` of a struct `a`
    val df = Seq(("x", "y")).toDF("a.b", "c")
    val out = UserIdMapper(df).collect().head.getAs[String]("_user")
    assert(out.startsWith("anon_") &&
      out != UserIdMapper(Seq(("z", "y")).toDF("a.b", "c")).collect().head.getAs[String]("_user"))
  }

  test("mappers replace pre-created output columns in place and keep " +
    "the column order") {
    val df = Seq(("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0", "https://www.google.com/search?q=x"))
      .toDF("_user_agent", "_referrer")
      .withColumn("_os", lit(null).cast("string"))
      .withColumn("_referrer_source", lit(null).cast("string"))
      .withColumn("v", lit(1))
    val out = ReferrerMapper()(UserAgentMapper(df))
    assert(out.columns.toSeq == Seq("_user_agent", "_referrer", "_os",
      "_referrer_source", "v", "_user_agent_family", "_user_agent_version",
      "_os_version", "_device_family", "_referrer_medium", "_referrer_term",
      "_referrer_domain", "_referrer_path"))
    val row = out.collect().head
    assert(row.getAs[String]("_os") == "Windows" &&
      row.getAs[String]("_referrer_source") == "google")
  }

  test("pipeline runs mappers in order and registers field deps") {
    val df = Seq(("x", "Mozilla/5.0 (Windows NT 10.0) Chrome/1.0")).toDF("v", "_user_agent")
    val out = MapperPipeline.run(df, Seq(TimestampMapper(1000L), UserAgentMapper))
    assert(out.columns.contains("_time") && out.columns.contains("_os"))
    assert(UserAgentMapper.dependentFields("_user_agent").nonEmpty)
  }
}
