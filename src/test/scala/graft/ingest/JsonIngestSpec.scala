package graft.ingest

import graft.SparkSpec
import graft.core.{FieldType, SchemaRegistry}

/** Mirrors the reference parser suite's shapes
  * (rakam/src/test/java/TestEventJsonParser.java:75-444): inference,
  * coercion, promotion, dead-letter routing, schema evolution. */
class JsonIngestSpec extends SparkSpec {

  private def ingest(lines: String*)(implicit r: SchemaRegistry) =
    JsonIngest.ingest(spark, r, "demo", spark.sparkContext.parallelize(lines, 2))

  test("simple event: types inferred per §1.2 rules") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    val res = ingest(
      """{"collection": "PageView", "properties": {
        |"campaign": "summer", "price": 12.5, "clicks": 3,
        |"signup_date": "2026-01-10", "at": "2026-01-15 10:30:00.000",
        |"is_new": true, "tags": ["a", "b"], "attrs": {"k1": "v1"}}}""".stripMargin.replace("\n", " "))
    val schema = r.schema("demo", "pageview").get.map(f => f.name -> f.tpe).toMap
    assert(schema("campaign") == FieldType.STRING)
    assert(schema("price") == FieldType.DOUBLE)
    assert(schema("clicks") == FieldType.DOUBLE) // all JSON numbers → DOUBLE
    assert(schema("signup_date") == FieldType.DATE)
    assert(schema("at") == FieldType.TIMESTAMP)
    assert(schema("is_new") == FieldType.BOOLEAN)
    assert(schema("tags") == FieldType.ARRAY(FieldType.STRING))
    assert(schema("attrs") == FieldType.MAP(FieldType.STRING))
    val row = res.byCollection("pageview").collect().head
    assert(row.getAs[String]("campaign") == "summer")
    assert(row.getAs[scala.collection.Seq[String]]("tags") == Seq("a", "b"))
    assert(res.deadLetter.count() == 0)
  }

  test("empty array/object creates no field (F14)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"xs": [], "m": {}, "ok": 1}}""")
    assert(r.schema("demo", "c").get.map(_.name) == Seq("ok"))
  }

  test("scalar sent to array field promotes to singleton (F12)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"xs": ["a"]}}""")
    val res = ingest("""{"collection": "c", "properties": {"xs": "solo"}}""")
    val values = res.byCollection("c").collect()
      .map(_.getAs[scala.collection.Seq[String]]("xs")).filter(_ != null)
    assert(values.map(_.toSeq).contains(Seq("solo")))
  }

  test("stringified array parses into typed array (F11)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"xs": [1.5]}}""")
    val res = ingest("""{"collection": "c", "properties": {"xs": "[2.5, 3.5]"}}""")
    val values = res.byCollection("c").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("xs")).filter(_ != null)
    assert(values.map(_.toSeq).contains(Seq(2.5, 3.5)))
  }

  test("object sent to scalar field dead-letters, row survives (S14)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"x": "str", "y": 1}}""")
    val res = ingest("""{"collection": "c", "properties": {"x": {"nested": 1}, "y": 2}}""")
    // nested object to STRING coerces to JSON text per F10 — use numeric target
    val res2 = ingest("""{"collection": "c", "properties": {"y": {"bad": true}}}""")
    val dead = res2.deadLetter.collect()
    assert(dead.exists(d => d.getAs[String]("property") == "y"))
    assert(res.deadLetter.count() == 0) // object→STRING is legal JSON-encode
  }

  test("numeric string coerces, junk string dead-letters (F9)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"n": 1.0}}""")
    val ok = ingest("""{"collection": "c", "properties": {"n": "42"}}""")
    assert(ok.byCollection("c").collect().map(_.getAs[Any]("n")).contains(42.0))
    val bad = ingest("""{"collection": "c", "properties": {"n": "abc"}}""")
    assert(bad.deadLetter.count() == 1)
  }

  test("boolean strings coerce (530-543)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"b": true}}""")
    val res = ingest("""{"collection": "c", "properties": {"b": "false"}}""")
    assert(res.byCollection("c").collect().map(_.getAs[Any]("b")).contains(false))
  }

  test("schema evolution: second batch adds field, old rows read null") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"a": "x"}}""")
    val res = ingest("""{"collection": "c", "properties": {"a": "y", "referrer": "g"}}""")
    assert(r.schema("demo", "c").get.map(_.name) == Seq("a", "referrer"))
    assert(res.byCollection("c").columns.toSeq == Seq("a", "referrer"))
  }

  test("camelCase and diacritic field names normalize (F1)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "c", "properties": {"campaignName": 1, "café": "x"}}""")
    assert(r.schema("demo", "c").get.map(_.name).toSet == Set("campaign_name", "cafe"))
  }

  test("_user type unified by set-once USER_TYPE") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest("""{"collection": "a", "properties": {"_user": 42}}""")
    assert(r.config("demo", "USER_TYPE").contains("LONG"))
    val res = ingest("""{"collection": "b", "properties": {"_user": "77"}}""")
    val t = r.schema("demo", "b").get.find(_.name == "_user").get.tpe
    assert(t == FieldType.LONG)
    assert(res.byCollection("b").collect().head.getAs[Long]("_user") == 77L)
  }

  test("USER_TYPE tiebreak: two collections disagreeing in one first " +
      "batch resolve by lexicographic (collection, type)") {
    // r16 verdict #4: the winner used to be Map-iteration-order luck.
    // Collections "a" (STRING _user) and "b" (LONG _user) in ONE first
    // batch: the smallest (collection, type) pair is ("a", "STRING"),
    // so USER_TYPE pins STRING — deterministically, every run.
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    ingest(
      """{"collection": "b", "properties": {"_user": 42}}""",
      """{"collection": "a", "properties": {"_user": "alice"}}""")
    assert(r.config("demo", "USER_TYPE").contains("STRING"))
    val ta = r.schema("demo", "a").get.find(_.name == "_user").get.tpe
    val tb = r.schema("demo", "b").get.find(_.name == "_user").get.tpe
    assert(ta == FieldType.STRING && tb == FieldType.STRING)
  }

  test("string values truncate to 100 chars (F2)") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    val long = "x" * 150
    val res = ingest(s"""{"collection": "c", "properties": {"s": "$long"}}""")
    assert(res.byCollection("c").collect().head.getAs[String]("s").length == 100)
  }

  test("one ingest batch runs as a single stage with no shuffle") {
    implicit val r: SchemaRegistry = SchemaRegistry.inMemory()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageInfo]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized { stages += e.stageInfo }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      ingest(
        """{"collection": "a", "properties": {"x": 1, "y": "s"}}""",
        """{"collection": "b", "properties": {"z": true}}""",
        """{"collection": "a", "properties": {"x": "t", "w": 2}}""")
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val seen = stages.synchronized(stages.toSeq)
    assert(seen.size == 1, s"stages: ${seen.map(_.name)}")
    val m = seen.head.taskMetrics
    assert(m.shuffleWriteMetrics.bytesWritten == 0 && m.shuffleReadMetrics.totalBytesRead == 0)
    // the reduce across partitions: union on names, smaller type name
    assert(r.schema("demo", "a").get.map(f => f.name -> f.tpe.name).toMap ==
      Map("x" -> "DOUBLE", "y" -> "STRING", "w" -> "DOUBLE"))
    assert(r.schema("demo", "b").get.map(_.name) == Seq("z"))
  }

  test("date/timestamp inference: the leading-year guard answers as the " +
    "unguarded parse does") {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    import java.time.format.DateTimeFormatter
    import scala.util.Try
    // the bodies before the guard, verbatim
    val formats = Seq(
      DateTimeFormatter.ISO_LOCAL_DATE_TIME,
      DateTimeFormatter.ofPattern("yyyy-M-d H:m:s.SSS"),
      DateTimeFormatter.ofPattern("yyyy-M-d H:m:s"),
      DateTimeFormatter.ofPattern("yyyy-M-d H:m"))
    def unguardedDate(s: String): Option[LocalDate] =
      if (s.length == 10) Try(LocalDate.parse(s)).toOption else None
    def unguardedTimestamp(s: String): Option[Instant] =
      if (s.length <= 12) None
      else Try(Instant.parse(s)).toOption
        .orElse(formats.view.flatMap(f =>
          Try(LocalDateTime.parse(s.replace('T', ' ').replaceFirst(" ", " "), f))
            .orElse(Try(LocalDateTime.parse(s, f))).toOption)
          .headOption.map(_.toInstant(ZoneOffset.UTC)))
    val shapes = Seq(
      "2026-01-15", "2026-1-5", "2026-01-15T10:30:00", "2026-01-15T10:30:00.123",
      "2026-01-15T10:30:00Z", "2026-01-15T10:30:00.123456Z",
      "2026-1-5 1:2:3.456", "2026-01-15 10:30:00.000", "2026-1-5 1:2:3",
      "2026-01-15 10:30:00", "2026-1-5 1:2", "2026-01-15 10:30",
      "+12026-01-15T10:30:00", "+12026-01-15T10:30:00Z", "-0001-01-01T00:00:00Z",
      "+2026-01-15", "-2026-01-15", "+10000-01-01 00:00", "-12-01-01", "+1-01-01T00:00",
      "12345678901234", "2026-13-45 99:99:99", "2026-02-30", "0000-01-01", "1999-12-31")
    val padded = shapes.flatMap(s => Seq(" " + s, "\t" + s, s + " ", "T" + s, "x" + s))
    val corpus = shapes ++ padded ++ graft.analytics.MapperQueries.uaSamples ++
      graft.analytics.MapperQueries.refSamples ++
      Seq("", "a", "summer", "2026", "Mozilla/5.0", "https://a.b/2026-01-15T10:30:00")
    corpus.foreach { s =>
      assert(JsonIngest.parseDate(s) == unguardedDate(s), s"date: '$s'")
      assert(JsonIngest.parseTimestamp(s) == unguardedTimestamp(s), s"timestamp: '$s'")
    }
    // the corpus reaches both answers of both functions
    assert(shapes.count(JsonIngest.parseDate(_).isDefined) >= 3)
    assert(shapes.count(JsonIngest.parseTimestamp(_).isDefined) >= 10)
    assert(corpus.count(JsonIngest.parseTimestamp(_).isEmpty) > 100)
  }
}
