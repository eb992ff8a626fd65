package graft.analytics

import graft.{QueryDef, Tables, TempDirs}
import graft.core.SchemaRegistry
import graft.ingest.{BatchSources, CsvIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion sources proven against the oracle end-to-end: the query
  * first *ingests* through the source under test (pixel param parsing,
  * remote-bulk CSV), then aggregates the ingested table; the DuckDB twin
  * aggregates the original parquet directly. A hash match proves the
  * source is value-preserving — parse, inference, typing and all. */
object SourceQueries {

  /** S5 pixel: every event re-encoded as a pixel GET query string
    * (`collection=…&prop.x=…`), parsed by the pixel source
    * (EventCollectionHttpService.java:278-348), inferred + typed by the
    * JSON pipeline, then aggregated. */
  def s5Pixel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // query strings are built IN the plan (codegen'd concat) so the
    // .rdd boundary ships one String per row — the old Row-based map
    // deserialized every column (including the props map) just to read
    // three fields (r17 optimization, guide §4.1: prefer built-ins and
    // project before opaque operations). coalesce guards (r17 advice):
    // concat is null-intolerant, so a null event_type/ts/user_id would
    // NULL the whole query string; the pre-r17 interpolation emitted
    // the literal text "null" and kept the row — preserved here.
    val nullLit = lit("null")
    val queries = Tables(spark, dir, "events")
      .select(concat(
        lit("collection=pixel_events&api.api_key=k1&prop._user=u"),
        coalesce($"user_id".cast("string"), nullLit),
        lit("&prop.etype="), coalesce($"event_type", nullLit),
        lit("&prop._time="),
        coalesce(unix_millis($"ts".cast("timestamp")).cast("string"),
          nullLit)).as("q"))
      .as[String].rdd
    val registry = SchemaRegistry.inMemory()
    val res = BatchSources.pixelIngest(spark, registry, "s5", queries)
    val df = res.byCollection("pixel_events")
      .groupBy($"etype")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"_user").as("n_users"),
        max(unix_millis($"_time")).as("last_time_ms"))
    df
  }

  // the pixel protocol carries _time at millisecond precision, so the
  // oracle compares at the same grain (epoch_ms floors, as does the
  // ingest-side unix_millis)
  val s5Sql: String =
    """SELECT event_type AS etype, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  max(epoch_ms(ts)) AS last_time_ms
      |FROM events GROUP BY event_type""".stripMargin

  /** S6 remote bulk: the nation table exported to CSV, fetched back
    * through the remote-bulk source by file:// URL
    * (EventCollectionHttpService.java:464-545 routes to the S3 CSV
    * reader), typed by the registry (new header columns STRING), then
    * aggregated with casts. */
  def s6RemoteBulk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val csvDir = s"${TempDirs.scratchFor("graft-s6")}/nation"
    Tables(spark, dir, "nation")
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(csvDir)
    val part = new java.io.File(csvDir).listFiles()
      .find(_.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException("no csv part written"))
    val registry = SchemaRegistry.inMemory()
    val ingested = BatchSources.remoteBulk(spark, registry, "s6",
      BatchSources.BulkEventRemote("nation", Seq(part.toURI.toString),
        BatchSources.CopyType.CSV)).byCollection("nation")
    ingested
      .select($"n_nationkey".cast("long").as("n_nationkey"),
        $"n_name", $"n_regionkey".cast("long").as("n_regionkey"))
      .groupBy($"n_regionkey")
      .agg(count(lit(1)).as("n_nations"), min($"n_name").as("first_nation"))
  }

  val s6Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
      |  count(*) AS n_nations, min(n_name) AS first_nation
      |FROM nation GROUP BY 1""".stripMargin

  /** S3 against the oracle: the CSV source's header-driven remap
    * (CsvEventDeserializer.java:67-163) — REGISTERED columns cast from
    * the CSV's strings to their registry types (event_id LONG, value
    * DOUBLE here), NEW header columns land as STRING (event_type,
    * user_id), output order follows the registry. The twin restates
    * the aggregate over the parquet the CSV was derived from, so a
    * remap/cast defect (wrong column, lossy cast, dropped rows)
    * hash-mismatches. */
  def s3Csv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.FieldType
    val csvDir = s"${TempDirs.scratchFor("graft-s3")}/events"
    Tables(spark, dir, "events")
      .select($"event_id", $"event_type", $"value", $"user_id")
      .write.option("header", "true").mode("overwrite").csv(csvDir)
    val registry = SchemaRegistry.inMemory()
    registry.getOrCreate("s3", "events", Seq(
      registry.Field("event_id", FieldType.LONG),
      registry.Field("value", FieldType.DOUBLE)))
    val ingested = CsvIngest.ingest(spark, registry, "s3", "events", csvDir)
    // type contract is part of the check: registered columns came back
    // typed (a string-typed event_id would null out under the LONG
    // filter), new columns are strings
    ingested
      .filter($"event_id".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"),
        countDistinct($"user_id").as("n_users"))
  }

  val s3Sql: String =
    s"""SELECT event_type, count(*) AS n_events,
       |  ${sqlDsum("value")} AS sum_value,
       |  count(DISTINCT user_id) AS n_users
       |FROM events GROUP BY 1""".stripMargin

  /** S4 against the oracle: Avro reader-schema resolution
    * (AvroEventDeserializer.java:26-45) — the container is written
    * under an OLDER schema (no n_comment, plus a legacy field the
    * registry never knew), the registry's current schema is the reader:
    * the extra writer field drops, the missing registered field fills
    * null (count(n_comment) = 0 is part of the oracle contract), and
    * every surviving value round-trips. The 25-row driver-side write is
    * |nation|-bounded fixture construction, not a data-sized collect. */
  def s4Avro(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.core.FieldType
    import graft.ingest.AvroIngest
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.spark.sql.types.{LongType, StringType}
    val rows = Tables(spark, dir, "nation")
      .select($"n_nationkey".cast("long"), $"n_name", $"n_regionkey".cast("long"))
      .collect()
    val writerSchema = AvroIngest.avroSchema("nation", Seq(
      "n_nationkey" -> LongType, "n_name" -> StringType,
      "n_regionkey" -> LongType, "legacy_junk" -> StringType))
    val f = TempDirs.scratchFor("graft-s4").resolve("nation.avro").toFile
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](writerSchema))
    w.create(writerSchema, f)
    rows.foreach { r =>
      val rec = new GenericData.Record(writerSchema)
      rec.put("n_nationkey", r.getLong(0))
      rec.put("n_name", r.getString(1))
      rec.put("n_regionkey", r.getLong(2))
      rec.put("legacy_junk", "dropped-on-read")
      w.append(rec)
    }
    w.close()
    val registry = SchemaRegistry.inMemory()
    registry.getOrCreate("s4", "nation", Seq(
      registry.Field("n_nationkey", FieldType.LONG),
      registry.Field("n_name", FieldType.STRING),
      registry.Field("n_regionkey", FieldType.LONG),
      registry.Field("n_comment", FieldType.STRING)))
    AvroIngest.ingest(spark, registry, "s4", "nation", f.toString)
      .groupBy($"n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
        max($"n_name").as("last_nation"),
        count($"n_comment").as("n_comments"))
  }

  val s4Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
      |  count(*) AS n_nations, max(n_name) AS last_nation,
      |  CAST(0 AS BIGINT) AS n_comments
      |FROM nation GROUP BY 1""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "s3_csv" -> QueryDef.of(s3Sql)(s3Csv),
    "s4_avro" -> QueryDef.of(s4Sql)(s4Avro),
    "s5_pixel" -> QueryDef.of(s5Sql)(s5Pixel),
    "s6_remote_bulk" -> QueryDef.of(s6Sql)(s6RemoteBulk)
  )
}
