package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan/filter/projection operators and the scalar-function surface
  * (SURVEY.md §2.1, §2.2, §2.8). Filters use `expr(...)` strings where
  * the reference accepts SQL predicates (stream subscriptions, P3) so
  * Catalyst parses exactly what a subscriber would send; every predicate
  * here reaches the parquet scan as a PushedFilter.
  */
object ScanQueries {

  /** P3 stream-filter predicate + P4 projection: a continuous-query
    * subscription filter evaluated as a plain Catalyst predicate
    * (reference CollectionStreamQuery.java:20-39). */
  def p3StreamFilter(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .filter(expr("event_type = 'click' AND value > 100.0"))
      .select("event_id", "user_id", "ts", "value")

  val p3Sql: String =
    """SELECT event_id, user_id, ts, value FROM events
      |WHERE event_type = 'click' AND value > 100.0""".stripMargin

  /** P2 collection-exclude filter (reference ProjectConfig.java:82-90):
    * configured collections dropped before analytics. */
  def p2Exclude(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .filter(!$"event_type".isin("error", "signup"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"))
  }

  val p2Sql: String =
    """SELECT event_type, count(*) AS n_events FROM events
      |WHERE event_type NOT IN ('error', 'signup') GROUP BY event_type""".stripMargin

  /** S1/F11: JSON property extraction — `props` is the schemaless event
    * property bag; extract `k`, type it, aggregate (the schema-on-read
    * half of JsonEventDeserializer). */
  def s1JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_events"), countDistinct($"user_id").as("n_users"))
  }

  val s1Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** S2/F15: MD5 body checksum (reference EventListDeserializer.java:149-154). */
  def s2Checksum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .withColumn("checksum",
        md5(concat_ws("|", $"event_id".cast("string"), $"event_type")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), min($"checksum").as("min_checksum"))
  }

  val s2Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  min(md5(concat_ws('|', CAST(event_id AS VARCHAR), event_type))) AS min_checksum
      |FROM events GROUP BY event_type""".stripMargin

  /** F4/F5/F8 date/time function gallery over event timestamps. */
  def fDates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(
        $"event_id",
        year($"ts").as("y"),
        month($"ts").as("m"),
        dayofmonth($"ts").as("d"),
        hour($"ts").as("h"),
        minute($"ts").as("mi"),
        to_date($"ts").as("event_date"),
        date_trunc("week", $"ts").as("week_start"),
        unix_micros($"ts".cast("timestamp")).as("epoch_us"))
  }

  val fDatesSql: String =
    """SELECT event_id,
      |  CAST(extract(year FROM ts) AS INT) AS y,
      |  CAST(extract(month FROM ts) AS INT) AS m,
      |  CAST(extract(day FROM ts) AS INT) AS d,
      |  CAST(extract(hour FROM ts) AS INT) AS h,
      |  CAST(extract(minute FROM ts) AS INT) AS mi,
      |  CAST(ts AS DATE) AS event_date,
      |  CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
      |  epoch_us(ts) AS epoch_us
      |FROM events""".stripMargin

  /** F1-F3/F15 string gallery over documents: truncate-to-100 (F2),
    * lower (F3), length, tokenization seams, md5 fingerprint. */
  def fStrings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(
        $"doc_id",
        lower(substring($"text", 1, 100)).as("prefix100"),
        length($"text").as("n_chars_computed"),
        split_part($"text", lit(" "), lit(1)).as("first_token"),
        md5($"text").as("text_md5"),
        concat_ws("/", $"lang", $"source").as("lang_source"))
  }

  val fStringsSql: String =
    """SELECT doc_id,
      |  lower(substring(text, 1, 100)) AS prefix100,
      |  length(text) AS n_chars_computed,
      |  split_part(text, ' ', 1) AS first_token,
      |  md5(text) AS text_md5,
      |  concat_ws('/', lang, source) AS lang_source
      |FROM documents""".stripMargin

  /** F9 coercion gallery: string→long, floor-cast double→long,
    * long→string, boolean from predicate (the forgiving-cast surface of
    * AvroUtil.java:120-200 restated as try_cast semantics). */
  def fCasts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .select(
        $"event_id",
        get_json_object($"props", "$.k").cast("long").as("k_long"),
        floor($"value").cast("long").as("value_floor"),
        $"event_id".cast("string").as("id_str"),
        ($"value" > 100.0).as("is_big"),
        expr("try_cast(event_type AS DOUBLE)").as("bad_cast"))
  }

  val fCastsSql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
      |  CAST(floor(value) AS BIGINT) AS value_floor,
      |  CAST(event_id AS VARCHAR) AS id_str,
      |  value > 100.0 AS is_big,
      |  TRY_CAST(event_type AS DOUBLE) AS bad_cast
      |FROM events""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "p3_stream_filter" -> QueryDef.of(p3Sql)(p3StreamFilter),
    "p2_exclude_filter" -> QueryDef.of(p2Sql)(p2Exclude),
    "s1_json_extract" -> QueryDef.of(s1Sql)(s1JsonExtract),
    "s2_checksum" -> QueryDef.of(s2Sql)(s2Checksum),
    "f_dates" -> QueryDef.of(fDatesSql)(fDates),
    "f_strings" -> QueryDef.of(fStringsSql)(fStrings),
    "f_casts" -> QueryDef.of(fCastsSql)(fCasts)
  )
}
