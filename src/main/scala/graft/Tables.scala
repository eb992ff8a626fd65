package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table access (see TESTDATA.md).
  *
  * Tables are driver-generated parquet under `/root/testdata/sf*`; the
  * `events` table plays the rakam event collection (reference:
  * rakam-spi/src/main/java/org/rakam/collection/Event.java), `customer`
  * plays the `_users` profile table. [[apply]] is the one read path: a
  * plain `spark.read.parquet` plus the `ts` normalization below, so
  * Catalyst keeps predicate pushdown and column pruning against the
  * scan, and scan parallelism is what the files' splits give, so the
  * plan the oracle verifies is the plan a large table is served with.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs. `nanosAsLong` lets the
    * parquet reader accept TIMESTAMP(NANOS) columns (events.ts) as raw
    * nanos, which [[apply]] then converts losslessly to microsecond
    * TIMESTAMP_NTZ — same floor-truncation DuckDB applies, so oracle
    * results agree.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes Spark's JVM-wide cache
    * of compiled generated classes to the working set. Spark's default,
    * 100 split over 4 LRU segments, evicted the collect stage after one
    * round of the gateway's analysis doors and made every warm registry
    * execution recompile ~26 classes. Measured with an unbounded cache,
    * three warm passes: the gateway's doors (collect, batch, bulk
    * JSON/CSV/Avro, pixel, segmentation, funnel, retention, query)
    * compile 156 distinct classes; with the benchmark's 8 registry
    * queries, 359–365 classes holding 5.8–6.0 MB of source (the
    * collect stage alone is 0.43 MB). 1000 is ~2.8× that working set,
    * so per-segment imbalance does not evict it. It is a static
    * conf: it only takes effect on a session builder, before the first
    * query compiles, and `spark.conf.set` rejects it. */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** The local session of the command-line mains (Bench, Verify,
    * ExplainDump, the `graft.tools` probes): `local[n]` with n shuffle
    * partitions, the graft extensions and [[sessionConfigs]] (so the
    * session timezone is UTC whatever the JVM's flags say). n is
    * `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def localSession(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    df.schema.fields.find(_.name == "ts") match {
      // NANOS read as long: integer-div (not double-div — ns magnitudes
      // exceed 2^53) to micros, then to wall-clock NTZ in the UTC session.
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000"))
            .cast("timestamp_ntz"))
      case _ => df
    }
  }
}

/** One engine query: a DataFrame builder plus (optionally) the ANSI-SQL
  * twin executed by the DuckDB oracle over the same parquet tables. The
  * driver hash-compares both results with columns sorted by name, so
  * every computed column is aliased identically on both sides.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def of(sql: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, Some(sql))
}
