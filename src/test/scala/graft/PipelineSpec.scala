package graft

import graft.core.SchemaRegistry
import graft.enrich.{MapperPipeline, TimestampMapper}
import graft.ingest.JsonIngest
import graft.multimodal.Multimodal
import graft.store.EventStore
import org.apache.spark.sql.functions._

/** SURVEY §7.2 minimum end-to-end slice: mixed-schema JSON → infer →
  * enrich (M1) → partitioned store → evolved read → segmentation —
  * every subsystem exercised once, plus the multimodal column path. */
class PipelineSpec extends SparkSpec {

  test("end-to-end: ingest → enrich → store → read → aggregate") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-wh").toString
    val now = 1_700_000_000_000L

    // batch 1: two events, one missing _time
    val b1 = JsonIngest.ingest(spark, registry, "demo", spark.sparkContext.parallelize(Seq(
      """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-01-15 10:30:00.000", "page": "/a"}}""",
      """{"collection": "pageview", "properties": {"_user": "u2", "page": "/b"}}""")))
    val enriched1 = MapperPipeline.run(b1.byCollection("pageview"), Seq(TimestampMapper(now)))
    EventStore.write(enriched1, warehouse, "demo", "pageview")

    // batch 2 evolves the schema (adds `referrer`)
    val b2 = JsonIngest.ingest(spark, registry, "demo", spark.sparkContext.parallelize(Seq(
      """{"collection": "pageview", "properties": {"_user": "u1", "_time": "2026-02-01 09:00:00.000", "page": "/a", "referrer": "google"}}""")))
    EventStore.write(MapperPipeline.run(b2.byCollection("pageview"), Seq(TimestampMapper(now))),
      warehouse, "demo", "pageview")

    val back = EventStore.read(spark, registry, warehouse, "demo", "pageview")
    // registry order + null-filled referrer on old rows
    assert(back.columns.take(3).toSeq == Seq("_user", "_time", "page"))
    assert(back.count() == 3)
    assert(back.filter(col("referrer").isNull).count() == 2)
    // month partitions materialized from _time
    val months = back.select("_month").distinct().collect().map(_.getString(0)).toSet
    assert(months.contains("2026-01") && months.contains("2026-02"))
    // partition pruning: filter on _month reads one partition
    assert(back.filter(col("_month") === "2026-02").count() == 1)

    // segmentation over the stored table (A4 shape)
    val seg = back.groupBy(col("page")).agg(countDistinct(col("_user")).as("users"))
    assert(seg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("/a" -> 1L, "/b" -> 1L))
  }

  test("dead letters persist to the invalid_schema table with event identity") {
    val registry = SchemaRegistry.inMemory()
    val warehouse = graft.TempDirs.scratch("graft-wh2").toString
    JsonIngest.ingest(spark, registry, "demo", spark.sparkContext.parallelize(Seq(
      """{"collection": "c", "properties": {"n": 1.0}}""")))
    val bad = JsonIngest.ingest(spark, registry, "demo", spark.sparkContext.parallelize(Seq(
      """{"collection": "c", "api": {"uuid": "e-42"}, "properties": {"n": "junk", "_user": "u9", "_time": "2026-03-01 08:00:00.000"}}""")))
    EventStore.writeDeadLetter(bad.deadLetter, warehouse, "demo")
    bad.unpersist()
    val dl = spark.read.parquet(s"$warehouse/demo/invalid_schema")
    assert(dl.count() == 1)
    val row = dl.collect().head
    assert(row.getAs[String]("property") == "n")
    // replay identity (JsonEventDeserializer.java:85-93)
    assert(row.getAs[String]("event_id") == "e-42")
    assert(row.getAs[String]("_user") == "u9")
    assert(row.getAs[java.sql.Timestamp]("_time") != null)
  }

  test("multimodal: media schema, deterministic features, frame sampling") {
    val docs = Tables(spark, sf(), "documents").limit(50)
    val media = Multimodal.asMedia(docs)
    assert(media.schema("bytes").dataType.typeName == "binary")

    val feats = Multimodal.extractFeatures(media, dim = 4).collect()
    assert(feats.forall(_.getAs[scala.collection.Seq[Float]]("embedding").size == 4))
    val again = Multimodal.extractFeatures(media, dim = 4).collect()
    assert(feats.map(_.getAs[scala.collection.Seq[Float]]("embedding")).toSeq ==
      again.map(_.getAs[scala.collection.Seq[Float]]("embedding")).toSeq)

    val frames = Multimodal.sampleFrames(media.limit(3), everyNth = 100, maxFrames = 5)
    val byDoc = frames.groupBy("doc_id").count().collect()
    assert(byDoc.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5))
    assert(frames.columns.contains("frame_offset"))
  }

  test("multimodal: resize bounds payloads and records both sizes") {
    val media = Multimodal.asMedia(Tables(spark, sf(), "documents").limit(50))
    val resized = Multimodal.resize(media, targetBytes = 100)
    val rows = resized
      .selectExpr("length(bytes) AS n", "meta['orig_bytes'] AS o",
        "meta['resized_bytes'] AS r", "meta['lang'] AS lang")
      .collect()
    assert(rows.forall(_.getInt(0) <= 100))
    assert(rows.forall(r => r.getString(1).toInt >= r.getString(2).toInt))
    assert(rows.forall(r => r.getInt(0) == r.getString(2).toInt))
    assert(rows.forall(_.getString(3) != null)) // original metadata kept
  }

  test("multimodal: batched decoder matches the expression path, any batch size") {
    val media = Multimodal.asMedia(Tables(spark, sf(), "documents").limit(100))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
      .toMap
    val viaExpr = asMap(Multimodal.extractFeatures(media, dim = 4)
      .select(col("doc_id"), col("embedding")))
    val dec = new PipelineSpec.HashBatchDecoder(4)
    // batch boundaries must not change results — a ragged final batch
    // (size 7) and a full-width one (64) agree with the expression path
    for (bs <- Seq(7, 64)) {
      val viaBatch = asMap(Multimodal.extractFeaturesBatched(media, dec, bs)
        .select(col("doc_id"), col("embedding")))
      assert(viaBatch == viaExpr, s"batchSize=$bs diverged")
    }
  }
}

object PipelineSpec {

  /** A batch decoder with the same per-payload features as
    * `Multimodal.featureVector`, computed JVM-side: deterministic, so
    * the column-expression path and the batched path compare equal.
    * An FFI- or ONNX-backed decoder plugs into the same seam. */
  final class HashBatchDecoder(dim: Int) extends Multimodal.BatchDecoder {
    def decode(payloads: Seq[Array[Byte]]): Seq[Array[Float]] =
      payloads.map { bytes =>
        val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        Array.tabulate(dim) { i =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$i|$s".getBytes("UTF-8"))
            .take(8).map("%02x".format(_)).mkString.take(15)
          (java.lang.Long.parseLong(hex, 16) / 1.152921504606847e18).toFloat
        }
      }
  }
}
