package graft.store

import graft.SparkSpec
import graft.core.{FieldType, SchemaRegistry}
import graft.ingest.AvroIngest
import org.apache.spark.sql.functions._

class SinksAndCustomMapperSpec extends SparkSpec {
  import spark.implicits._

  test("S9: kafka shape — topic per project_collection, magic fields dropped") {
    val df = Seq(("u1", "1.2.3.4", 5.0)).toDF("_user", "_ip", "value")
    val shaped = StreamSinks.kafkaShape(df, "p", "pageview").collect().head
    assert(shaped.getAs[String]("topic") == "p_pageview")
    assert(shaped.getAs[String]("key") == "u1")
    assert(!shaped.getAs[String]("value").contains("_ip")) // source field excluded
    assert(shaped.getAs[String]("value").contains("\"value\":5.0"))
  }

  test("S10: salted shard keys are deterministic and spread") {
    val df = spark.range(1000).select($"id", lit("hot_user").as("_user"))
    val keys = StreamSinks.saltedShards(df, "p", "c", 16)
      .select("_shard_key").distinct().collect().map(_.getString(0))
    assert(keys.length > 8 && keys.length <= 16) // skewed key fans out
    val again = StreamSinks.saltedShards(df, "p", "c", 16)
      .select("_shard_key").distinct().collect().map(_.getString(0))
    assert(keys.sorted.toSeq == again.sorted.toSeq) // replay-safe
  }

  test("S11: avro bulk blobs + manifest round-trip through AvroIngest") {
    val dir = graft.TempDirs.scratch("graft-bulk").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("event_id", "name", "value").repartition(2)
    val manifest = StreamSinks.avroBulk(df, dir, "p", "events")
    val blobs = manifest.collect()
    assert(blobs.map(_.getAs[Long]("n_events")).sum == 3)
    assert(blobs.forall(_.getAs[String]("blob").endsWith(".avro")))

    val r = SchemaRegistry.inMemory()
    r.getOrCreate("p", "events", Seq(
      r.Field("event_id", FieldType.LONG),
      r.Field("name", FieldType.STRING),
      r.Field("value", FieldType.DOUBLE)))
    val back = AvroIngest.ingest(spark, r, "p", "events", s"$dir/*.avro")
    assert(back.count() == 3)
    assert(back.agg(sum("value")).collect().head.getDouble(0) == 7.5)
  }
}
