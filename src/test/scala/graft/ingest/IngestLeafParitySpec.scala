package graft.ingest

import graft.SparkSpec
import graft.core.SchemaRegistry

/** `JsonIngest` has two leaves over the same per-partition functions:
  * the distributed one (`RDD[String]`, run in `mapPartitions`) and the
  * local one (`Seq[String]`, run on the driver into local relations).
  * Fed the same lines, they must agree on everything a caller or a later
  * batch can see: typed rows, dead letters, rejected fields, and the
  * persisted registry (column order and USER_TYPE). */
class IngestLeafParitySpec extends SparkSpec {
  import IngestLeafParitySpec.Seen

  private val long = "x" * 150

  /** A batch that reaches every branch of the digest, the schema fold and
    * the typed parse. */
  private val corpus = Seq(
    """{"collection": "a", "properties": {""", // malformed JSON
    """{"properties": {"v": 1}}""", // no collection
    """{"collection": null, "properties": {"v": 1}}""",
    """{"collection": 5, "properties": {"v": 1}}""",
    """{"collection": {"name": "a"}, "properties": {"v": 1}}""",
    """{"collection": "a", "api": {"uuid": "e-noprops"}}""", // no properties
    """{"collection": "a", "properties": null}""",
    """{"collection": "a", "properties": 7}""",
    """{"collection": "a", "properties": ["v", 1]}""",
    """{"collection": "empty", "properties": {}}""", // nothing storable
    // collection a: numeric _user, an in-batch type conflict on v,
    // nested objects and arrays, a long string, an unparseable _time
    """{"collection": "a", "api": {"uuid": "e1"}, "properties": {"_user": 7, "_time": "2026-01-15 10:00:00.000", "v": 1.5, "s": "short", "d": "2026-01-10", "b": true, "m": {"k": "v", "n": {"deep": 1}}, "xs": [1, 2], "ys": [{"a": 1}, [2]], "Mixed Case": "y"}}""",
    s"""{"collection": "a", "api": {"uuid": "e2"}, "properties": {"_user": 8, "_time": "not a time", "v": "text", "s": "$long", "xs": 3, "m": {"k": 5}}}""",
    """{"collection": "A", "properties": {"_user": "9", "v": 2, "extra": null, "arr": []}}""",
    // epoch days a DATE cannot hold (d is DATE: it wins the in-batch
    // DATE/DOUBLE conflict)
    """{"collection": "a", "properties": {"_user": 12, "d": -1e30}}""",
    // collection b: a string _user, so one collection's _user type loses
    """{"collection": "b", "api": {"uuid": "e3"}, "properties": {"_user": "u-1", "_time": 1768471200000, "w": "2026-01-15T10:00:00Z"}}""",
    """{"collection": "b", "properties": {"_user": "u-2", "w": 12, "z": false}}""",
    // epoch millis a TIMESTAMP cannot hold
    """{"collection": "b", "properties": {"_user": "u-3", "_time": 99999999999999999999}}""",
    """{"collection": "b", "properties": {"_user": "u-4", "_time": -1e30}}""")

  /** A second batch over the first one's registry: evolution by new
    * fields, a value that no longer fits its column. */
  private val followUp = Seq(
    """{"collection": "a", "properties": {"_user": 10, "v": "again text", "new1": 1, "new2": "n"}}""",
    """{"collection": "b", "properties": {"_user": 11, "w": "s", "new3": [true]}}""",
    """{"collection": "c", "properties": {"f1": 1, "f2": 2, "f3": 3, "f4": 4, "f5": 5, "f6": "six"}}""")

  /** Runs both batches through one leaf against a fresh persisted
    * registry and records what the caller sees. */
  private def run(ingest: (SchemaRegistry, Seq[String]) => JsonIngest.IngestResult): Seq[Seen] = {
    val dir = graft.TempDirs.scratch("leaf-parity-registry")
    val registry = SchemaRegistry.persistent(dir.toString)
    Seq(corpus, followUp).map { lines =>
      val res = ingest(registry, lines)
      try Seen(
        res.byCollection.map { case (c, df) =>
          c -> (df.schema.treeString, df.collect().toSeq.map(_.toString))
        },
        res.deadLetter.collect().toSeq.map(_.toString),
        res.rejectedFields,
        java.nio.file.Files.readString(dir.resolve("demo.json")))
      finally res.unpersist()
    }
  }

  test("the local leaf sees exactly what the distributed leaf sees") {
    val distributed = run((r, lines) =>
      JsonIngest.ingest(spark, r, "demo", spark.sparkContext.parallelize(lines, 1)))
    val local = run((r, lines) => JsonIngest.ingest(spark, r, "demo", lines))
    // the corpus reaches the branches it is meant to
    val first = distributed.head
    assert(first.byCollection.keySet == Set("a", "b"), first.byCollection.keySet)
    assert(first.byCollection("a")._2.size == 4 && first.byCollection("b")._2.size == 4)
    Seq("properties is missing", "collection has no storable fields",
      "cannot parse TIMESTAMP", "cannot parse number",
      "epoch days out of range for DATE",
      "epoch millis out of range for TIMESTAMP").foreach { err =>
      assert(first.deadLetters.exists(_.contains(err)), (err, first.deadLetters))
    }
    assert(first.registryFile.contains("\"USER_TYPE\":\"LONG\""), first.registryFile)
    assert(first.byCollection("a")._2.exists(_.contains("x" * 100)))
    assert(!first.byCollection("a")._2.exists(_.contains("x" * 101)))
    assert(distributed.last.byCollection.keySet == Set("a", "b", "c"))
    assert(distributed.last.deadLetters.nonEmpty)

    distributed.zip(local).zipWithIndex.foreach { case ((d, l), batch) =>
      assert(l.byCollection.keySet == d.byCollection.keySet, s"batch $batch")
      d.byCollection.foreach { case (c, (schema, rows)) =>
        assert(l.byCollection(c)._1 == schema, s"batch $batch, $c schema")
        assert(l.byCollection(c)._2 == rows, s"batch $batch, $c rows")
      }
      assert(l.deadLetters == d.deadLetters, s"batch $batch dead letters")
      assert(l.rejected == d.rejected, s"batch $batch rejected fields")
      assert(l.registryFile == d.registryFile, s"batch $batch registry")
    }
  }

  test("the local leaf's frames are local relations: collecting them runs " +
    "no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val res = JsonIngest.ingest(spark, SchemaRegistry.inMemory(), "demo", corpus)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      res.byCollection.values.foreach(_.collect())
      assert(!res.deadLetter.isEmpty)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0, s"${jobs.get()} jobs")
  }
}

object IngestLeafParitySpec {
  /** What one batch showed its caller: per collection the schema and
    * rows, the dead letters, the rejected fields and the registry file. */
  final case class Seen(byCollection: Map[String, (String, Seq[String])],
      deadLetters: Seq[String], rejected: Seq[(String, String, String)],
      registryFile: String)
}
