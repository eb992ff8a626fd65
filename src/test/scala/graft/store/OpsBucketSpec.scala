package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bucketed ops-log layout (r17): id-hash directory partitions so
  * a point lookup partition-prunes to one bucket instead of scanning
  * the whole log, an erasure rewrites one bucket, and a pre-bucketed
  * log migrates in one row-preserving commit. */
class OpsBucketSpec extends SparkSpec {
  import spark.implicits._

  private def ops(ids: Seq[String]) = ids.zipWithIndex
    .map { case (id, i) => ("demo", id, 1000L + i, i.toLong, "set",
      Map("k" -> s"v$i")) }
    .toDF("project", "id", "ts", "seq", "kind", "props")

  test("point lookup partition-prunes to ONE bucket: the foldable " +
    "bucket predicate reaches the file index, not just the row groups") {
    val table = graft.TempDirs.scratch("graft-opsbucket").toString
    val ids = (0 until 40).map(i => s"user$i")
    EventStore.appendPartitioned(
      ops(ids).withColumn(EventStore.OpsBucketCol,
        EventStore.opsBucket(col("id"))),
      table, Seq(EventStore.OpsBucketCol))

    val scan = EventStore.scanRaw(spark, table, Seq("_month"))
    val allBuckets = scan.select(EventStore.OpsBucketCol).distinct().count()
    assert(allBuckets > 5, s"fixture spread over only $allBuckets buckets")

    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val fs = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      fs.metrics("numFiles").value
    }
    val full = numFiles(scan.filter(col("id") === "user7"))
    val pruned = numFiles(scan.filter(
      col(EventStore.OpsBucketCol) === EventStore.opsBucket(lit("user7")) &&
        col("id") === "user7"))
    assert(pruned < full,
      s"bucket predicate pruned nothing: $pruned vs $full files")
    assert(pruned <= math.max(1L, full / 5),
      s"pruning too weak: $pruned of $full files read")
  }

  test("bucketizeTable migrates a root-level log in one row-preserving " +
    "commit; erasure then rewrites ONE bucket, leaving every other " +
    "bucket's files byte-identical (same rels)") {
    val table = graft.TempDirs.scratch("graft-opsmigrate").toString
    val ids = (0 until 30).map(i => s"user$i")
    // the pre-r17.5 layout: root-level files, manifest-committed
    EventStore.appendPartitioned(ops(ids), table, Seq.empty)
    val legacyRels = TableManifest.latest(table).get._2
    assert(legacyRels.nonEmpty && legacyRels.forall(!_.contains("/")))

    assert(EventStore.bucketizeTable(spark, table, "id"))
    val bucketed = TableManifest.latest(table).get._2
    assert(bucketed.forall(_.startsWith(s"${EventStore.OpsBucketCol}=")),
      s"migration left non-bucketed rels: $bucketed")
    // row-preserving, note=compact (the diff governance flag must not
    // see the migration as a row-removing rewrite)
    val back = EventStore.scanRaw(spark, table, Seq("_month"))
    assert(back.select("id").collect().map(_.getString(0)).sorted
      .toSeq == ids.sorted)
    val v = TableManifest.latestVersion(table).get
    assert(TableManifest.commitNote(table, v).contains("compact"))
    // re-running the migration is a no-op (nothing legacy remains)
    assert(!EventStore.bucketizeTable(spark, table, "id"))

    // bucket-scoped erasure: only user3's bucket is rewritten
    val before = TableManifest.latest(table).get._2
    val erasedBucket = s"${EventStore.OpsBucketCol}=" +
      spark.range(1).select(EventStore.opsBucket(lit("user3")))
        .head.getInt(0) + "/"
    val hits = EventStore.eraseRows(spark, table, "id", "user3",
      vacuumGraceMs = 0L)
    assert(hits == 1L, s"expected 1 erased op, got $hits")
    val after = TableManifest.latest(table).get._2
    val untouchedBefore = before.filterNot(_.startsWith(erasedBucket))
    assert(untouchedBefore.subsetOf(after),
      "erasure rewrote files outside the user's bucket")
    assert(after.filter(_.startsWith(erasedBucket))
      .forall(!before.contains(_)),
      "the erased bucket's files were not replaced")
    val survivors = EventStore.scanRaw(spark, table, Seq("_month"))
      .select("id").collect().map(_.getString(0))
    assert(!survivors.contains("user3") && survivors.length == ids.size - 1)
  }
}
