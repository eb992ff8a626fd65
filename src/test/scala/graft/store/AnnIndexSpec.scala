package graft.store

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN index's operating contract: query results are invariant to
  * how the corpus was batched in (centroids frozen at bootstrap, exact
  * scoring within probed cells), the replay fence makes appends
  * exactly-once under at-least-once delivery, and the probe's scan
  * actually prunes to the probed cells' partitions — the property that
  * makes query IO ≈ probes/K of the index at any corpus size. */
class AnnIndexSpec extends SparkSpec {

  private def emb: DataFrame = Tables(spark, sf("sf0.001"), "embeddings")

  private def freshDir() =
    graft.TempDirs.scratch("graft-ann").toString

  private def topk(path: String): Seq[(Long, Double)] =
    AnnIndex.query(spark, path,
      emb.filter(col("vec_id") === 0L).select(col("embedding")),
      k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq

  test("query results are invariant under append batching (1 vs 3 batches)") {
    val one = freshDir()
    AnnIndex.initialize(emb, one)
    val reference = topk(one)
    assert(reference.size == 10)

    val three = freshDir()
    val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    AnnIndex.initialize(emb.filter(col("vec_id") <= mx / 3), three)
    AnnIndex.append(spark, emb.filter(
      col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3), three, 2L)
    AnnIndex.append(spark, emb.filter(col("vec_id") > 2 * mx / 3), three, 3L)
    assert(topk(three) == reference,
      "batch boundaries changed the served neighbors")
  }

  test("replayed append hits the version fence and is a no-op") {
    val dir = freshDir()
    val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val delta = emb.filter(col("vec_id") > mx / 2)
    AnnIndex.initialize(emb.filter(col("vec_id") <= mx / 2), dir)
    assert(AnnIndex.append(spark, delta, dir, 2L))
    val before = topk(dir)
    assert(!AnnIndex.append(spark, delta, dir, 2L), "replay must be refused")
    assert(topk(dir) == before)
    val n = AnnIndex.postings(spark, dir).count()
    assert(n == emb.count(), s"postings $n != corpus ${emb.count()} — dup rows")
  }

  test("probe scan prunes to the probed cells' partitions") {
    val dir = freshDir()
    AnnIndex.initialize(emb, dir)
    val q = AnnIndex.query(spark, dir,
      emb.filter(col("vec_id") === 0L).select(col("embedding")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("cell#"),
      s"cell filter did not reach partition pruning:\n$plan")
  }

  test("bootstrap without the seed vectors is refused") {
    val dir = freshDir()
    intercept[IllegalArgumentException] {
      AnnIndex.initialize(emb.filter(col("vec_id") >= 100), dir)
    }
  }

  test("compactPostings folds the version history into one dir; serving, " +
    "the batch fence, and later appends all survive") {
    val dir = freshDir()
    val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val q = mx / 4
    AnnIndex.initialize(emb.filter(col("vec_id") <= q), dir)
    AnnIndex.maintainBatch(
      emb.filter(col("vec_id") > q && col("vec_id") <= 2 * q), dir, 0L)
    AnnIndex.maintainBatch(
      emb.filter(col("vec_id") > 2 * q && col("vec_id") <= 3 * q), dir, 1L)
    val before = AnnIndex.postings(spark, dir).count()

    AnnIndex.compactPostings(spark, dir)
    assert(VersionedState.currentVersion(dir) == 4L)
    assert(VersionedState.lastBatchId(dir) == 1L,
      "compaction lost the streaming batch fence")
    assert(AnnIndex.postings(spark, dir).count() == before,
      "compaction changed the postings")
    val live = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v="))
    assert(live == 1, s"superseded version dirs not removed ($live left)")
    // each cell is one file after consolidation
    val cellDirs = new java.io.File(s"$dir/v=4").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    // replay of a pre-compaction batch is still fenced; a new batch lands
    AnnIndex.maintainBatch(
      emb.filter(col("vec_id") > 2 * q && col("vec_id") <= 3 * q), dir, 1L)
    assert(AnnIndex.postings(spark, dir).count() == before)
    AnnIndex.maintainBatch(emb.filter(col("vec_id") > 3 * q), dir, 2L)
    assert(AnnIndex.postings(spark, dir).count() == emb.count())
    // compacted + appended index serves exactly the one-shot index
    val one = freshDir()
    AnnIndex.initialize(emb, one)
    assert(topk(dir) == topk(one))
  }

  test("reseed retrains centroids from the stored corpus, reassigns " +
    "postings, and flips generations behind the version fence") {
    val dir = freshDir()
    val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    AnnIndex.initialize(emb.filter(col("vec_id") <= mx / 2), dir)
    AnnIndex.maintainBatch(emb.filter(col("vec_id") > mx / 2), dir, 0L)
    val n = AnnIndex.postings(spark, dir).count()

    AnnIndex.reseed(spark, dir)
    assert(VersionedState.currentVersion(dir) == 3L)
    assert(VersionedState.lastBatchId(dir) == 0L,
      "reseed lost the streaming batch fence")
    assert(AnnIndex.postings(spark, dir).count() == n,
      "reseed changed the corpus")
    // Lloyd actually moved the quantizer: generation-2 centroids are
    // not the bootstrap seed vectors
    val g1 = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val g2 = spark.read.parquet(s"$dir/centroids_g2")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(g1.keySet == g2.keySet, "reseed changed K")
    assert(g1.keySet.exists(c => g1(c) != g2(c)),
      "reseed left every centroid at its seed")
    // every stored posting sits in its argmax-cosine cell of the NEW
    // centroids (sampled)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    AnnIndex.postings(spark, dir).limit(20).collect().foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      // partition-column type inference reads cell back as int
      val stored = r.getAs[Number]("cell").longValue()
      val best = g2.toSeq
        .map { case (cid, cv) => (cid, cos(v, cv)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
      assert(stored == best,
        s"posting ${r.getLong(r.fieldIndex("vec_id"))} in cell $stored, " +
          s"argmax is $best")
    }
    // queries keep serving with partition pruning after the flip
    assert(topk(dir).size == 10)
    // an UNFLIPPED future generation (crash mid-reseed #2) is
    // invisible: both markers carry a version fence, and the stranded
    // base falls back to the PREVIOUS base — not to long-deleted v=1
    VersionedState.writeMarker(dir, "_GEN", "3:99")
    VersionedState.writeMarker(dir, "_BASE", "99:3")
    assert(topk(dir).size == 10,
      "crash-stranded markers broke the serving index")
  }

  test("a reseed that crashed before its flip can be retried") {
    val dir = freshDir()
    AnnIndex.initialize(emb, dir)
    // the crashed attempt left generation 2's centroids and its `_GEN`
    // marker, but never flipped the pointer to its version
    spark.read.parquet(s"$dir/centroids").write.parquet(s"$dir/centroids_g2")
    VersionedState.writeMarker(dir, "_GEN", "2:99")
    val before = topk(dir)
    assert(before.size == 10, "the unflipped generation broke serving")

    AnnIndex.reseed(spark, dir)
    assert(VersionedState.currentVersion(dir) == 2L)
    assert(VersionedState.readMarker(dir, "_GEN").contains("2:2"))
    val g1 = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val g2 = spark.read.parquet(s"$dir/centroids_g2")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(g1.keySet == g2.keySet)
    assert(g1.keySet.exists(c => g1(c) != g2(c)),
      "the retry kept the crashed attempt's stray centroids")
    assert(AnnIndex.postings(spark, dir).count() == emb.count())
    assert(topk(dir).size == 10)
  }

  test("maintain wired through a real stream appends each micro-batch") {
    val dir = freshDir()
    val inDir = graft.TempDirs.scratch("graft-ann-in").toString
    val ckpt = graft.TempDirs.scratch("graft-ann-ck").toString
    val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    AnnIndex.initialize(emb.filter(col("vec_id") <= mx / 2), dir)
    val d1 = emb.filter(col("vec_id") > mx / 2 && col("vec_id") <= 3 * mx / 4)
    val d2 = emb.filter(col("vec_id") > 3 * mx / 4)
    d1.write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(emb.schema).parquet(inDir)
    val q = AnnIndex.maintain(stream, dir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      d2.write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(AnnIndex.postings(spark, dir).count() == emb.count())
      val one = freshDir()
      AnnIndex.initialize(emb, one)
      assert(topk(dir) == topk(one))
    } finally q.stop()
  }
}
