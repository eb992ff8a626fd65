package graft.store

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedup index's operating contract: verdicts are a pure function
  * of (corpus, ingest order) — HOW the corpus was batched cannot change
  * them (min-state associativity), and the persisted path (versioned
  * parquet, pointer flip, compaction) serves the same state the
  * in-memory path computes. */
class DedupIndexSpec extends SparkSpec {

  private def docs: DataFrame = Tables(spark, sf("sf0.001"), "documents")

  private def verdictsOneShot: Map[Long, Boolean] =
    DedupIndex.probe(docs, None)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

  private def batchesAt(splits: Seq[Long]): Seq[DataFrame] = {
    val bounds = (Long.MinValue +: splits.sorted) :+ Long.MaxValue
    bounds.sliding(2).map { case Seq(lo, hi) =>
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    }.toSeq.filter(!_.isEmpty)
  }

  test("verdicts are invariant under batch boundaries (2, 3, 5 batches)") {
    val reference = verdictsOneShot
    assert(reference.nonEmpty && reference.values.exists(identity),
      "fixture must contain at least one duplicate")
    Seq(Seq(200L), Seq(100L, 300L), Seq(50L, 150L, 250L, 400L)).foreach { splits =>
      val batches = batchesAt(splits)
      var state: Option[DataFrame] = None
      val got = batches.flatMap { b =>
        val v = DedupIndex.probe(b, state)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1))
        state = Some(state.map(s => DedupIndex.merge(s, DedupIndex.partial(b)))
          .getOrElse(DedupIndex.partial(b)))
        v
      }.toMap
      assert(got == reference,
        s"split at $splits changed verdicts: ${got.toSet.diff(reference.toSet)}")
    }
  }

  test("persisted index: initialize/refresh/probeStore round-trip + compaction") {
    val dir = graft.TempDirs.scratch("dedup-index").toString
    val reference = verdictsOneShot
    val Seq(b1, b2, b3) = batchesAt(Seq(150L, 300L))
    DedupIndex.initialize(b1, dir)
    val v2 = DedupIndex.probeStore(spark, b2, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    DedupIndex.refresh(spark, b2, dir)
    val v3 = DedupIndex.probeStore(spark, b3, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bootstrap = DedupIndex.probe(b1, None)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bootstrap ++ v2 ++ v3 == reference,
      "persisted path diverged from the one-shot computation")
    DedupIndex.refresh(spark, b3, dir)
    assert(VersionedState.currentVersion(dir) == 3L)
    DedupIndex.compact(dir, grace = 0)
    // state still serves after dropping superseded versions
    val again = DedupIndex.probeStore(spark, b3, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // b3 probed against state that now CONTAINS b3: every key is claimed,
    // so is_dup can only stay or become true, and prior verdicts persist
    v3.foreach { case (id, dup) =>
      if (dup) assert(again(id), s"doc $id lost its dup verdict after fold-in")
    }
    assert(new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v=")) == 1,
      "compact(grace=0) must leave exactly the current version")
  }

  test("stream-maintained index equals the one-shot state; replayed deltas are idempotent") {
    val streamDir = graft.TempDirs.scratch("di-in").toString
    val stateDir = graft.TempDirs.scratch("di-state").toString
    val ckpt = graft.TempDirs.scratch("di-ckpt").toString
    val Seq(b1, b2) = batchesAt(Seq(200L))
    b1.write.mode("append").parquet(streamDir)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir)
    val q = DedupIndex.maintain(stream, stateDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      b2.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val streamed = VersionedState.readCurrent(spark, stateDir)
        .collect().map(_.toSeq).toSet
      val oneShot = DedupIndex.partial(docs).collect().map(_.toSeq).toSet
      assert(streamed == oneShot && oneShot.nonEmpty)
      // idempotence: folding b2 in AGAIN (an at-least-once replay) is a no-op
      DedupIndex.refresh(spark, b2, stateDir)
      val replayed = VersionedState.readCurrent(spark, stateDir)
        .collect().map(_.toSeq).toSet
      assert(replayed == oneShot, "replayed delta corrupted the min-state")
    } finally q.stop()
  }

  test("state size is |distinct band keys|, bounded by 4 rows per doc") {
    val state = DedupIndex.partial(docs)
    val n = state.count()
    val nDocs = docs.filter(size(split(col("text"), " ")) >= 3).count()
    assert(n <= nDocs * 4, s"state $n rows exceeds 4/doc bound")
    // dup-heavy corpora compress: shared signatures collapse to one row
    assert(n > 0)
  }
}
