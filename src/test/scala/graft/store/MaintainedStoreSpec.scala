package graft.store

import graft.{SparkSpec, Tables}
import graft.analytics.RetrievalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch fence of [[MaintainedStore]], once per maintained store:
  * a replayed batch id is skipped, an empty batch burns no version, a
  * crash between a version directory and its pointer flip replays to
  * the same state, and an empty path bootstraps from the first
  * non-empty batch. Each store's own spec covers what its fold computes;
  * this one covers only the lifecycle they share. */
class MaintainedStoreSpec extends SparkSpec {

  /** A store with two batches of its own fixture, and what a reader of
    * its state sees (sorted rows, so a duplicated row shows). */
  private case class Subject(name: String, store: MaintainedStore,
      b1: DataFrame, b2: DataFrame, served: String => Seq[String])

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private lazy val subjects: Seq[Subject] = {
    val events = Tables(spark, sf(), "events")
    val docs = Tables(spark, sf(), "documents")
    val emb = Tables(spark, sf(), "embeddings")
    val midVec = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    val mv = new MaterializedView(Seq("event_type"), Seq("value"))
    def state(dir: String) = rows(VersionedState.readCurrent(spark, dir))
    def docsSubject(name: String, store: MaintainedStore,
        served: String => Seq[String]) =
      Subject(name, store, docs.filter(col("doc_id") <= 200),
        docs.filter(col("doc_id") > 200), served)
    Seq(
      Subject("MaterializedView", mv,
        events.filter(dayofmonth(col("ts")) <= 15),
        events.filter(dayofmonth(col("ts")) > 15),
        dir => rows(mv.read(spark, dir))),
      docsSubject("DedupIndex", DedupIndex, state),
      docsSubject("SubstringIndex", SubstringIndex, state),
      docsSubject("VocabStore", VocabStore, state),
      Subject("AnnIndex", AnnIndex,
        emb.filter(col("vec_id") <= midVec), emb.filter(col("vec_id") > midVec),
        dir => rows(AnnIndex.postings(spark, dir)
          .select("vec_id", "cell", "label"))),
      docsSubject("InvertedIndex", InvertedIndex, dir =>
        rows(InvertedIndex.probe(spark, dir, RetrievalQueries.QueryTerms)) :+
          s"postings=${InvertedIndex.postings(spark, dir).count()}"))
  }

  private def freshDir(s: Subject) =
    graft.TempDirs.scratch(s"fence-${s.name}").toString

  /** An empty micro-batch as a stream delivers it: a scan that finds
    * nothing (a constant-false filter would fold to an empty local
    * relation, which no real delta is). */
  private def empty(s: Subject) =
    s.b1.filter(monotonically_increasing_id() < 0)

  /** What the store serves when bootstrapped once from both batches. */
  private def oneShot(s: Subject): Seq[String] = {
    val dir = freshDir(s)
    s.store.maintainBatch(s.b1.unionByName(s.b2), dir, 0L)
    s.served(dir)
  }

  private def pointer(dir: String) =
    (VersionedState.currentVersion(dir), VersionedState.lastBatchId(dir))

  test("bootstrap from an empty path: an empty first batch writes nothing, " +
    "the first non-empty batch is version 1") {
    subjects.foreach { s =>
      val dir = freshDir(s)
      s.store.maintainBatch(empty(s), dir, 0L)
      assert(!VersionedState.exists(dir), s.name)
      s.store.maintainBatch(s.b1, dir, 1L)
      assert(pointer(dir) == ((1L, 1L)), s.name)
      s.store.maintainBatch(s.b2, dir, 2L)
      assert(pointer(dir) == ((2L, 2L)), s.name)
      assert(s.served(dir) == oneShot(s), s.name)
    }
  }

  test("a replayed batch id is skipped: no version, no double-counting") {
    subjects.foreach { s =>
      val dir = freshDir(s)
      s.store.maintainBatch(s.b1, dir, 0L)
      s.store.maintainBatch(s.b1, dir, 0L) // replay of the bootstrap
      assert(pointer(dir) == ((1L, 0L)), s.name)
      s.store.maintainBatch(s.b2, dir, 1L)
      val served = s.served(dir)
      s.store.maintainBatch(s.b2, dir, 1L) // crash replay
      s.store.maintainBatch(s.b1, dir, 0L) // an older one
      assert(pointer(dir) == ((2L, 1L)), s.name)
      assert(s.served(dir) == served, s.name)
      assert(served == oneShot(s), s.name)
    }
  }

  test("an empty batch only advances the fence: the next non-empty batch " +
    "leaves no version gap") {
    subjects.foreach { s =>
      val dir = freshDir(s)
      s.store.maintainBatch(s.b1, dir, 0L)
      val first = s.served(dir)
      s.store.maintainBatch(empty(s), dir, 1L) // idle trigger
      assert(pointer(dir) == ((1L, 1L)), s.name)
      assert(s.served(dir) == first, s.name)
      s.store.maintainBatch(s.b2, dir, 2L)
      assert(pointer(dir) == ((2L, 2L)), s.name)
      assert(s.served(dir) == oneShot(s), s.name)
    }
  }

  test("a crash between the version directory and the pointer flip " +
    "replays to the same state") {
    subjects.foreach { s =>
      val dir = freshDir(s)
      s.store.maintainBatch(s.b1, dir, 0L)
      val first = s.served(dir)
      // the fold wrote v=2 completely, then died before the flip: roll
      // the pointer back over the leftover directory
      s.store.maintainBatch(s.b2, dir, 1L)
      VersionedState.writePointer(dir, 1L, 0L)
      assert(s.served(dir) == first, s"${s.name}: leftover v=2 is visible")
      s.store.maintainBatch(s.b2, dir, 1L) // the replay
      assert(pointer(dir) == ((2L, 1L)), s.name)
      assert(s.served(dir) == oneShot(s), s.name)
      // the same window at bootstrap: v=1 written, no pointer yet
      val boot = freshDir(s)
      s.store.maintainBatch(s.b1, boot, 0L)
      new java.io.File(boot, "_CURRENT").delete()
      assert(!VersionedState.exists(boot), s.name)
      s.store.maintainBatch(s.b1, boot, 0L)
      assert(pointer(boot) == ((1L, 0L)) && s.served(boot) == first, s.name)
    }
  }

  /** Spark jobs of one `maintainBatch` per store: (a fenced replay, an
    * empty batch, a non-empty batch folded into existing state). A
    * replay reads only the pointer; an empty batch costs its `isEmpty`
    * probe; a fold costs that probe plus the store's own write. */
  private val jobsPerBatch = Map(
    "MaterializedView" -> ((0, 1, 5)),
    "DedupIndex" -> ((0, 1, 6)),
    "SubstringIndex" -> ((0, 1, 5)),
    "VocabStore" -> ((0, 1, 5)),
    "AnnIndex" -> ((0, 1, 7)),
    "InvertedIndex" -> ((0, 1, 6)))

  test("jobs per micro-batch: a replay runs none, an empty batch one") {
    subjects.foreach { s =>
      val dir = freshDir(s)
      s.store.maintainBatch(s.b1, dir, 0L)
      val replay = jobsDuring(s.store.maintainBatch(s.b1, dir, 0L))
      val idle = jobsDuring(s.store.maintainBatch(empty(s), dir, 1L))
      val fold = jobsDuring(s.store.maintainBatch(s.b2, dir, 2L))
      assert((replay.size, idle.size, fold.size) == jobsPerBatch(s.name),
        s"${s.name}: replay $replay, empty $idle, fold $fold")
    }
  }
}
