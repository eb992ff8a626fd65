package graft.store

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.DedupQueries

/** Incremental near-duplicate index over an append-only document store
  * — the capability that makes dedup operable at 100 TB: a NEW batch of
  * documents is checked against everything ingested before it WITHOUT
  * re-shingling history.
  *
  * The trick is that d2's banded-LSH dedup admits ALGEBRAIC state, the
  * same property [[MaterializedView]] exploits for aggregates: a
  * document is a near-dup candidate iff one of its band keys was
  * already claimed by an earlier document, so the index only needs
  * `min(doc_id)` per (band, key) — and min is commutative+associative,
  * so the state merges from per-batch partials in any batch layout.
  * State size is |distinct band keys| (≤ 4 rows per distinct
  * signature), never |corpus|, and refresh cost is O(delta) +
  * O(|keys|): partial-aggregate the delta's keys, min-merge with the
  * stored frame.
  *
  * Verdict semantics pin first-seen-wins on ingest order (doc ids are
  * assigned monotonically by the ingest door, ref rakam's event store):
  * doc d is a duplicate iff some doc with a smaller id shares a band
  * key — which is exactly the one-shot full-corpus computation, so the
  * incremental path is oracle-checkable against it (di1), the mv1
  * pattern. The same LSH family/constants as d2 — the index and the
  * batch query cannot drift.
  *
  * Persistence is a [[MergedState]]. Min-merge already makes a replayed
  * micro-batch HARMLESS (re-merging the same rows into a min is
  * idempotent); the batch fence additionally makes it FREE — a replay
  * skips the |keys|-sized state read/merge/write, and the version count
  * stays one per data batch instead of one per delivery. [[maintain]]
  * keeps the index current from a stream; the state survives restarts
  * and is shared with batch probes.
  */
object DedupIndex extends MergedState {

  /** Uncapped banded keys (doc_id, band, key) of a batch — d2's family. */
  private def keysOf(docs: DataFrame): DataFrame =
    DedupQueries.bandedKeysUncapped(DedupQueries.shingleHashesRaw(docs))

  /** The batch's keys hash-partitioned by (band, key) — the ONE shuffle
    * every consumer (self-probe, batch-first reduction, state partial)
    * hangs off: identical exchange subtrees are reused by Spark, so the
    * shingling pipeline executes once per batch no matter how many
    * frames derive from it (di1's old shape re-shingled the first half
    * three times). */
  private def partitionedKeys(docs: DataFrame): DataFrame =
    keysOf(docs).repartition(col("band"), col("key"))

  /** First-claimant per band key over an already-partitioned keys
    * frame: aggregates in place, no second exchange. */
  private def partialOfKeys(keys: DataFrame): DataFrame =
    keys.groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("first_doc"))

  /** Partial state of one batch: first-claimant per band key. Built
    * straight off the shingle scan (map-side combine BEFORE the
    * shuffle) — the right shape when the keys have no other consumer,
    * i.e. the refresh path. */
  def partial(docs: DataFrame): DataFrame =
    keysOf(docs).groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("first_doc"))

  /** Min-merge any number of state frames (|keys|-sized inputs). */
  def merge(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(col("band"), col("key"))
      .agg(min(col("first_doc")).as("first_doc"))
  }

  /** Per-doc verdicts for a delta batch probed against prior state:
    * (doc_id, is_dup) — dup iff an EARLIER doc (prior state or a
    * smaller id within the batch) claimed one of its band keys. Docs
    * too short to shingle produce no keys and no verdict row (they
    * cannot collide). `state=None` is the bootstrap batch. */
  def probe(delta: DataFrame, state: Option[DataFrame]): DataFrame =
    probeKeys(partitionedKeys(delta), state)

  /** [[probe]] over a pre-partitioned keys frame (see
    * [[partitionedKeys]]): both consumers — the verdict join's probe
    * side and the batch-first reduction — read the SAME shuffle
    * output, so the shingling runs once. */
  private def probeKeys(keys: DataFrame,
      state: Option[DataFrame]): DataFrame = {
    val withState = state match {
      case Some(s) =>
        keys.join(s.withColumnRenamed("first_doc", "prior_doc"),
          Seq("band", "key"), "left")
      case None => keys.withColumn("prior_doc", lit(null).cast("long"))
    }
    val batchFirst = partialOfKeys(keys)
      .withColumnRenamed("first_doc", "batch_first")
    withState
      .join(batchFirst, Seq("band", "key"))
      .groupBy(col("doc_id"))
      .agg(bool_or(
        coalesce(col("prior_doc") < col("doc_id"), lit(false)) ||
          col("batch_first") < col("doc_id")).as("is_dup"))
  }

  /** Probe a delta against the persisted index (read-only). */
  def probeStore(spark: SparkSession, delta: DataFrame,
      path: String): DataFrame =
    probe(delta, Some(VersionedState.readCurrent(spark, path)))

  // ---------------- the oracle contract ----------------

  /** DI1: incremental == one-shot. The Spark side ingests the corpus in
    * two batches split at half the id range (bootstrap-probe the first,
    * state-probe the second); the oracle computes the batchless
    * semantics directly — dup iff a smaller doc_id claimed a band key.
    * A hash match proves batch boundaries cannot change a verdict. */
  def di1DedupIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg((max($"doc_id") / lit(2)).cast("long").as("mid"))
    val tagged = docs.crossJoin(broadcast(mid))
    val first = tagged.filter($"doc_id" <= $"mid").drop("mid")
    val second = tagged.filter($"doc_id" > $"mid").drop("mid")
    // ONE partitioned-keys frame per half: the bootstrap verdicts, the
    // batch-first reduction, AND the state handed to the second probe
    // all hang off firstKeys' single exchange (reused, not recomputed —
    // the old shape shingled the first half three separate times)
    val firstKeys = partitionedKeys(first)
    probeKeys(firstKeys, None)
      .unionByName(
        probeKeys(partitionedKeys(second), Some(partialOfKeys(firstKeys))))
  }

  val di1Sql: String =
    s"""WITH ${DedupQueries.bandedKeysCtes},
       |firsts AS (
       |  SELECT band, key, min(doc_id) AS first_doc
       |  FROM banded0 GROUP BY band, key)
       |SELECT k.doc_id, bool_or(f.first_doc < k.doc_id) AS is_dup
       |FROM banded0 k JOIN firsts f USING (band, key)
       |GROUP BY k.doc_id""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "di1_dedup_index" -> QueryDef.of(di1Sql)(di1DedupIndex))
}
