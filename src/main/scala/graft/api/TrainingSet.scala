package graft.api

import graft.analytics.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The training-set construction surface generalized over any corpus
  * DataFrame — what a data-pipeline application calls. Each builder is
  * the oracle-proven registry shape with the corpus/columns as
  * parameters; TrainingSetSpec pins the instantiations to their
  * verified twins. Scale posture matches the registry queries: hash
  * filters evaluate scan-side, benchmark gram sets broadcast, pair work
  * stays candidate-bounded (see SCALE.md). */
object TrainingSet {

  private def std(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** Exact dedup: one row per distinct text with its copy count and
    * canonical (minimum) id. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    std(docs, idCol, textCol)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))

  /** Near-duplicate clusters: connected components over the candidate
    * graph, labelled by canonical minimum id. */
  def dedupClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    DedupQueries.d5From(std(docs, idCol, textCol))

  /** Duplicated-substring span coverage per document (the suffix-array
    * dedup approximation — oracle-proven d11 shape): fraction of each
    * doc's tokens inside ≥20-token spans shared with any other
    * occurrence in the corpus. */
  def dupSpanCoverage(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    DedupQueries.d11From(std(docs, idCol, textCol))

  /** Content-defined-chunk dedup stats per document (the oracle-proven
    * d12 shape) — alignment-robust where fixed chunks are not. */
  def cdcChunkDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    DedupQueries.d12From(std(docs, idCol, textCol))

  /** The cleaned-text TRANSFORM (oracle-proven d13 shape): strip chunks
    * appearing in more than one document, return each doc's surviving
    * text in original order (the C4 remove-repeated-lines step at CDC
    * granularity). */
  def stripBoilerplate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    DedupQueries.d13From(std(docs, idCol, textCol))

  /** Benchmark decontamination with an EXPLICIT eval set: flags every
    * corpus row sharing at least one n-gram with the benchmark. The
    * benchmark's gram set is distinct-ed and broadcast (eval sets are
    * MBs; corpora are TBs), so the corpus never shuffles by gram.
    * Returns the corpus columns plus a `contaminated` flag — filter on
    * it to drop, or aggregate it to audit. Gram hashing is the ONE
    * registry implementation (`TrainingSetQueries.gramHashes`), so the
    * oracle-proven tokenization can never drift from the facade. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(docs: DataFrame): DataFrame =
      graft.analytics.TrainingSetQueries.gramHashes(std(docs, idCol, textCol), n)
    val benchGrams = grams(benchmark).select(col("h")).distinct()
    val hit = grams(corpus)
      .join(broadcast(benchGrams), Seq("h"), "leftsemi")
      .select(col("doc_id").as(idCol)).distinct()
      .withColumn("__hit", lit(true))
    corpus.join(hit, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }

  /** FUZZY benchmark decontamination: flags every corpus row whose
    * MinHash signature shares an LSH band with any benchmark row —
    * catches the paraphrases and light edits exact n-gram overlap
    * ([[decontaminate]]) misses. Membership, not pairing: no k² bucket
    * product, no cap; the benchmark's band-key set broadcasts, so the
    * corpus never shuffles on the band key. Returns the corpus columns
    * plus a `fuzzy_contaminated` flag. */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hit = DedupQueries
      .d10FlagsFrom(std(corpus, idCol, textCol), std(benchmark, idCol, textCol))
      .select(col("doc_id").as(idCol)).distinct()
      .withColumn("__hit", lit(true))
    corpus.join(hit, Seq(idCol), "left")
      .withColumn("fuzzy_contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }

  /** Token-budget mixture selection: per stratum (language, source,
    * quality bucket — the caller's column), take documents in a
    * deterministic salted-hash order until the stratum's token budget
    * fills; the picked set is a pure function of (corpus, salt,
    * budgets). Strata pack in parallel (window partitioned by stratum —
    * never a global sort), and only (id, tokens, key) triples move.
    * Returns the selected rows with their running `cum_tokens`. */
  def tokenBudgetMix(docs: DataFrame, tokenCol: String, stratumCol: String,
      budgets: Map[String, Long], salt: String = "mix0",
      idCol: String = "doc_id"): DataFrame = {
    val budget = budgets.foldRight(lit(0L)) { case ((stratum, b), rest) =>
      when(col(stratumCol) === stratum, lit(b)).otherwise(rest)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("__pick"), col(idCol))
    docs
      .withColumn("__pick",
        DedupQueries.hash60(concat(col(idCol).cast("string"), lit("|" + salt))))
      .withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("__pick")
  }

  /** Deterministic stratified sampling: keep rows whose content-stable
    * hash bucket falls under the stratum's percentage — reproducible
    * across runs, retries, and engines (rand() is none of those). */
  def sample(docs: DataFrame, idCol: String, stratumCol: String,
      ratesPercent: Map[String, Int], defaultPercent: Int = 0): DataFrame = {
    val rate = ratesPercent.foldRight(lit(defaultPercent)) {
      case ((stratum, r), rest) =>
        when(col(stratumCol) === stratum, lit(r)).otherwise(rest)
    }
    docs.filter(
      DedupQueries.hash60(col(idCol).cast("string")) % 100 < rate)
  }

  /** Reproducible epoch ordering: appends a salted content-hash
    * `pos_key` column. Write the epoch with
    * `repartitionByRange($"pos_key")` + `sortWithinPartitions` — a
    * deterministic global shuffle with no single-partition sort. */
  def epochShuffle(docs: DataFrame, idCol: String, salt: String): DataFrame =
    docs.withColumn("pos_key",
      DedupQueries.hash60(concat(col(idCol).cast("string"), lit("|" + salt))))

  /** Chunk-level (paragraph) dedup stats: per doc, how many of its
    * fixed-size token chunks occur elsewhere in the corpus — the
    * boilerplate signal whole-doc dedup misses. Chunk hashes (8 bytes)
    * are the only thing shuffled. */
  def paragraphDupStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkTokens: Int = 20): DataFrame =
    graft.analytics.CorpusQueries
      .d8From(std(docs, idCol, textCol), chunkTokens)
      .withColumnRenamed("doc_id", idCol)

  /** One survivor per near-duplicate cluster: rank within each cluster
    * by the caller's quality column (descending; id breaks ties) and
    * keep the best — a single window over the cluster partition. Docs
    * in no cluster are their own survivors and pass through. */
  def dedupSurvivors(docs: DataFrame, qualityCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val clusters = dedupClusters(docs, idCol, textCol)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    docs.join(clusters, Seq(idCol), "left")
      .withColumn("__cluster",
        coalesce(col("cluster_id"), col(idCol))) // singletons: own cluster
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__cluster", "cluster_id") // output = the corpus columns
  }

  /** Concat-and-chop sequence packing plan: assigns each doc a bucket,
    * its first/last packed-sequence index, and the straddle flag —
    * the metadata a writer needs to emit fixed-length training
    * sequences. Parallel per-bucket windows, never a global sort. */
  def packingPlan(docs: DataFrame, tokenCol: String, seqLen: Int = 512,
      buckets: Int = 64, idCol: String = "doc_id"): DataFrame =
    graft.analytics.CorpusQueries
      .packingPlanFrom(docs, tokenCol, seqLen, buckets, idCol)

  /** Linear quality-classifier score over caller-provided feature
    * columns: `bias + Σ wᵢ·featureᵢ` in the given (deterministic)
    * order, plus a keep verdict at the threshold. Broadcast weights,
    * scan-side arithmetic — zero shuffles. */
  def classifierScore(docs: DataFrame, bias: Double,
      weights: Seq[(String, Double)], threshold: Double = 0.0): DataFrame =
    graft.analytics.CorpusQueries
      .classifierScoreFrom(docs, bias, weights, threshold)

  /** TRAIN the linear quality probe on any corpus: one aggregation
    * pass over the t_quality_clf feature set (stop ratio, mean token
    * length, ln tokens; label = the t_quality keep rule) collects the
    * exact-decimal normal-equation statistics, and the 4×4 solve runs
    * on the driver in O(1) — the corpus is touched once, shuffle
    * volume is ONE row, at any scale. Returns (bias, w_stop_ratio,
    * w_mean_tok_len, w_ln_tokens), directly usable as
    * [[classifierScore]] weights over the same feature columns. */
  def trainQualityProbe(docs: DataFrame, textCol: String = "text",
      nCharsCol: String = "n_chars"): (Double, Double, Double, Double) = {
    val std = docs.select(col(textCol).as("text"),
      col(nCharsCol).as("n_chars"))
    graft.analytics.CorpusQueries.linearProbeWeights(
      graft.analytics.CorpusQueries.probeStatsFrom(std).collect()(0))
  }

  /** Exact-count stratified draw: exactly `n` rows per stratum, picked
    * by salted-hash order — the balanced-eval-set need [[sample]]'s
    * rate form cannot meet (a rate draw of a rare stratum can land 0
    * rows). The per-stratum pick is a map-side running top-k
    * (WindowGroupLimit), never a global sort. Returns the input rows
    * plus a 1-based `rank` within the stratum. */
  def exactStratifiedSample(docs: DataFrame, idCol: String,
      stratumCol: String, n: Int, salt: String = "strat"): DataFrame =
    graft.analytics.TrainingSetQueries
      .exactStratifiedFrom(docs, idCol, stratumCol, n, salt)

  /** Overlapping context-window chunks (oracle-proven ch1 shape):
    * one row per W-token window at stride S with an md5 content
    * address. Pure scan-side flatMap — no shuffle at any corpus
    * size. */
  def contextChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.analytics.TokenizerQueries.ch1From(std(docs, idCol, textCol))

  /** Learn `k` BPE merges distributed over the corpus (oracle-proven
    * bpe2 loop: one vocab-bounded argmax aggregation per merge). */
  def bpeMerges(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text")
      : Seq[graft.analytics.TokenizerQueries.BpeMerge] =
    graft.analytics.TokenizerQueries.bpeTrain(std(docs, idCol, textCol), k)

  /** The curation-funnel burn-down (oracle-proven ds10 shape): per
    * stage — quality → dedup-canonical among quality survivors →
    * benchmark-decontaminated → split shares — the docs and tokens
    * surviving. Stage rules ARE the registry operators' own. */
  def curationFunnel(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.analytics.TrainingSetQueries.curationFunnelFrom(
      std(docs, idCol, textCol), std(benchmark, idCol, textCol))
}
