package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Empty and degenerate inputs must flow through the public surface
  * without crashing — a pipeline stage that throws on an empty
  * partition dies on the first empty parquet file at scale. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val emptyEvents = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType))))

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))

  test("analytics surface on an empty events table") {
    assert(Analytics.funnel(emptyEvents, "user_id", "ts", "event_type",
      Seq("view", "click")).collect().forall(_.getLong(1) == 0L))
    assert(Analytics.retention(emptyEvents, "user_id", "ts").isEmpty)
    assert(Analytics.sessionize(emptyEvents, "user_id", "ts",
      gap = "30 minutes", tieBreak = Some("event_id")).isEmpty)
    assert(Analytics.segmentation(emptyEvents, "user_id", "ts", "day",
      Seq("event_type")).isEmpty)
    assert(Analytics.topKPerGroup(emptyEvents, "user_id", 3,
      col("ts").desc).isEmpty)
  }

  test("training-set surface on an empty corpus") {
    assert(TrainingSet.exactDedup(emptyDocs).isEmpty)
    assert(TrainingSet.dedupClusters(emptyDocs).isEmpty)
    assert(TrainingSet.decontaminate(emptyDocs, benchmark = emptyDocs)
      .columns.contains("contaminated"))
    assert(TrainingSet.sample(emptyDocs, "doc_id", "text",
      Map("x" -> 50)).isEmpty)
    assert(TrainingSet.epochShuffle(emptyDocs, "doc_id", "e0")
      .columns.contains("pos_key"))
  }

  test("path analytics and similarity surfaces on empty inputs") {
    assert(Analytics.eventPaths(emptyEvents,
      "user_id", "ts", "event_id", "event_type").isEmpty)
    assert(Analytics.lastTouchAttribution(emptyEvents,
      "user_id", "ts", "event_id", "event_type", "value", "purchase").isEmpty)
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.cosineTopK(emptyVecs, q, 5).isEmpty)
    assert(Similarity.knnJoin(q, emptyVecs, 5).isEmpty) // empty query batch
    assert(Similarity.mmrTopK(emptyVecs, q, k = 5).isEmpty)
  }

  test("substring-dedup and latency surfaces on empty/degenerate inputs") {
    assert(TrainingSet.dupSpanCoverage(emptyDocs).isEmpty)
    assert(TrainingSet.cdcChunkDedup(emptyDocs).isEmpty)
    // one doc, no possible duplicate: zero coverage, full chunk accounting
    val one = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val span = TrainingSet.dupSpanCoverage(one).collect().head
    assert(span.getAs[Long]("dup_tokens") == 0L)
    val cdc = TrainingSet.cdcChunkDedup(one).collect().head
    assert(cdc.getAs[Long]("dup_chunk_tokens") == 0L &&
      cdc.getAs[Long]("n_toks") == 8L)
    // no converters: a 1-row frame of zero/null stats, not a crash
    val ttc = Analytics.timeToConvert(emptyEvents,
      "user_id", "ts", "event_type", "view", "purchase").collect().head
    assert(ttc.getAs[Long]("n_converters") == 0L && ttc.isNullAt(1))
  }

  test("fuzzy decontamination against an empty benchmark flags nothing") {
    val corpus = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = TrainingSet.fuzzyDecontaminate(corpus, benchmark = emptyDocs)
    assert(out.count() == 1)
    assert(!out.select("fuzzy_contaminated").head().getBoolean(0))
    assert(TrainingSet.fuzzyDecontaminate(emptyDocs, benchmark = corpus).isEmpty)
  }

  test("token-budget mix: oversized first pick empties its stratum (prefix rule)") {
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 100L), // fits: budget 250 takes both
      (3L, "fr", 900L), (4L, "fr", 10L))  // fr's hash-first doc overflows
      .toDF("doc_id", "lang", "n_tokens")
    val picked = TrainingSet.tokenBudgetMix(docs, "n_tokens", "lang",
      budgets = Map("en" -> 250L, "fr" -> 500L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked.contains(1L) && picked.contains(2L))
    // the fr selection is a PREFIX of the hash order: if the first fr
    // doc in hash order is the 900-token one, nothing fits; if it is
    // the 10-token one, only it fits. Either way doc 3 is never picked.
    assert(!picked.contains(3L))
    // a stratum with no budget entry contributes nothing
    val none = TrainingSet.tokenBudgetMix(docs, "n_tokens", "lang",
      budgets = Map("en" -> 250L))
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(none == Set("en"))
    assert(TrainingSet.tokenBudgetMix(
      emptyDocs.withColumn("lang", lit("en")).withColumn("n_tokens", lit(1L)),
      "n_tokens", "lang", Map("en" -> 10L)).isEmpty)
  }

  test("the session-7 families on empty and degenerate inputs") {
    // tokenizer family
    assert(TrainingSet.contextChunks(emptyDocs).isEmpty)
    assert(TrainingSet.bpeMerges(emptyDocs, 4).isEmpty)
    assert(TrainingSet.curationFunnel(emptyDocs, benchmark = emptyDocs).isEmpty)
    // sequence family
    assert(Analytics.nextEventExamples(emptyEvents,
      "user_id", "ts", "event_id", "event_type").isEmpty)
    assert(Analytics.negativeSamples(emptyEvents,
      "user_id", "ts", "event_id", "event_type").isEmpty)
    // attribution / eval
    assert(Analytics.markovAttribution(emptyEvents,
      "user_id", "ts", "event_id", "event_type", "purchase").isEmpty)
    assert(graft.api.Retrieval.evaluate(emptyDocs).collect()(0).getLong(0) == 0L)
    // a single-doc corpus: one chunk, zero merges beyond its own chars
    import spark.implicits._
    val one = Seq((1L, "only doc")).toDF("doc_id", "text")
    assert(TrainingSet.contextChunks(one).count() == 1)
    assert(TrainingSet.bpeMerges(one, 2).nonEmpty)
    // bpe4 on an empty corpus: zero rows (the twin's empty pyramids),
    // never an NPE from the NULL max(doc_id)
    val tmp = graft.TempDirs.scratch("bpe4-empty")
    emptyDocs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(graft.analytics.TokenizerQueries
      .bpe4MergeDrift(spark, tmp.toString).isEmpty)
  }

  test("single-row and all-duplicate corpora") {
    val one = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(TrainingSet.dedupClusters(one).count() <= 1)
    val dups = (1L to 5L).map(i => (i, "same text repeated over and over again"))
      .toDF("doc_id", "text")
    val clusters = TrainingSet.dedupClusters(dups)
    // all five are one cluster labelled by the minimum id
    assert(clusters.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }
}
