package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators beyond the first training-set wave:
  * Bloom-filter decontamination, chunk(paragraph)-level dedup, training
  * sequence packing, and unigram-LM surprisal scoring.
  *
  * Scale posture (100 TB):
  *  - d7 builds a COMPACT bloom bitmap from the (small, by construction)
  *    benchmark side and broadcasts it; the corpus side is a scan-local
  *    probe — no shuffle, no join, and unlike d6's broadcast semi-join
  *    the broadcast is O(m) bits regardless of how many grams the
  *    benchmark holds.
  *  - d8 shuffles chunk HASHES (8-byte) once to count global occurrences
  *    and once to fold back per doc — both with map-side partial
  *    aggregation.
  *  - pk1 packs per hash-bucket, so the running-total window runs B
  *    independent sorted partitions in parallel; B scales with the data,
  *    never a global sort.
  *  - t_unigram_lm's vocab aggregate is partial-agg'd; the score join
  *    shuffles by token (zipfian-skew tolerant: AQE splits hot tokens).
  */
object CorpusQueries {

  // ---------------- D7: bloom-filter decontamination ----------------

  /** Bloom geometry: m bits, k affine hash functions over the 60-bit
    * gram hash reduced mod p (same reduction d2 uses, so A·h + B stays
    * inside Long). */
  private val BloomBits = 1 << 20
  private val bloomA = Seq(912862454L, 1681692777L, 1714636915L)
  private val bloomB = Seq(1189641421L, 1025202362L, 1350490027L)

  private def bloomPosExprs = bloomA.zip(bloomB).map { case (a, b) =>
    s"(($a * (h % ${DedupQueries.P31}) + $b) % $BloomBits)"
  }

  /** Native probe: packed-bitmap membership test as ONE codegen'd plan
    * node ([[graft.functions.BloomProbe]]). Position arithmetic is
    * identical to [[bloomHitPortable]] and the SQL twin. */
  private[analytics] def bloomHit(h: org.apache.spark.sql.Column,
      bits: Array[Byte]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BloomProbe(
        org.apache.spark.sql.GraftColumnBridge.expression(h),
        bits, bloomA.toArray, bloomB.toArray, DedupQueries.P31, BloomBits))

  /** Portable probe twin: the same membership test as pure SQL over a
    * '0'/'1' bitmap string — the executable specification the native
    * expression is property-tested against (BloomProbeSpec), and the
    * formulation the DuckDB oracle mirrors. Expects the hash in column
    * `h` and the bitmap in column `bloom`. */
  private[analytics] def bloomHitPortable: org.apache.spark.sql.Column =
    bloomPosExprs
      .map(e => expr(s"substring(bloom, $e + 1, 1) = '1'"))
      .reduce(_ && _)

  /** D7: the d6 contract (flag training docs sharing a 5-gram with the
    * benchmark split) re-run through a bloom filter, which is what a
    * 100 TB pipeline actually broadcasts: the benchmark's gram set is
    * folded into an m-bit bitmap at build time, and each corpus gram
    * probes k bit positions of the broadcast bitmap — constant-size
    * broadcast, zero corpus shuffle. The query reports, per language,
    * the bloom-flagged count NEXT TO the exact semi-join count, so the
    * false-positive overhead (the price of the compact broadcast) is a
    * visible, oracle-checked quantity.
    *
    * The probe is the PRODUCTION form: a packed m-bit byte bitmap tested
    * by the codegen'd [[graft.functions.BloomProbe]] expression (k shifts
    * and masks per gram inside whole-stage codegen). The DuckDB twin
    * expresses the identical position arithmetic relationally, and
    * [[bloomHitPortable]] keeps a pure-SQL substring-over-'0'/'1'-string
    * formulation as the executable cross-engine specification — all
    * three flag exactly the same documents. Building the bitmap collects
    * ≤ m positions — bounded by the filter's GEOMETRY, not by data size
    * (that is the point of a bloom build; the reference's own bloom
    * experiment is rakam/src/test/java/bloom/OoaBFilter.java). */
  def d7BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 5
    val docs = Tables(spark, dir, "documents")
    // The distinct benchmark gram hashes are collected ONCE: the exact
    // probe broadcasts them anyway (a broadcast IS a driver collect),
    // and the bitmap's bit positions are pure arithmetic over the same
    // hashes — deriving them driver-side avoids re-running the bench
    // gram explosion + distinct shuffle a second time. Driver memory is
    // |distinct benchmark grams| — the eval split, small by
    // construction at any corpus scale (same bound as the broadcast).
    val benchHashes = TrainingSetQueries
      .gramHashes(docs.filter($"source" === "src0"), n)
      .select($"h").distinct().as[Long].collect()
    val positions = for {
      (a, b) <- bloomA.zip(bloomB).toArray
      h <- benchHashes
    } yield (a * (h % DedupQueries.P31) + b) % BloomBits
    val bits = graft.functions.BloomProbe.pack(
      positions.distinct.iterator, BloomBits)
    val benchGrams = benchHashes.toSeq.toDF("h")
    val train = docs.filter($"source" =!= "src0")
    // One pass over the exploded train grams: the bloom probe is a
    // per-gram expression and exact membership a broadcast left join,
    // so both doc-level flags fold into a single per-doc aggregation.
    // (The earlier two-branch shape re-ran the gram explosion — the
    // dominant cost — once per flag: 1.7 s vs 1.0 s at sf0.1.)
    // lang rides THROUGH the gram aggregation (it is functionally
    // dependent on doc_id, so the group cardinality is unchanged): the
    // per-doc flags reduce straight to per-LANG sums and the join back
    // to the corpus disappears. The only remaining join-back is per-lang
    // totals × per-lang flags — a |langs|-bounded broadcast, a bound set
    // by the schema, NOT by the contamination rate (the earlier shape
    // broadcast the hit-doc set, which a heavily contaminated corpus —
    // the very scenario decontamination exists to catch — could blow
    // past the broadcast limit).
    val trainGrams = TrainingSetQueries.gramHashes(train, n, carry = Seq("lang"))
    val perDoc = trainGrams
      .join(broadcast(benchGrams.withColumn("in_bench", lit(1L))),
        Seq("h"), "left")
      .groupBy($"doc_id", $"lang")
      .agg(
        max(when(bloomHit($"h", bits), 1L).otherwise(0L)).as("bloom_hit"),
        max(coalesce($"in_bench", lit(0L))).as("exact_hit"))
    val perLang = perDoc
      .groupBy($"lang")
      .agg(sum($"bloom_hit").as("__bloom"), sum($"exact_hit").as("__exact"))
    // n_train counts EVERY train doc, including those too short to emit
    // a gram — so totals come from a (column-pruned) metadata scan, the
    // same second pass the join-back shape paid. NULL-SAFE join key: a
    // NULL-lang group must still pick up its flags (an equi key would
    // silently zero the flags of exactly those docs).
    val totals = train
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_train"))
    totals
      .join(broadcast(perLang), totals("lang") <=> perLang("lang"), "left")
      .select(totals("lang"), $"n_train",
        coalesce($"__bloom", lit(0L)).as("n_bloom_flagged"),
        coalesce($"__exact", lit(0L)).as("n_exact"),
        (coalesce($"__bloom", lit(0L)) -
          coalesce($"__exact", lit(0L))).as("n_false_pos"))
  }

  val d7Sql: String = {
    val n = 5
    val gramExpr =
      s"unnest(list_transform(range(len(t) - ${n - 1}), i -> " +
        s"concat_ws(' ', ${(1 to n).map(j => s"t[i+$j]").mkString(", ")})))"
    val Seq(p0, p1, p2) = bloomPosExprs
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |grams AS (
       |  SELECT doc_id, source, ${DedupQueries.sqlHash60("gram")} AS h FROM (
       |    SELECT doc_id, source, $gramExpr AS gram FROM toks)),
       |bench AS (SELECT DISTINCT h FROM grams WHERE source = 'src0'),
       |positions AS (
       |  SELECT DISTINCT pos FROM (
       |    SELECT $p0 AS pos FROM bench
       |    UNION ALL SELECT $p1 FROM bench
       |    UNION ALL SELECT $p2 FROM bench)),
       |flagged AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE source <> 'src0'
       |    AND $p0 IN (SELECT pos FROM positions)
       |    AND $p1 IN (SELECT pos FROM positions)
       |    AND $p2 IN (SELECT pos FROM positions)),
       |exact AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE source <> 'src0' AND h IN (SELECT h FROM bench))
       |SELECT d.lang, count(*) AS n_train,
       |  CAST(count(f.doc_id) AS BIGINT) AS n_bloom_flagged,
       |  CAST(count(e.doc_id) AS BIGINT) AS n_exact,
       |  CAST(count(f.doc_id) - count(e.doc_id) AS BIGINT) AS n_false_pos
       |FROM documents d
       |LEFT JOIN flagged f ON d.doc_id = f.doc_id
       |LEFT JOIN exact e ON d.doc_id = e.doc_id
       |WHERE d.source <> 'src0'
       |GROUP BY d.lang""".stripMargin
  }

  // ---------------- D8: chunk-level (paragraph) dedup ----------------

  /** Tokens per chunk. Real pipelines dedup at paragraph boundaries; the
    * synthetic corpus is one line per doc, so fixed 20-token windows
    * stand in for paragraphs — the operator shape (explode → hash →
    * global count → fold back per doc) is identical. */
  private val ChunkTokens = 20

  /** D8: sub-document exact dedup — the pass that catches boilerplate
    * repeated ACROSS different documents (headers, licenses, templates)
    * which whole-doc dedup (d1) misses. Every doc is split into
    * [[ChunkTokens]]-token chunks; a chunk is duplicated when its hash
    * occurs more than once in the whole corpus; each doc reports its
    * duplicated-chunk fraction (the usual drop/trim signal). */
  /** The ONE chunk-dedup implementation — the registry query and the
    * [[graft.api.TrainingSet.paragraphDupStats]] facade both call this,
    * so the two surfaces cannot drift (same pattern as d2From/d5From).
    * Expects (doc_id, text). */
  private[graft] def d8From(docs: DataFrame,
      chunkTokens: Int = ChunkTokens): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = docs
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(expr(
        s"transform(sequence(0, (size(toks) + ${chunkTokens - 1}) DIV $chunkTokens - 1)," +
          s" i -> concat_ws(' ', slice(toks, i * $chunkTokens + 1, $chunkTokens)))"))
        .as("chunk"))
      .select($"doc_id", DedupQueries.hash60($"chunk").as("h"))
    val counts = chunks.groupBy($"h").agg(count(lit(1)).as("n_occ"))
    chunks.join(counts, "h")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when($"n_occ" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks",
        ($"n_dup_chunks".cast("double") / $"n_chunks").as("dup_chunk_frac"))
  }

  def d8ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    d8From(Tables(spark, dir, "documents"))

  val d8Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |chunks AS (
       |  SELECT doc_id, ${DedupQueries.sqlHash60("chunk")} AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range((len(t) + ${ChunkTokens - 1}) // $ChunkTokens),
       |        i -> array_to_string(list_slice(t, i * $ChunkTokens + 1, i * $ChunkTokens + $ChunkTokens), ' '))) AS chunk
       |    FROM toks)),
       |counts AS (SELECT h, count(*) AS n_occ FROM chunks GROUP BY h)
       |SELECT c.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_chunk_frac
       |FROM chunks c JOIN counts n ON c.h = n.h
       |GROUP BY c.doc_id""".stripMargin

  // ---------------- PK1: training sequence packing ----------------

  /** Context length (tokens) of one packed training sequence. */
  private val SeqLen = 512

  /** Packing parallelism: documents are routed to hash buckets and
    * packed independently per bucket. At 100 TB the bucket count scales
    * with the corpus so each bucket's running-total window stays a
    * bounded sorted partition — packing is embarrassingly parallel
    * across buckets, never a global sort. */
  private val PackBuckets = 8

  /** PK1: concat-and-chop sequence packing — the standard pretraining
    * step that turns variable-length documents into fixed [[SeqLen]]
    * sequences with no padding: docs are concatenated in deterministic
    * (doc_id) order within a bucket and chopped every SeqLen tokens, so
    * a doc may straddle a boundary. Reports per bucket: docs, tokens,
    * resulting sequences, boundary-straddling docs, and the fill ratio
    * of the final chopped layout (1 − fill = padding waste of the last
    * sequence only). */
  /** The ONE packing-plan implementation (per-doc bucket/sequence
    * assignment) — shared by the registry aggregate below and the
    * [[graft.api.TrainingSet.packingPlan]] facade. */
  private[graft] def packingPlanFrom(docs: DataFrame, tokenCol: String,
      seqLen: Int, buckets: Int, idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .withColumn("bucket",
        DedupQueries.hash60(col(idCol).cast("string")) % buckets)
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      // the doc's 0-based token offset in its bucket's stream — pk1's
      // accounting ignores it; pk3's materializer slices with it
      .withColumn("doc_start", expr(s"__cum - $tokenCol"))
      .withColumn("first_seq", expr(s"(__cum - $tokenCol) DIV $seqLen"))
      .withColumn("last_seq", expr(s"(__cum - 1) DIV $seqLen"))
      .withColumn("straddles", col("last_seq") > col("first_seq"))
      .drop("__cum")
  }

  def pk1Packing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sized = Tables(spark, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    packingPlanFrom(sized, "n_tok", SeqLen, PackBuckets)
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        (max($"last_seq") + 1L).as("n_seqs"),
        sum(when($"straddles", 1L).otherwise(0L)).as("n_straddlers"))
      .select($"bucket", $"n_docs", $"n_tokens", $"n_seqs", $"n_straddlers",
        ($"n_tokens".cast("double") / ($"n_seqs" * SeqLen)).as("fill_ratio"))
  }

  val pk1Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id,
       |    ${DedupQueries.sqlHash60("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT bucket, n_tok,
       |    sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sized)
       |SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(max((cum - 1) // $SeqLen) + 1 AS BIGINT) AS n_seqs,
       |  CAST(sum(CASE WHEN (cum - 1) // $SeqLen > (cum - n_tok) // $SeqLen
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
       |  CAST(sum(n_tok) AS DOUBLE) / ((max((cum - 1) // $SeqLen) + 1) * $SeqLen) AS fill_ratio
       |FROM packed
       |GROUP BY bucket""".stripMargin

  // ---------------- PK3: materialized packed shards ----------------

  /** The packed sequences themselves — pk1's plan MATERIALIZED: every
    * document's token stream lands in its bucket's fixed-[[SeqLen]]
    * sequences in doc-id order, straddlers sliced across the boundary
    * (the standard concat-then-chunk training layout; nothing padded,
    * nothing dropped). Output grain = one row per (bucket, seq_id)
    * with the token count and an md5 content address — the oracle pins
    * the BYTES of every packed sequence, not just the plan's
    * accounting, so the shard writer ([[packedShards]] → parquet) is
    * content-verified end to end.
    *
    * Scale shape: pk1's window (one shuffle by bucket) + a scan-side
    * explode of each doc into the ≤⌈n/L⌉+1 sequences it covers + one
    * grouped aggregation by (bucket, seq). The per-seq segment sort is
    * an `array_sort` over ≤ the docs touching one sequence — bounded
    * by L (a sequence holds at most L one-token docs). */
  /** The packed sequences with their full text payload — the writer's
    * frame; [[pk3From]] projects it to the md5-addressed oracle
    * grain. */
  private[graft] def packedSeqsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sized = docs
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("n_tok"))
    packingPlanFrom(sized, "n_tok", SeqLen, PackBuckets)
      .select($"bucket", $"doc_id", $"toks", $"n_tok", $"doc_start",
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .withColumn("seg_from", // 0-based offset inside the doc
        greatest(lit(0L), $"seq_id" * SeqLen - $"doc_start"))
      .withColumn("seg_until",
        least($"n_tok", ($"seq_id" + 1L) * SeqLen - $"doc_start"))
      .withColumn("seg", concat_ws(" ",
        expr("slice(toks, CAST(seg_from + 1 AS INT), CAST(seg_until - seg_from AS INT))")))
      .groupBy($"bucket", $"seq_id")
      .agg(
        sum($"seg_until" - $"seg_from").as("n_tokens"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(doc_id, seg))), s -> s.seg)"))
          .as("seq_text"))
  }

  def pk3From(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    packedSeqsFrom(docs)
      .select($"bucket", $"seq_id", $"n_tokens",
        md5($"seq_text".cast("binary")).as("seq_md5"))
  }

  def pk3PackedShards(spark: SparkSession, dir: String): DataFrame =
    pk3From(Tables(spark, dir, "documents"))

  /** Write the packed sequences (full text payload) as a
    * bucket-partitioned parquet layout — the shard store a trainer
    * reads. Returns the written row count. */
  def packedShards(docs: DataFrame, path: String): Long = {
    val shards = packedSeqsFrom(docs)
    shards.write.mode("overwrite")
      .partitionBy("bucket").parquet(path)
    shards.sparkSession.read.parquet(path).count()
  }

  val pk3Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id,
       |    ${DedupQueries.sqlHash60("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket,
       |    string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |packed AS (
       |  SELECT bucket, doc_id, toks, n_tok,
       |    sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS doc_start
       |  FROM sized),
       |segs AS (
       |  SELECT bucket, doc_id, seq_id,
       |    greatest(0, seq_id * $SeqLen - doc_start) AS seg_from,
       |    least(n_tok, (seq_id + 1) * $SeqLen - doc_start) AS seg_until,
       |    array_to_string(list_slice(toks,
       |      CAST(greatest(0, seq_id * $SeqLen - doc_start) + 1 AS INT),
       |      CAST(least(n_tok, (seq_id + 1) * $SeqLen - doc_start) AS INT)),
       |      ' ') AS seg
       |  FROM packed, LATERAL (SELECT unnest(range(
       |    CAST(doc_start // $SeqLen AS BIGINT),
       |    CAST((doc_start + n_tok - 1) // $SeqLen + 1 AS BIGINT)))
       |    AS seq_id) t)
       |SELECT bucket, seq_id,
       |  CAST(sum(seg_until - seg_from) AS BIGINT) AS n_tokens,
       |  md5(string_agg(seg, ' ' ORDER BY doc_id)) AS seq_md5
       |FROM segs GROUP BY bucket, seq_id""".stripMargin

  // ---------------- PK2: padded-batch waste audit ----------------

  /** Batch size of the padded-batch policy under audit. */
  private val PadBatch = 16

  /** Length-class granularity (tokens): docs are bucketed by their
    * length rounded UP to a multiple of this before batching — the
    * tensor-core-alignment bucketing real serving/SFT stacks use. Pure
    * integer arithmetic so both engines agree exactly. */
  private val PadGrain = 32

  /** PK2: padded-batch waste audit — the complement of pk1's packed
    * contract. When sequences are NOT packed but padded to their
    * batch's max (the SFT / inference-serving shape), bucketing-by-
    * length decides how many pad tokens the accelerator burns. Docs
    * are bucketed by length class (round-up-to-[[PadGrain]]), ordered
    * by the same salted content hash ds3/ds4 use (reproducible, not
    * `rand()`), grouped into batches of [[PadBatch]], and each batch
    * pads to its own max; the report is per length class.
    *
    * Scale posture (100 TB): the window input is (doc_id, n_tok, key)
    * triples partitioned by length class — text never shuffles, and
    * length classes batch in parallel. Everything is exact long
    * arithmetic; the one double division (pad_frac) happens once per
    * output row. */
  def pk2PadWaste(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sized = Tables(spark, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"),
        DedupQueries.hash60(concat($"doc_id".cast("string"), lit("|pad0")))
          .as("pick_key"))
      .withColumn("len_class", expr(s"((n_tok + ${PadGrain - 1}) DIV $PadGrain) * $PadGrain"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"len_class").orderBy($"pick_key", $"doc_id")
    sized
      .withColumn("rk", row_number().over(w))
      .withColumn("batch", expr(s"(rk - 1) DIV $PadBatch"))
      .groupBy($"len_class", $"batch")
      .agg(count(lit(1)).as("bn"), max($"n_tok").as("bmax"),
        sum($"n_tok").as("bsum"))
      .groupBy($"len_class")
      .agg(
        sum($"bn").as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum($"bsum").as("sum_tokens"),
        sum($"bmax" * $"bn" - $"bsum").as("pad_tokens"))
      .select($"len_class", $"n_docs", $"n_batches", $"sum_tokens",
        $"pad_tokens",
        ($"pad_tokens".cast("double") /
          ($"sum_tokens" + $"pad_tokens").cast("double")).as("pad_frac"))
  }

  val pk2Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tok,
       |    ${DedupQueries.sqlHash60("CAST(doc_id AS VARCHAR) || '|pad0'")} AS pick_key,
       |    ((len(string_split(text, ' ')) + ${PadGrain - 1}) // $PadGrain) * $PadGrain AS len_class
       |  FROM documents),
       |batched AS (
       |  SELECT len_class, n_tok,
       |    (row_number() OVER (PARTITION BY len_class ORDER BY pick_key, doc_id) - 1) // $PadBatch AS batch
       |  FROM sized),
       |per_batch AS (
       |  SELECT len_class, batch, count(*) AS bn, max(n_tok) AS bmax,
       |    sum(n_tok) AS bsum
       |  FROM batched GROUP BY len_class, batch)
       |SELECT len_class, CAST(sum(bn) AS BIGINT) AS n_docs,
       |  count(*) AS n_batches,
       |  CAST(sum(bsum) AS BIGINT) AS sum_tokens,
       |  CAST(sum(bmax * bn - bsum) AS BIGINT) AS pad_tokens,
       |  CAST(sum(bmax * bn - bsum) AS DOUBLE) /
       |    CAST(sum(bsum) + sum(bmax * bn - bsum) AS DOUBLE) AS pad_frac
       |FROM per_batch
       |GROUP BY len_class""".stripMargin

  // ---------------- T-LM: unigram surprisal scoring ----------------

  /** T-LM: corpus-trained unigram language-model scoring — the cheap
    * stand-in for the KenLM perplexity filters real pipelines run: the
    * vocabulary's token frequencies ARE the model, and each document is
    * scored by its average negative log-probability (high = surprising =
    * junk/outlier candidate). Each token's log-prob is a deterministic
    * scalar (count/total division then `ln`, both IEEE-identical across
    * engines); the per-doc sum runs through the exact-decimal
    * accumulator so summation order cannot break oracle parity. */
  def tUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum($"cnt").as("total"))
    toks
      .join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select($"doc_id",
        (-log($"cnt".cast("double") / $"total".cast("double"))).as("nll"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (dsum($"nll") / count(lit(1))).as("avg_nll"))
  }

  val tLmSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
       |total AS (SELECT sum(cnt) AS total FROM vocab)
       |SELECT doc_id, count(*) AS n_tokens,
       |  ${sqlDsum("-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))")} / count(*) AS avg_nll
       |FROM toks JOIN vocab USING (tok) CROSS JOIN total
       |GROUP BY doc_id""".stripMargin

  // ---------------- T-LM2: bigram surprisal scoring ----------------

  /** T-LM2: corpus-trained BIGRAM language-model scoring — one order up
    * from t_unigram_lm and the last cheap step before a real KenLM:
    * word-order violations (shuffled text, boilerplate splices, MT
    * garbage) score high here while fooling any unigram model, because
    * P(w₂|w₁) collapses exactly where local word order breaks. The
    * model is the corpus itself: conditional probability =
    * c(w₁ w₂) / c(w₁ as a bigram PREFIX) — the prefix count (not the
    * raw unigram count) makes every doc-final token a non-event, so
    * probabilities per prefix sum to 1 and unseen bigrams cannot occur
    * when scoring the training corpus. Per-doc score = mean −ln P over
    * its bigrams, through the exact-decimal accumulator.
    *
    * Scale posture: the bigram frame is a scan-side windowed zip
    * (`transform(sequence(...))`, no self-join); the model is two
    * partial-agg'd groupBys at |bigram-vocab| and |vocab| grain; the
    * score join broadcasts nothing corpus-sized (the model frames are
    * vocab²-bounded — for natural language, Zipf keeps them far below
    * the corpus; a 100 TB run would hash-partition the join on w1,w2,
    * which is exactly what the shuffle already does). Docs with one
    * token have no bigrams and produce no row (identically in both
    * engines). */
  def tBigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables(spark, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        explode(expr(
          """CASE WHEN size(toks) < 2 THEN array()
            |ELSE transform(sequence(0, size(toks) - 2),
            |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END""".stripMargin))
          .as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val c2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
    pairs
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select($"doc_id",
        (-log($"c2".cast("double") / $"c1".cast("double"))).as("nll"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (dsum($"nll") / count(lit(1))).as("avg_nll2"))
  }

  val tLm2Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)),
       |      i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
       |  FROM t),
       |pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  ${sqlDsum("-ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))")} / count(*) AS avg_nll2
       |FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
       |GROUP BY doc_id""".stripMargin

  // ---------------- T-CLF: linear quality classifier ----------------

  /** Fixed classifier weights: (bias, w_stop_ratio, w_mean_tok_len,
    * w_ln_tokens). A real pipeline trains these (fastText-style) on
    * labeled good/bad pages; scoring — a broadcast dot product per row —
    * is the operator under test and is identical either way. */
  private val ClfW = (-1.25, 4.0, -0.35, 0.45)

  /** T-CLF: model-based quality filtering — the classifier stage real
    * pipelines run AFTER the rule-based heuristics (t_quality): a linear
    * score over per-doc features with broadcast weights, thresholded to
    * a keep verdict. Pure scan-side arithmetic (no shuffle until the
    * output), with fixed left-to-right association so both engines
    * produce the bit-identical score. */
  /** The ONE linear-scoring implementation — shared by the registry
    * query and [[graft.api.TrainingSet.classifierScore]]: bias + Σ wᵢ·fᵢ
    * folded left-to-right (the deterministic evaluation order both
    * engines reproduce), plus the keep verdict. */
  private[graft] def classifierScoreFrom(docs: DataFrame, bias: Double,
      weights: Seq[(String, Double)], threshold: Double = 0.0): DataFrame = {
    val score = weights.foldLeft(lit(bias)) { case (acc, (c, w)) =>
      acc + lit(w) * col(c)
    }
    docs.withColumn("score", score)
      .withColumn("keep", col("score") > threshold)
  }

  /** THE classifier feature definitions — the ONE place stop_ratio /
    * mean_tok_len / ln_tokens are spelled, shared by the serving query
    * (t_quality_clf) and probe training (clf2): retuning a feature
    * retunes both, which is what makes the trained weights valid for
    * the serving scorer. */
  private def clfFeatures(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("stop_ratio",
        size(expr("filter(toks, t -> t IN ('the', 'a'))")).cast("double") / $"n_tokens")
      .withColumn("mean_tok_len",
        ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
      .withColumn("ln_tokens", log($"n_tokens".cast("double")))
  }

  def tQualityClf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (w0, w1, w2, w3) = ClfW
    classifierScoreFrom(clfFeatures(Tables(spark, dir, "documents")), w0,
      Seq("stop_ratio" -> w1, "mean_tok_len" -> w2, "ln_tokens" -> w3))
      .select($"doc_id", $"score", $"keep")
  }

  val tClfSql: String = {
    val (w0, w1, w2, w3) = ClfW
    s"""SELECT doc_id,
       |  $w0 + $w1 * stop_ratio + $w2 * mean_tok_len + $w3 * ln(CAST(n_tokens AS DOUBLE)) AS score,
       |  ($w0 + $w1 * stop_ratio + $w2 * mean_tok_len + $w3 * ln(CAST(n_tokens AS DOUBLE))) > 0.0 AS keep
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
       |    CAST(n_chars - (len(t) - 1) AS DOUBLE) / len(t) AS mean_tok_len,
       |    len(t) AS n_tokens
       |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents))""".stripMargin
  }

  /** The probe's feature frame: [[clfFeatures]] — the SAME expressions
    * t_quality_clf serves with, by construction — renamed to x1..x3,
    * plus the t_quality keep rule as the 0/1 training label. */
  private[graft] def probeFeatures(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    clfFeatures(docs
      // a NULL text or NULL n_chars would count into n while dropping
      // out of some (not all) sums — an INCONSISTENT Gram matrix and
      // silently biased weights; fence both (the ch1 dirty-corpus rule)
      .filter($"text".isNotNull && $"n_chars".isNotNull))
      .withColumn("x1", $"stop_ratio")
      .withColumn("x2", $"mean_tok_len")
      .withColumn("x3", $"ln_tokens")
      .withColumn("y", TextQueries.keepRule($"toks").cast("double"))
  }

  /** CLF2: TRAIN the quality probe distributed — the sufficient
    * statistics of the least-squares linear probe over the
    * t_quality_clf features with the t_quality keep rule as label:
    * one aggregation pass emitting the Gram matrix and moment sums
    * (every sum exact-decimal, so the row is order-insensitive and
    * oracle-checkable), from which the 4×4 normal equations solve on
    * the driver in O(1) ([[linearProbeWeights]]). This is the shape
    * distributed linear-probe training keeps at 100 TB: the corpus is
    * touched once, shuffle volume is ONE row, and the solve never
    * grows with data. */
  def clf2ProbeStats(spark: SparkSession, dir: String): DataFrame =
    probeStatsFrom(Tables(spark, dir, "documents"))

  /** The clf2 aggregation over any `(text, n_chars)` frame — shared by
    * the registry row and [[graft.api.TrainingSet.trainQualityProbe]]. */
  private[graft] def probeStatsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    probeFeatures(docs).agg(
      count(lit(1)).as("n"),
      dsum($"x1").as("s_x1"), dsum($"x2").as("s_x2"), dsum($"x3").as("s_x3"),
      dsum($"x1" * $"x1").as("s_x1x1"), dsum($"x1" * $"x2").as("s_x1x2"),
      dsum($"x1" * $"x3").as("s_x1x3"), dsum($"x2" * $"x2").as("s_x2x2"),
      dsum($"x2" * $"x3").as("s_x2x3"), dsum($"x3" * $"x3").as("s_x3x3"),
      dsum($"y").as("s_y"),
      dsum($"x1" * $"y").as("s_x1y"), dsum($"x2" * $"y").as("s_x2y"),
      dsum($"x3" * $"y").as("s_x3y"))
  }

  val clf2Sql: String = {
    def ds(e: String, as: String) = s"${graft.analytics.sqlDsum(e)} AS $as"
    s"""SELECT count(*) AS n,
       |  ${ds("x1", "s_x1")}, ${ds("x2", "s_x2")}, ${ds("x3", "s_x3")},
       |  ${ds("x1 * x1", "s_x1x1")}, ${ds("x1 * x2", "s_x1x2")},
       |  ${ds("x1 * x3", "s_x1x3")}, ${ds("x2 * x2", "s_x2x2")},
       |  ${ds("x2 * x3", "s_x2x3")}, ${ds("x3 * x3", "s_x3x3")},
       |  ${ds("y", "s_y")},
       |  ${ds("x1 * y", "s_x1y")}, ${ds("x2 * y", "s_x2y")},
       |  ${ds("x3 * y", "s_x3y")}
       |FROM (
       |  SELECT
       |    CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS x1,
       |    CAST(n_chars - (len(t) - 1) AS DOUBLE) / len(t) AS x2,
       |    ln(CAST(len(t) AS DOUBLE)) AS x3,
       |    CAST((len(t) >= 20 AND len(t) <= 1000
       |      AND CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE)
       |        / len(t) > 0.0) AS DOUBLE) AS y
       |  FROM (SELECT n_chars, string_split(text, ' ') AS t FROM documents
       |        WHERE text IS NOT NULL AND n_chars IS NOT NULL))""".stripMargin
  }

  /** Solve the probe's normal equations `(XᵀX) w = Xᵀy` from the clf2
    * stats row — a 4×4 Gaussian elimination with partial pivoting on
    * the driver; returns (bias, w_stop_ratio, w_mean_tok_len,
    * w_ln_tokens). O(1) in corpus size by construction. */
  def linearProbeWeights(stats: org.apache.spark.sql.Row):
      (Double, Double, Double, Double) = {
    require(stats.getAs[Long]("n") > 0,
      "cannot fit the quality probe on an empty corpus (n = 0: every " +
        "statistic is NULL)")
    def g(c: String) = stats.getAs[Any](c) match {
      case l: Long => l.toDouble
      case d: Double => d
    }
    val (n, s1, s2, s3) = (g("n"), g("s_x1"), g("s_x2"), g("s_x3"))
    val a = Array(
      Array(n, s1, s2, s3),
      Array(s1, g("s_x1x1"), g("s_x1x2"), g("s_x1x3")),
      Array(s2, g("s_x1x2"), g("s_x2x2"), g("s_x2x3")),
      Array(s3, g("s_x1x3"), g("s_x2x3"), g("s_x3x3")))
    val b = Array(g("s_y"), g("s_x1y"), g("s_x2y"), g("s_x3y"))
    val m = 4
    (0 until m).foreach { col =>
      val piv = (col until m).maxBy(r => math.abs(a(r)(col)))
      require(math.abs(a(piv)(col)) > 1e-12,
        "singular normal equations: features are collinear on this corpus")
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      ((col + 1) until m).foreach { r =>
        val f = a(r)(col) / a(col)(col)
        (col until m).foreach(c => a(r)(c) -= f * a(col)(c))
        b(r) -= f * b(col)
      }
    }
    val w = new Array[Double](m)
    (m - 1 to 0 by -1).foreach { r =>
      w(r) = (b(r) - ((r + 1) until m).map(c => a(r)(c) * w(c)).sum) / a(r)(r)
    }
    (w(0), w(1), w(2), w(3))
  }

  // ---------------- D9: dedup survivor selection ----------------

  /** D9: the final act of a dedup pipeline — given the near-duplicate
    * clusters (d5's connected components), pick ONE survivor per
    * cluster: the longest document, doc_id as the deterministic
    * tie-break (real pipelines rank by quality score; the argmax shape
    * is identical). The argmax is a partial-agg'd `min(struct(...))`
    * (r18, guide §2.3 — the kms1 trick) whose key orders exactly like
    * the oracle's `n_chars DESC NULLS LAST, doc_id ASC`:
    *  - `isnull(n_chars)` first, so a NULL length never wins over a
    *    known one (struct ordering alone puts NULLs first);
    *  - then `~n_chars` (= -n_chars - 1), descending in `n_chars`
    *    with no overflow at `Long.MinValue`, unlike a negation;
    *  - then doc_id, unique within a cluster (a total order — the
    *    same row as rank 1 of a row_number window).
    * The survivor's remaining columns ride the struct. One combinable
    * slot per cluster crosses the exchange instead of every member row
    * through a sort, so a giant cluster is absorbed map-side instead of
    * buffered in one window group. */
  def d9From(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val clusters = DedupQueries.d5From(docs)
    docs.join(clusters, "doc_id")
      .groupBy($"cluster_id")
      .agg(min(struct(isnull($"n_chars").as("no_chars"),
        bitwise_not($"n_chars").as("desc_chars"), $"doc_id",
        $"n_chars", $"lang")).as("s"))
      .select($"cluster_id", $"s.doc_id".as("survivor_id"),
        $"s.n_chars".as("n_chars"), $"s.lang".as("lang"))
  }

  def d9Survivors(spark: SparkSession, dir: String): DataFrame =
    d9From(Tables(spark, dir, "documents"))

  val d9Sql: String =
    s"""WITH clusters AS (${DedupQueries.d5Sql.replace("\n", "\n  ")}),
       |ranked AS (
       |  SELECT c.cluster_id, d.doc_id, d.n_chars, d.lang,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
       |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT cluster_id, doc_id AS survivor_id, n_chars, lang
       |FROM ranked WHERE rk = 1""".stripMargin

  // ---------------- corpus health report ----------------

  /** The pre-training-run dashboard: one row per language over the
    * train split with the rates every pipeline decision hangs on —
    * exact-duplicate docs, benchmark contamination, heuristic and
    * classifier keep rates, token volume. Composes the existing stages
    * in ONE query: a single scan feeds every per-doc flag; the only
    * joins are the per-text dup-count (8-byte hash keys) and the
    * broadcast contamination semi-probe. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val train = docs.filter($"source" =!= "src0")
    val dupTexts = train.groupBy(md5($"text").as("text_md5"))
      .agg(count(lit(1)).as("n_copies"))
      .filter($"n_copies" > 1)
      .select($"text_md5")
    val benchGrams = TrainingSetQueries
      .gramHashes(docs.filter($"source" === "src0"), 5)
      .select($"h").distinct()
    val contaminated = TrainingSetQueries.gramHashes(train, 5)
      .join(broadcast(benchGrams), Seq("h"), "leftsemi")
      .select($"doc_id").distinct().withColumn("contam", lit(1L))
    val (w0, w1, w2, w3) = ClfW
    train
      .join(dupTexts.withColumn("dup", lit(1L)),
        md5($"text") === $"text_md5", "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("stop_ratio",
        size(expr("filter(toks, t -> t IN ('the', 'a'))")).cast("double") / $"n_tokens")
      .withColumn("mean_tok_len",
        ($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
      .withColumn("quality_keep",
        ($"n_tokens" >= 20 && $"n_tokens" <= 1000 && $"stop_ratio" > 0.0))
      .withColumn("clf_keep",
        lit(w0) + lit(w1) * $"stop_ratio" + lit(w2) * $"mean_tok_len" +
          lit(w3) * log($"n_tokens".cast("double")) > 0.0)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce($"dup", lit(0L))).as("n_exact_dup_docs"),
        sum(coalesce($"contam", lit(0L))).as("n_contaminated"),
        sum(when($"quality_keep", 1L).otherwise(0L)).as("n_quality_keep"),
        sum(when($"clf_keep", 1L).otherwise(0L)).as("n_clf_keep"),
        sum($"n_tokens").as("n_tokens"))
  }

  val corpusReportSql: String = {
    val (w0, w1, w2, w3) = ClfW
    val n = 5
    val gramExpr =
      s"unnest(list_transform(range(len(t) - ${n - 1}), i -> " +
        s"concat_ws(' ', ${(1 to n).map(j => s"t[i+$j]").mkString(", ")})))"
    s"""WITH train AS (
       |  SELECT * FROM documents WHERE source <> 'src0'),
       |dup_texts AS (
       |  SELECT md5(text) AS text_md5 FROM train
       |  GROUP BY md5(text) HAVING count(*) > 1),
       |toksrc AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $n),
       |grams AS (
       |  SELECT doc_id, source, ${DedupQueries.sqlHash60("gram")} AS h FROM (
       |    SELECT doc_id, source, $gramExpr AS gram FROM toksrc)),
       |bench AS (SELECT DISTINCT h FROM grams WHERE source = 'src0'),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM grams
       |  WHERE source <> 'src0' AND h IN (SELECT h FROM bench)),
       |feat AS (
       |  SELECT d.doc_id, d.lang, d.n_chars,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(d.text, ' '),
       |      x -> x IN ('the', 'a'))) AS DOUBLE)
       |      / len(string_split(d.text, ' ')) AS stop_ratio,
       |    CAST(d.n_chars - (len(string_split(d.text, ' ')) - 1) AS DOUBLE)
       |      / len(string_split(d.text, ' ')) AS mean_tok_len,
       |    CASE WHEN md5(d.text) IN (SELECT text_md5 FROM dup_texts)
       |      THEN 1 ELSE 0 END AS dup,
       |    CASE WHEN d.doc_id IN (SELECT doc_id FROM contaminated)
       |      THEN 1 ELSE 0 END AS contam
       |  FROM train d)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(dup) AS BIGINT) AS n_exact_dup_docs,
       |  CAST(sum(contam) AS BIGINT) AS n_contaminated,
       |  CAST(sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
       |    AND stop_ratio > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep,
       |  CAST(sum(CASE WHEN $w0 + $w1 * stop_ratio + $w2 * mean_tok_len
       |    + $w3 * ln(CAST(n_tokens AS DOUBLE)) > 0.0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_keep,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM feat
       |GROUP BY lang""".stripMargin
  }

  /** D14: cross-source contamination matrix — for every ordered source
    * pair, how many of source A's distinct 3-gram shingles also occur
    * in source B. The pipeline question this answers: which corpus
    * components are copying from each other (mirror sites, scraped
    * re-posts, benchmark text spreading through web dumps) — the
    * pairwise generalization of d6's one-benchmark decontamination.
    *
    * Scale shape: ONE full-data exchange total. The (source, gram-hash)
    * pairs partial-aggregate map-side into per-hash source SETS
    * (collect_set dedups, so no separate distinct pass; gram TEXT never
    * crosses the exchange — the t_novelty discipline), and every matrix
    * cell is read off that single grouped frame: exploding the source
    * set twice yields the ordered pairs of each gram (≤ |sources|² per
    * hash, here 20², trivially), and the (a,a) diagonal of the pair
    * counts IS total_a — so the per-source totals need neither a third
    * scan nor a join-back, just a |sources|²-row window. The r11 shape
    * (distinct + hash self-join + separate totals) re-ran the gram
    * explode for every reference and paid a second big exchange for the
    * join. With thousands of sources the per-gram pair product grows —
    * that regime is exactly what the theta-sketch set algebra
    * (w6_theta_overlap) serves, trading exactness for O(sketch) per
    * source; this operator is the exact twin. All-long outputs;
    * zero-overlap pairs are absent rows, identically in both engines. */
  def d14Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val bySrcSet = Tables(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"source", explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("shingle"))
      .select($"source", DedupQueries.hash60($"shingle").as("h"))
      .groupBy($"h").agg(collect_set($"source").as("srcs"))
    val pairCounts = bySrcSet
      .select(explode($"srcs").as("source_a"), $"srcs")
      .select($"source_a", explode($"srcs").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n"))
    pairCounts
      .withColumn("total_a",
        max(when($"source_a" === $"source_b", $"n"))
          .over(Window.partitionBy($"source_a")))
      .filter($"source_a" =!= $"source_b")
      .select($"source_a", $"source_b", $"n".as("n_shared"), $"total_a")
  }

  val d14Sql: String = {
    import DedupQueries.sqlHash60
    s"""WITH toks AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents),
       |g AS (
       |  SELECT DISTINCT source, ${sqlHash60("shingle")} AS h FROM (
       |    SELECT source,
       |      unnest(list_transform(range(len(t) - 2),
       |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |tot AS (SELECT source, count(*) AS total_a FROM g GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS n_shared, any_value(t.total_a) AS total_a
       |FROM g a
       |JOIN g b ON a.h = b.h AND a.source <> b.source
       |JOIN tot t ON t.source = a.source
       |GROUP BY a.source, b.source""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "d14_contamination" -> QueryDef.of(d14Sql)(d14Contamination),
    "d7_bloom_decontam" -> QueryDef.of(d7Sql)(d7BloomDecontam),
    "d8_paragraph_dedup" -> QueryDef.of(d8Sql)(d8ParagraphDedup),
    "pk1_seq_packing" -> QueryDef.of(pk1Sql)(pk1Packing),
    "pk2_pad_waste" -> QueryDef.of(pk2Sql)(pk2PadWaste),
    "pk3_packed_shards" -> QueryDef.of(pk3Sql)(pk3PackedShards),
    "t_unigram_lm" -> QueryDef.of(tLmSql)(tUnigramLm),
    "t_bigram_lm" -> QueryDef.of(tLm2Sql)(tBigramLm),
    "t_quality_clf" -> QueryDef.of(tClfSql)(tQualityClf),
    "clf2_probe_stats" -> QueryDef.of(clf2Sql)(clf2ProbeStats),
    "d9_survivors" -> QueryDef.of(d9Sql)(d9Survivors),
    "corpus_report" -> QueryDef.of(corpusReportSql)(corpusReport)
  )
}
