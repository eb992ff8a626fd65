package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: token
  * counting, quality scoring, language ID (marker-word heuristic), and
  * document fingerprinting. All are narrow per-row transforms — no
  * shuffle except final aggregations — so they stream at scan speed
  * regardless of corpus size.
  */
object TextQueries {

  /** Token statistics per (lang, source): docs, token sums, distinct
    * token means. `split` on single-space matches DuckDB
    * `string_split` exactly (empty string → one empty token). */
  def tTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size($"toks")).as("sum_tokens"),
        sum(size(array_distinct($"toks"))).as("sum_distinct_tokens"),
        davg($"n_chars".cast("double")).as("avg_chars"))
  }

  val tTokensSql: String =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       |  CAST(sum(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS sum_distinct_tokens,
       |  ${sqlDavg("CAST(n_chars AS DOUBLE)")} AS avg_chars
       |FROM documents GROUP BY lang, source""".stripMargin

  /** Quality scoring per document: token count, stopword ratio, mean
    * token length, and a composite keep/drop flag — the shape of a
    * C4/Gopher-style quality filter. Ratios are double divisions of
    * exact integers → bit-identical across engines. */
  /** The ONE quality keep rule over a token-array column — shared by
    * t_quality and the ds10 curation funnel's quality stage, so the
    * funnel provably applies THIS operator's rule (a retune here
    * retunes both). */
  def keepRule(toks: Column): Column = {
    val n = size(toks).cast("long")
    val stop = size(filter(toks, t => t.isin("the", "a"))).cast("long")
    n >= 20 && n <= 1000 && (stop.cast("double") / n) > 0.0
  }

  def tQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("n_stop",
        size(expr("filter(toks, t -> t IN ('the', 'a'))")).cast("long"))
      .select(
        $"doc_id",
        $"n_tokens",
        $"n_stop",
        ($"n_stop".cast("double") / $"n_tokens").as("stop_ratio"),
        (($"n_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens").as("mean_tok_len"),
        keepRule($"toks").as("keep"))
  }

  val tQualitySql: String =
    """SELECT doc_id, n_tokens, n_stop,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_tok_len,
      |  (n_tokens >= 20 AND n_tokens <= 1000
      |    AND CAST(n_stop AS DOUBLE) / n_tokens > 0.0) AS keep
      |FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop
      |  FROM documents)""".stripMargin

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "table"),
    "de" -> Seq("hash", "merge"),
    "fr" -> Seq("join", "filter"),
    "zh" -> Seq("spark", "query"))

  /** Language-ID heuristic: score = marker-token hits per language,
    * argmax with a fixed tie-break order; output is the lang × predicted
    * confusion matrix. (Real n-gram models plug into the same shape —
    * the operator contract is deterministic scoring + argmax.) */
  def tLangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = markers.foldLeft(
      Tables(spark, dir, "documents").withColumn("toks", split($"text", " "))) {
      case (df, (l, ws)) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"score_$l",
          size(expr(s"filter(toks, t -> t IN ($inList))")).cast("long"))
    }
    val langs = markers.map(_._1)
    def gmax(cols: Seq[org.apache.spark.sql.Column]) =
      if (cols.size == 1) cols.head else greatest(cols: _*)
    val predicted = langs.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), rest) =>
        if (i == langs.size - 1) rest
        else {
          val remaining = langs.drop(i + 1).map(o => col(s"score_$o"))
          when(col(s"score_$l") >= gmax(remaining), lit(l)).otherwise(rest)
        }
    }
    scored
      .withColumn("predicted", predicted)
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
  }

  val tLangIdSql: String = {
    val scoreSelects = markers.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS BIGINT) AS score_$l"
    }.mkString(",\n    ")
    val langs = markers.map(_._1)
    val caseExpr = langs.init.zipWithIndex.map { case (l, i) =>
      val rem = langs.drop(i + 1).map(o => s"score_$o")
      val gm = if (rem.size == 1) rem.head else s"greatest(${rem.mkString(", ")})"
      s"WHEN score_$l >= $gm THEN '$l'"
    }.mkString("\n      ")
    s"""SELECT lang, predicted, count(*) AS n_docs FROM (
       |  SELECT lang,
       |    CASE $caseExpr
       |      ELSE '${langs.last}' END AS predicted
       |  FROM (
       |    SELECT lang,
       |    $scoreSelects
       |    FROM documents))
       |GROUP BY lang, predicted""".stripMargin
  }

  /** Document fingerprint: 60-bit hash of the case/punctuation-
    * normalized text — the canonicalization step ahead of exact dedup. */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("norm",
        trim(regexp_replace(regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " ")))
      .select($"doc_id", DedupQueries.hash60($"norm").as("fingerprint"),
        length($"norm").as("norm_len"))
  }

  val tFingerprintSql: String =
    s"""SELECT doc_id,
       |  ${DedupQueries.sqlHash60("norm")} AS fingerprint,
       |  length(norm) AS norm_len
       |FROM (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
       |      ' +', ' ', 'g')) AS norm
       |  FROM documents)""".stripMargin

  /** BPE-style pre-tokenizer regex (the GPT-2 pattern with the RE2-
    * incompatible trailing-space lookahead removed): contraction tails,
    * space-prefixed letter runs, digit runs, punctuation runs, residual
    * whitespace. Both engines' regex cores (Java util.regex, RE2) give
    * leftmost-first alternation, so token streams agree exactly. */
  private val bpeRegex =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token counting on the BPE-ish pre-tokenizer — the statistic an LLM
    * data pipeline actually budgets by (whitespace splitting
    * undercounts punctuation-heavy text badly). */
  def tTokensBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("toks",
        regexp_extract_all($"text", lit(bpeRegex), lit(0)))
      .withColumn("real_toks",
        filter($"toks", t => !t.rlike("^\\s+$")))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size($"real_toks")).cast("long").as("sum_bpe_tokens"),
        sum(size($"toks") - size($"real_toks")).cast("long").as("sum_ws_runs"))
  }

  val tTokensBpeSql: String = {
    val pat = bpeRegex.replace("'", "''") // DuckDB literals keep backslashes
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(list_filter(regexp_extract_all(text, '$pat', 0),
       |    t -> NOT regexp_matches(t, '^\\s+$$')))) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '$pat', 0))
       |    - len(list_filter(regexp_extract_all(text, '$pat', 0),
       |        t -> NOT regexp_matches(t, '^\\s+$$')))) AS BIGINT) AS sum_ws_runs
       |FROM documents GROUP BY lang""".stripMargin
  }

  /** Winnowing fingerprints (Schleimer et al.): hash every k-gram
    * (k=4 tokens), then keep the minimum hash of each sliding window
    * (w=4) — the local-minimum sample that makes plagiarism/dup
    * detection robust to edits. Output: distinct selected fingerprints
    * per doc, the set a fingerprint index would store. */
  private[graft] val WinnowK = 4
  private[graft] val WinnowW = 4

  /** The selected fingerprint SET per document — (doc_id, winmin)
    * distinct rows — exposed so the winnowing GUARANTEE (any shared
    * span of ≥ w+k−1 tokens produces a shared fingerprint, Schleimer
    * et al. §3) is testable against an independent reference; the
    * registry row ([[tWinnow]]) aggregates this to counts. */
  private[graft] def winnowFingerprints(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val k = WinnowK
    val w = WinnowW
    // Explode grams to rows and take the window minimum with a frame —
    // each gram is hashed exactly ONCE. (The all-array formulation
    // (transform over sequence + slice) inlines the gram-hash array into
    // the lambda under projection collapse, recomputing it per window:
    // O(grams²) digests per document — a 60× slowdown at sf0.1.)
    val grams = documents
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= k + w - 1)
      .withColumn("n_grams", (size($"toks") - (k - 1)).cast("int"))
      .select($"doc_id", $"n_grams", posexplode(expr(
        s"transform(sequence(0, size(toks)-$k), i -> concat_ws(' ', slice(toks, i+1, $k)))")))
      .withColumnRenamed("pos", "i")
      .withColumn("gh", DedupQueries.hash60($"col"))
      .drop("col")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i").rowsBetween(0, w - 1)
    grams
      .withColumn("winmin", min($"gh").over(win))
      .filter($"i" <= $"n_grams" - w) // only full windows
      .select($"doc_id", $"winmin").distinct()
  }

  def tWinnow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    winnowFingerprints(Tables(spark, dir, "documents"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fingerprints"), min($"winmin").as("min_fp"))
  }

  val tWinnowSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    list_transform(range(len(t) - 3),
       |      i -> ${DedupQueries.sqlHash60("concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4])")}) AS gh
       |  FROM toks WHERE len(t) >= 7),
       |wins AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(len(gh) - 3),
       |      i -> list_min(gh[i+1:i+4]))) AS winmins
       |  FROM grams)
       |SELECT doc_id, CAST(len(winmins) AS BIGINT) AS n_fingerprints,
       |  list_min(winmins) AS min_fp
       |FROM wins""".stripMargin

  /** T-VOCAB: corpus vocabulary by frequency — the first statistic a
    * tokenizer-training / vocab-coverage pass computes. Partial
    * aggregation keeps the shuffle at |vocab| (tiny vs corpus); the
    * top-k is TakeOrderedAndProject with a total tie-break order so
    * both engines emit the identical list. */
  def tVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"tok")
      .limit(50)
  }

  val tVocabSql: String =
    """SELECT tok, count(*) AS freq FROM (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY freq DESC, tok LIMIT 50""".stripMargin

  /** T-ENTROPY: token-distribution Shannon entropy per document — the
    * diversity signal quality pipelines pair with the repetition filter
    * (low entropy = template/spam, suspiciously high = random noise).
    * H = ln(n) − (Σ c·ln c)/n over per-doc token counts, so the whole
    * computation is two keyed aggregations with partial agg — no window,
    * no self-join. Each c·ln(c) term is IEEE-identical across engines
    * and the sum runs through the exact-decimal accumulator, making the
    * entropy bit-identical; the normalized column divides by ln(distinct)
    * (defined 0 for single-token docs on both sides). */
  def tEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("c"))
    counts.groupBy($"doc_id")
      .agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        dsum($"c".cast("double") * log($"c".cast("double"))).as("clnc"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        (log($"n_tokens".cast("double")) - $"clnc" / $"n_tokens").as("entropy"),
        when($"n_distinct" === 1, lit(0.0))
          .otherwise((log($"n_tokens".cast("double")) - $"clnc" / $"n_tokens") /
            log($"n_distinct".cast("double"))).as("entropy_norm"))
  }

  val tEntropySql: String =
    s"""WITH counts AS (
       |  SELECT doc_id, tok, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
       |    ${sqlDsum("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")} AS clnc
       |  FROM counts GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  ln(CAST(n_tokens AS DOUBLE)) - clnc / n_tokens AS entropy,
       |  CASE WHEN n_distinct = 1 THEN 0.0
       |       ELSE (ln(CAST(n_tokens AS DOUBLE)) - clnc / n_tokens)
       |         / ln(CAST(n_distinct AS DOUBLE)) END AS entropy_norm
       |FROM agg""".stripMargin

  /** T-TOPK-NGRAMS: the k most frequent 3-grams per language — the
    * boilerplate detector (cookie banners, nav chrome, license headers
    * surface as high-frequency grams; a C4-style pipeline drops lines
    * containing them). Shape: one partial-final count shuffle keyed by
    * (lang, gram) — map-side combine collapses the gram stream before it
    * moves — then a per-language top-k that PHYSICALLY executes as a
    * two-level heap: Spark's InferWindowGroupLimit compiles
    * `row_number ≤ k` into `WindowGroupLimit Partial` (each upstream
    * partition keeps only its own top k rows per language BEFORE the
    * exchange) → shuffle → `WindowGroupLimit Final`, so the per-language
    * task merges ≤ k×partitions survivors — never the full vocabulary,
    * even when a language's 3-gram vocab is billions of rows. The shape
    * is pinned in PlanSpec. Tie-break is total: count DESC, gram ASC,
    * so top-k is deterministic on both engines. */
  private val topkK = 10

  /** The exploded (lang, gram) stream of all 3-grams. */
  private[analytics] def gramsOfDocs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"lang", explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("gram"))
  }

  private def gramsOf(spark: SparkSession, dir: String): DataFrame =
    gramsOfDocs(Tables(spark, dir, "documents"))

  def tTopkNgrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n".desc, $"gram")
    gramsOf(spark, dir)
      .groupBy($"lang", $"gram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= topkK)
  }

  val tTopkNgramsSql: String =
    s"""WITH toks AS (
       |  SELECT lang, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (
       |  SELECT lang, unnest(list_transform(range(len(t) - 2),
       |    i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
       |  FROM toks),
       |counted AS (
       |  SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram)
       |SELECT lang, gram, n,
       |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS BIGINT) AS rank
       |FROM counted
       |QUALIFY rank <= $topkK""".stripMargin

  /** T-TOPK-CMS: the sketch twin of [[tTopkNgrams]] — estimate the
    * top-k grams' frequencies from a count-min sketch instead of the
    * exact (lang, gram) aggregate. At extreme vocabularies the exact
    * count shuffle is |vocab|; the sketch is CONSTANT size per language
    * (eps/confidence fix the 2/eps × ln(1/(1-conf)) counter grid), built
    * in one partial-merged aggregation, and the per-language result
    * broadcasts as ~80 KB. The CMS guarantee — estimate never BELOW the
    * true count, and within eps·N above it with probability ≥
    * confidence — is the oracle-checked quantity, a5/a8-style: DuckDB
    * computes the exact counts and asserts the bound columns, the
    * estimates themselves being engine-specific. Probing happens
    * driver-side over k×|langs| rows (the sketches and the top-k list
    * are both tiny — the kms1 centroid pattern). */
  def tTopkCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cmsEps = 0.001
    val grams = gramsOf(spark, dir)
    val sketches = grams.groupBy($"lang")
      .agg(
        count_min_sketch($"gram", lit(cmsEps), lit(0.99), lit(42)).as("cms"),
        count(lit(1)).as("n_total"))
      .collect()
      .map(r => r.getString(0) ->
        ((org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms"))),
          r.getLong(2))))
      .toMap
    val estimate = udf { (lang: String, gram: String) =>
      sketches(lang)._1.estimateCount(gram)
    }
    val bound = udf { (lang: String) =>
      math.ceil(cmsEps * sketches(lang)._2).toLong
    }
    tTopkNgrams(spark, dir)
      .withColumn("est", estimate($"lang", $"gram"))
      .select($"lang", $"gram", $"n", $"rank",
        ($"est" >= $"n").as("never_undercounts"),
        ($"est" <= $"n" + bound($"lang")).as("within_eps_bound"))
  }

  val tTopkCmsSql: String =
    s"""WITH toks AS (
       |  SELECT lang, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (
       |  SELECT lang, unnest(list_transform(range(len(t) - 2),
       |    i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
       |  FROM toks),
       |counted AS (
       |  SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram)
       |SELECT lang, gram, n,
       |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS BIGINT) AS rank,
       |  TRUE AS never_undercounts,
       |  TRUE AS within_eps_bound
       |FROM counted
       |QUALIFY rank <= $topkK""".stripMargin

  /** T-TOPK-SERVED: top-k grams SERVED from the sketch — the 100 TB
    * path where the exact |vocab| aggregate never runs. [[tTopkCms]]
    * audits the sketch against the exact plan; this variant REPLACES
    * it:
    *
    *   - **candidates** come from per-partition lossy-counting heads
    *     (Manku & Motwani VLDB'02; the bounded-summary family of
    *     SpaceSaving): each input
    *     partition counts into a capacity-bounded map and emits its top
    *     [[ServedHeads]] grams — a map-side pass with NO
    *     vocabulary-sized shuffle anywhere (a gram with meaningful
    *     partition-local share survives every prune, so a global top-k
    *     gram — necessarily frequent in at least one partition at any
    *     data layout — surfaces as a candidate);
    *   - **frequencies** come from the per-language count-min sketch
    *     (constant size by construction), probed driver-side over the
    *     candidate rows — the kms1 broadcast-tiny pattern;
    *   - the served k are the candidates ranked by CMS estimate.
    *
    * The oracle-checked contract (a5/a8 bound convention): k rows per
    * language, and for every SERVED gram the CMS guarantee holds —
    * estimate never below the true count, within eps·N above it. The
    * audit's exact counts touch ONLY the k×|langs| served grams
    * (a broadcast semi-join, not an aggregate over the vocabulary), so
    * the full plan stays vocabulary-shuffle-free — pinned in PlanSpec. */
  private[analytics] val ServedHeads = 64

  def tTopkServed(spark: SparkSession, dir: String): DataFrame =
    tTopkServedFrom(Tables(spark, dir, "documents"))

  private[analytics] val ServedCmsEps = 0.001

  /** The served frame itself — (lang, gram, est, rank), rank by CMS
    * estimate over the lossy-counting candidates. Exposed for the
    * recall/robustness specs; the oracle row ([[tTopkServedFrom]])
    * wraps it with the bound audit and drops the engine-specific
    * estimate. */
  private[analytics] def servedTopk(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cmsEps = ServedCmsEps
    val grams = gramsOfDocs(docs)
    // per-language constant-size sketches + totals: |langs| rows
    val sketches = grams.groupBy($"lang")
      .agg(
        count_min_sketch($"gram", lit(cmsEps), lit(0.99), lit(42)).as("cms"),
        count(lit(1)).as("n_total"))
      .collect()
      .map(r => r.getString(0) ->
        ((org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms"))),
          r.getLong(2))))
      .toMap
    // Lossy-counting candidate heads per (partition, lang) (Manku &
    // Motwani, "Approximate frequency counts over data streams",
    // VLDB'02): count into a hash map, and when it exceeds 8×capacity
    // prune back to the top `capacity` entries by (count, gram) — O(1)
    // amortized per gram (the prune sorts 8×capacity entries once every
    // 7×capacity inserts), bounded memory, and a partition-heavy gram
    // can lose at most the pruned-away mass, so every true heavy hitter
    // survives to the per-partition head emission. (A per-insert
    // SpaceSaving eviction would be O(capacity) per novel gram once
    // full — quadratic on a high-vocabulary stream.)
    val capacity = 4096
    val candidates = grams.as[(String, String)].mapPartitions { it =>
      val states = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.HashMap[String, Long]]
      it.foreach { case (lang, gram) =>
        val m = states.getOrElseUpdate(lang,
          new scala.collection.mutable.HashMap[String, Long])
        m.update(gram, m.getOrElse(gram, 0L) + 1L)
        if (m.size > capacity * 8) {
          val keep = m.toArray
            .sortBy { case (g, c) => (-c, g) }.take(capacity)
          m.clear()
          m ++= keep
        }
      }
      states.iterator.flatMap { case (lang, m) =>
        m.toSeq.sortBy { case (g, c) => (-c, g) }
          .take(ServedHeads).map { case (g, _) => (lang, g) }
      }
    }.toDF("lang", "gram").distinct()
    val estimate = udf { (lang: String, gram: String) =>
      sketches(lang)._1.estimateCount(gram)
    }
    val total = udf { (lang: String) => sketches(lang)._2 }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"est".desc, $"gram")
    candidates
      .withColumn("est", estimate($"lang", $"gram"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= topkK)
      .withColumn("n_total", total($"lang"))
  }

  def tTopkServedFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val served = servedTopk(docs)
    // bound audit for the SERVED grams only: exact counts via a
    // broadcast semi-join against k×|langs| rows — never |vocab|
    gramsOfDocs(docs)
      .join(broadcast(served), Seq("lang", "gram"))
      .groupBy($"lang", $"gram")
      .agg(count(lit(1)).as("n"), first($"est").as("est"),
        first($"rank").as("rank"), first($"n_total").as("n_total"))
      .select($"lang", $"rank",
        ($"est" >= $"n").as("never_undercounts"),
        ($"est" <= $"n" + ceil($"n_total" * ServedCmsEps).cast("long"))
          .as("within_eps_bound"))
  }

  /** DuckDB checks the shape and the guarantees: k ranks per language,
    * both bound columns TRUE (the estimates themselves are
    * engine-specific sketch state, so they stay out of the contract —
    * the a5 approx-distinct convention). */
  val tTopkServedSql: String =
    s"""WITH toks AS (
       |  SELECT lang, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (
       |  SELECT lang, unnest(list_transform(range(len(t) - 2),
       |    i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
       |  FROM toks),
       |counted AS (
       |  SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram),
       |ranked AS (
       |  SELECT lang,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS BIGINT) AS rank
       |  FROM counted)
       |SELECT lang, rank, TRUE AS never_undercounts, TRUE AS within_eps_bound
       |FROM ranked WHERE rank <= $topkK""".stripMargin

  /** T-NOVELTY: per-source novelty — the fraction of each document's
    * distinct 3-grams that appear FIRST in that document (doc_id order
    * plays arrival order, as in a dated CommonCrawl sweep). A source
    * whose later documents add no new grams is recycling content; dedup
    * pipelines use exactly this signal to early-exit a crawl slice.
    * Shape: two shuffles on the gram hash — distinct (doc, gram), then
    * min(doc_id) per gram joined back — both partial-aggregated; the
    * gram never travels as text (8-byte hash60). */
  def tNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables(spark, dir, "documents")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", $"source", explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("gram"))
      .select($"doc_id", $"source", DedupQueries.hash60($"gram").as("h"))
      .distinct()
    val firstSeen = grams.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    val perDoc = grams
      .join(firstSeen, "h")
      .groupBy($"doc_id", $"source")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
    perDoc.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_grams").as("sum_grams"),
        sum($"n_novel").as("sum_novel"),
        davg($"n_novel".cast("double") / $"n_grams").as("avg_novelty"))
  }

  val tNoveltySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |grams AS (
       |  SELECT DISTINCT doc_id, source, ${DedupQueries.sqlHash60("gram")} AS h FROM (
       |    SELECT doc_id, source, unnest(list_transform(range(len(t) - 2),
       |      i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS gram
       |    FROM toks)),
       |first_seen AS (
       |  SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h),
       |per_doc AS (
       |  SELECT g.doc_id, g.source, count(*) AS n_grams,
       |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
       |  FROM grams g JOIN first_seen f ON g.h = f.h
       |  GROUP BY g.doc_id, g.source)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_grams) AS BIGINT) AS sum_grams,
       |  CAST(sum(n_novel) AS BIGINT) AS sum_novel,
       |  ${sqlDavg("CAST(n_novel AS DOUBLE) / n_grams")} AS avg_novelty
       |FROM per_doc GROUP BY source""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(
    "t_tokens" -> QueryDef.of(tTokensSql)(tTokens),
    "t_entropy" -> QueryDef.of(tEntropySql)(tEntropy),
    "t_vocab" -> QueryDef.of(tVocabSql)(tVocab),
    "t_tokens_bpe" -> QueryDef.of(tTokensBpeSql)(tTokensBpe),
    "t_quality" -> QueryDef.of(tQualitySql)(tQuality),
    "t_langid" -> QueryDef.of(tLangIdSql)(tLangId),
    "t_fingerprint" -> QueryDef.of(tFingerprintSql)(tFingerprint),
    "t_winnow" -> QueryDef.of(tWinnowSql)(tWinnow),
    "t_topk_ngrams" -> QueryDef.of(tTopkNgramsSql)(tTopkNgrams),
    "t_topk_cms" -> QueryDef.of(tTopkCmsSql)(tTopkCms),
    "t_topk_served" -> QueryDef.of(tTopkServedSql)(tTopkServed),
    "t_novelty" -> QueryDef.of(tNoveltySql)(tNovelty)
  )
}
