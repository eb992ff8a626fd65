package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for the training-data pipeline:
  * exact (hash groupBy), MinHash+LSH banding, and SimHash.
  *
  * Cross-engine hashing: both Spark and DuckDB compute identical md5 hex,
  * so `hash60(s)` = first 15 hex chars of md5 parsed as a 60-bit long is
  * bit-identical on both sides — it powers the oracle-checked variants.
  * The scale path would swap in `xxhash64` (codegen'd, no string
  * round-trip); semantics are unchanged, which is why correctness is
  * proven on the md5 formulation.
  *
  * Scale posture (100 TB): everything is shuffle-by-key —
  * shingles/signatures never leave their partition except through
  * groupBy(doc_id) and the band-bucket join; candidate pairs (not full
  * n²) are the only join product, which is the point of LSH.
  */
object DedupQueries {

  /** Portable 60-bit content hash (identical in Spark and DuckDB). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def sqlHash60(e: String): String =
    s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"

  /** D1 exact dedup: group identical texts, keep the smallest doc_id as
    * canonical. One shuffle on a 60-bit-ish key (md5 hex), map-side
    * partial aggregation keeps the shuffle at |distinct texts|. */
  def d1Exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .groupBy(md5($"text").as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("canonical_id"))
  }

  val d1Sql: String =
    """SELECT md5(text) AS text_md5, count(*) AS n_copies,
      |  min(doc_id) AS canonical_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  private val numHashes = 8
  private val bands = 4 // 4 bands × 2 rows per band

  /** Max docs admitted per (band, key) bucket. A cluster of k exact
    * duplicates shares every band signature, so without a cap one bucket
    * yields k² candidate pairs — THE skew risk at real dup rates. The
    * cap bounds any bucket's contribution at cap²/2 pairs; docs beyond
    * the cap are (deterministically, by doc_id order) left to exact
    * dedup (d1), which catches identical texts regardless. */
  val BucketCap = 50

  /** Affine MinHash family derived from ONE base hash per shingle:
    * h_j(s) = (A_j·h(s) + B_j) mod p, p = 2³¹−1. One md5 per shingle
    * instead of 8 — at corpus scale hashing dominates the signature
    * stage, so the family costs 8 multiplies instead of 8 digests. */
  private[analytics] val P31 = 2147483647L
  private val hashA = Seq(912862454L, 1681692777L, 1714636915L, 1957747793L,
    424238335L, 719885386L, 1649760492L, 596516649L)
  private val hashB = Seq(1189641421L, 1025202362L, 1350490027L, 783368690L,
    1102520059L, 2044897763L, 1967513926L, 1365180540L)

  /** Distinct (doc_id, shingle-hash) pairs — 3-word shingles hashed
    * BEFORE the distinct, so d2's signature branch and d4's intersection
    * branch consume the *same* exchange (Spark's ReuseExchange dedupes
    * identical shuffles inside one plan; with the hash applied after the
    * distinct, the two branches pruned different columns and each paid
    * its own distinct shuffle — the round-1 double-work finding). */
  private[analytics] def shingleHashes(docs: DataFrame): DataFrame =
    shingleHashesRaw(docs).distinct()

  /** Same pairs WITHOUT the distinct shuffle — min(affine(h)) over a
    * multiset equals min over the set, so the signature/banding path
    * (d2, d5) skips set semantics entirely: its only shuffle is the
    * per-doc signature aggregate. d4 keeps the distinct variant — its
    * shingle COUNTS are set-cardinalities — and reuses that one
    * exchange for both of its branches. */
  private[graft] def shingleHashesRaw(docs: DataFrame,
      hashFn: Column => Column = c => hash60(c) % lit(P31)): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("shingle"))
      .select($"doc_id", hashFn($"shingle").as("h"))
  }

  /** Banded LSH keys, uncapped: (doc_id, band, key) — one row per doc ×
    * band. This is the right shape for MEMBERSHIP probes (d10's
    * cross-corpus semi-join flags a doc once regardless of bucket size,
    * so there is no k² product to cap, and capping would silently
    * un-flag docs). The pair-generating paths go through [[bandedKeys]],
    * which adds the bucket cap on top. */
  private[graft] def bandedKeysUncapped(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val sigCols = (0 until numHashes).map { j =>
      min((lit(hashA(j)) * $"h" + lit(hashB(j))) % lit(P31)).as(s"s$j")
    }
    val sigs = sh.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("key"))
    }
    sigs
      .select($"doc_id", explode(array(bandCols: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
  }

  /** Banded LSH keys with the bucket-size cap applied:
    * (doc_id, band, key, rn) where rn ≤ [[BucketCap]]. */
  private[analytics] def bandedKeys(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"band", $"key").orderBy($"doc_id")
    bandedKeysUncapped(sh)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= BucketCap)
  }

  /** Candidate near-duplicate pairs from capped band buckets. */
  private[analytics] def candidatePairs(sh: DataFrame): DataFrame = {
    val banded = bandedKeys(sh)
    banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
  }

  /** D2 MinHash + LSH: 8-hash signature, 4 bands × 2 rows; docs sharing
    * a band bucket become candidate near-duplicate pairs. */
  def d2From(docs: DataFrame): DataFrame = candidatePairs(shingleHashesRaw(docs))

  def d2MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    d2From(Tables(spark, dir, "documents"))

  /** Shared WITH-clause chain ending in CTE `banded0` = uncapped banded
    * keys (doc_id, band, key) — the oracle twin of
    * [[bandedKeysUncapped]], reused by d2's pair query and the dedup
    * index's incremental contract (di1). */
  private[graft] val bandedKeysCtes: String = {
    val sigSelect = (0 until numHashes).map { j =>
      s"min((${hashA(j)} * h + ${hashB(j)}) % $P31) AS s$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      s"SELECT doc_id, $b AS band, CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    ${sqlHash60("shingle")} % $P31 AS h
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(len(t) - 2),
       |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |sig AS (
       |  SELECT doc_id,
       |    $sigSelect
       |  FROM sh GROUP BY doc_id),
       |banded0 AS (
       |  $bandSelects)""".stripMargin
  }

  val d2Sql: String = {
    s"""WITH $bandedKeysCtes,
       |banded AS (
       |  SELECT * FROM (
       |    SELECT doc_id, band, key,
       |      row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn
       |    FROM banded0)
       |  WHERE rn <= $BucketCap)
       |SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |FROM banded x JOIN banded y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin
  }

  /** D3 SimHash: 16-bit signature; bit b is the sign of the sum of ±1
    * votes from each distinct token's hash bit b. Near-dup docs differ
    * in few bits; identical bags collide exactly. */
  def d3Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokens = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .distinct()
      .withColumn("h", hash60($"tok"))
    val bits = tokens
      .select($"doc_id", explode(expr("sequence(0, 15)")).as("bit"), $"h")
      .groupBy($"doc_id", $"bit")
      .agg(sum(when(expr("shiftright(h, bit) & 1") === 1, 1).otherwise(-1)).as("vote"))
    bits.groupBy($"doc_id")
      .agg(sum(when($"vote" > 0, expr("CAST(pow(2, bit) AS BIGINT)")).otherwise(0L))
        .as("simhash"))
  }

  val d3Sql: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, ${sqlHash60("tok")} AS h FROM tok),
       |votes AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, generate_series(0, 15) b(bit)
       |  GROUP BY doc_id, bit)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin

  /** D4 n-gram Jaccard verification of MinHash candidates: exact
    * |A∩B| / |A∪B| over 3-word shingles, computed only for LSH candidate
    * pairs — the verify step of candidate-based dedup (cheap because the
    * candidate set is tiny relative to n²). */
  def d4From(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // ONE shingle-hash subplan feeds the signature branch (via
    // candidatePairs), the per-doc counts, and the intersection join —
    // identical subtrees, so the distinct's shuffle is planned once and
    // reused (round 1 re-ran the whole d2 pipeline inline here). The
    // intersection joins 8-byte hashes, not shingle strings: same
    // result (mod 2⁻³¹ collisions, identically on both engines), a
    // fraction of the shuffle bytes.
    val sh = shingleHashes(docs)
    val counts = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = candidatePairs(sh)
    val inter = pairs
      .join(sh.select($"doc_id".as("doc1"), $"h"), "doc1")
      .join(sh.select($"doc_id".as("doc2"), $"h".as("h2")), "doc2")
      .filter($"h" === $"h2")
      .groupBy($"doc1", $"doc2")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.select($"doc_id".as("doc1"), $"n_sh".as("n1")), "doc1")
      .join(counts.select($"doc_id".as("doc2"), $"n_sh".as("n2")), "doc2")
      .select($"doc1", $"doc2", $"n_inter",
        ($"n_inter".cast("double") / ($"n1" + $"n2" - $"n_inter")).as("jaccard"))
  }

  def d4Jaccard(spark: SparkSession, dir: String): DataFrame =
    d4From(Tables(spark, dir, "documents"))

  val d4Sql: String =
    s"""WITH pairs AS (${d2Sql.replace("\n", "\n  ")}),
       |toks2 AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh2 AS (
       |  SELECT DISTINCT doc_id,
       |    ${sqlHash60("shingle")} % $P31 AS h
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(len(t) - 2),
       |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS shingle
       |    FROM toks2 WHERE len(t) >= 3)),
       |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc1, p.doc2, count(*) AS n_inter
       |  FROM pairs p
       |  JOIN sh2 a ON a.doc_id = p.doc1
       |  JOIN sh2 b ON b.doc_id = p.doc2 AND b.h = a.h
       |  GROUP BY p.doc1, p.doc2)
       |SELECT i.doc1, i.doc2, n_inter,
       |  CAST(n_inter AS DOUBLE) / (c1.n_sh + c2.n_sh - n_inter) AS jaccard
       |FROM inter i
       |JOIN counts c1 ON c1.doc_id = i.doc1
       |JOIN counts c2 ON c2.doc_id = i.doc2""".stripMargin

  /** D5: cluster assignment — the step after candidate pairs that a real
    * dedup pipeline needs before it can pick survivors: connected
    * components over the near-duplicate pair graph, each doc labelled
    * with its component's minimum doc_id (the canonical survivor).
    *
    * Algorithm: iterative min-label propagation — per round, every node
    * takes the min of its own label and its neighbours' labels; the
    * fixpoint is the component minimum regardless of iteration order, so
    * the oracle (a recursive-CTE transitive closure) agrees exactly.
    * Each round is one shuffled join; rounds = graph diameter, which for
    * near-dup clusters is tiny (and the d2 bucket cap bounds component
    * size). `localCheckpoint` truncates the growing lineage so round N
    * doesn't replay rounds 1..N-1 — the standard Spark iteration
    * pattern (GraphX/GraphFrames CC does the same under the hood). */
  def d5From(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val pairs = candidatePairs(shingleHashesRaw(docs))
    val edges = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
      .union(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
      .localCheckpoint()
    // seed with min(self, direct neighbours) — exactly round 1's
    // output computed in ONE aggregation, saving a full join round
    // (edges are symmetric, so every node appears as src)
    var labels = edges.groupBy($"src".as("id"))
      .agg(min($"dst").as("mindst"))
      .select($"id", least($"id", $"mindst").as("label"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < 100) {
      // One join + one aggregate per round: neighbour labels union a
      // marked self-row, min per node. The self-row carries the previous
      // label through the same shuffle, so convergence is a filter on
      // the checkpointed result — no separate old-vs-new join.
      val next = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), $"label", lit(false).as("self"))
        .union(labels.select($"id", $"label", lit(true).as("self")))
        .groupBy($"id")
        .agg(min($"label").as("label"),
          min(when($"self", $"label")).as("prev"))
        .localCheckpoint()
      converged = next.filter($"label" < $"prev").isEmpty
      labels = next.select($"id", $"label")
      iter += 1
    }
    // silently returning unconverged labels would split one real
    // component into several "canonical survivors" — fail loudly
    require(converged,
      s"label propagation did not converge in $iter rounds (component " +
        "diameter exceeds the cap — raise it or pre-split the graph)")
    labels.select($"id".as("doc_id"), $"label".as("cluster_id"))
  }

  def d5Clusters(spark: SparkSession, dir: String): DataFrame =
    d5From(Tables(spark, dir, "documents"))

  val d5Sql: String =
    s"""WITH RECURSIVE pairs AS (${d2Sql.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT doc1 AS a, doc2 AS b FROM pairs
       |  UNION SELECT doc2, doc1 FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin

  /** D10: FUZZY benchmark decontamination — flag every training document
    * whose MinHash signature shares an LSH band with any benchmark
    * document (source `src0` stands in for the eval set, as in d6).
    * Exact n-gram decontamination (d6) misses paraphrases and light
    * edits; band collision is the standard near-dup test applied
    * cross-corpus (one-sided: train docs are flagged, never paired, so
    * there is no k² product and no bucket cap — see
    * [[bandedKeysUncapped]]).
    *
    * Scale shape: the benchmark side is MBs against a TB-scale corpus by
    * construction, so its distinct (band, key) set broadcasts and the
    * flag is a broadcast LEFT SEMI — the train corpus never shuffles on
    * the band key. Per-language counts mirror d6 so the two reports read
    * side by side (exact vs fuzzy contamination). */
  /** The d10 core generalized over two corpora: doc_ids of `corpus`
    * rows whose MinHash signature shares an LSH band with any
    * `benchmark` row (both frames in the standard doc_id/text shape).
    * The benchmark's distinct (band, key) set broadcasts. */
  def d10FlagsFrom(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    val benchKeys = bandedKeysUncapped(shingleHashesRaw(benchmark))
      .select($"band", $"key").distinct()
    bandedKeysUncapped(shingleHashesRaw(corpus))
      .join(broadcast(benchKeys), Seq("band", "key"), "leftsemi")
      .select($"doc_id").distinct()
  }

  def d10FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val train = docs.filter($"source" =!= "src0")
    val flagged = d10FlagsFrom(train, docs.filter($"source" === "src0"))
      .withColumn("fuzzy", lit(1L))
    train
      .join(flagged, Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_train"),
        sum(coalesce($"fuzzy", lit(0L))).as("n_fuzzy_contaminated"),
        (count(lit(1)) - sum(coalesce($"fuzzy", lit(0L)))).as("n_clean"))
  }

  val d10Sql: String = {
    val sigSelect = (0 until numHashes).map { j =>
      s"min((${hashA(j)} * h + ${hashB(j)}) % $P31) AS s$j"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      s"SELECT doc_id, source, $b AS band, CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${sqlHash60("shingle")} % $P31 AS h
       |  FROM (
       |    SELECT doc_id, source,
       |      unnest(list_transform(range(len(t) - 2),
       |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS shingle
       |    FROM toks WHERE len(t) >= 3)),
       |sig AS (
       |  SELECT doc_id, source,
       |    $sigSelect
       |  FROM sh GROUP BY doc_id, source),
       |banded AS (
       |  $bandSelects),
       |bench AS (
       |  SELECT DISTINCT band, key FROM banded WHERE source = 'src0'),
       |flagged AS (
       |  SELECT DISTINCT b.doc_id FROM banded b
       |  JOIN bench x ON b.band = x.band AND b.key = x.key
       |  WHERE b.source <> 'src0')
       |SELECT d.lang, count(*) AS n_train,
       |  CAST(count(f.doc_id) AS BIGINT) AS n_fuzzy_contaminated,
       |  CAST(count(*) - count(f.doc_id) AS BIGINT) AS n_clean
       |FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
       |WHERE d.source <> 'src0'
       |GROUP BY d.lang""".stripMargin
  }

  // ---------------- D11: duplicated-substring span coverage ----------------

  /** Gram width (tokens) for span detection: every K-token window is
    * hashed, so two documents sharing any K-token substring collide at
    * the aligned positions. */
  private[graft] val SpanGram = 10

  /** Minimal duplicated-span length (tokens) that counts toward
    * coverage — short incidental collisions (stock phrases) are noise;
    * the training-data dedup literature (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", which dedups exact
    * ≥50-token substrings via a suffix array) keeps only long spans. */
  private[graft] val MinSpanTokens = 20

  /** D11: per-document duplicated-SUBSTRING coverage — the scalable
    * approximation of suffix-array exact-substring dedup. d1 sees only
    * whole-text copies and d8 only fixed 20-token chunks (alignment-
    * sensitive); d11 slides a [[SpanGram]]-token window over EVERY
    * position, so a long span copied mid-sentence between documents is
    * caught at any alignment. Positions whose gram occurs more than once
    * in the corpus are merged into maximal runs (an island pass per
    * document), runs shorter than [[MinSpanTokens]] tokens are dropped,
    * and overlapping spans are interval-merged so each token is counted
    * once. Output: per-doc token count, duplicated-span token count,
    * span count, and coverage fraction — the "what fraction of my corpus
    * is copied text" report that decides whether substring-level dedup
    * is worth running.
    *
    * Scale: grams travel as 60-bit hashes (8 bytes); the occurrence
    * count is a window over the gram-hash partition — one shuffle of
    * |positions|, no self-join; everything after is per-document window
    * work on the (tiny) duplicated subset. */
  /** The d11 core over any corpus in the standard (doc_id, text)
    * shape. */
  def d11From(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val K = SpanGram
    val docs = documents
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n_toks", size($"toks").cast("long"))
    // every K-token window, hashed; docs shorter than K have no grams
    val grams = docs
      .filter($"n_toks" >= K)
      .select($"doc_id", explode(
        expr(s"transform(sequence(1, int(n_toks) - $K + 1), " +
          s"p -> struct(p AS p, concat_ws(' ', slice(toks, p, $K)) AS g))"))
        .as("pg"))
      .select($"doc_id", $"pg.p".cast("long").as("p"), hash60($"pg.g").as("gh"))
    // occurrence count per gram hash: window over the hash partition
    val dup = grams
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy($"gh")))
      .filter($"n_occ" > 1)
      .select($"doc_id", $"p")
    // maximal runs of consecutive duplicated positions → candidate spans
    val wDoc = Window.partitionBy($"doc_id").orderBy($"p")
    val spans = dup
      .withColumn("rid", $"p" - row_number().over(wDoc))
      .groupBy($"doc_id", $"rid")
      .agg(min($"p").as("s"), (max($"p") + K - 1).as("e"))
      .filter($"e" - $"s" + 1 >= MinSpanTokens)
    // interval-merge overlapping spans so tokens are counted once
    val wSpan = Window.partitionBy($"doc_id").orderBy($"s", $"e")
    val merged = spans
      .withColumn("prevmax",
        max($"e").over(wSpan.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when($"prevmax".isNull || $"s" > $"prevmax", 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(
        wSpan.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"s").as("mn"), max($"e").as("mx"))
      .groupBy($"doc_id")
      .agg(sum($"mx" - $"mn" + 1).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    docs.select($"doc_id", $"n_toks")
      .join(merged, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        (coalesce($"dup_tokens", lit(0L)).cast("double") / $"n_toks")
          .as("dup_frac"))
  }

  def d11DupSpans(spark: SparkSession, dir: String): DataFrame =
    d11From(Tables(spark, dir, "documents"))

  val d11Sql: String = {
    val K = SpanGram
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |stats AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM toks),
       |pos AS (
       |  SELECT doc_id, t, unnest(range(1, len(t) - $K + 2)) AS p
       |  FROM toks WHERE len(t) >= $K),
       |grams AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    ${sqlHash60(s"array_to_string(t[p:p+$K-1], ' ')")} AS gh
       |  FROM pos),
       |flagged AS (
       |  SELECT doc_id, p, count(*) OVER (PARTITION BY gh) AS n_occ
       |  FROM grams),
       |dup AS (SELECT doc_id, p FROM flagged WHERE n_occ > 1),
       |runs AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid
       |  FROM dup),
       |spans AS (
       |  SELECT doc_id, min(p) AS s, max(p) + $K - 1 AS e
       |  FROM runs GROUP BY doc_id, rid
       |  HAVING max(p) + $K - 1 - min(p) + 1 >= $MinSpanTokens),
       |marked AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
       |  FROM spans),
       |islands AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN prevmax IS NULL OR s > prevmax THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e
       |        ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM marked),
       |cover AS (
       |  SELECT doc_id, CAST(sum(mx - mn + 1) AS BIGINT) AS dup_tokens,
       |    count(*) AS n_spans
       |  FROM (SELECT doc_id, grp, min(s) AS mn, max(e) AS mx
       |    FROM islands GROUP BY doc_id, grp)
       |  GROUP BY doc_id)
       |SELECT st.doc_id, st.n_toks,
       |  coalesce(c.dup_tokens, 0) AS dup_tokens,
       |  coalesce(c.n_spans, 0) AS n_spans,
       |  CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / st.n_toks AS dup_frac
       |FROM stats st LEFT JOIN cover c USING (doc_id)""".stripMargin
  }

  // ---------------- D12: content-defined chunking dedup ----------------

  /** Rolling-window width (tokens) for the CDC boundary test. */
  private val CdcWindow = 3

  /** Boundary divisor: a position cuts when its window hash ≡ 0 mod this,
    * giving ~[[CdcDivisor]]-token expected chunks. */
  private val CdcDivisor = 8

  /** D12: content-defined chunking dedup — d8's fixed 20-token chunks
    * are ALIGNMENT-SENSITIVE: insert one token near the top of a copied
    * document and every downstream chunk boundary shifts, so nothing
    * matches. CDC (the rsync/FastCDC idea) instead cuts where a hash of
    * the local [[CdcWindow]]-token window lands on 0 mod [[CdcDivisor]]:
    * boundaries depend only on nearby content, so chunking re-synchronizes
    * right after an edit and the untouched remainder still deduplicates
    * (proven behaviorally in DupSpanSpec). Production CDC also clamps
    * chunk sizes to a [min,max]; that clamp is stateful along the token
    * stream and is deliberately omitted so chunking stays a pure
    * per-position function (one scan, no sequential pass).
    *
    * Per document: chunk boundaries and texts come from ONE projection of
    * array expressions (no shuffle, no window); the only shuffle is the
    * occurrence count over the 60-bit chunk hash. Output: per-doc chunk
    * count, duplicated-chunk token count, and duplicated fraction. */
  /** The CDC chunk frame of a (doc_id, text) corpus:
    * (doc_id, n_toks, k, chunk, chunk_tokens) with k the 1-based chunk
    * index — the shared unit of d12 (stats) and d13 (strip). */
  private[analytics] def cdcChunkFrame(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val (w, d) = (CdcWindow, CdcDivisor)
    // window ending at token i (shorter at the head of the doc)
    val winHash = s"CAST(conv(substring(md5(concat_ws(' ', " +
      s"slice(toks, greatest(1, i - $w + 1), least(i, $w)))), 1, 15), 16, 10) AS BIGINT)"
    documents
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n_toks", size($"toks").cast("long"))
      // cut AFTER token i where the window hash divides; a cut at the
      // last token is redundant (the final chunk already ends there)
      .withColumn("cuts", expr(
        s"filter(sequence(1, int(n_toks)), i -> pmod($winHash, $d) = 0 AND i < int(n_toks))"))
      .withColumn("starts", expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends", expr("concat(cuts, array(int(n_toks)))"))
      .select($"doc_id", $"n_toks", $"toks", $"starts", $"ends",
        explode(expr("sequence(1, size(starts))")).as("k"))
      .select($"doc_id", $"n_toks", $"k",
        expr("concat_ws(' ', slice(toks, element_at(starts, k), " +
          "element_at(ends, k) - element_at(starts, k) + 1))").as("chunk"),
        (expr("element_at(ends, k)") - expr("element_at(starts, k)") + 1)
          .cast("long").as("chunk_tokens"))
  }

  /** The d12 core over any corpus in the standard (doc_id, text)
    * shape. */
  def d12From(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    cdcChunkFrame(documents)
      .withColumn("n_occ",
        count(lit(1)).over(Window.partitionBy(hash60($"chunk"))))
      .groupBy($"doc_id", $"n_toks")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n_occ" > 1, $"chunk_tokens").otherwise(0L))
          .as("dup_chunk_tokens"))
      .select($"doc_id", $"n_toks", $"n_chunks", $"dup_chunk_tokens",
        ($"dup_chunk_tokens".cast("double") / $"n_toks").as("dup_frac"))
  }

  def d12CdcChunks(spark: SparkSession, dir: String): DataFrame =
    d12From(Tables(spark, dir, "documents"))

  /** Shared SQL CTEs producing the CDC chunk frame (the twin of
    * [[cdcChunkFrame]]): `chunks(doc_id, n_toks, k, chunk,
    * chunk_tokens)`. */
  private def cdcSqlChunks: String = {
    val (w, d) = (CdcWindow, CdcDivisor)
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |cut AS (
       |  SELECT doc_id, t, n_toks,
       |    list_filter(range(1, len(t) + 1), i ->
       |      ${sqlHash60(s"array_to_string(t[greatest(1, i - $w + 1):i], ' ')")} % $d = 0
       |      AND i < len(t)) AS cuts
       |  FROM toks),
       |bounds AS (
       |  SELECT doc_id, t, n_toks,
       |    list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
       |    list_append(cuts, len(t)) AS ends
       |  FROM cut),
       |chunks AS (
       |  SELECT doc_id, n_toks, CAST(k AS BIGINT) AS k,
       |    array_to_string(t[starts[k]:ends[k]], ' ') AS chunk,
       |    CAST(ends[k] - starts[k] + 1 AS BIGINT) AS chunk_tokens
       |  FROM (SELECT *, unnest(range(1, len(starts) + 1)) AS k FROM bounds))""".stripMargin
  }

  val d12Sql: String =
    s"""WITH $cdcSqlChunks,
       |occ AS (
       |  SELECT doc_id, n_toks, chunk_tokens,
       |    count(*) OVER (PARTITION BY ${sqlHash60("chunk")}) AS n_occ
       |  FROM chunks)
       |SELECT doc_id, n_toks, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN chunk_tokens ELSE 0 END) AS BIGINT)
       |    AS dup_chunk_tokens,
       |  CAST(sum(CASE WHEN n_occ > 1 THEN chunk_tokens ELSE 0 END) AS DOUBLE)
       |    / n_toks AS dup_frac
       |FROM occ GROUP BY doc_id, n_toks""".stripMargin

  // ---------------- D13: boilerplate strip (cleaned-text transform) ----------------

  /** D13: the TRANSFORM the d8/d12 stats justify — strip cross-document
    * boilerplate and return the CLEANED TEXT (the C4 recipe's
    * remove-repeated-lines step, on CDC chunk granularity so one edited
    * token can't hide a repeated block). A chunk is boilerplate when it
    * appears in MORE THAN ONE distinct document (within-doc repetition
    * stays — that's t_repetition's business); surviving chunks
    * reassemble in original order. Shape: the chunk frame is one
    * projection computed ONCE; the distinct-doc test is a min/max
    * window over the 60-bit chunk-hash partition (one distinct doc ⟺
    * min(doc_id) = max(doc_id) — no countDistinct, no join-back);
    * reassembly is one per-doc aggregate (array_sort by chunk index —
    * no text shuffle beyond the chunks themselves). */
  def d13From(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // ONE chunk-frame pass (r17 optimization): the chunk frame is the
    // expensive subtree (a per-token md5 window hash decides every cut),
    // and the old groupBy(h)+join-back shape planned it TWICE — the agg
    // branch and the probe branch are different subtrees, so Spark's
    // ReuseExchange cannot dedup them. "More than one distinct doc"
    // needs no distinct count: min(doc_id) ≠ max(doc_id) over the
    // chunk-hash partition is the same predicate, and min/max ride one
    // window over one shuffle of the chunks — halving the cut-hash
    // compute and dropping the join (plan: 4 exchanges → 2; see
    // plans/r17/d13_strip_boilerplate_*.txt).
    // r18 note: the d15 skew hardening (shared repartition + agg +
    // co-partitioned join-back) was attempted here and REVERTED — the
    // two consumers need different column sets (the aggregate prunes
    // its exchange to (h, doc_id); the probe carries the chunk text),
    // so the exchanges can never be canonically equal and AQE computes
    // the md5 chunk subtree twice (plan-verified). The window form
    // keeps the single subtree; its buffered-group exposure is only
    // the multi-doc chunks the mn=mx filter drops, and it spills
    // rather than fails (documented trade, same as r17).
    // the hash is a materialized column and BOTH window expressions sit
    // in one select over one spec: separate withColumn(...over) calls
    // plan two Window nodes with private partition-key expressions —
    // two exchanges, two sorts, two md5 evaluations
    val wH = Window.partitionBy($"h")
    val kept = cdcChunkFrame(documents)
      .withColumn("h", hash60($"chunk"))
      .select($"doc_id", $"n_toks", $"k", $"chunk", $"chunk_tokens",
        min($"doc_id").over(wH).as("mn"), max($"doc_id").over(wH).as("mx"))
      .filter($"mn" === $"mx")
    val rebuilt = kept
      .groupBy($"doc_id", $"n_toks")
      .agg(
        sum($"chunk_tokens").as("kept_tokens"),
        array_join(expr("transform(array_sort(collect_list(struct(k, chunk))), x -> x.chunk)"), " ")
          .as("kept_text"))
    documents.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_toks"))
      .join(rebuilt, Seq("doc_id", "n_toks"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        coalesce($"kept_text", lit("")).as("kept_text"))
  }

  def d13StripBoilerplate(spark: SparkSession, dir: String): DataFrame =
    d13From(Tables(spark, dir, "documents"))

  val d13Sql: String =
    s"""WITH $cdcSqlChunks,
       |dc AS (
       |  SELECT ${sqlHash60("chunk")} AS h, count(DISTINCT doc_id) AS n_docs
       |  FROM chunks GROUP BY 1),
       |kept AS (
       |  SELECT c.* FROM chunks c JOIN dc
       |    ON ${sqlHash60("c.chunk")} = dc.h AND dc.n_docs = 1),
       |rebuilt AS (
       |  SELECT doc_id, n_toks,
       |    CAST(sum(chunk_tokens) AS BIGINT) AS kept_tokens,
       |    array_to_string(list(chunk ORDER BY k), ' ') AS kept_text
       |  FROM kept GROUP BY doc_id, n_toks)
       |SELECT s.doc_id, s.n_toks,
       |  coalesce(r.kept_tokens, 0) AS kept_tokens,
       |  coalesce(r.kept_text, '') AS kept_text
       |FROM (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents) s
       |LEFT JOIN rebuilt r ON s.doc_id = r.doc_id AND s.n_toks = r.n_toks""".stripMargin

  // ---------------- D15: substring trim (keep-first dedup transform) ----------------

  /** Corpus-wide occurrence ceiling for trimming. A gram whose position
    * count exceeds this is mass-repeated boilerplate (headers, license
    * blocks), not a copied passage — it is left to d13's distinct-doc
    * chunk strip. Excluding it before the position join also bounds the
    * join's OUTPUT at cap rows per gram no matter how hot the hottest
    * gram is at 100 TB (its positions stream through the probe side and
    * match nothing). */
  val TrimOccCap = 1000L

  /** D15: the TRANSFORM d11's coverage report justifies — exact
    * substring dedup that REWRITES the corpus, keeping the first
    * occurrence (lowest (doc_id, position)) of every duplicated passage
    * and trimming the rest, the Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better") ExactSubstr step re-expressed
    * Spark-first. d11 answers "how much of my corpus is copied text";
    * d15 emits the deduplicated corpus itself. A suffix array is the
    * single-node tool for this; the distributed equivalent is exactly
    * the sliding [[SpanGram]]-token window frame d11 already uses —
    * O(tokens) rows, and NO sort anywhere on the gram axis:
    *
    *  1. ONE shuffle of the positions by the 60-bit gram hash carries
    *     a count + `min(struct(doc_id, p))` window over the gh
    *     partition — every position reads its gram's occurrence count
    *     and global first occurrence off the same exchange (the gram
    *     subtree is computed once; the earlier agg+join form planned
    *     the explode+hash twice),
    *  2. any position with 2..[[TrimOccCap]] occurrences that differs
    *     from the min struct is a trim position (the keep-first rank
    *     without ranking),
    *  3. trim positions merge into maximal runs per document
    *     (the d11 island pass); runs spanning ≥ [[MinSpanTokens]]
    *     tokens become trim spans (shorter collisions are stock
    *     phrases, kept),
    *  4. the surviving tokens reassemble in one per-doc array
    *     projection — no shuffle carries full text except the final
    *     per-doc rebuild.
    *
    * Within-document repetition dedups the same way (the first copy
    * stays) — same as the suffix-array formulation. Trimming is by
    * 60-bit gram hash on BOTH engines, so the oracle pins parse,
    * first-occurrence selection, island, and rebuild logic
    * bit-for-bit. Output: (doc_id, n_toks, kept_toks, text_deduped);
    * docs without trimmed spans pass through unchanged.
    *
    * The (count, min-struct) aggregate is exactly the state an
    * INCREMENTAL trim maintains — [[graft.store.SubstringIndex]]
    * persists it per gram and probes new batches against it in
    * O(delta); the shared pieces live in [[substringDocs]] /
    * [[substringGrams]] / [[rebuildTrimmed]] so the one-shot and
    * incremental paths cannot drift. */
  def d15From(documents: DataFrame, occCap: Long = TrimOccCap): DataFrame = {
    import documents.sparkSession.implicits._
    val docs = substringDocs(documents)
    // ONE gram pass, skew-proof (r18; supersedes r17's window form —
    // see plans/r18/d15_substring_trim_*.txt): an EXPLICIT repartition
    // by gh makes the agg branch and the probe branch consume the SAME
    // exchange (identical subtrees → ReuseExchange), so the gram
    // subtree (explode + per-position md5) is still computed once —
    // the r17 property — while (n_occ, first) come from a streaming
    // HashAggregate instead of a WindowExec. The r17 window buffered
    // EVERY position of a hotter-than-[[TrimOccCap]] gram in one
    // window partition before the cap filter dropped it (ADVICE r17:
    // a boilerplate gram in millions of docs = one straggler/spill
    // task at 100 TB); the aggregate holds one (count, min) slot per
    // gram, the capped survivor stats join back SHUFFLE_HASH with the
    // tiny per-gram stats as build side, and a hot gram's positions
    // now STREAM through the probe side and match nothing (guide
    // §2.5/§3.1). Both sides are co-partitioned on gh by the shared
    // exchange, so the join plans with zero additional exchanges.
    // The explicit isnotnull(doc_id) makes ReuseExchange actually
    // fire: rebuildTrimmed's doc_id join infers IsNotNull(doc_id)
    // into the PROBE branch only, and that one pushed predicate made
    // the two gram subtrees non-canonical (the r18 snapshot's plan
    // dump shows the explode+md5 planned twice). Pinning the predicate
    // on the SHARED base makes both branches identical below the gh
    // exchange (doc_id is the documents primary key — never null — so
    // the gstats side's counts are unchanged; oracle re-verified).
    val grams = substringGrams(docs)
      .filter($"doc_id".isNotNull).repartition($"gh")
    val gstats = grams.groupBy($"gh")
      .agg(count(lit(1)).as("n_occ"),
        min(struct($"doc_id", $"p")).as("first"))
      .filter($"n_occ" > 1 && $"n_occ" <= occCap)
      .select($"gh", $"first")
    val trimPos = grams
      .join(gstats.hint("shuffle_hash"), Seq("gh"))
      .filter(struct($"doc_id", $"p") =!= $"first")
      .select($"doc_id", $"p")
    rebuildTrimmed(docs, trimPos)
  }

  /** Tokenized view shared by the one-shot ([[d15From]]) and
    * incremental ([[graft.store.SubstringIndex]]) substring-trim
    * paths: (doc_id, toks, n_toks). */
  private[graft] def substringDocs(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    documents
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n_toks", size($"toks").cast("long"))
  }

  /** Sliding [[SpanGram]]-token gram hashes over a [[substringDocs]]
    * frame: (doc_id, p, gh), 1-based positions. */
  private[graft] def substringGrams(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val K = SpanGram
    docs
      .filter($"n_toks" >= K)
      .select($"doc_id", explode(
        expr(s"transform(sequence(1, int(n_toks) - $K + 1), " +
          s"p -> struct(p AS p, concat_ws(' ', slice(toks, p, $K)) AS g))"))
        .as("pg"))
      .select($"doc_id", $"pg.p".cast("long").as("p"), hash60($"pg.g").as("gh"))
  }

  /** Steps 3–4 of the trim: merge (doc_id, p) trim positions into
    * maximal runs, keep runs ≥ [[MinSpanTokens]], delete their token
    * ranges from the [[substringDocs]] frame. */
  private[graft] def rebuildTrimmed(docs: DataFrame,
                                    trimPos: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val K = SpanGram
    val wDoc = Window.partitionBy($"doc_id").orderBy($"p")
    val spans = trimPos
      .withColumn("rid", $"p" - row_number().over(wDoc))
      .groupBy($"doc_id", $"rid")
      .agg(min($"p").as("s"), (max($"p") + K - 1).as("e"))
      .filter($"e" - $"s" + 1 >= MinSpanTokens)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"s", $"e")).as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("kept", when($"spans".isNull, $"toks").otherwise(expr(
        "filter(toks, (t, i) -> NOT exists(spans, " +
          "sp -> i + 1 >= sp.s AND i + 1 <= sp.e))")))
      .select($"doc_id", $"n_toks",
        size($"kept").cast("long").as("kept_toks"),
        concat_ws(" ", $"kept").as("text_deduped"))
  }

  def d15SubstringTrim(spark: SparkSession, dir: String): DataFrame =
    d15From(Tables(spark, dir, "documents"))

  val d15Sql: String = {
    val K = SpanGram
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |stats AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_toks FROM toks),
       |pos AS (
       |  SELECT doc_id, t, unnest(range(1, len(t) - $K + 2)) AS p
       |  FROM toks WHERE len(t) >= $K),
       |grams AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    ${sqlHash60(s"array_to_string(t[p:p+$K-1], ' ')")} AS gh
       |  FROM pos),
       |dup AS (
       |  SELECT gh FROM grams GROUP BY gh
       |  HAVING count(*) > 1 AND count(*) <= $TrimOccCap),
       |ranked AS (
       |  SELECT g.doc_id, g.p,
       |    row_number() OVER (PARTITION BY g.gh ORDER BY g.doc_id, g.p) AS rn
       |  FROM grams g JOIN dup USING (gh)),
       |trimpos AS (SELECT doc_id, p FROM ranked WHERE rn > 1),
       |runs AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid
       |  FROM trimpos),
       |spans AS (
       |  SELECT doc_id, min(p) AS s, max(p) + $K - 1 AS e
       |  FROM runs GROUP BY doc_id, rid
       |  HAVING max(p) + $K - 1 - min(p) + 1 >= $MinSpanTokens),
       |tokpos AS (
       |  SELECT doc_id, unnest(t) AS tok,
       |    CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS i
       |  FROM toks),
       |kept AS (
       |  SELECT tp.doc_id, tp.tok, tp.i
       |  FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = tp.doc_id AND tp.i BETWEEN sp.s AND sp.e)),
       |agg AS (
       |  SELECT doc_id, count(*) AS kept_toks,
       |    string_agg(tok, ' ' ORDER BY i) AS text_deduped
       |  FROM kept GROUP BY doc_id)
       |SELECT st.doc_id, st.n_toks,
       |  coalesce(a.kept_toks, 0) AS kept_toks,
       |  coalesce(a.text_deduped, '') AS text_deduped
       |FROM stats st LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "d1_exact_dedup" -> QueryDef.of(d1Sql)(d1Exact),
    "d2_minhash_lsh" -> QueryDef.of(d2Sql)(d2MinhashLsh),
    "d3_simhash" -> QueryDef.of(d3Sql)(d3Simhash),
    "d4_ngram_jaccard" -> QueryDef.of(d4Sql)(d4Jaccard),
    "d5_dedup_clusters" -> QueryDef.of(d5Sql)(d5Clusters),
    "d10_fuzzy_decontam" -> QueryDef.of(d10Sql)(d10FuzzyDecontam),
    "d11_dup_spans" -> QueryDef.of(d11Sql)(d11DupSpans),
    "d12_cdc_chunks" -> QueryDef.of(d12Sql)(d12CdcChunks),
    "d13_strip_boilerplate" -> QueryDef.of(d13Sql)(d13StripBoilerplate),
    "d15_substring_trim" -> QueryDef.of(d15Sql)(d15SubstringTrim)
  )
}
