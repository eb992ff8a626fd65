package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`Array[Float]`, 64-d):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH variant as the scale path.
  *
  * Engine parity: dot products fold left-to-right in array order with a
  * double accumulator (`aggregate` in Spark ≡ in-order `list_reduce` in
  * DuckDB), so every cosine is bit-identical IEEE-754 on both engines —
  * top-k ordering cannot diverge. The LSH signature is integer-exact by
  * construction (sign tests on double sums with identical association
  * order).
  *
  * Scale posture (the round-1 audit's fix): the old bucketing used the
  * sign of the first 4 coordinates — 16 buckets total, so within-bucket
  * work grew as n²/16. Now:
  *   - [[signature]] = 24 random-hyperplane bits (sparse ternary
  *     Achlioptas planes, seeded and shared with the SQL twin) → 2²⁴
  *     distinct buckets; bucket occupancy stays O(n / 2²⁴) instead of
  *     n/16, and the signature is the natural partition key at 100 TB.
  *   - ANN probes the query bucket plus all Hamming-distance-1 buckets
  *     (multiprobe) so recall survives the finer bucketing.
  *   - Near-dup banding splits the 24 bits into 3×8-bit bands (the
  *     MinHash-LSH band trick transplanted to hyperplane bits) and caps
  *     candidates per band-bucket at [[SimBucketCap]], so a degenerate
  *     cluster of identical vectors can never produce more than
  *     bands × cap² candidate pairs.
  */
object SimilarityQueries {

  /** The PRODUCTION dot product: [[graft.functions.VectorDot]], one
    * codegen'd plan node (tight cast-multiply-accumulate loop inside
    * whole-stage codegen) instead of the interpreted `aggregate(
    * zip_with(...))` HOF chain — bit-identical fold order, so the
    * oracle rows are unaffected. */
  private[graft] def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.VectorDot(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Production ‖a−b‖²: [[graft.functions.VectorSqDist]], same deal. */
  private def sqdist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.VectorSqDist(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  private[graft] def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin

  // ---- random-hyperplane LSH ----

  val NumBits = 24
  private val Dims = 64
  val BandBits = 8
  val NumBands: Int = NumBits / BandBits // 3 bands × 8 bits
  /** Max vectors admitted per (band, value) bucket — bounds candidate
    * pairs per bucket at cap² even for pathological duplicate clusters. */
  val SimBucketCap = 64

  /** Sparse ternary hyperplanes (Achlioptas 2003): each component is
    * +1 / −1 with probability 1/6 each, else 0. Seeded, so the Spark
    * expression and the SQL twin are generated from the SAME matrix. */
  private val (plusIdx, minusIdx): (Vector[Vector[Int]], Vector[Vector[Int]]) = {
    val rng = new scala.util.Random(42)
    val planes = Vector.tabulate(NumBits) { _ =>
      val signs = Vector.tabulate(Dims)(_ => rng.nextInt(6))
      (signs.zipWithIndex.collect { case (0, i) => i },
        signs.zipWithIndex.collect { case (1, i) => i })
    }
    (planes.map(_._1), planes.map(_._2))
  }

  /** The engine-wide plane family as arrays (shared with the SQL
    * function registration in [[graft.GraftExtensions]]). */
  private[graft] lazy val planeArrays: (Array[Array[Int]], Array[Array[Int]]) =
    (plusIdx.map(_.toArray).toArray, minusIdx.map(_.toArray).toArray)

  /** 24-bit LSH signature of an embedding column, as a native Catalyst
    * expression ([[graft.functions.HyperplaneSignature]]) — one plan
    * node with tight-loop codegen instead of a ~500-node Column tree
    * (which was measurably pure JIT overhead per query at 24 bits). */
  def signature(emb: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.HyperplaneSignature(
        org.apache.spark.sql.GraftColumnBridge.expression(emb),
        planeArrays._1, planeArrays._2))

  /** The Column-algebra twin of [[signature]] — kept as the executable
    * specification the native expression is property-tested against. */
  def signatureColumns(emb: Column): Column = {
    val bits = (0 until NumBits).map { b =>
      val plus = plusIdx(b).map(i => emb.getItem(i).cast("double"))
      val minus = minusIdx(b).map(i => emb.getItem(i).cast("double"))
      val proj = plus.reduceOption(_ + _).getOrElse(lit(0.0)) -
        minus.reduceOption(_ + _).getOrElse(lit(0.0))
      when(proj > 0.0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** DuckDB twin of [[signature]] — same planes, same association order
    * (SQL `+` is left-associative, matching the Column fold above). */
  def sqlSignature(e: String): String = {
    val bits = (0 until NumBits).map { b =>
      val plus = plusIdx(b).map(i => s"CAST($e[${i + 1}] AS DOUBLE)")
      val minus = minusIdx(b).map(i => s"CAST($e[${i + 1}] AS DOUBLE)")
      val p = if (plus.isEmpty) "0.0" else plus.mkString(" + ")
      val m = if (minus.isEmpty) "0.0" else minus.mkString(" + ")
      s"CASE WHEN ($p) - ($m) > 0.0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }
    s"(${bits.mkString(" + ")})"
  }

  /** SIM1: brute-force cosine top-20 neighbours of vec_id 0. */
  /** Brute-force cosine top-k of `corpus` (vec_id, embedding, ...)
    * against a 1-row `query` (qv) — broadcast query, one scan,
    * TakeOrderedAndProject top-k. Extra corpus columns ride along. */
  def cosineTopKFrom(corpus: DataFrame, query: DataFrame, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus
      .crossJoin(broadcast(query))
      .withColumn("cos",
        dot(col("embedding"), col("qv")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
            sqrt(dot(col("qv"), col("qv")))))
      .orderBy($"cos".desc, $"vec_id")
      .limit(k)
      .drop("qv")
  }

  def simCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0L).select($"embedding".as("qv"))
    cosineTopKFrom(emb.filter($"vec_id" =!= 0L), q, 20)
      .select($"vec_id", $"label", $"cos")
  }

  val simCosineSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label, cos FROM (
       |  SELECT e.vec_id, e.label,
       |    ${sqlDot("e.embedding", "q.qv")} /
       |      (sqrt(${sqlDot("e.embedding", "e.embedding")}) *
       |       sqrt(${sqlDot("q.qv", "q.qv")})) AS cos
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> 0)
       |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** SIM2: LSH ANN with banded (OR-amplified) probing. Candidates =
    * vectors sharing at least one of the 3 8-bit signature bands with
    * the query — per band that admits 1/2⁸ of an unrelated corpus, so
    * the scan fraction is ≤ 3/256 ≈ 1.2% and shrinks further as bands
    * widen with corpus size; exact cosine then ranks the candidates.
    * At 100 TB (band, bval) is the partition key and the 3 probe values
    * drive partition pruning; in-query the probe test is codegen'd
    * byte-compares of `sig ^ qsig`. */
  def simAnnLshFrom(emb0: DataFrame): DataFrame = {
    import emb0.sparkSession.implicits._
    val emb = emb0.withColumn("bucket", signature($"embedding"))
    val q = emb.filter($"vec_id" === 0L)
      .select($"embedding".as("qv"), $"bucket".as("qbucket"))
    val shareBand = (0 until NumBands)
      .map(b => expr(s"shiftright(bucket ^ qbucket, ${BandBits * b}) & ${(1 << BandBits) - 1}") === 0)
      .reduce(_ || _)
    emb.filter($"vec_id" =!= 0L)
      .crossJoin(broadcast(q))
      .filter(shareBand)
      .withColumn("dot", dot(col("embedding"), col("qv")))
      .withColumn("norm_e", dot(col("embedding"), col("embedding")))
      .withColumn("norm_q", dot(col("qv"), col("qv")))
      .withColumn("cos", $"dot" / (sqrt($"norm_e") * sqrt($"norm_q")))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", $"label", $"bucket", $"cos")
  }

  def simAnnLsh(spark: SparkSession, dir: String): DataFrame =
    simAnnLshFrom(Tables(spark, dir, "embeddings"))

  val simAnnSql: String =
    s"""WITH be AS (
       |  SELECT vec_id, label, embedding, ${sqlSignature("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT embedding AS qv, bucket AS qbucket FROM be WHERE vec_id = 0)
       |SELECT vec_id, label, bucket, cos FROM (
       |  SELECT e.vec_id, e.label, e.bucket,
       |    ${sqlDot("e.embedding", "q.qv")} /
       |      (sqrt(${sqlDot("e.embedding", "e.embedding")}) *
       |       sqrt(${sqlDot("q.qv", "q.qv")})) AS cos
       |  FROM be e, q
       |  WHERE e.vec_id <> 0 AND (${(0 until NumBands).map(b =>
             s"(xor(e.bucket, q.qbucket) >> ${BandBits * b}) & ${(1 << BandBits) - 1} = 0")
             .mkString(" OR ")}))
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** SIM3: embedding-cosine near-duplicate pairs. The 24-bit signature
    * is split into 3×8-bit bands; vectors sharing any band value become
    * candidates (banding trades one exact bucket for NumBands coarser
    * ones — the recall lever), capped at [[SimBucketCap]] per bucket;
    * exact cosine > threshold verifies. Pairs are distinct-ed after the
    * cosine (deterministic per pair), so a pair matching 2 bands isn't
    * double-counted. (Threshold 0.3 fits the synthetic corpus, whose
    * vectors are near-orthogonal; real near-dup pipelines run 0.95+.) */
  def simNearDupFrom(emb0: DataFrame): DataFrame = {
    import emb0.sparkSession.implicits._
    val sigd = emb0
      .withColumn("sig", signature($"embedding"))
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        (shiftright($"sig", BandBits * b) bitwiseAND lit((1 << BandBits) - 1)).as("bval"))
    }
    val banded0 = sigd
      .select($"vec_id", $"embedding", $"norm", explode(array(bandCols: _*)).as("bk"))
      .select($"vec_id", $"embedding", $"norm", $"bk.band".as("band"), $"bk.bval".as("bval"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"band", $"bval").orderBy($"vec_id")
    val banded = banded0
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= SimBucketCap)
    banded.alias("x")
      .join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("dot", dot(col("x.embedding"), col("y.embedding")))
      .withColumn("cos", $"dot" / (col("x.norm") * col("y.norm")))
      .filter($"cos" > 0.3)
      .select(col("x.vec_id").as("vec1"), col("y.vec_id").as("vec2"), $"cos")
      .distinct()
  }

  def simNearDup(spark: SparkSession, dir: String): DataFrame =
    simNearDupFrom(Tables(spark, dir, "embeddings"))

  val simNearDupSql: String =
    s"""WITH se AS (
       |  SELECT vec_id, embedding, ${sqlSignature("embedding")} AS sig,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |banded0 AS (
       |  SELECT vec_id, embedding, norm, band,
       |    (sig >> ($BandBits * band)) & ${(1 << BandBits) - 1} AS bval
       |  FROM se, generate_series(0, ${NumBands - 1}) b(band)),
       |banded AS (
       |  SELECT * FROM (
       |    SELECT vec_id, embedding, norm, band, bval,
       |      row_number() OVER (PARTITION BY band, bval ORDER BY vec_id) AS rn
       |    FROM banded0)
       |  WHERE rn <= $SimBucketCap)
       |SELECT DISTINCT vec1, vec2, cos FROM (
       |  SELECT x.vec_id AS vec1, y.vec_id AS vec2,
       |    ${sqlDot("x.embedding", "y.embedding")} / (x.norm * y.norm) AS cos
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bval = y.bval AND x.vec_id < y.vec_id)
       |WHERE cos > 0.3""".stripMargin

  // ---- IVF (inverted-file) ANN ----

  /** Number of coarse cells; at corpus scale this is ~√n k-means
    * centroids — here the first K corpus vectors seed the cells (the
    * k-means++ seeding step, shared verbatim with the oracle so both
    * engines derive identical cells from the data alone). */
  val IvfCells = 16
  /** Cells probed per query (recall lever). */
  val IvfProbes = 4

  /** SIM4: IVF ANN — the other standard scale path next to LSH:
    * 1. coarse quantizer: every vector is assigned to its max-cosine
    *    centroid cell (one narrow pass over a broadcast K-row dim —
    *    at 100 TB the cell id is the partition key);
    * 2. query time: rank cells by query↔centroid cosine, probe the top
    *    [[IvfProbes]]; only those cells' vectors get exact scoring.
    * Scan fraction ≈ probes/K and tightens as K grows with the corpus.
    */
  def simIvfFrom(emb0: DataFrame): DataFrame = {
    import emb0.sparkSession.implicits._
    val emb = emb0.withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val cents = emb.filter($"vec_id" < IvfCells)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"norm".as("cnorm"))
    // coarse assignment: argmax-cosine centroid per vector
    val assigned = emb
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("cvec")) / ($"norm" * $"cnorm"))
      .groupBy($"vec_id")
      .agg(max_by($"cid", $"ccos").as("cell"))
    // the query's IvfProbes closest cells
    val q = emb.filter($"vec_id" === 0L).select($"embedding".as("qv"), $"norm".as("qnorm"))
    val qcells = cents.crossJoin(broadcast(q))
      .withColumn("qcos", dot(col("cvec"), col("qv")) / ($"cnorm" * $"qnorm"))
      .orderBy($"qcos".desc, $"cid")
      .limit(IvfProbes)
      .select($"cid")
    // probe: exact cosine over the selected cells only
    emb.join(assigned, "vec_id")
      .join(broadcast(qcells), $"cell" === qcells("cid"))
      .filter($"vec_id" =!= 0L)
      .crossJoin(broadcast(q))
      .withColumn("cos", dot(col("embedding"), col("qv")) / ($"norm" * $"qnorm"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", $"label", $"cell", $"cos")
  }

  def simIvf(spark: SparkSession, dir: String): DataFrame =
    simIvfFrom(Tables(spark, dir, "embeddings"))

  val simIvfSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCells),
       |assigned AS (
       |  SELECT e.vec_id,
       |    arg_max(c.cid, ${sqlDot("e.embedding", "c.cvec")} / (e.norm * c.cnorm)) AS cell
       |  FROM e, cents c GROUP BY e.vec_id),
       |q AS (SELECT embedding AS qv, norm AS qnorm FROM e WHERE vec_id = 0),
       |qcells AS (
       |  SELECT cid FROM cents, q
       |  ORDER BY ${sqlDot("cvec", "qv")} / (cnorm * qnorm) DESC, cid
       |  LIMIT $IvfProbes)
       |SELECT vec_id, label, cell, cos FROM (
       |  SELECT e.vec_id, e.label, a.cell,
       |    ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) AS cos
       |  FROM e
       |  JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN qcells ON a.cell = qcells.cid, q
       |  WHERE e.vec_id <> 0)
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Per-cell admission cap for [[sim5SemanticDedup]] — the same
    * guard as [[SimBucketCap]]: a pathological cell can contribute at
    * most cap²/2 pairs. Vectors beyond the cap (deterministically by
    * vec_id) are kept, not compared — at real cluster counts (~√n
    * cells) occupancy stays far below it. */
  val CellCap = 256
  /** Cosine above which two same-cell vectors are semantic duplicates
    * (0.3 fits the near-orthogonal synthetic corpus; SemDeDup-style
    * pipelines on real embeddings run ~0.95+). */
  val SemDedupThreshold = 0.3

  /** SIM5: semantic dedup (the SemDeDup shape): coarse-cluster every
    * vector to its argmax-cosine centroid cell, then within each cell
    * drop any vector whose cosine to a smaller-id cell-mate exceeds the
    * threshold (keep-first policy — deterministic, so retries agree).
    * Pair work is confined to cells: at 100 TB the cell id is the
    * partition key, centroids broadcast, and the cross-cell pair
    * product — the n² trap — never exists. Output: per-cell keep/drop
    * accounting, the survivors being the training-set contribution. */
  def sim5SemanticDedupFrom(emb0: DataFrame): DataFrame = {
    import emb0.sparkSession.implicits._
    val emb = emb0.withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val cents = emb.filter($"vec_id" < IvfCells)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"norm".as("cnorm"))
    val assigned = emb
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("cvec")) / ($"norm" * $"cnorm"))
      .groupBy($"vec_id")
      .agg(max_by($"cid", $"ccos").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cell").orderBy($"vec_id")
    val cellVecs = emb.join(assigned, "vec_id")
      .withColumn("rn", row_number().over(w))
    val compared = cellVecs.filter($"rn" <= CellCap)
    val dropped = compared.alias("x")
      .join(compared.alias("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        dot(col("x.embedding"), col("y.embedding")) / (col("x.norm") * col("y.norm")))
      .filter($"cos" > SemDedupThreshold)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1L))
    cellVecs
      .join(dropped, Seq("vec_id"), "left")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vectors"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce($"is_dup", lit(0L)))).as("n_kept"))
  }

  def sim5SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    sim5SemanticDedupFrom(Tables(spark, dir, "embeddings"))

  val sim5Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCells),
       |assigned AS (
       |  SELECT e.vec_id,
       |    arg_max(c.cid, ${sqlDot("e.embedding", "c.cvec")} / (e.norm * c.cnorm)) AS cell
       |  FROM e, cents c GROUP BY e.vec_id),
       |cv AS (
       |  SELECT e.vec_id, e.embedding, e.norm, a.cell,
       |    row_number() OVER (PARTITION BY a.cell ORDER BY e.vec_id) AS rn
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id FROM cv x JOIN cv y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE x.rn <= $CellCap AND y.rn <= $CellCap
       |    AND ${sqlDot("x.embedding", "y.embedding")} / (x.norm * y.norm)
       |      > $SemDedupThreshold)
       |SELECT cell, count(*) AS n_vectors,
       |  CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
       |FROM cv LEFT JOIN dropped d ON cv.vec_id = d.vec_id
       |GROUP BY cell""".stripMargin

  /** Query-batch size for [[sim6KnnJoin]] and neighbours returned per
    * query. */
  val KnnQueries = 8
  val KnnK = 5

  /** SIM6: KNN join — top-k neighbours for a whole BATCH of queries at
    * once (retrieval-eval's bread and butter), not one query vector.
    * The query batch broadcasts (it is small by definition); the corpus
    * is scanned ONCE for all queries; per-query ranking is a window
    * top-k partitioned by query id. At 100 TB the same shape holds —
    * corpus-side scan × broadcast queries — and the banded-signature
    * prefilter of sim2 composes in front when the batch grows. */
  /** k-NN join of `corpus` (vec_id, embedding) against a broadcast
    * `queries` batch (qid, qv): one corpus scan, per-query window rank.
    * A query is excluded from its own neighbours when ids collide. */
  def knnJoinFrom(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val emb = corpus
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val qn = queries
      .withColumn("qnorm", sqrt(dot(col("qv"), col("qv"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    emb.crossJoin(broadcast(qn))
      .filter($"vec_id" =!= $"qid")
      .withColumn("cos",
        dot(col("embedding"), col("qv")) / ($"norm" * $"qnorm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"rank".cast("long").as("rank"), $"vec_id", $"cos")
  }

  def sim6KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < KnnQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    knnJoinFrom(emb, queries, KnnK)
  }

  val sim6Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, norm AS qnorm
       |  FROM e WHERE vec_id < $KnnQueries)
       |SELECT qid, rank, vec_id, cos FROM (
       |  SELECT q.qid,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) DESC,
       |        e.vec_id) AS rank,
       |    e.vec_id,
       |    ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid)
       |WHERE rank <= $KnnK""".stripMargin

  // ---------------- emb3: embedding-quality eval ----------------

  /** Probe count for the leave-one-out label accuracy. */
  val EmbEvalProbes = 64

  /** EMB3: embedding-quality evaluation by leave-one-out 1-NN label
    * accuracy — the retrieval-side r4 discipline applied to the vector
    * space: for each of [[EmbEvalProbes]] probe vectors, find its
    * nearest neighbour in the full corpus (itself excluded) and check
    * whether the neighbour carries the same label. A space that
    * clusters by label scores high; a collapsed or shuffled space
    * scores at the label prior. Output per true label: probes, hits,
    * accuracy — the per-class view that catches one label's cluster
    * collapsing while the average still looks fine.
    *
    * Same scale shape as sim6: the probe batch broadcasts, the corpus
    * scans ONCE for all probes, per-probe ranking is a bounded window.
    * Accuracy is an exact-integer ratio (one double division).
    *
    * Two fences for real-world corpora: probes are the first
    * [[EmbEvalProbes]] vectors in md5(id) order — id-type-agnostic and
    * unbiased (the r4 discipline; an id-range convention would return
    * EMPTY on UUID or offset ids). Zero-norm vectors (padding rows,
    * failed encodes) are excluded from corpus and probes alike: their
    * cosine is NaN, and NaN sorts ABOVE every real similarity under
    * DESC, so one zero vector would otherwise become every probe's
    * 1-NN and silently replace the metric with garbage. */
  def emb3From(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val live = emb.filter(dot($"embedding", $"embedding") > 0)
    val probes = live
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        $"label".as("true_label"),
        md5($"vec_id".cast("string").cast("binary")).as("h"))
      .orderBy($"h", $"qid").limit(EmbEvalProbes)
      .drop("h")
    val nn = knnJoinFrom(live.select($"vec_id", $"embedding"),
      probes.select($"qid", $"qv"), 1)
    nn.join(live.select($"vec_id", $"label".as("nn_label")), "vec_id")
      .join(broadcast(probes.select($"qid", $"true_label")), "qid")
      .groupBy($"true_label")
      .agg(
        count(lit(1)).as("n_probes"),
        sum(when($"nn_label" === $"true_label", 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        $"n_correct".cast("double") / $"n_probes")
  }

  def emb3KnnAccuracy(spark: SparkSession, dir: String): DataFrame =
    emb3From(Tables(spark, dir, "embeddings"))

  val emb3Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings
       |  WHERE ${sqlDot("embedding", "embedding")} > 0),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, norm AS qnorm,
       |    label AS true_label
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $EmbEvalProbes),
       |nn AS (
       |  SELECT qid, true_label, vec_id FROM (
       |    SELECT q.qid, q.true_label, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm)
       |          DESC, e.vec_id) AS rank
       |    FROM e, q WHERE e.vec_id <> q.qid)
       |  WHERE rank = 1)
       |SELECT nn.true_label,
       |  count(*) AS n_probes,
       |  CAST(sum(CASE WHEN l.label = nn.true_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN l.label = nn.true_label THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS accuracy
       |FROM nn JOIN e l ON nn.vec_id = l.vec_id
       |GROUP BY nn.true_label""".stripMargin

  /** Queries sampled into the contrastive-mining row (the sim6/ai2
    * convention: first ids double as the fixed probe set). */
  private val HnQueries = 8
  private val HnK = 3

  /** HN1: contrastive-pair mining — for each sampled anchor vector,
    * the top-[[HnK]] most-similar SAME-label vectors (positives) and
    * the top-[[HnK]] most-similar DIFFERENT-label vectors (hard
    * negatives): exactly the batch a contrastive/triplet trainer or a
    * reranker-distillation pipeline consumes, where "hard" means
    * nearest-wrong — random negatives teach nothing. Same plan family
    * as sim6: anchors broadcast, ONE corpus scan, per-(anchor, kind)
    * window rank that Spark's WindowGroupLimit turns into a running
    * per-partition top-k (never a full sort of the corpus per anchor);
    * at 100 TB the sim2/sim4 ANN prefilters compose in front unchanged.
    * Ordering ties break on vec_id in both engines. */
  /** The generalized mining body — corpus `(vec_id, embedding, label)`
    * against a broadcast `anchors` frame of the same shape; also the
    * `api.Similarity` surface. */
  def hardNegativesFrom(corpus: DataFrame, anchors: DataFrame,
      k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val emb = corpus
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val q = anchors
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        $"label".as("qlabel"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid", $"kind").orderBy($"cos".desc, $"vec_id")
    emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .withColumn("kind",
        when($"label" === $"qlabel", lit("pos")).otherwise(lit("neg")))
      .withColumn("cos",
        dot(col("embedding"), col("qv")) / ($"norm" * $"qnorm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"qid", $"kind", $"rank".cast("long").as("rank"),
        $"vec_id", $"label".cast("long").as("label"), $"cos")
  }

  def hn1HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    hardNegativesFrom(emb, emb.filter($"vec_id" < HnQueries), HnK)
  }

  val hn1Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel,
       |    norm AS qnorm
       |  FROM e WHERE vec_id < $HnQueries)
       |SELECT qid, kind, rank, vec_id, label, cos FROM (
       |  SELECT q.qid,
       |    CASE WHEN e.label = q.qlabel THEN 'pos' ELSE 'neg' END AS kind,
       |    row_number() OVER (
       |      PARTITION BY q.qid,
       |        CASE WHEN e.label = q.qlabel THEN 'pos' ELSE 'neg' END
       |      ORDER BY ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) DESC,
       |        e.vec_id) AS rank,
       |    e.vec_id, CAST(e.label AS BIGINT) AS label,
       |    ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid)
       |WHERE rank <= $HnK""".stripMargin

  /** SIM7: symmetric int8 quantization — the 4× memory lever that keeps
    * a 100 TB ANN corpus in RAM: per-vector scale = max|x|/127, each
    * component rounded to [-127, 127]. Rounding is floor(x + 0.5)
    * (half-up via floor) because both engines' `floor` is IEEE-exact
    * while their `round()` tie policies differ. Output: per-vector
    * scale, an order-sensitive digest of the quantized codes (proving
    * byte-identical codes across engines), and the max reconstruction
    * error — which is also bounded-asserted, making the quality claim
    * part of the oracle row. */
  def sim7Quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .withColumn("maxabs", expr(
        "array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
      .withColumn("scale", $"maxabs" / 127.0)
      .withColumn("q", expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / scale + 0.5) AS BIGINT))"))
      .withColumn("max_err", expr(
        "array_max(zip_with(embedding, q, (v, c) -> abs(CAST(v AS DOUBLE) - c * scale)))"))
      .select($"vec_id", $"scale",
        md5(expr("array_join(transform(q, c -> CAST(c AS STRING)), ',')"))
          .as("code_digest"),
        ($"max_err" <= $"scale" * 0.5 + 1e-12).as("err_within_half_step"))
  }

  val sim7Sql: String =
    """SELECT vec_id, maxabs / 127.0 AS scale,
      |  md5(array_to_string(list_transform(embedding,
      |    v -> CAST(floor(CAST(v AS DOUBLE) / (maxabs / 127.0) + 0.5) AS BIGINT)), ',')) AS code_digest,
      |  list_max(list_transform(embedding,
      |    v -> abs(CAST(v AS DOUBLE)
      |      - CAST(floor(CAST(v AS DOUBLE) / (maxabs / 127.0) + 0.5) AS BIGINT) * (maxabs / 127.0))))
      |    <= (maxabs / 127.0) * 0.5 + 1e-12 AS err_within_half_step
      |FROM (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS maxabs
      |  FROM embeddings)""".stripMargin

  /** SIM8: ANN quality evaluation — recall@k of the banded-LSH
    * candidate filter against exact brute-force ground truth, per
    * query. This is the monitoring loop every production ANN deployment
    * runs (the recall lever — band width / probe count — is tuned
    * against exactly this number); expressing it as ONE query over the
    * same corpus scan keeps the eval as cheap as the search. */
  def sim8AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("sig", signature($"embedding"))
    val queries = emb.filter($"vec_id" < KnnQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        $"norm".as("qnorm"), $"sig".as("qsig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    val scored = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"qid")
      .withColumn("cos",
        dot(col("embedding"), col("qv")) / ($"norm" * $"qnorm"))
    val exact = scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= KnnK)
      .select($"qid", $"vec_id")
    val shareBand = (0 until NumBands)
      .map(b => expr(s"shiftright(sig ^ qsig, ${BandBits * b}) & ${(1 << BandBits) - 1}") === 0)
      .reduce(_ || _)
    val approx = scored.filter(shareBand)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= KnnK)
      .select($"qid".as("aqid"), $"vec_id".as("avid"))
    exact.join(approx,
        exact("qid") === approx("aqid") && exact("vec_id") === approx("avid"),
        "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("k"),
        count($"avid").as("n_hit"),
        (count($"avid").cast("double") / count(lit(1))).as("recall"))
  }

  val sim8Sql: String = {
    val bandPred = (0 until NumBands)
      .map(b => s"(xor(sig, qsig) >> ${BandBits * b}) & ${(1 << BandBits) - 1} = 0")
      .mkString(" OR ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS norm,
       |    ${sqlSignature("embedding")} AS sig
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, norm AS qnorm, sig AS qsig
       |  FROM e WHERE vec_id < $KnnQueries),
       |scored AS (
       |  SELECT q.qid, e.vec_id, e.sig, q.qsig,
       |    ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $KnnK),
       |approx AS (
       |  SELECT qid AS aqid, vec_id AS avid FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |    FROM scored WHERE $bandPred)
       |  WHERE rank <= $KnnK)
       |SELECT x.qid, count(*) AS k, CAST(count(a.avid) AS BIGINT) AS n_hit,
       |  CAST(count(a.avid) AS DOUBLE) / count(*) AS recall
       |FROM exact x LEFT JOIN approx a ON x.qid = a.aqid AND x.vec_id = a.avid
       |GROUP BY x.qid""".stripMargin
  }

  // ---- KMS1: trained k-means (Lloyd) clustering ----

  private val KmK = 8
  private val KmIters = 2

  private def sqlDist(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(range(1, len($a) + 1),
       |    i -> (CAST($a[i] AS DOUBLE) - $b[i]) * (CAST($a[i] AS DOUBLE) - $b[i]))),
       |  (acc, v) -> acc + v)""".stripMargin

  /** KMS1: the k-means training sim4's IVF coarse quantizer stands in
    * for — [[KmIters]] full Lloyd iterations over the corpus, seeded by
    * the [[KmK]] smallest vec_ids (deterministic, no RNG), reporting
    * per-cluster size and SSE.
    *
    * Every step is engine-portable BY CONSTRUCTION: distances fold
    * left-to-right in doubles (identical argmin), ties break on
    * centroid id, and centroid means go through the exact-decimal
    * accumulator so summation order cannot drift. Scale posture: each
    * iteration is one crossJoin against the BROADCAST K-row centroid
    * set (assignment is scan-local; the argmin is a partial-agg'd
    * min(struct(dist, cid)), so the K candidates per vector combine
    * map-side and never cross an exchange) and one (cid, dim)-keyed
    * partial-agg'd update — the corpus shuffles only by its cluster
    * assignment, K·D floats travel to the driver per round (exactly
    * what MLlib's Lloyd does). */
  def kms1Kmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val dims = vecs.select($"vec_id",
      posexplode($"embedding").as(Seq("d", "v0")))
      .select($"vec_id", $"d", $"v0".cast("double").as("v"))

    // argmin as a partial-agg'd min(struct(dist, cid)) — identical row
    // to the old row_number-over-(dist, cid) window (cid is unique, so
    // the struct order is total), but the K candidate rows per vector
    // now combine MAP-SIDE instead of shipping K wide rows (embedding +
    // centroid arrays) through a window sort per iteration (r17, guide
    // §2.3 "aggregate before you shuffle")
    def assign(cents: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(cents))
        .withColumn("dist", sqdist(col("embedding"), col("cent")))
        .groupBy($"vec_id")
        .agg(min(struct($"dist", $"cid")).as("best"))
        .select($"vec_id", $"best.cid".as("cid"), $"best.dist".as("dist"))

    def update(assigned: DataFrame): DataFrame =
      dims.join(assigned.select($"vec_id", $"cid"), "vec_id")
        .groupBy($"cid", $"d")
        .agg((dsum($"v") / count($"v")).as("c"))
        .groupBy($"cid")
        .agg(expr("transform(array_sort(collect_list(struct(d, c))), x -> x.c)").as("cent"))

    val cents0 = vecs.filter($"vec_id" < KmK)
      .select($"vec_id".as("cid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cent"))
    var assigned = assign(cents0)
    (1 until KmIters).foreach { _ =>
      assigned = assign(update(assigned))
    }
    assigned.groupBy($"cid")
      .agg(count(lit(1)).as("n_vectors"), dsum($"dist").as("sse"))
  }

  val kms1Sql: String = {
    val expl =
      """SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS v
        |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS d
        |        FROM embeddings)""".stripMargin
    s"""WITH dims AS ($expl),
       |cents0 AS (
       |  SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM embeddings WHERE vec_id < $KmK),
       |a1 AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${sqlDist("e.embedding", "c.cent")} AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDist("e.embedding", "c.cent")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents0 c)
       |  WHERE rn = 1),
       |cents1 AS (
       |  SELECT cid, list(c ORDER BY d) AS cent FROM (
       |    SELECT a.cid, t.d,
       |      CAST(sum(CAST(t.v AS DECIMAL(38,6))) AS DOUBLE) / count(t.v) AS c
       |    FROM dims t JOIN a1 a ON a.vec_id = t.vec_id
       |    GROUP BY a.cid, t.d)
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${sqlDist("e.embedding", "c.cent")} AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDist("e.embedding", "c.cent")}, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents1 c)
       |  WHERE rn = 1)
       |SELECT cid, count(*) AS n_vectors,
       |  ${sqlDsum("dist")} AS sse
       |FROM a2
       |GROUP BY cid""".stripMargin
  }

  // ---------------- SIM9: product quantization + ADC ----------------

  private val PqM = 4 // subspaces
  private val PqSub = 16 // dims per subspace (4 × 16 = the 64-dim corpus)
  private val PqK = 16 // codewords per subspace → 4 bits × 4 = 16-bit code
  private val PqQueries = 3
  private val PqTopK = 10

  /** SIM9: product-quantization ANN — THE memory-compression scheme for
    * billion-vector search (a 64-dim float32 vector becomes a 2-byte
    * code here; real deployments use 8-64 bytes against 3 KB vectors).
    * Encode: each vector's [[PqM]] subvectors map to their nearest
    * codeword (codebook seeded by the [[PqK]] smallest vec_ids — the
    * kms1 deterministic-seed convention; kms1 already proves Lloyd
    * refinement engine-exact, so the training step is not re-proven
    * here). Search: the query computes one [[PqK]]×[[PqM]] distance
    * table, and every candidate's distance estimate is M table LOOKUPS —
    * no vector math per candidate, which is the whole point of ADC.
    *
    * Scale shape: the codebook (K×M tiny centroids) and the per-query
    * table broadcast; encoding is one scan + a per-(vec, subspace)
    * argmin window; the estimate is a fixed-order scalar chain
    * d0+d1+d2+d3 — a grouped double SUM would be order-dependent across
    * engines — and the final top-k is a per-query window over the
    * estimates. */
  /** Per-(vector, subspace) slices: (vec_id, s, sub). */
  private def pqSubVecs(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.select($"vec_id", explode(array((0 until PqM).map { s =>
        struct(lit(s).as("s"),
          expr(s"slice(embedding, ${s * PqSub + 1}, $PqSub)").as("sub"))
      }: _*)).as("sv"))
      .select($"vec_id", $"sv.s".as("s"), $"sv.sub".as("sub"))
  }

  /** Subspace codebooks seeded by the [[PqK]] smallest vec_ids. */
  private def pqCodebook(subVecs: DataFrame): DataFrame = {
    import subVecs.sparkSession.implicits._
    subVecs.filter($"vec_id" < PqK)
      .select($"vec_id".as("cid"), $"s",
        expr("transform(sub, x -> CAST(x AS DOUBLE))").as("cent"))
  }

  /** PQ encoding: nearest codeword per (vector, subspace). */
  private def pqCodes(subVecs: DataFrame, codebook: DataFrame): DataFrame = {
    import subVecs.sparkSession.implicits._
    val wCode = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id", $"s").orderBy($"d", $"cid")
    subVecs.join(broadcast(codebook), "s")
      .withColumn("d", sqdist($"sub", $"cent"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(wCode))
      .filter($"rn" === 1)
      .select($"vec_id", $"s", $"cid")
  }

  /** ADC estimates for (query subvector × codeword) lookups folded to a
    * fixed-order scalar chain, ranked per query. `codes` may be
    * pre-filtered (e.g. to IVF-probed cells). */
  private def pqAdcTopK(codes: DataFrame, qtab: DataFrame): DataFrame = {
    import codes.sparkSession.implicits._
    val dCols = (0 until PqM).map(s => max(when($"s" === s, $"dq")).as(s"d$s"))
    val est = codes.join(broadcast(qtab), Seq("s", "cid"))
      .groupBy($"query_id", $"vec_id")
      .agg(dCols.head, dCols.tail: _*)
      .withColumn("adc_dist",
        (0 until PqM).map(s => col(s"d$s")).reduce(_ + _))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adc_dist", $"vec_id")
    est
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(wTop).cast("long"))
      .filter($"rank" <= PqTopK)
      .select($"query_id", $"vec_id", $"adc_dist", $"rank")
  }

  def sim9PqAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val subVecs = pqSubVecs(vecs)
    val codebook = pqCodebook(subVecs)
    val qtab = subVecs.filter($"vec_id" < PqQueries)
      .select($"vec_id".as("query_id"), $"s", $"sub")
      .join(broadcast(codebook), "s")
      .withColumn("dq", sqdist($"sub", $"cent"))
      .select($"query_id", $"s", $"cid", $"dq")
    pqAdcTopK(pqCodes(subVecs, codebook), qtab)
  }

  val sim9Sql: String = {
    val dCases = (0 until PqM)
      .map(s => s"max(CASE WHEN k.s = $s THEN q.dq END) AS d$s")
      .mkString(",\n    ")
    s"""WITH sub AS (
       |  SELECT vec_id, t.s,
       |    embedding[t.s * $PqSub + 1 : t.s * $PqSub + $PqSub] AS sub
       |  FROM embeddings CROSS JOIN (SELECT unnest(range($PqM)) AS s) t),
       |cb AS (
       |  SELECT vec_id AS cid, s,
       |    list_transform(sub, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM sub WHERE vec_id < $PqK),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT v.vec_id, v.s, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${sqlDist("v.sub", "c.cent")}, c.cid) AS rn
       |    FROM sub v JOIN cb c ON v.s = c.s)
       |  WHERE rn = 1),
       |qtab AS (
       |  SELECT v.vec_id AS query_id, v.s, c.cid,
       |    ${sqlDist("v.sub", "c.cent")} AS dq
       |  FROM sub v JOIN cb c ON v.s = c.s WHERE v.vec_id < $PqQueries),
       |est AS (
       |  SELECT q.query_id, k.vec_id,
       |    $dCases
       |  FROM codes k JOIN qtab q ON q.s = k.s AND q.cid = k.cid
       |  GROUP BY q.query_id, k.vec_id)
       |SELECT query_id, vec_id,
       |  ((d0 + d1) + d2) + d3 AS adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ((d0 + d1) + d2) + d3, vec_id) AS BIGINT) AS rank
       |FROM est
       |QUALIFY rank <= $PqTopK""".stripMargin
  }

  // ---------------- SIM10: IVF-PQ (the full production ANN stack) ----

  /** SIM10: IVF-PQ — sim4's inverted-file pruning composed with sim9's
    * quantized scoring: the query probes its [[IvfProbes]] nearest
    * coarse cells (L2, window argmin — deterministic tie-break on cid),
    * and only THOSE cells' vectors are ranked, by ADC table lookups
    * instead of full vector math (non-residual PQ — the FAISS
    * `by_residual=false` configuration, which keeps one codebook valid
    * across all cells). This is the shape a billion-vector index
    * actually runs: cells bound the candidate count, codes bound the
    * memory, and neither the corpus vectors nor their codes ever
    * shuffle — cell assignment and ADC both happen against broadcast
    * structures. */
  def sim10IvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Tables(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val coarse = vecs.filter($"vec_id" < IvfCells)
      .select($"vec_id".as("ccell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cd", $"ccell")
    val assigned = vecs.crossJoin(broadcast(coarse))
      .withColumn("cd", sqdist($"embedding", $"cvec"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(wCell))
      .filter($"rn" === 1)
      .select($"vec_id", $"ccell".as("cell"))
    // the query batch's probed cells (top IvfProbes by L2)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cd", $"ccell")
    val probed = vecs.filter($"vec_id" < PqQueries)
      .select($"vec_id".as("query_id"), $"embedding")
      .crossJoin(broadcast(coarse))
      .withColumn("cd", sqdist($"embedding", $"cvec"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(wProbe))
      .filter($"rn" <= IvfProbes)
      .select($"query_id", $"ccell".as("cell"))
    val subVecs = pqSubVecs(vecs)
    val codebook = pqCodebook(subVecs)
    val qtab = subVecs.filter($"vec_id" < PqQueries)
      .select($"vec_id".as("query_id"), $"s", $"sub")
      .join(broadcast(codebook), "s")
      .withColumn("dq", sqdist($"sub", $"cent"))
      .select($"query_id", $"s", $"cid", $"dq")
    // candidates = vectors in a probed cell OF THAT QUERY; their codes
    // then rank by ADC exactly as sim9, just over the pruned set
    val candidates = assigned.join(broadcast(probed), "cell")
      .select($"query_id".as("qid"), $"vec_id")
    val codes = pqCodes(subVecs, codebook)
      .join(candidates, "vec_id")
      .withColumnRenamed("qid", "query_id")
    val dCols = (0 until PqM).map(s => max(when($"s" === s, $"dq")).as(s"d$s"))
    val est = codes.join(broadcast(qtab), Seq("query_id", "s", "cid"))
      .groupBy($"query_id", $"vec_id")
      .agg(dCols.head, dCols.tail: _*)
      .withColumn("adc_dist",
        (0 until PqM).map(s => col(s"d$s")).reduce(_ + _))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adc_dist", $"vec_id")
    est
      .withColumn("rank",
        org.apache.spark.sql.functions.row_number().over(wTop).cast("long"))
      .filter($"rank" <= PqTopK)
      .select($"query_id", $"vec_id", $"adc_dist", $"rank")
  }

  val sim10Sql: String = {
    val dCases = (0 until PqM)
      .map(s => s"max(CASE WHEN k.s = $s THEN q.dq END) AS d$s")
      .mkString(",\n    ")
    s"""WITH coarse AS (
       |  SELECT vec_id AS ccell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id < $IvfCells),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.ccell AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDist("e.embedding", "c.cvec")}, c.ccell) AS rn
       |    FROM embeddings e CROSS JOIN coarse c)
       |  WHERE rn = 1),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.ccell AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDist("e.embedding", "c.cvec")}, c.ccell) AS rn
       |    FROM embeddings e CROSS JOIN coarse c
       |    WHERE e.vec_id < $PqQueries)
       |  WHERE rn <= $IvfProbes),
       |sub AS (
       |  SELECT vec_id, t.s,
       |    embedding[t.s * $PqSub + 1 : t.s * $PqSub + $PqSub] AS sub
       |  FROM embeddings CROSS JOIN (SELECT unnest(range($PqM)) AS s) t),
       |cb AS (
       |  SELECT vec_id AS cid, s,
       |    list_transform(sub, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM sub WHERE vec_id < $PqK),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT v.vec_id, v.s, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${sqlDist("v.sub", "c.cent")}, c.cid) AS rn
       |    FROM sub v JOIN cb c ON v.s = c.s)
       |  WHERE rn = 1),
       |qtab AS (
       |  SELECT v.vec_id AS query_id, v.s, c.cid,
       |    ${sqlDist("v.sub", "c.cent")} AS dq
       |  FROM sub v JOIN cb c ON v.s = c.s WHERE v.vec_id < $PqQueries),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assigned a JOIN probed p ON a.cell = p.cell),
       |est AS (
       |  SELECT q.query_id, k.vec_id,
       |    $dCases
       |  FROM codes k
       |  JOIN cand x ON x.vec_id = k.vec_id
       |  JOIN qtab q ON q.query_id = x.query_id AND q.s = k.s AND q.cid = k.cid
       |  GROUP BY q.query_id, k.vec_id)
       |SELECT query_id, vec_id,
       |  ((d0 + d1) + d2) + d3 AS adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ((d0 + d1) + d2) + d3, vec_id) AS BIGINT) AS rank
       |FROM est
       |QUALIFY rank <= $PqTopK""".stripMargin
  }

  // ---------------- SIM11: MMR diversified re-ranking ----------------

  /** Candidate pool size fed to the MMR selector. */
  private val MmrPool = 50

  /** Picks returned. */
  private val MmrK = 5

  /** Relevance↔diversity trade-off (λ·rel − (1−λ)·max-sim-to-picked). */
  private val MmrLambda = 0.7

  /** 1−λ as its own literal: `1 - 0.7` is 0.30000000000000004 in double
    * arithmetic, and the SQL twin must multiply by the SAME constant. */
  private val MmrDiversity = 0.3

  /** SIM11: Maximal-Marginal-Relevance re-ranking — a top-k that is
    * RELEVANT AND DIVERSE (Carbonell & Goldstein, SIGIR'98): after the
    * most-relevant pick, each step takes the candidate maximizing
    * `0.7·rel − 0.3·max(sim to already-picked)`, so near-duplicates of
    * an earlier pick are penalized out — the retrieval-side twin of the
    * sim5 semantic dedup.
    *
    * Scale shape: the expensive part — scoring the corpus against the
    * query and taking the top [[MmrPool]] — is the distributed sim1 scan
    * (broadcast query, TakeOrderedAndProject). The selection itself is
    * inherently sequential in k, so it runs on the driver over the
    * BOUNDED candidate set (≤ [[MmrPool]] vectors — the same bounded-
    * driver-state argument as broadcast centroids), with the identical
    * left-to-right double fold the kernels use, so the DuckDB twin (the
    * same K steps unrolled as CTEs) matches bit-for-bit. Ties break on
    * vec_id everywhere. */
  /** The sim11 core: MMR over any corpus (vec_id, embedding, ...)
    * against a 1-row query (qv), parameterized by pool and k. */
  def mmrFrom(corpus: DataFrame, query: DataFrame,
      k: Int = MmrK, pool: Int = MmrPool): DataFrame = {
    import corpus.sparkSession.implicits._
    val cands = cosineTopKFrom(corpus, query, pool)
      .select($"vec_id", $"cos", $"embedding")
      .collect()
      .map { r =>
        val e = r.getSeq[Float](2).toArray
        (r.getLong(0), r.getDouble(1), e, math.sqrt(fold(e, e)))
      }
    // driver-side MMR over the bounded pool; fold/maxsim orders mirror
    // the SQL twin exactly
    val picked = collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double)] // (step, id, rel, mmr)
    val chosen = collection.mutable.ArrayBuffer.empty[(Array[Float], Double)]
    val remaining = collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    for (step <- 1 to k if remaining.nonEmpty) {
      val scored = remaining.values.map { case (id, rel, e, nrm) =>
        // true max over the picked set — cosines can be NEGATIVE, so no
        // zero floor (the SQL twin's greatest() has none); the empty set
        // (first pick) is 0.0 on both sides by construction
        val maxsim =
          if (chosen.isEmpty) 0.0
          else chosen.map { case (se, snrm) => fold(e, se) / (nrm * snrm) }.max
        (id, rel, MmrLambda * rel - MmrDiversity * maxsim)
      }.toSeq
      val (id, rel, mmr) = scored.minBy { case (i, _, s) => (-s, i) }
      picked += ((step.toLong, id, rel, mmr))
      val c = remaining.remove(id).get
      chosen += ((c._3, c._4))
    }
    picked.toSeq.toDF("step", "vec_id", "rel", "mmr")
  }

  def sim11Mmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    mmrFrom(emb.filter($"vec_id" =!= 0L),
      emb.filter($"vec_id" === 0L).select($"embedding".as("qv")))
  }

  /** Left-to-right double fold of the float dot product — the exact
    * arithmetic of [[graft.functions.VectorDot]] and [[sqlDot]]. */
  private def fold(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  val sim11Sql: String = {
    def cosTo(prev: Int): String =
      s"${sqlDot("c.embedding", s"s$prev.embedding")} / (c.nrm * s$prev.nrm)"
    // step i: max sim against picks 1..i-1, greatest() over the unrolled
    // prior steps (empty → 0.0), then argmax of the MMR score
    val steps = (2 to MmrK).map { i =>
      val sims = (1 until i).map(cosTo)
      val maxsim =
        if (sims.size == 1) sims.head else s"greatest(${sims.mkString(", ")})"
      val froms = (1 until i).map(j => s"s$j").mkString(", ")
      val notIn = (1 until i).map(j => s"c.vec_id <> s$j.vec_id").mkString(" AND ")
      s"""s$i AS (
         |  SELECT c.vec_id, c.embedding, c.nrm, c.rel,
         |    $MmrLambda * c.rel - $MmrDiversity * ($maxsim) AS mmr
         |  FROM cand c, $froms
         |  WHERE $notIn
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val unions = (1 to MmrK).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, vec_id, rel, mmr FROM s$i")
    s"""WITH q AS (
       |  SELECT embedding AS qv, sqrt(${sqlDot("embedding", "embedding")}) AS qnrm
       |  FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, embedding, nrm, rel FROM (
       |    SELECT e.vec_id, e.embedding,
       |      sqrt(${sqlDot("e.embedding", "e.embedding")}) AS nrm,
       |      ${sqlDot("e.embedding", "q.qv")} /
       |        (sqrt(${sqlDot("e.embedding", "e.embedding")}) *
       |         sqrt(${sqlDot("q.qv", "q.qv")})) AS rel
       |    FROM embeddings e, q
       |    WHERE e.vec_id <> 0)
       |  ORDER BY rel DESC, vec_id LIMIT $MmrPool),
       |s1 AS (
       |  SELECT vec_id, embedding, nrm, rel,
       |    $MmrLambda * rel - $MmrDiversity * 0.0 AS mmr
       |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
       |${steps.mkString(",\n")}
       |${unions.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "kms1_kmeans" -> QueryDef.of(kms1Sql)(kms1Kmeans),
    "sim9_pq_adc" -> QueryDef.of(sim9Sql)(sim9PqAdc),
    "sim10_ivf_pq" -> QueryDef.of(sim10Sql)(sim10IvfPq),
    "sim1_cosine_topk" -> QueryDef.of(simCosineSql)(simCosineTopK),
    "sim6_knn_join" -> QueryDef.of(sim6Sql)(sim6KnnJoin),
    "emb3_knn_accuracy" -> QueryDef.of(emb3Sql)(emb3KnnAccuracy),
    "hn1_hard_negatives" -> QueryDef.of(hn1Sql)(hn1HardNegatives),
    "sim7_quantize" -> QueryDef.of(sim7Sql)(sim7Quantize),
    "sim8_ann_recall" -> QueryDef.of(sim8Sql)(sim8AnnRecall),
    "sim2_ann_lsh" -> QueryDef.of(simAnnSql)(simAnnLsh),
    "sim3_near_dup" -> QueryDef.of(simNearDupSql)(simNearDup),
    "sim4_ann_ivf" -> QueryDef.of(simIvfSql)(simIvf),
    "sim5_semantic_dedup" -> QueryDef.of(sim5Sql)(sim5SemanticDedup),
    "sim11_mmr" -> QueryDef.of(sim11Sql)(sim11Mmr)
  )
}
