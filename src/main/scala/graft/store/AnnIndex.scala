package graft.store

import graft.{QueryDef, Tables}
import graft.analytics.SimilarityQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental IVF approximate-nearest-neighbor index — similarity
  * search as a maintained store, the embedding-space sibling of
  * [[DedupIndex]]. sim4 runs the IVF construction inside every query
  * (re-assigning the whole corpus); at 100 TB the index must PERSIST:
  *
  *  - **centroids** are frozen at bootstrap (the deterministic first-K
  *    seeding sim4's oracle uses) — per-append quantizer drift would
  *    silently invalidate every stored posting. They change only
  *    through [[reseed]], which retrains, reassigns EVERYTHING, and
  *    flips generations atomically ([[ai2IndexHealth]] is the drift
  *    monitor that triggers it);
  *  - **postings** (vec_id, cell, embedding, norm, label) are
  *    append-only: each delta batch is assigned against the BROADCAST
  *    centroid frame (one narrow O(delta) pass) and lands as its own
  *    version directory, PARTITIONED BY cell — appending never rewrites
  *    history, and a query's probe reads only its probed cells' files
  *    (partition pruning: scan IO ≈ probes/K of the index regardless of
  *    corpus size);
  *  - **queries** rank the centroid frame (K rows, driver-local), then
  *    exact-score only the probed cells' postings — the sim4 plan
  *    served from disk instead of recomputed.
  *
  * The postings are a [[PostingsStore]]: versions are numbered
  * contiguously from 1, `_CURRENT` points at the highest valid one, and
  * [[maintain]] appends each micro-batch of an embedding stream against
  * the frozen centroids behind the batch fence — exactly-once postings
  * without a transaction log.
  *
  * Ref: the reference has no vector surface; this is the SURVEY §2
  * "beyond the reference" similarity mandate made operable at scale.
  */
object AnnIndex extends PostingsStore {

  import SimilarityQueries.{IvfCells, IvfProbes}

  protected val partitionColumn = "cell"

  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("norm",
      sqrt(SimilarityQueries.dot(col("embedding"), col("embedding"))))

  private def centroidsOf(emb: DataFrame): DataFrame =
    withNorm(emb).filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("norm").as("cnorm"))

  private def centroidsDirOf(path: String, gen: Long) =
    if (gen <= 1L) s"$path/centroids" else s"$path/centroids_g$gen"

  /** `_GEN` marker content `gen:firstVersion`: generation `gen`'s
    * centroids apply once `_CURRENT` reaches `firstVersion` — the same
    * version fence as `_BASE`, so a crash between marker writes and the
    * pointer flip leaves readers on the previous generation's
    * centroids AND postings, never a mix. */
  private def genInfo(path: String): (Long, Long) =
    VersionedState.readMarker(path, "_GEN")
      .map { s => val Array(g, v) = s.split(':'); (g.toLong, v.toLong) }
      .getOrElse((1L, 1L))

  private def activeGen(path: String): Long = {
    val (g, from) = genInfo(path)
    if (VersionedState.currentVersion(path) >= from) g else g - 1
  }

  /** The ACTIVE generation's centroid directory — what assignment,
    * queries, and audits must read. */
  private def centroidsDir(path: String): String =
    centroidsDirOf(path, activeGen(path))

  /** Assign a batch to cells against the broadcast centroid frame. */
  private def assign(batch: DataFrame, cents: DataFrame): DataFrame = {
    val e = withNorm(batch)
    e.crossJoin(broadcast(cents))
      .withColumn("ccos",
        SimilarityQueries.dot(col("embedding"), col("cvec")) /
          (col("norm") * col("cnorm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), col("ccos")).as("cell"))
      .join(e, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"), col("norm"),
        col("label"))
  }

  /** Bootstrap: freeze centroids from the first batch, write postings
    * v=1. The seed vectors (vec_id < [[IvfCells]]) must be present in
    * the bootstrap batch. */
  def initialize(emb: DataFrame, path: String, batchId: Long): Unit = {
    val cents = centroidsOf(emb)
    require(cents.count() == IvfCells,
      s"bootstrap batch must contain the $IvfCells seed vectors")
    // overwrite: with no `_CURRENT` nothing here is live, and a
    // bootstrap that crashed before its flip must be replayable
    cents.write.mode("overwrite").parquet(centroidsDirOf(path, 1))
    writePostings(assign(emb, cents), path, 1, batchId)
  }

  def append(spark: SparkSession, delta: DataFrame, path: String,
      expected: Long, batchId: Long): Boolean =
    isNextVersion(path, expected) && {
      val cents = spark.read.parquet(centroidsDir(path))
      writePostings(assign(delta, cents), path, expected, batchId)
      true
    }

  private def writePostings(p: DataFrame, path: String, v: Long,
      batchId: Long): Unit = {
    writePostingsDir(p, path, v)
    VersionedState.writePointer(path, v, batchId)
  }

  /** Re-seed the coarse quantizer from the CURRENT corpus — the action
    * [[ai2IndexHealth]]'s drift signals trigger. Frozen centroids rot
    * as the corpus grows away from the bootstrap sample: occupancy
    * skews (probes stop pruning) and recall sags. Re-seeding runs
    * `iters` Lloyd refinements warm-started from the active centroids
    * (max-cosine assignment — the index's own metric — then per-cell
    * dimension means; empty cells keep their old centroid so K never
    * shrinks), REASSIGNS every posting against the new centroids, and
    * writes the result as one consolidated version behind the `_BASE`
    * and `_GEN` markers ([[rebase]]). Both markers carry the same
    * version fence, so the old generation keeps serving — old centroids with old
    * postings, never a mix — until the single atomic pointer flip;
    * a crash at any step leaves a consistent index. Appends and
    * queries pick up the new generation automatically ([[assign]] and
    * [[query]] read the ACTIVE generation's centroids). Cost: `iters`+1
    * corpus passes against a broadcast K-row frame plus one
    * cell-partitioned rewrite — the same shape as [[compactPostings]],
    * scheduled off the audit, not per append. */
  def reseed(spark: SparkSession, path: String, iters: Int = 2): Unit = {
    import spark.implicits._
    val gen = activeGen(path)
    val posts = postings(spark, path)
      .select($"vec_id", $"embedding", $"label")
    var cents = spark.read.parquet(centroidsDirOf(path, gen))
    for (_ <- 1 to iters) {
      val assigned = assign(posts, cents).select($"vec_id", $"cell")
      val dims = posts
        .select($"vec_id", posexplode($"embedding").as(Seq("d", "v0")))
        .select($"vec_id", $"d", $"v0".cast("double").as("v"))
      val means = dims.join(assigned, "vec_id")
        .groupBy($"cell", $"d")
        .agg((sum($"v") / count($"v")).as("c"))
        .groupBy($"cell")
        .agg(expr(
          "transform(array_sort(collect_list(struct(d, c))), x -> CAST(x.c AS FLOAT))")
          .as("mvec"))
      // empty cells keep their old centroid: K is part of the contract
      cents = cents.join(means, cents("cid") === means("cell"), "left")
        .select(cents("cid"),
          coalesce($"mvec", cents("cvec")).as("cvec"))
        .withColumn("cnorm", sqrt(SimilarityQueries.dot($"cvec", $"cvec")))
    }
    val newGen = gen + 1
    rebase(path, deferDeletion = false) { v =>
      // overwrite: nothing of generation `newGen` is live until `_GEN`
      // and the pointer flip, and a reseed that crashed before its flip
      // must be retryable
      cents.write.mode("overwrite").parquet(centroidsDirOf(path, newGen))
      val reread = spark.read.parquet(centroidsDirOf(path, newGen))
      writePostingsDir(assign(posts, reread), path, v)
      VersionedState.writeMarker(path, "_GEN", s"$newGen:$v")
    }
  }

  /** Top-k by exact cosine within the query's [[IvfProbes]] closest
    * cells — only those cells' partition files are read. */
  def query(spark: SparkSession, path: String, queryVec: DataFrame,
      k: Int = 10, excludeId: Option[Long] = None): DataFrame = {
    val cents = spark.read.parquet(centroidsDir(path))
    val q = withNorm(queryVec)
      .select(col("embedding").as("qv"), col("norm").as("qnorm"))
    val qcells = cents.crossJoin(broadcast(q))
      .withColumn("qcos",
        SimilarityQueries.dot(col("cvec"), col("qv")) /
          (col("cnorm") * col("qnorm")))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(IvfProbes)
      .select(col("cid")).collect().map(_.getLong(0))
    val probed = postings(spark, path)
      .filter(col("cell").isin(qcells: _*))
    excludeId.fold(probed)(id => probed.filter(col("vec_id") =!= id))
      .crossJoin(broadcast(q))
      .withColumn("cos",
        SimilarityQueries.dot(col("embedding"), col("qv")) /
          (col("norm") * col("qnorm")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cell"), col("cos"))
  }

  // ---------------- the oracle contract ----------------

  /** AI1: index-served == one-shot. Bootstrap on the first half of the
    * corpus (which contains the seed vectors), append the second half,
    * query vector 0's top-10 — must hash-match sim4's batchless IVF
    * (same centroids by construction, since the seeds live in the
    * bootstrap half), whose SQL twin the oracle runs. Dropping the
    * query vector itself mirrors sim4. */
  def ai1AnnIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val tmp = graft.TempDirs.scratchFor("graft-ann-ai1").toString
    val mid = emb.agg((max($"vec_id") / lit(2)).cast("long")).collect()(0).getLong(0)
    initialize(emb.filter($"vec_id" <= mid), tmp)
    append(spark, emb.filter($"vec_id" > mid), tmp, 2L)
    query(spark, tmp, emb.filter($"vec_id" === 0L).select($"embedding"),
      k = 10, excludeId = Some(0L))
  }

  val ai1Sql: String = SimilarityQueries.simIvfSql

  // ---------------- AI2: index health ----------------

  private val HealthQueries = 4
  private val HealthK = 10

  /** AI2: the monitoring loop a frozen-quantizer index NEEDS — the
    * centroids never move after bootstrap, so as the corpus drifts the
    * index silently rots in two measurable ways: cells go skewed (one
    * hot cell absorbs the growth, probes stop pruning) and sampled
    * recall sags (new vectors land far from every frozen centroid).
    * This audit reports both FROM THE STORED INDEX: per-cell posting
    * counts with occupancy shares, and recall@[[HealthK]] of
    * probe-pruned serving vs exact brute force over [[HealthQueries]]
    * sampled queries (the sim8 evaluation pattern, here against the
    * persisted postings). Re-seed when max_share or recall crosses the
    * operator's threshold. Recall divides summed integer hits ONCE, so
    * the number is bit-identical across engines; the oracle recomputes
    * everything from the one-shot IVF assignment, which ai1 proved
    * equal to the index contents. */
  def ai2IndexHealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    // one bootstrap build — ai1 already proves append-path equivalence,
    // so the health audit doesn't pay for a second assignment pass
    val tmp = graft.TempDirs.scratchFor("graft-ann-ai2").toString
    initialize(emb, tmp)

    val posts = postings(spark, tmp)
    val cents = spark.read.parquet(centroidsDir(tmp))
    val occ = posts.groupBy($"cell")
      .agg(count(lit(1)).as("n_postings"))
    val q = withNorm(emb.filter($"vec_id" < HealthQueries))
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"norm".as("qnorm"))
    val qcells = cents.crossJoin(broadcast(q))
      .withColumn("qcos",
        SimilarityQueries.dot($"cvec", $"qv") / ($"cnorm" * $"qnorm"))
      .withColumn("r", row_number().over(
        Window.partitionBy($"qid").orderBy($"qcos".desc, $"cid")))
      .filter($"r" <= IvfProbes)
      .select($"qid".as("cqid"), $"cid")
    // ONE scoring pass serves both ranks: exact rank over everything,
    // probed rank as a running count over the same sort order restricted
    // to probed-cell rows — the two windows share one partitioning+sort
    val scored = posts.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .withColumn("cos",
        SimilarityQueries.dot($"embedding", $"qv") / ($"norm" * $"qnorm"))
      .join(broadcast(qcells),
        $"qid" === $"cqid" && $"cell" === $"cid", "left")
      .withColumn("in_probe", $"cid".isNotNull)
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    val ranked = scored
      .withColumn("rank", row_number().over(w))
      .withColumn("probe_rank",
        sum(when($"in_probe", 1L).otherwise(0L)).over(w))
      .filter($"rank" <= HealthK ||
        ($"in_probe" && $"probe_rank" <= HealthK))
    val rec = ranked
      .agg(
        sum(when($"rank" <= HealthK, 1L).otherwise(0L)).as("kk"),
        sum(when($"rank" <= HealthK && $"in_probe" &&
          $"probe_rank" <= HealthK, 1L).otherwise(0L)).as("hits"))
      .select(($"hits".cast("double") / $"kk").as("recall_at_10"))
    val tot = occ.agg(sum($"n_postings").as("total"),
      max($"n_postings").as("mxp"))
    occ.crossJoin(broadcast(tot)).crossJoin(broadcast(rec))
      .select($"cell".cast("long").as("cell"), $"n_postings",
        ($"n_postings".cast("double") / $"total").as("occupancy_share"),
        ($"mxp".cast("double") / $"total").as("max_share"),
        $"recall_at_10")
  }

  val ai2Sql: String = {
    import SimilarityQueries.sqlDot
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
       |occ AS (SELECT cell, count(*) AS n_postings FROM assigned GROUP BY cell),
       |tot AS (
       |  SELECT CAST(sum(n_postings) AS BIGINT) AS total, max(n_postings) AS mxp
       |  FROM occ),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv, norm AS qnorm
       |  FROM e WHERE vec_id < $HealthQueries),
       |qcells AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlDot("c.cvec", "q.qv")} / (c.cnorm * q.qnorm) DESC, c.cid) AS r
       |    FROM cents c, q)
       |  WHERE r <= $IvfProbes),
       |scored AS (
       |  SELECT q.qid, e.vec_id, a.cell,
       |    ${sqlDot("e.embedding", "q.qv")} / (e.norm * q.qnorm) AS cos
       |  FROM e JOIN assigned a ON e.vec_id = a.vec_id, q
       |  WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $HealthK),
       |approx AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT s.qid, s.vec_id,
       |      row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.vec_id) AS rank
       |    FROM scored s JOIN qcells qc ON s.qid = qc.qid AND s.cell = qc.cid)
       |  WHERE rank <= $HealthK),
       |rec AS (
       |  SELECT CAST(count(a.vec_id) AS DOUBLE) / count(*) AS recall_at_10
       |  FROM exact x LEFT JOIN approx a
       |    ON x.qid = a.qid AND x.vec_id = a.vec_id)
       |SELECT o.cell, o.n_postings,
       |  CAST(o.n_postings AS DOUBLE) / t.total AS occupancy_share,
       |  CAST(t.mxp AS DOUBLE) / t.total AS max_share,
       |  r.recall_at_10
       |FROM occ o, tot t, rec r""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "ai1_ann_index" -> QueryDef.of(ai1Sql)(ai1AnnIndex),
    "ai2_index_health" -> QueryDef.of(ai2Sql)(ai2IndexHealth))
}
