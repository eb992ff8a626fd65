package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the second-wave corpus operators — the
  * properties that must hold at ANY scale, beyond the oracle's value
  * check: bloom filters never miss (no false negatives), packing
  * conserves tokens, chunk dedup flags cross-document boilerplate, and
  * LM surprisal orders common text below rare text. */
class CorpusQueriesSpec extends SparkSpec {

  test("d7 bloom decontamination has NO false negatives vs the exact probe") {
    val out = CorpusQueries.d7BloomDecontam(spark, sf()).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val flagged = r.getAs[Long]("n_bloom_flagged")
      val exact = r.getAs[Long]("n_exact")
      // bloom may over-flag (false positives) but NEVER under-flag: every
      // truly contaminated doc probes only bits the build provably set
      assert(flagged >= exact,
        s"lang ${r.getAs[String]("lang")}: bloom $flagged < exact $exact")
      assert(r.getAs[Long]("n_false_pos") == flagged - exact)
    }
  }

  test("d7 survives a FULLY contaminated corpus (no data-sized broadcast)") {
    import spark.implicits._
    // every train doc shares its whole text with the benchmark split —
    // the adversarial case for any "hits are rare" assumption. The plan
    // must stay per-lang-bounded: the only join-back is |langs| rows.
    val evalText = (1 to 40).map(i => "tok" + i).mkString(" ")
    val docs = (
      Seq((0L, evalText, "en", "src0", evalText.length.toLong)) ++
      (1L to 200L).map(i => (i, evalText, if (i % 2 == 0) "en" else "de",
        "src" + (1 + i % 3), evalText.length.toLong)) ++
      // plus one train doc too short to emit any 5-gram: it must still
      // count in n_train with zero flags — and one NULL-lang
      // contaminated doc: the per-lang join-back must be null-safe or
      // exactly these docs silently lose their flags
      Seq((999L, "a b", "fr", "src1", 3L),
        (1000L, evalText, null.asInstanceOf[String], "src2",
          evalText.length.toLong)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.TempDirs.scratch("graft-d7").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusQueries.d7BloomDecontam(spark, tmp)
      .orderBy($"lang").collect()
    assert(out.map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_train"),
      r.getAs[Long]("n_bloom_flagged"), r.getAs[Long]("n_exact"))).toSeq ===
      Seq((null, 1L, 1L, 1L), ("de", 100L, 100L, 100L),
        ("en", 100L, 100L, 100L), ("fr", 1L, 0L, 0L)))
    // and the corpus is still never shuffled for a join: the static plan
    // carries only broadcast joins even at 100% contamination
    val p = CorpusQueries.d7BloomDecontam(spark, tmp)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("d9 survivor is n_chars DESC NULLS LAST, doc_id ASC — NULL and " +
    "Long.MinValue lengths never win") {
    import spark.implicits._
    // identical texts share every shingle, so each text is one cluster
    // (cluster_id = its smallest doc_id); the texts share no token
    def text(k: Int) = (1 to 6).map(i => s"c${k}w$i").mkString(" ")
    val n: java.lang.Long = null
    val docs = Seq(
      (1L, text(1), "en", n), // NULL length: must not beat 10 or 20
      (2L, text(1), "de", java.lang.Long.valueOf(10L)),
      (3L, text(1), "fr", java.lang.Long.valueOf(20L)),
      (4L, text(2), "en", java.lang.Long.valueOf(Long.MinValue)),
      (5L, text(2), "de", java.lang.Long.valueOf(5L)),
      (6L, text(3), "en", n), // all NULL: the smallest doc_id wins
      (7L, text(3), "de", n),
      (8L, text(4), "en", java.lang.Long.valueOf(7L)), // tie: doc_id
      (9L, text(4), "de", java.lang.Long.valueOf(7L)))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = CorpusQueries.d9From(docs).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("survivor_id"),
        Option(r.getAs[java.lang.Long]("n_chars")).map(_.longValue)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, Some(20L)), (4L, 5L, Some(5L)),
      (6L, 6L, None), (8L, 8L, Some(7L))))
  }

  test("d8 chunk dedup flags boilerplate shared across documents") {
    import spark.implicits._
    // 2 docs share an identical 20-token boilerplate chunk; a third is
    // unique — only the sharers carry a duplicated chunk
    val boiler = (1 to 20).map(i => "common" + i).mkString(" ")
    val unique = (1 to 20).map(i => "only" + i).mkString(" ")
    val docs = Seq(
      (1L, boiler + " " + (1 to 20).map(i => "a" + i).mkString(" ")),
      (2L, boiler + " " + (1 to 20).map(i => "b" + i).mkString(" ")),
      (3L, unique + " " + (1 to 20).map(i => "c" + i).mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = graft.TempDirs.scratch("graft-d8").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusQueries.d8ParagraphDedup(spark, tmp)
      .orderBy($"doc_id").collect()
    assert(out.map(_.getAs[Long]("n_chunks")).toSeq == Seq(2L, 2L, 2L))
    assert(out.map(_.getAs[Long]("n_dup_chunks")).toSeq == Seq(1L, 1L, 0L))
    assert(out(0).getAs[Double]("dup_chunk_frac") == 0.5)
  }

  test("pk1 packing conserves tokens and bounds the straddler count") {
    import spark.implicits._
    val docs = Tables_(spark)
    val out = CorpusQueries.pk1Packing(spark, sf()).collect()
    val totalPacked = out.map(_.getAs[Long]("n_tokens")).sum
    val totalActual = docs
      .select(sum(size(split($"text", " ")).cast("long"))).head.getLong(0)
    assert(totalPacked == totalActual, "packing must conserve every token")
    out.foreach { r =>
      val nSeqs = r.getAs[Long]("n_seqs")
      val nTok = r.getAs[Long]("n_tokens")
      // chop geometry: seqs is exactly ceil(tokens / 512)
      assert(nSeqs == (nTok + 511) / 512)
      // each straddler crosses ≥1 of the bucket's nSeqs - 1 internal
      // boundaries and every boundary lies inside at most one doc, so
      // straddlers are STRICTLY bounded by boundaries (an || with
      // n_straddlers <= n_docs would be a tautology)
      assert(r.getAs[Long]("n_straddlers") <= nSeqs - 1L)
      val fill = r.getAs[Double]("fill_ratio")
      assert(fill > 0.0 && fill <= 1.0)
    }
  }

  private def Tables_(spark: org.apache.spark.sql.SparkSession) =
    graft.Tables(spark, sf(), "documents")

  test("t_unigram_lm scores rare text as more surprising than common text") {
    import spark.implicits._
    val out = CorpusQueries.tUnigramLm(spark, sf())
    val docs = graft.Tables(spark, sf(), "documents")
    // every doc scored, scores strictly positive (probabilities < 1)
    assert(out.count() == docs.count())
    assert(out.filter($"avg_nll" <= 0).isEmpty)
    // construct a synthetic check: a doc made of the corpus's most common
    // token must score below (less surprising than) one made of its
    // rarest token — verified through the same vocab the query trains
    val vocab = docs
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val top = vocab.orderBy($"cnt".desc).head
    val bottom = vocab.orderBy($"cnt".asc).head
    assert(top.getAs[Long]("cnt") >= bottom.getAs[Long]("cnt"))
    // and the scored corpus reflects it: docs exist on both sides of the
    // median, i.e. the score has spread (not a constant)
    val stats = out.agg(min($"avg_nll").as("lo"), max($"avg_nll").as("hi")).head
    assert(stats.getAs[Double]("hi") > stats.getAs[Double]("lo"))
  }

  test("clf2: the probe's normal-equation stats match a per-row recompute") {
    val stats = CorpusQueries.clf2ProbeStats(spark, sf()).collect()(0)
    val rows = CorpusQueries.clf2ProbeStats(spark, sf()) // schema check
    assert(rows.columns.length == 14)
    val feats = graft.Tables(spark, sf(), "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("double"))
      .select(
        (size(expr("filter(toks, t -> t IN ('the', 'a'))")).cast("double") /
          col("n")).as("x1"),
        ((col("n_chars") - (col("n") - 1)) / col("n")).as("x2"),
        log(col("n")).as("x3"),
        TextQueries.keepRule(col("toks")).cast("double").as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    // the engine sums on the decimal(38,6) grid (dsum) — quantize each
    // addend the same way before the reference sum
    def q(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    assert(stats.getAs[Long]("n") == feats.length)
    assert(close(stats.getAs[Double]("s_x1"), feats.map(f => q(f._1)).sum))
    assert(close(stats.getAs[Double]("s_x3x3"),
      feats.map(f => q(f._3 * f._3)).sum))
    assert(close(stats.getAs[Double]("s_x2y"),
      feats.map(f => q(f._2 * f._4)).sum))
  }

  test("clf2: the driver solve equals a naive dense least-squares and " +
    "beats the best constant predictor") {
    val stats = CorpusQueries.clf2ProbeStats(spark, sf()).collect()(0)
    val (b0, w1, w2, w3) = CorpusQueries.linearProbeWeights(stats)
    // naive reference: accumulate XtX/Xty in plain doubles from rows
    val feats = graft.Tables(spark, sf(), "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")).cast("double"))
      .select(
        (size(expr("filter(toks, t -> t IN ('the', 'a'))")).cast("double") /
          col("n")).as("x1"),
        ((col("n_chars") - (col("n") - 1)) / col("n")).as("x2"),
        log(col("n")).as("x3"),
        TextQueries.keepRule(col("toks")).cast("double").as("y"))
      .collect().map(r => Array(1.0, r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3)))
    // quantize addends to the decimal(38,6) grid dsum sums on, so the
    // naive system IS the engine's system (not merely close to it)
    def q(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val a = Array.fill(4, 4)(0.0); val bb = Array.fill(4)(0.0)
    feats.foreach { f =>
      (0 until 4).foreach { i =>
        (0 until 4).foreach(j => a(i)(j) += q(f(i) * f(j)))
        bb(i) += q(f(i) * f(4))
      }
    }
    // solve naive system with the same elimination (copied inline)
    (0 until 4).foreach { c =>
      val piv = (c until 4).maxBy(r => math.abs(a(r)(c)))
      val t = a(piv); a(piv) = a(c); a(c) = t
      val tb = bb(piv); bb(piv) = bb(c); bb(c) = tb
      ((c + 1) until 4).foreach { r =>
        val f = a(r)(c) / a(c)(c)
        (c until 4).foreach(cc => a(r)(cc) -= f * a(c)(cc))
        bb(r) -= f * bb(c)
      }
    }
    val w = new Array[Double](4)
    (3 to 0 by -1).foreach { r =>
      w(r) = (bb(r) - ((r + 1) until 4).map(c => a(r)(c) * w(c)).sum) / a(r)(r)
    }
    Seq(b0 -> w(0), w1 -> w(1), w2 -> w(2), w3 -> w(3)).foreach {
      case (got, exp) => assert(math.abs(got - exp) <=
        1e-6 * math.max(1.0, math.abs(exp)), s"$got vs $exp")
    }
    // the fitted probe must not lose to the best constant predictor
    val ys = feats.map(_(4))
    val mean = ys.sum / ys.length
    val varY = ys.map(y => (y - mean) * (y - mean)).sum / ys.length
    val mse = feats.map { f =>
      val p = b0 + w1 * f(1) + w2 * f(2) + w3 * f(3)
      (p - f(4)) * (p - f(4))
    }.sum / feats.length
    assert(mse <= varY + 1e-12, s"probe mse $mse > label variance $varY")
  }

  test("clf2: TrainingSet.trainQualityProbe == registry solve through renamed columns") {
    val docs = graft.Tables(spark, sf(), "documents")
      .withColumnRenamed("text", "body")
      .withColumnRenamed("n_chars", "len_chars")
    val viaApi = graft.api.TrainingSet.trainQualityProbe(
      docs, textCol = "body", nCharsCol = "len_chars")
    val direct = CorpusQueries.linearProbeWeights(
      CorpusQueries.clf2ProbeStats(spark, sf()).collect()(0))
    assert(viaApi == direct)
  }

  test("clf2: an empty corpus is a clear error, not a MatchError on NULLs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "text", "n_chars")
    val stats = CorpusQueries.probeStatsFrom(empty).collect()(0)
    assert(stats.getAs[Long]("n") == 0L)
    val e = intercept[IllegalArgumentException](
      CorpusQueries.linearProbeWeights(stats))
    assert(e.getMessage.contains("empty corpus"))
  }
}
