package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level timing probe for the persisted-index oracle rows (ix1's
  * two-batch build + probe) — answers "is the cost the stats pass, the
  * postings explode, the sharded write, or the probe read" before any
  * restructure (guide §1: measure first). */
object ProfileIx {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Tables.localSession("ERROR")
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    (1 to reps).foreach { r =>
      println(s"--- rep $r ---")
      val docs = graft.Tables(spark, sfDir, "documents")
      var mid = 0L
      time("mid (max doc_id)") {
        mid = docs.agg((max($"doc_id") / lit(2)).cast("long"))
          .collect()(0).getLong(0)
      }
      val tmp = graft.TempDirs.scratchFor("graft-profile-ix").toString
      time("initialize (stats+write b1)") {
        graft.store.InvertedIndex.initialize(docs.filter($"doc_id" <= mid), tmp)
      }
      time("append (stats+write b2)") {
        graft.store.InvertedIndex.append(spark,
          docs.filter($"doc_id" > mid), tmp, 2L)
      }
      time("probe (read+score)") {
        graft.store.InvertedIndex.probe(spark, tmp,
          graft.analytics.RetrievalQueries.QueryTerms)
          .queryExecution.toRdd.count()
      }
      time("phraseProbe") {
        graft.store.InvertedIndex.phraseProbe(spark, tmp,
          graft.analytics.RetrievalQueries.PhraseTerms)
          .queryExecution.toRdd.count()
      }
    }
    spark.stop()
  }
}
