package graft.api

import graft.analytics.RetrievalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lexical-retrieval surface generalized over any document
  * DataFrame — what an application calls to keyword-probe a corpus
  * (contamination triage, targeted corpus search). Each builder is the
  * oracle-proven registry shape (r1/r4) with the corpus/columns/query
  * as parameters; RetrievalQueriesSpec pins the instantiations to their
  * verified twins. Scale posture matches the registry queries
  * (SCALE.md): the term filter sits under the shuffle, corpus stats
  * broadcast, serving is TakeOrderedAndProject. The persisted index
  * is served by the text-index doors over
  * [[graft.store.InvertedIndex]].
  */
object Retrieval {

  private def std(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** BM25 top-k of `terms` against the corpus — one scan, postings
    * state bounded by the query's term postings. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = RetrievalQueries.bm25Scores(std(docs, idCol, textCol), terms)
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Retrieval-quality self-evaluation (oracle-proven r4 shape): MRR,
    * recall@10, nDCG@10 of BM25 ranking each document's own leading
    * tokens — the no-judgments sanity benchmark over any corpus. */
  def evaluate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    RetrievalQueries.r4From(std(docs, idCol, textCol))
}
