package graft.analytics

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The LSH pipeline's guarantee is hash-independent: exact duplicates
  * share every shingle, hence every MinHash signature, hence every band
  * bucket — they MUST surface as candidate pairs under any shingle
  * hash. This proves a codegen'd xxhash64 shingle hash (no md5 hex
  * round-trip, folded into the MinHash field by a nonneg mod p) is a
  * drop-in for the oracle-proven md5 formulation. */
class ShingleHashSpec extends SparkSpec {
  import spark.implicits._

  private def xxhashShingle(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(DedupQueries.P31))

  private def candidatesWith(hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    // corpus with planted exact-duplicate families (deterministic id
    // filter, not limit() — a limit over a parquet scan has no order)
    val docs = Tables(spark, sf(), "documents").filter($"doc_id" < 60)
    val dup1 = docs.filter($"doc_id" === 0)
      .select(($"doc_id" + 100000).as("doc_id"), $"text", $"lang", $"source", $"n_chars")
    val dup2 = docs.filter($"doc_id" === 7)
      .select(($"doc_id" + 100000).as("doc_id"), $"text", $"lang", $"source", $"n_chars")
    val corpus = docs.unionByName(dup1).unionByName(dup2)
    DedupQueries.candidatePairs(DedupQueries.shingleHashesRaw(corpus, hashFn))
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
  }

  test("exact duplicates are candidates under md5 AND xxhash64 paths") {
    val md5Pairs = candidatesWith(c => DedupQueries.hash60(c) % lit(DedupQueries.P31))
    val xxPairs = candidatesWith(xxhashShingle)
    for (pairs <- Seq(md5Pairs, xxPairs)) {
      assert(pairs.contains((0L, 100000L)), "duplicate of doc 0 not a candidate")
      assert(pairs.contains((7L, 100007L)), "duplicate of doc 7 not a candidate")
    }
    // both paths produce a candidate-bounded set, not all pairs
    val n = 62L
    assert(md5Pairs.size < n * (n - 1) / 4 && xxPairs.size < n * (n - 1) / 4)
  }
}
