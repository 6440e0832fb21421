package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Product-quantization rerank (q306): the exhaustive-regime equality
  * that backs its oracle, and the pruned regime's sanity — the two
  * contracts the fixture-scale hash check can't separate.
  */
class PqSpec extends SparkFunSuite {

  private def emb = new graft.cube.Engine(spark, sf).table("embeddings")

  test("exhaustive regime (rerankWidth >= corpus) equals brute-force top-k") {
    val pq = Similarity.pqRerankTopK(emb, queryId = 1L).collect()
    val exact = Similarity.bruteForceTopK(emb, queryId = 1L, k = 10).collect()
    assert(pq.map(_.getLong(0)).toSeq == exact.map(_.getLong(0)).toSeq)
    assert(pq.map(_.getDouble(2)).toSeq == exact.map(_.getDouble(2)).toSeq)
  }

  test("pruned regime returns k rows ordered by exact cosine with useful recall") {
    val pq = Similarity.pqRerankTopK(emb, queryId = 1L, rerankWidth = 64).collect()
    assert(pq.length == 10)
    val scores = pq.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    val exact = Similarity.bruteForceTopK(emb, queryId = 1L, k = 10)
      .collect().map(_.getLong(0)).toSet
    // 8-byte codes pruning 64-of-corpus candidates must still surface a
    // majority of the true top-10 (deterministic on the fixture)
    assert(pq.map(_.getLong(0)).count(exact) >= 6)
  }
}
