package graft

import org.apache.spark.sql.functions._

import graft.operators.{Scratch, Similarity}

/** End-to-end ANN paths under BOTH embedding encodings: a fixture
  * generation that ships list<double> instead of list<float> must
  * produce identical probe results, not a driver-side ClassCastException
  * in the query-vector fetch or a narrowed centroid. (The events-ts
  * round proved physical types DO drift between generations; the vector
  * surface now carries the same dual-encoding contract, asserted here
  * over the real probe paths, not just the scalar expressions.)
  */
class DualEncodingAnnSpec extends SparkFunSuite {

  private def embF = spark.read.parquet(s"$sf/embeddings.parquet")
  private def embD = embF.select(col("vec_id"),
    col("embedding").cast("array<double>").as("embedding"), col("label"))

  test("brute-force top-k identical across embedding encodings") {
    val f = Similarity.bruteForceTopK(embF, 0L, 10).collect().toSeq
    val d = Similarity.bruteForceTopK(embD, 0L, 10).collect().toSeq
    assert(f == d)
  }

  test("k-means quantizer trains identically across encodings") {
    val f = Similarity.kmeans(embF, k = 4, iters = 2, maxSample = 256)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val d = Similarity.kmeans(embD, k = 4, iters = 2, maxSample = 256)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    assert(f == d)
  }

  test("LSH index probe works and agrees when built from the double encoding") {
    val f = Similarity.lshTopK(embF, 3L, 5,
      datasetKey = "dualenc_f").collect().toSeq
    val d = Similarity.lshTopK(embD, 3L, 5,
      datasetKey = "dualenc_d").collect().toSeq
    assert(f == d, "probe results diverged across index encodings")
    Scratch.invalidate(spark)
  }
}
