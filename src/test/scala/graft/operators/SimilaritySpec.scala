package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def vecs(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), "same"),
      (Seq(1f, 0f), Seq(0f, 1f), "orth"),
      (Seq(1f, 0f), Seq(-1f, 0f), "opp")).toDF("a", "b", "k")
      .select(col("k"), Similarity.cosine(col("a"), col("b")).as("c"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("same") - 1.0) < 1e-12)
    assert(math.abs(m("orth")) < 1e-12)
    assert(math.abs(m("opp") + 1.0) < 1e-12)
  }

  test("embeddingHealth: one row per dim, exact extrema, dead dim flagged") {
    val df = vecs(
      (0L, Seq(1f, 0f, 0.5f), 0),
      (1L, Seq(-1f, 0f, 0.5f), 0),
      (2L, Seq(3f, 0f, 0.5f), 1))
    val out = Similarity.embeddingHealth(df).collect()
    assert(out.length == 3, "one row per dimension")
    val byDim = out.map(r => r.getLong(0) -> r).toMap
    assert(byDim(1L).getDouble(4) == -1.0 && byDim(1L).getDouble(5) == 3.0,
      "min/max of dim 1 are exact")
    // dim 2 is all-zero: dead (std 0) and fully near-zero
    assert(byDim(2L).getDouble(3) == 0.0 && byDim(2L).getDouble(6) == 1.0)
    // dim 3 is constant non-zero: dead but NOT near-zero
    assert(byDim(3L).getDouble(3) == 0.0 && byDim(3L).getDouble(6) == 0.0)
  }

  test("brute-force top-k returns nearest first, excludes the query") {
    val df = vecs(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f), 0),
      (2L, Seq(0f, 1f, 0f), 1),
      (3L, Seq(-1f, 0f, 0f), 1))
    val out = Similarity.bruteForceTopK(df, 0L, 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.head.getDouble(2) > 0.99)
  }

  test("knn join produces k ranked neighbors per query") {
    val df = vecs(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0f, 1f), 1), (3L, Seq(0.1f, 0.9f), 1))
    val out = Similarity.knnJoin(df, df.filter(col("vec_id") < 2), 2).collect()
    assert(out.length == 4)
    val q0 = out.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(q0.map(_.getLong(2)).toSeq == Seq(1L, 2L) ||
      q0.map(_.getLong(2)).head == 1L)
  }

  test("single-query operators name themselves and the id of an unknown query") {
    // 64 dims: the LSH layouts' default width, and divisible into PQ's 8
    // subspaces
    val df = vecs((0 until 32).map(i => (i.toLong,
      (0 until 64).map(d => math.sin(i * 0.7 + d * 0.3).toFloat), i % 4)): _*)
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    val missing = 999L
    val key = "simspec-unknown-query"
    val calls: Seq[(String, () => Any)] = Seq(
      "lshTopK" -> (() => Similarity.lshTopK(df, missing, 3, datasetKey = key)),
      "lshIncrementalTopK" ->
        (() => Similarity.lshIncrementalTopK(base, delta, missing, 3, key)),
      "ivfTopK" -> (() => Similarity.ivfTopK(df, missing, 3, nlist = 4,
        datasetKey = key)),
      "ivfQuantizedTopK" -> (() => Similarity.ivfQuantizedTopK(df, missing, 3,
        nlist = 4, datasetKey = key)),
      "pqRerankTopK" -> (() => Similarity.pqRerankTopK(df, missing)))
    calls.foreach { case (op, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$op: query vec_id=$missing not found"),
        s"$op raised: ${e.getMessage}")
    }
    // the query is fetched first: no call wrote a layout for the key in
    // this application (layout names carry the application id)
    val root = new java.io.File(Similarity.indexRoot(spark))
    val app = spark.sparkContext.applicationId
    val written = Option(root.list()).toSeq.flatten
      .filter(n => n.contains(s"_${app}_") && n.contains(key))
    assert(written.isEmpty, s"layouts written before the query fetch: $written")
  }

  test("autoLshBits keeps occupancy-targeted growth with oracle-regime floor") {
    // <=1024 vectors: floored at 6 — the bit count every SQL oracle
    // fixture (500-row embeddings) hard-codes; beyond that, one more bit
    // per corpus doubling (constant expected occupancy); capped at 20
    assert(Similarity.autoLshBits(1) == 6)
    assert(Similarity.autoLshBits(500) == 6)
    assert(Similarity.autoLshBits(1024) == 6)
    assert(Similarity.autoLshBits(2000) == 7)
    assert(Similarity.autoLshBits(20000) == 11)
    assert(Similarity.autoLshBits(4096) == Similarity.autoLshBits(2049))
    assert(Similarity.autoLshBits(Long.MaxValue) == 20)
  }

  test("lsh near-dup pairs find close vectors and verify with exact cosine") {
    val close = (0 until 64).map(i => math.sin(i * 0.1).toFloat)
    val close2 = close.updated(0, close(0) + 0.01f)
    val far = (0 until 64).map(i => math.cos(i * 1.7).toFloat)
    val out = Similarity.lshNearDupPairs(
      vecs((1L, close, 0), (2L, close2, 0), (3L, far, 1)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("embedding diversity: identical members spread 0, split members spread var_pop") {
    val df = vecs(
      (1L, Seq(3f, 4f), 0), (2L, Seq(3f, 4f), 0),   // identical: spread 0
      (3L, Seq(1f, 0f), 1), (4L, Seq(-1f, 0f), 1))  // var_pop {1,-1} = 1
    val out = Similarity.embeddingDiversity(df).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0) == ((2L, 5.0, 0.0)))
    assert(out(1) == ((2L, 1.0, 1.0)))
  }

  test("semantic keep list keeps the centroid-closest member, not the min id") {
    // three near-identical vectors along axis 0 (the cluster) plus one
    // orthogonal singleton. vec 3 lies EXACTLY along the centroid
    // direction, so centrality must pick it over the smaller ids; the
    // singleton shares no pair and must not be emitted at all.
    val d = 0.05f
    def axis0(scale: Float, tilt: Float): Seq[Float] =
      Seq.tabulate(64)(i => if (i == 0) scale else if (i == 1) tilt else 0f)
    val df = vecs(
      (1L, axis0(1f, d), 0),
      (2L, axis0(1f, -d), 0),
      (3L, axis0(2f, 0f), 0),
      (4L, Seq.tabulate(64)(i => if (i == 1) 1f else 0f), 1))
    val out = Similarity.semanticKeepList(df).collect()
      .map(r => (r.getLong(1), r.getBoolean(2), r.getInt(3)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L), "singleton must be absent")
    assert(out.forall(_._3 == 3))
    val kept = out.filter(_._2).map(_._1).toSeq
    assert(kept == Seq(3L), s"expected the central member kept, got $kept")
  }

  test("label centroids: unit vectors per axis give norm 1") {
    val df = vecs(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),
      (3L, Seq(0f, 1f), 1))
    val out = Similarity.labelCentroids(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0, 2L, 1.0), (1, 1L, 1.0)))
  }

  test("auto query regime reads the broadcast threshold as a size") {
    // a size string is a legal threshold; the regime reads it through
    // Spark's typed conf entry, so "10MB" broadcasts a tiny frame and
    // "-1" (broadcast off) never does
    val s = graft.SparkTestBase.spark.newSession()
    val tiny = s.range(3).toDF("q_id")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    assert(Similarity.wantsBroadcast(tiny, None))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(!Similarity.wantsBroadcast(tiny, None))
    assert(Similarity.wantsBroadcast(tiny, Some(true)))
  }
}
