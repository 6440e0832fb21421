package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Edge semantics for the q300–q305 batch: the Brown-forecast identity,
  * CMS bound tightness, matryoshka self-recall, JSD boundary values
  * (identical → 0, disjoint → 1), k-anonymity mass conservation, and
  * the PK–FK exactness of the cardinality estimator — cases the
  * fixture-scale oracle equality can't isolate.
  */
class StatBatch3Spec extends SparkFunSuite {

  test("brown forecast satisfies the cents-grid identity and damps variance") {
    val rows = Relational.brownForecast(spark, sf).collect()
    assert(rows.length > 100)
    // forecast ≡ 2.25·s1 − 1.25·s2 (both on the cents grid)
    rows.foreach { r =>
      val (s1, s2, f) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(f - (2.25 * s1 - 1.25 * s2)) < 1e-6)
    }
    // smoothing damps: Var(s2) ≤ Var(s1) ≤ Var(raw)
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val raw = rows.map(_.getLong(1).toDouble).toSeq
    val s1s = rows.map(_.getDouble(2)).toSeq
    val s2s = rows.map(_.getDouble(3)).toSeq
    assert(variance(s2s) <= variance(s1s) && variance(s1s) <= variance(raw))
  }

  test("cms contract holds and exact counts conserve the fact rows") {
    val out = Relational.cmsBrandContract(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)))
    val total = out.map(_.getLong(1)).sum
    val li = new graft.cube.Engine(spark, sf).table("lineitem").count()
    assert(total == li)
  }

  test("matryoshka recall is perfect when the truncation is the full dimension") {
    val emb = new graft.cube.Engine(spark, sf).table("embeddings")
    val full = Similarity.matryoshkaRecall(emb, truncDim = 64).collect()
    // identical rankings → every anchor overlaps on all 10 neighbors
    assert(full.length == 1 && full.head.getLong(0) == 10L &&
      full.head.getDouble(2) == 1.0)
    // and the anchor census is conserved at any truncation
    val trunc = Similarity.matryoshkaRecall(emb, truncDim = 16).collect()
    val anchors = emb.filter(col("vec_id") < 128).count()
    assert(trunc.map(_.getLong(1)).sum == anchors &&
      full.head.getLong(1) == anchors)
  }

  test("source JSD is 0 on identical sources and 1 on disjoint vocabularies") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("a", "x y y z"), ("a", "w x"),
      ("b", "x y y z"), ("b", "w x"),       // b ≡ a → JSD 0
      ("c", "p q q r s")                     // disjoint from both → JSD 1
    ).toDF("source", "text")
    val out = Corpus.sourceJsd(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("a", "b")) == 0.0)
    assert(out(("a", "c")) == 1.0 && out(("b", "c")) == 1.0)
  }

  test("k-anonymity census conserves customers and flags classes under k") {
    val out = Relational.kAnonymity(spark, sf).collect()
    val customers = new graft.cube.Engine(spark, sf).table("customer").count()
    assert(out.map(_.getLong(2)).sum == customers)
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1))
      assert(r.getBoolean(3) == (r.getLong(0) < 5))
    }
  }

  test("cardinality estimate is exact (ratio 1.0) on clean PK-FK joins") {
    val out = Relational.joinCardinalityAudit(spark, sf).collect()
    assert(out.length == 2)
    out.foreach { r =>
      // PK side: ndv == row count (key is unique)
      assert(r.getLong(2) == r.getLong(1))
      // estimate collapses to |fact| == actual → ratio exactly 1
      assert(r.getLong(5) == r.getLong(6) && r.getDouble(7) == 1.0)
    }
  }
}
