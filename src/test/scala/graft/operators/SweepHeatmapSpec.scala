package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Invariant gates for the q191–q193 batch. */
class SweepHeatmapSpec extends SparkFunSuite {

  test("jaccard sweep: pair and doc counts decrease as the threshold rises") {
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    val key = s"sweep_${System.nanoTime()}"
    val rows = Dedup.jaccardThresholdSweep(docs, maxDf = 256, datasetKey = key)
      .collect().sortBy(_.getDouble(0))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi.getLong(1) <= lo.getLong(1), "pairs monotone")
        assert(hi.getLong(2) <= lo.getLong(2), "docs monotone")
      case _ => ()
    }
    // the 0.8 rung must agree with q136's thresholded pair count
    val at08 = rows.find(_.getDouble(0) == 0.8).get.getLong(1)
    assert(at08 == Dedup.jaccardPairs(docs, maxDf = 256, datasetKey = key).count())
    Scratch.invalidate(spark)
  }

  test("cluster size histogram mass equals the clustered doc count") {
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    val pairs = Dedup.minhashPairsShared(docs, sf)
    val hist = Dedup.clusterSizes(pairs).collect()
    val clustered = Dedup.clusters(pairs).count()
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum == clustered)
    hist.foreach(r => assert(r.getLong(0) >= 2, "no singleton clusters"))
  }

  test("heatmap covers every event exactly once") {
    val rows = Relational.activityHeatmap(spark, sf).collect()
    val n = new graft.cube.Engine(spark, sf).table("events").count()
    assert(rows.map(_.getLong(2)).sum == n)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 6)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23)
    }
  }
}
