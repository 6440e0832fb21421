package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Invariant gates for the q194–q199 batch. */
class MeltParetoKnnSpec extends SparkFunSuite {

  test("unpivot melt conserves row counts per measure") {
    val out = Relational.unpivotMeasures(spark, sf).collect()
    val li = new graft.cube.Engine(spark, sf).table("lineitem")
    val perFlag = li.groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getString(1)).distinct.sorted.toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    out.foreach(r => assert(r.getLong(2) == perFlag(r.getString(0)),
      s"melted n for ${r.getString(0)}/${r.getString(1)}"))
  }

  test("qoq growth: star dims broadcast and deltas reconcile") {
    val df = Relational.qoqGrowth(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast")
    val rows = df.collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(prev, cur) if !cur.isNullAt(4) =>
          val want = BigDecimal(cur.getDouble(3)) - BigDecimal(prev.getDouble(3))
          assert(BigDecimal(cur.getDouble(4)) == want.setScale(2,
            BigDecimal.RoundingMode.HALF_UP))
        case _ => ()
      }
      assert(sorted.head.isNullAt(4), "first quarter has no delta")
    }
  }

  test("corr from power sums stays within [-1, 1]") {
    Relational.qtyDiscountCorr(spark, sf).collect().foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("abc classes partition the brands and the revenue mass") {
    val en = new graft.cube.Engine(spark, sf)
    val out = Relational.abcClasses(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("A", "B", "C")))
    val nBrands = en.table("lineitem")
      .join(en.table("part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand")).distinct().count()
    assert(out.map(_.getLong(1)).sum == nBrands)
    // A carries the majority of revenue by construction
    val byClass = out.map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(byClass("A") > byClass.getOrElse("B", 0.0) +
      byClass.getOrElse("C", 0.0))
  }

  test("readability totals cover every document") {
    val docs = new graft.cube.Engine(spark, sf).table("documents")
    val out = Corpus.readability(docs).collect()
    assert(out.map(_.getLong(1)).sum == docs.count())
    out.foreach { r =>
      assert(r.getLong(2) > 0, "words")
      assert(r.getDouble(6) > 0 && r.getDouble(6) < 10,
        "syllables per word plausible")
      assert(!r.getDouble(7).isNaN)
    }
  }

  test("mutual knn emits exactly k edges per anchor; rates in [0,1]") {
    val emb = new graft.cube.Engine(spark, sf).table("embeddings")
    val out = Similarity.mutualKnn(emb, maxId = 64L).collect()
    assert(out.map(_.getLong(1)).sum == 64L)
    out.foreach { r =>
      assert(r.getLong(2) == 5L * r.getLong(1), "k edges per anchor")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }
}
