package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Semantics gates for the q171–q174 batch: Gini bounds and analytic
  * values, template threshold, prefix-collision vs true-duplicate
  * accounting, and channel-funnel consistency with the global funnel.
  */
class GiniTemplateSpec extends SparkFunSuite {

  test("gini: equal docs -> 0; bounds hold on the fixture") {
    val s = spark
    import s.implicits._
    val uniform = Seq.tabulate(4)(i => (i.toLong, "u", "t t t"))
      .toDF("doc_id", "source", "text")
    val g = Corpus.tokenGini(uniform).head()
    assert(g.getDouble(3) == 0.0)
    Corpus.tokenGini(new graft.cube.Engine(spark, sf).table("documents"))
      .collect().foreach { r =>
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0)
      }
  }

  test("template prefixes honor the minDocs threshold and count sources") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", "x y z p q one"), (2L, "a", "x y z p q two"),
      (3L, "b", "x y z p q three"),
      (4L, "a", "lone doc body here now")).toDF("doc_id", "source", "text")
    val rows = Corpus.templatePrefixes(docs).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "x y z p q")
    assert(rows.head.getLong(1) == 3 && rows.head.getLong(2) == 2)
  }

  test("asset dedup separates prefix collisions from true duplicates") {
    val s = spark
    import s.implicits._
    val pad = "a" * 100
    val docs = Seq(
      (1L, "s", pad + " tail-one"), (2L, "s", pad + " tail-two"), // collision
      (3L, "s", "dup dup dup"), (4L, "s", "dup dup dup"),          // exact dup
      (5L, "s", "unique body")).toDF("doc_id", "source", "text")
    val byKeeper = graft.multimodal.Multimodal.assetDedup(docs).collect()
      .map(r => r.getLong(2) -> r).toMap
    assert(byKeeper(1L).getLong(1) == 2 && byKeeper(1L).getLong(3) == 2) // collision: 2 distinct fulls
    assert(byKeeper(3L).getLong(1) == 2 && byKeeper(3L).getLong(3) == 1) // true dup: 1 distinct full
    assert(!byKeeper.contains(5L))
  }

  test("channel funnel stage totals equal the global funnel") {
    val channel = EventAnalytics.funnelByChannel(spark, sf).collect()
    val global = EventAnalytics.funnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(channel.map(_.getLong(2)).sum == global("view"))
    assert(channel.map(_.getLong(3)).sum == global("view_click"))
    assert(channel.map(_.getLong(4)).sum == global("view_click_purchase"))
  }
}
