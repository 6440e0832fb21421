package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Manually-planted bloom runtime filter — the join-pruning technique for
  * selective star joins at 100 TB scale.
  *
  * Spark's `InjectRuntimeFilter` rule plants exactly this expression pair
  * automatically, but only when the probe side exceeds
  * `spark.sql.optimizer.runtime.bloomFilter.applicationSizeThreshold`
  * (10 GB) — far above fixture scale — and only below a creation-side
  * size ceiling. This operator exposes the same mechanism as an explicit
  * API: build `bloom_filter_agg(xxhash64(key))` over the (small, already
  * filtered) build side, broadcast the one-row filter, and pre-filter the
  * probe side map-side BEFORE its shuffle. The bloom has no false
  * negatives, so semantics are exact once the real join removes the false
  * positives; what it buys is shuffle volume — at a 0.1% selective build
  * side, ~99.9% of the 100 TB probe rows drop before the exchange.
  *
  * The reference has no joins at all (`oec.py` delegates them to the
  * remote server); this is the [EXT] scale path for its star-join surface
  * (SURVEY §2.3).
  */
object RuntimeFilter {

  /** `big` semi-joined to `small` on `bigKey == smallKey`, with a bloom
    * pre-filter on the probe side. Exact: bloom false positives are
    * removed by the left-semi join; false negatives cannot occur.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String): DataFrame = {
    val expectedItems = 10000L
    val numBits = 131072L
    // the bloom must reach might_contain as a scalar subquery (analyzer
    // contract, same shape InjectRuntimeFilter plants): one driver-side
    // value, computed once, shipped with the probe tasks
    val bloom = small.agg(
      Bridge.bloomFilterAgg(col(smallKey), expectedItems, numBits).as("__bloom"))
      .scalar()
    val pruned = big.filter(Bridge.bloomMightContain(bloom, col(bigKey)))
    pruned.join(small.select(col(smallKey).as(bigKey)).distinct(),
      Seq(bigKey), "left_semi")
  }

  /** Fixture query (q65): lineitems shipped by suppliers of one nation —
    * bloom-pruned semi join, then the pricing rollup. Oracle is the plain
    * ANSI semi join: the bloom is exact by construction.
    */
  def bloomNationLineitems(spark: SparkSession, dir: String): DataFrame = {
    val en = new graft.cube.Engine(spark, dir)
    val (li, sup, nat) = (en.table("lineitem"), en.table("supplier"), en.table("nation"))
    val germanSup = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    bloomSemiJoin(li, "l_suppkey", germanSup, "s_suppkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("total_qty"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy(col("l_returnflag"))
  }
}
