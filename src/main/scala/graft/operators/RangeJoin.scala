package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cube.Engine
import Relational.{MicrosPerSecond, micros}

/** Banded range (temporal proximity) join. A |l.t - r.t| <= w theta join
  * has no equi key, so Spark would fall back to a broadcast nested-loop
  * join — quadratic, and a non-starter on a 100 TB event log.
  *
  * The banded form makes it a shuffle equi-join: quantize time into
  * buckets of width w, replicate the RIGHT side to its own bucket ±1
  * (any pair within w is then guaranteed to share a replicated bucket,
  * and shares it exactly once since the left row's bucket is a single
  * value), equi-join on the bucket, and apply the exact range predicate
  * after the match. Cost is bounded by local temporal density, not by
  * n², and the shuffle key (the bucket) is uniform when events are.
  */
object RangeJoin {

  /** Events wiring: for each event, how many other events (any user)
    * happened within `windowSec` (60) seconds — zero-preserving (left outer).
    */
  def nearbyEventCounts(spark: SparkSession, dir: String): DataFrame = {
    val windowSec: Long = 60
    val windowUs = windowSec * MicrosPerSecond
    val ev = new Engine(spark, dir).table("events")
      .select(col("event_id"), micros(col("ts")).as("us"))
    val left = ev.withColumn("bucket", floor(col("us") / windowUs))
    val right = ev.select(col("event_id").as("r_id"), col("us").as("r_us"))
      .withColumn("r_bucket", explode(array(
        floor(col("r_us") / windowUs) - 1,
        floor(col("r_us") / windowUs),
        floor(col("r_us") / windowUs) + 1)))
    left.join(right,
        col("bucket") === col("r_bucket") &&
          col("r_id") =!= col("event_id") &&
          abs(col("r_us") - col("us")) <= windowUs,
        "left_outer")
      .groupBy(col("event_id"))
      .agg(count(col("r_id")).as("n_nearby"))
      .orderBy(col("event_id"))
  }
}
