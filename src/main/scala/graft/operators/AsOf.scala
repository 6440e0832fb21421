package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cube.Engine
import Relational.{MicrosPerMinute, elapsed, whole}

/** As-of join — for each left row, the latest right row with the same
  * key and right.time <= left.time. Spark has no native as-of operator;
  * the naive form (theta join on key + range, then per-key argmax) is a
  * quadratic blowup on hot keys.
  *
  * This is the scale-correct single-shuffle form: tag and union both
  * sides, window by key ordered by (time, side) with the right side
  * sorting first on ties, and carry the right payload forward with
  * last(_, ignoreNulls). One shuffle on the key, sort within partitions,
  * no range predicate, no skew amplification — the same plan shape at
  * 100 TB. Equivalent to ANSI `ASOF LEFT JOIN` (DuckDB oracle gates it).
  *
  * If several right rows share (key, time), which one is carried is
  * tie-ambiguous — same as ASOF JOIN itself; callers needing
  * determinism should pre-aggregate the right side to unique times.
  */
object AsOf {

  /** Left keeps all its columns; right contributes its non-key columns
    * prefixed `r_` (its time column becomes `r_<time>`). Left rows with
    * no prior right row carry nulls (left-outer semantics).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      key: String, time: String): DataFrame =
    tagged("asofJoin", left, right, key, time, leftSide = 1,
      ord => Seq("_rff" -> last(col("_r"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))),
      col("_rff"))

  /** Forward as-of join — for each left row, the EARLIEST right row with
    * the same key and right.time >= left.time ("what happens next"):
    * time-to-conversion, next-quote, next-maintenance-window joins. The
    * mirror of [[asofJoin]] with the same single-shuffle shape: tag and
    * union, window by key ordered by (time, side) with the LEFT side
    * sorting first on ties (an equal-time right row qualifies under >=),
    * and pull the right payload BACKWARD with first(_, ignoreNulls) over
    * the [current, unbounded following] frame. Equivalent to DuckDB's
    * `ASOF LEFT JOIN ... ON l.t <= r.t`, which gates it.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      key: String, time: String): DataFrame =
    tagged("asofJoinForward", left, right, key, time, leftSide = 0,
      ord => Seq("_rff" -> first(col("_r"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))),
      col("_rff"))

  /** Nearest as-of join — for each left row, the right row with the same
    * key that is temporally CLOSEST (either direction); ties (equidistant
    * before and after) resolve to the earlier right row. Both carries
    * come from ONE tagged union and one sort: the backward candidate via
    * last-ignoreNulls over [unbounded, current] (equal-time right rows
    * sort before left, so dt = 0 lands here), the forward candidate via
    * first-ignoreNulls over [current, unbounded] (strictly later rights),
    * then a per-row pick of the closer. Same single-shuffle scale shape
    * as [[asofJoin]]; no second pass, no self-join of the two carries.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame,
      key: String, time: String): DataFrame = {
    val dtB = elapsed(col(s"_rb.$time"), col(time))
    val dtF = elapsed(col(time), col(s"_rf.$time"))
    tagged("asofJoinNearest", left, right, key, time, leftSide = 1,
      ord => Seq(
        "_rb" -> last(col("_r"), ignoreNulls = true)
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        "_rf" -> first(col("_r"), ignoreNulls = true)
          .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))),
      when(col("_rf").isNull, col("_rb"))
        .when(col("_rb").isNull, col("_rf"))
        .when(dtB <= dtF, col("_rb"))
        .otherwise(col("_rf")))
  }

  /** The tagged union under all three joins. Both sides become
    * (key, time, `_side`, `_l`, `_r`) rows, with each side's payload in its
    * own struct and a null of the other side's struct type. The `carries`
    * are window columns over the key partition ordered by (time, `_side`);
    * `leftSide` is the left rows' tag, so 1 sorts an equal-time right row
    * before the left row and 0 after it. The left rows are kept, and the
    * right struct `pick` (built from the carries) is unpacked into the
    * `r_` columns.
    */
  private def tagged(op: String, left: DataFrame, right: DataFrame,
      key: String, time: String, leftSide: Int,
      carries: WindowSpec => Seq[(String, Column)], pick: Column): DataFrame = {
    for (df <- Seq(left, right); c <- Seq(key, time))
      require(df.columns.contains(c),
        s"$op: column '$c' missing from one side " +
          s"(left: ${left.columns.mkString(",")}; right: ${right.columns.mkString(",")})")
    val lPay = left.columns.filterNot(c => c == key || c == time).toSeq
    val rPay = (time +: right.columns.filterNot(c => c == key || c == time)).toSeq
    def tag(df: DataFrame, side: Int, l: Column, r: Column): DataFrame =
      df.select(col(key), col(time), lit(side).as("_side"), l.as("_l"), r.as("_r"))
    val lu = tag(left, leftSide, struct(lPay.map(col): _*),
      lit(null).cast(StructType(rPay.map(right.schema(_)))))
    val ru = tag(right, 1 - leftSide,
      lit(null).cast(StructType(lPay.map(left.schema(_)))),
      struct(rPay.map(col): _*))
    val ord = Window.partitionBy(col(key)).orderBy(col(time), col("_side"))
    carries(ord).foldLeft(lu.unionByName(ru)) { case (df, (n, c)) =>
        df.withColumn(n, c) }
      .filter(col("_side") === leftSide)
      .withColumn("_rn", pick)
      .select(col(key) +: col(time) +:
        (lPay.map(c => col("_l." + c).as(c)) ++
          rPay.map(c => col("_rn." + c).as("r_" + c))): _*)
  }

  /** The clicks (left) and purchases (right) of the events wirings. */
  private def clicksAndPurchases(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = new Engine(spark, dir).table("events")
    (ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value")),
     ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value")))
  }

  /** Events wiring (nearest): each click annotated with the temporally
    * closest purchase in either direction — attribution when the causal
    * arrow is unknown (a purchase just BEFORE a support click explains
    * it as well as one after). Absolute minutes plus a direction flag;
    * the signed gap never goes through integer division (trunc-vs-floor
    * on negatives is not portable).
    */
  def clickNearestPurchase(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    asofJoinNearest(clicks, purchases, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("r_ts").as("purchase_ts"),
        col("r_purchase_value").as("purchase_value"),
        whole(abs(elapsed(col("ts"), col("r_ts"))), MicrosPerMinute).as("minutes_abs"),
        when(col("r_ts").isNull, lit(null).cast("int"))
          .when(col("r_ts") < col("ts"), lit(-1))
          .when(col("r_ts") === col("ts"), lit(0))
          .otherwise(lit(1)).as("direction"))
      .orderBy(col("event_id"))
  }

  /** Events wiring (forward): each click annotated with the user's NEXT
    * purchase at or after the click, plus the minutes until it — the
    * time-to-conversion frame.
    */
  def clickNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    asofJoinForward(clicks, purchases, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("r_ts").as("purchase_ts"),
        col("r_purchase_value").as("purchase_value"),
        whole(elapsed(col("ts"), col("r_ts")), MicrosPerMinute)
          .as("minutes_to_purchase"))
      .orderBy(col("event_id"))
  }

  /** Events wiring: each click event annotated with the user's most
    * recent purchase at or before the click.
    */
  def clickLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(spark, dir)
    asofJoin(clicks, purchases, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("r_ts").as("purchase_ts"), col("r_purchase_value").as("purchase_value"))
      .orderBy(col("event_id"))
  }
}
