package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.cube.CubeCatalog.netPrice
import graft.cube.Engine
import Relational.{cents, dollars}

/** Data-quality operators an ETL engine runs before publishing a table:
  * column profiling and declarative constraint audits. The reference
  * trusts the remote server's data wholesale (`oec.py:63` materializes
  * whatever comes back); an engine that OWNS the tables has to validate
  * them.
  *
  * Scale shape: the profiler is ONE aggregation over the scan (every
  * stat is an agg expression; multi-column distinct counts share the
  * pass via Spark's expand), then a constant-size unpivot of the single
  * result row. The constraint audit is a union of key-only anti-join /
  * distinct counts — each check shuffles only the key it validates, and
  * checks against small dimensions broadcast.
  */
object Quality {

  /** Profile every numeric column of `df` in one pass: rows, nulls,
    * distincts, min / max / mean. Returns one row per column. (countDistinct
    * is exact — swap for approx_count_distinct at 100 TB, same plan shape.)
    */
  def profile(df: DataFrame): DataFrame = {
    val numCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    require(numCols.nonEmpty, "profile: no numeric columns")
    val aggs: Seq[Column] = numCols.toIndexedSeq.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(lit(1)).minus(count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        round(avg(col(c)), 4).as(s"${c}__avg"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val packed = row.select(explode(array(numCols.toIndexedSeq.map { c =>
      struct(lit(c).as("column_name"),
        col(s"${c}__rows").as("n_rows"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"),
        col(s"${c}__avg").as("avg_value"))
    }: _*)).as("p"))
    packed.select(col("p.*")).orderBy(col("column_name"))
  }

  /** Fixture wiring (q86): profile the orders fact. */
  def ordersProfile(spark: SparkSession, dir: String): DataFrame =
    profile(new Engine(spark, dir).table("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))

  /** Declarative constraint audit (q87): referential integrity, key
    * uniqueness, and domain checks across the star — one row per
    * constraint with its violation count. The audit a pipeline gates a
    * publish on.
    */
  def constraintAudit(spark: SparkSession, dir: String): DataFrame = {
    val en = new Engine(spark, dir)
    val orders = en.table("orders")
    val customer = en.table("customer")
    val lineitem = en.table("lineitem")
    val events = en.table("events")
    def one(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("constraint_name"), col("n_violations"))
    one("customer_pk_unique",
        customer.groupBy(col("c_custkey")).count().filter(col("count") > 1))
      .unionByName(one("events_value_nonnegative",
        events.filter(col("value") < 0)))
      .unionByName(one("lineitem_orderkey_fk",
        lineitem.join(orders, col("l_orderkey") === col("o_orderkey"),
          "left_anti")))
      .unionByName(one("lineitem_quantity_positive",
        lineitem.filter(col("l_quantity") <= 0)))
      .unionByName(one("orders_custkey_fk",
        orders.join(customer, col("o_custkey") === col("c_custkey"),
          "left_anti")))
      .orderBy(col("constraint_name"))
  }

  /** Winsorization report: clamp the value column to its per-type
    * [P5, P95] band and report the robust mean plus how much mass the
    * clamp moved — the outlier-tolerant normalization every feature
    * pipeline applies before scaling, kept as a REPORT so the clip rate
    * itself is monitorable (a rising clip rate means the distribution
    * moved, not the outliers).
    *
    * Scale shape: same two-pass broadcast-back discipline as
    * [[Quality.psiReport]]/MAD — percentiles per type (swap for the KLL
    * sketch at 100 TB), bounds broadcast into a single clamping
    * aggregation; the fact never shuffles.
    */
  def winsorizeReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = new Engine(spark, dir).table("events")
      .select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("clamped", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("value") < col("lo"), lit(1))).as("n_clipped_low"),
        count(when(col("value") > col("hi"), lit(1))).as("n_clipped_high"),
        round(max(col("lo")), 4).as("p05"),
        round(max(col("hi")), 4).as("p95"),
        round(avg(col("clamped")), 4).as("winsorized_mean"))
      .orderBy(col("event_type"))
  }

  /** Population stability index (PSI) report between two cohorts of the
    * event value distribution (user_id parity stands in for the
    * reference/current model-serving windows): fixed decade bins,
    * Laplace-smoothed shares, per-bin PSI contribution
    * (p − q)·ln(p/q). The drift gate every feature pipeline runs before
    * refreshing a model — PSI > 0.2 on a feature means the training
    * distribution no longer matches serving.
    *
    * Scale shape: one pass bins and splits (map-side combined counts per
    * (bin)), totals ride in as a 1-row broadcast; the ln runs on shares
    * DERIVED THE SAME WAY on both engines (integer counts → one double
    * divide each) so IEEE rounding stays in lockstep. floor() — not an
    * int cast — buckets the double (cast truncation conventions differ
    * between engines; floor is defined identically).
    */
  def psiReport(spark: SparkSession, dir: String): DataFrame = {
    val bins = 10
    val ev = new Engine(spark, dir).table("events")
      .select(col("user_id"), col("value"))
    val binned = ev
      .withColumn("bin",
        least(greatest(floor(col("value") / 10.0), lit(0.0)),
          lit((bins - 1).toDouble)).cast("long"))
      .withColumn("half_a", col("user_id") % 2 === 0)
    val counts = binned.groupBy(col("bin"))
      .agg(count(when(col("half_a"), lit(1))).as("n_a"),
        count(when(!col("half_a"), lit(1))).as("n_b"))
    val tot = binned.agg(
      count(when(col("half_a"), lit(1))).as("ta"),
      count(when(!col("half_a"), lit(1))).as("tb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_a") + 1).cast("double") / (col("ta") + bins))
      .withColumn("q", (col("n_b") + 1).cast("double") / (col("tb") + bins))
      .select(col("bin"), col("n_a"), col("n_b"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6)
          .as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Header/detail price reconciliation: recompute each order's total
    * from its lines (`extendedprice · (1−discount) · (1+tax)`) and audit
    * the drift against the stored `o_totalprice`, per order status —
    * the invoice-reconciliation check (and the first thing a warehouse
    * migration validates). All arithmetic is in exact integer cents,
    * rounded PER LINE before the sum, so the aggregate is
    * order-independent across partitions (a float sum here would differ
    * between engines in the last ulp); orders with no lines reconcile
    * against 0. One key-only rollup of lineitem, then a join on the
    * order key — both shuffles carry two columns each.
    */
  def priceReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val en = new Engine(spark, dir)
    val lines = en.table("lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(netPrice * (lit(1) + col("l_tax")))).as("line_cents"))
    en.table("orders")
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("diff_cents", coalesce(col("line_cents"), lit(0L)) -
        cents(col("o_totalprice")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(abs(col("diff_cents")) > 1, 1L).otherwise(0L))
          .as("n_mismatch"),
        max(abs(col("diff_cents"))).as("max_abs_diff_cents"),
        dollars(avg(abs(col("diff_cents")).cast("double")), 6)
          .as("avg_abs_diff_usd"))
      .orderBy(col("o_orderstatus"))
  }
}
