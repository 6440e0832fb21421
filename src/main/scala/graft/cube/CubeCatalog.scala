package graft.cube

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared cubes over the fixture star schema (`FIXTURES.md` §A).
  *
  * The reference's cube ids are opaque strings resolved by a remote server
  * (`oec.py:16`: 'trade_i_baci_a_92'); here each cube is declared: fact
  * table, dim join graph, level -> expression, measure -> aggregate.
  *
  * Double-valued SUM measures are rounded (2 decimals for money, 4 for
  * ratios) so results are identical regardless of partial-aggregation
  * order — required for oracle hash-parity and harmless semantically.
  */
object CubeCatalog {

  /** A line's price net of its discount,
    * `l_extendedprice * (1 - l_discount)`. */
  private[graft] val netPrice: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** trade cube — the analog of the reference docstring cube
    * 'trade_i_baci_a_92' (`oec.py:16`, `oec.py:36`) over the lineitem star.
    */
  val trade: CubeDef = CubeDef(
    name = "trade",
    fact = "lineitem",
    joins = Seq(
      DimJoin("orders", "orders", "fact", "l_orderkey", "o_orderkey"),
      DimJoin("customer", "customer", "orders", "o_custkey", "c_custkey"),
      DimJoin("nation", "nation", "customer", "c_nationkey", "n_nationkey",
        broadcast = true),
      DimJoin("region", "region", "nation", "n_regionkey", "r_regionkey",
        broadcast = true),
      DimJoin("part", "part", "fact", "l_partkey", "p_partkey"),
      DimJoin("supplier", "supplier", "fact", "l_suppkey", "s_suppkey"),
      DimJoin("supp_nation", "nation", "supplier", "s_nationkey", "sn_nationkey",
        renames = Map("n_nationkey" -> "sn_nationkey", "n_name" -> "sn_name",
          "n_regionkey" -> "sn_regionkey"),
        broadcast = true),
      DimJoin("supp_region", "region", "supp_nation", "sn_regionkey", "sr_regionkey",
        renames = Map("r_regionkey" -> "sr_regionkey", "r_name" -> "sr_name"),
        broadcast = true)),
    levels = Seq(
      // order-date calendar levels (analog of reference drilldown 'Year',
      // `oec.py:34`; cut {'Year': '2020'} at `oec.py:31`)
      Level("Year", "orders", year(col("o_orderdate")), IntegerType),
      Level("Month", "orders", month(col("o_orderdate")), IntegerType),
      Level("Ship Year", "fact", year(col("l_shipdate")), IntegerType),
      Level("Order Status", "orders", col("o_orderstatus"), StringType),
      Level("Order Priority", "orders", col("o_orderpriority"), StringType),
      Level("Customer ID", "customer", col("c_custkey"), LongType,
        memberLabel = Some(col("c_name"))),
      Level("Customer", "customer", col("c_name"), StringType),
      Level("Mkt Segment", "customer", col("c_mktsegment"), StringType),
      Level("Nation ID", "nation", col("n_nationkey"), IntegerType,
        memberLabel = Some(col("n_name"))),
      Level("Nation", "nation", col("n_name"), StringType),
      Level("Region ID", "region", col("r_regionkey"), IntegerType,
        memberLabel = Some(col("r_name"))),
      Level("Region", "region", col("r_name"), StringType),
      Level("Part ID", "part", col("p_partkey"), LongType,
        memberLabel = Some(col("p_name"))),
      Level("Brand", "part", col("p_brand"), StringType),
      Level("Part Type", "part", col("p_type"), StringType),
      Level("Part Size", "part", col("p_size"), IntegerType),
      Level("Supplier ID", "supplier", col("s_suppkey"), LongType,
        memberLabel = Some(col("s_name"))),
      Level("Supplier", "supplier", col("s_name"), StringType),
      Level("Supplier Nation", "supp_nation", col("sn_name"), StringType),
      Level("Supplier Region", "supp_region", col("sr_name"), StringType),
      Level("Return Flag", "fact", col("l_returnflag"), StringType),
      Level("Line Status", "fact", col("l_linestatus"), StringType)),
    measures = Seq(
      // 'Trade Value' (`oec.py:35`) analog: SUM over the fact measure column
      MeasureDef("Trade Value", round(sum(col("l_extendedprice")), 2)),
      MeasureDef("Quantity", sum(col("l_quantity"))), // integer-valued: exact
      MeasureDef("Discounted Value", round(sum(netPrice), 2)),
      MeasureDef("Charged Value",
        round(sum(netPrice * (lit(1.0) + col("l_tax"))), 2)),
      MeasureDef("Line Count", count(lit(1))),
      MeasureDef("Order Count", countDistinct(col("l_orderkey"))),
      MeasureDef("Avg Quantity", round(avg(col("l_quantity")), 4)),
      MeasureDef("Max Price", max(col("l_extendedprice"))),
      MeasureDef("Min Price", min(col("l_extendedprice")))))

  /** events cube — degenerate star (no dims), calendar + JSON-prop levels. */
  val events: CubeDef = CubeDef(
    name = "events",
    fact = "events",
    joins = Seq.empty,
    levels = Seq(
      Level("Event Type", "fact", col("event_type"), StringType),
      // NB: Spark's date_trunc coerces to tz-aware TIMESTAMP; cast back to
      // NTZ (UTC session) to keep naive wall-clock semantics end-to-end.
      Level("Event Day", "fact",
        date_trunc("day", col("ts")).cast(TimestampNTZType), TimestampNTZType,
        rangePrune = Some((lo, hi) =>
          col("ts") >= lo && col("ts") < hi + expr("INTERVAL 1 DAY"))),
      Level("Event Hour", "fact",
        date_trunc("hour", col("ts")).cast(TimestampNTZType), TimestampNTZType,
        rangePrune = Some((lo, hi) =>
          col("ts") >= lo && col("ts") < hi + expr("INTERVAL 1 HOUR"))),
      Level("User ID", "fact", col("user_id"), LongType),
      // props is a JSON string ({"k": 87}) — parsed, not regex-scraped
      Level("Prop K", "fact",
        from_json(col("props"), MapType(StringType, IntegerType))("k"),
        IntegerType)),
    measures = Seq(
      MeasureDef("Event Count", count(lit(1))),
      MeasureDef("Total Value", round(sum(col("value")), 2)),
      MeasureDef("Avg Value", round(avg(col("value")), 4)),
      MeasureDef("Max Value", max(col("value"))),
      MeasureDef("User Count", countDistinct(col("user_id")))))

  /** documents cube — text corpus rollups. */
  val documents: CubeDef = CubeDef(
    name = "documents",
    fact = "documents",
    joins = Seq.empty,
    levels = Seq(
      Level("Lang", "fact", col("lang"), StringType),
      Level("Source", "fact", col("source"), StringType)),
    measures = Seq(
      MeasureDef("Doc Count", count(lit(1))),
      MeasureDef("Total Chars", sum(col("n_chars"))),
      MeasureDef("Avg Chars", round(avg(col("n_chars")), 4))))

  val cubes: Map[String, CubeDef] =
    Seq(trade, events, documents).map(c => c.name -> c).toMap

  def apply(name: String): CubeDef =
    cubes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown cube '$name'; known: ${cubes.keys.mkString(", ")}"))
}
