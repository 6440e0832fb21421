package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals, the standard
  * extension-point technique for libraries that ship native Catalyst
  * expressions (Spark 4 removed the public `new Column(expr)`
  * constructor; `classic.ExpressionUtils` is the blessed internal
  * replacement). Everything else in this library uses public API only.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's `SQLConf.numShufflePartitions`, read typed — never by
    * parsing the `spark.sql.shuffle.partitions` string. */
  def numShufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.numShufflePartitions

  /** The session's `SQLConf.autoBroadcastJoinThreshold` in bytes, read
    * typed: Spark's own conf entry parses size strings such as "10MB". */
  def autoBroadcastJoinThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Register an expression builder under a SQL-callable name. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Bloom-filter build aggregate over xxhash64 of `key` — the same
    * expression pair Spark's own `InjectRuntimeFilter` rule plants
    * (`BloomFilterAggregate` / `BloomFilterMightContain` are not in the
    * public function registry, hence this bridge). `expectedItems` sizes
    * the filter; `numBits` bounds its memory.
    */
  def bloomFilterAgg(key: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    column(new BloomFilterAggregate(new XxHash64(Seq(expression(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** Probe side of the runtime filter: true when xxhash64(`key`) might be
    * in `bloom` (no false negatives; false positives removed by the real
    * join that follows).
    */
  def bloomMightContain(bloom: Column, key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    column(BloomFilterMightContain(expression(bloom),
      new XxHash64(Seq(expression(key)))))
  }
}
