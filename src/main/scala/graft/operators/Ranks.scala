package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking — the machinery behind every "rank the
  * whole frame" operator ([[Relational.revenueQuartiles]]'s customer
  * quartiles, [[Corpus.zipfReport]]'s vocabulary rank). A
  * `Window.orderBy` with no partitioning plans as a single-partition
  * sort of the ENTIRE frame — fine at fixture scale, a
  * straggler-then-OOM when the frame is 10^8+ rows (every customer; a
  * web-scale token vocabulary with its typo/URL/code tail). Instead:
  * range-partition on the total order, sort within partitions, index
  * rows POSITIONALLY per partition, then add broadcast per-partition
  * row-count offsets — a two-level prefix sum ([[rangeOffsets]]), the
  * same shape [[globalPrefixSum]] uses for value sums. The only
  * un-partitioned window left runs over ONE ROW PER PARTITION, bounded
  * by cluster size, not data size.
  */
object Ranks {

  /** Append a 1-based global `row_number` column to `df` under the total
    * order `order` (which must be deterministic — include a tie-break
    * key). Optionally also append the frame's total row count
    * (`totalCol`), computed on the same tiny offsets frame so rank
    * consumers like percent_rank/ntile pay no extra pass.
    *
    * The local index is NOT a window: Spark cannot prove
    * RangePartitioning(order) satisfies a `Window.partitionBy(__pid)`
    * distribution, so a window would hash-shuffle the whole ranged frame
    * a second time. Instead rows are indexed positionally —
    * `monotonically_increasing_id` encodes (partitionId << 33 | position)
    * in the sorted stage — so the frame is exchanged exactly once (the
    * range repartition) and ranks are pure map work over it.
    *
    * The range-partitioned frame is localCheckpoint'ed (and
    * Scratch-registered): range boundaries are sampled and the position
    * ids assigned per materialization, and the row frame and the offset
    * frame must observe the SAME cut. localCheckpoint pins blocks in
    * executor storage and truncates lineage — an executor loss mid-query
    * loses them unrecoverably; a long-running cluster job that must
    * survive executor churn should swap in reliable `checkpoint` (same
    * plan shape, durable blocks) at the cost of a filesystem write.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rankCol: String,
      totalCol: Option[String] = None): DataFrame = {
    val scratchCols = Seq("__pid", "__mid", "__pn", "__poff")
    val clash = (scratchCols ++ Seq(rankCol) ++ totalCol)
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"globalRowNumber: input already has column(s) ${clash.mkString(", ")} " +
        "— withColumn would silently replace them; rename before ranking")
    val (ranged, offsets0) = rangeOffsets(df, order, "__pn", count(lit(1)),
      _.withColumn("__mid", monotonically_increasing_id()))
    val wAll = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = totalCol match {
      case Some(t) => offsets0.withColumn(t, sum(col("__pn")).over(wAll))
        .select(col("__pid"), col("__poff"), col(t))
      case None => offsets0.select(col("__pid"), col("__poff"))
    }
    ranged
      .join(broadcast(offsets), "__pid")
      // position within partition = the low 33 id bits (the partition id
      // occupies the high bits), 0-based -> +1 for a 1-based rank
      .withColumn(rankCol,
        col("__mid").bitwiseAND(lit((1L << 33) - 1)) + col("__poff") + lit(1L))
      .drop("__pid", "__mid", "__poff")
  }

  /** The range stage both global operators share: `df` range-partitioned
    * and sorted on `order`, tagged with its partition id `__pid` (then
    * `tag`) and staged; and one row per partition carrying `part` — a
    * per-partition aggregate named `partCol` — and `__poff`, the
    * EXCLUSIVE sum of `partCol` over the earlier partitions. The ranged
    * frame is staged because range boundaries are sampled per
    * materialization, and the rows and the offsets must observe the SAME
    * cut.
    */
  private def rangeOffsets(df: DataFrame, order: Seq[Column], partCol: String,
      part: Column, tag: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val ranged = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(tag)
      .transform(Scratch.staged)
    val wPrev = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(part.as(partCol))
      .withColumn("__poff", coalesce(sum(col(partCol)).over(wPrev), lit(0L)))
    (ranged, offsets)
  }

  /** Distributed running (prefix) sum of an INTEGER-valued column under
    * the total order `order` — the cumulative-curve twin of
    * [[globalRowNumber]]: range-partition on the order, running-sum
    * WITHIN each partition (a `partitionBy(__pid)` window — never a
    * global sort), and add broadcast per-partition value offsets, the
    * same two-level prefix-sum shape. Restricted to integer values
    * (counts, cents): integer addends keep every partial sum exact, so
    * the result is independent of partition count and add order —
    * a double-valued running sum would NOT be (ulp drift between
    * groupings), which is why this helper does not accept one.
    */
  def globalPrefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): DataFrame = {
    val scratchCols = Seq("__pid", "__psum", "__poff")
    val clash = (scratchCols :+ outCol).filter(df.columns.contains)
    require(clash.isEmpty,
      s"globalPrefixSum: input already has column(s) ${clash.mkString(", ")}")
    // enforce the integer-only contract stated above (also fails fast on
    // a misspelled column, before the plan does, with a named reason)
    val vt = df.schema.find(_.name == valueCol).getOrElse(
      throw new IllegalArgumentException(
        s"globalPrefixSum: no column '$valueCol' in [${df.columns.mkString(", ")}]")
    ).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(vt),
      s"globalPrefixSum: '$valueCol' is $vt — only integer values keep " +
        "the partitioned prefix sum independent of partition boundaries")
    val (ranged, offsets) = rangeOffsets(df, order, "__psum", sum(col(valueCol)),
      identity)
    val wLocal = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets.select(col("__pid"), col("__poff"))), "__pid")
      .withColumn(outCol, sum(col(valueCol)).over(wLocal) + col("__poff"))
      .drop("__pid", "__poff")
  }

  /** Distributed `ntile(buckets)` under total order `order`: the exact
    * SQL-standard tile arithmetic (first `n % buckets` tiles get
    * `n div buckets + 1` rows, the rest `n div buckets`) applied to a
    * [[globalRowNumber]] rank — bit-identical to `ntile().over(
    * Window.orderBy(...))` but without the single-partition sort, so it
    * survives unbounded grains (every customer, every document). The
    * frame total rides the same broadcast offsets frame, so the tile is
    * pure map work over the once-exchanged ranked frame.
    */
  def globalNtile(df: DataFrame, order: Seq[Column], buckets: Int,
      tileCol: String): DataFrame = {
    require(buckets > 0, s"globalNtile: buckets must be positive, got $buckets")
    val ranked = globalRowNumber(df, order, "__ntile_rk", Some("__ntile_n"))
    // Pure INTEGER arithmetic (`div`, `%`) — a double floor-divide is only
    // exact below 2^52 and this rank is specifically for unbounded grains.
    // bs = base tile size, rem = tiles that get one extra row, thr = rows
    // covered by those bigger tiles. The ELSE's `div bs` cannot see bs=0:
    // when n < buckets, thr = n covers every row in the WHEN branch and
    // CaseWhen evaluates lazily.
    val k = buckets.toLong
    val tile = expr(
      s"""CASE WHEN __ntile_rk <= (__ntile_n % $k) * (__ntile_n div $k + 1)
         |  THEN (__ntile_rk - 1) div (__ntile_n div $k + 1) + 1
         |  ELSE (__ntile_n % $k) +
         |    (__ntile_rk - 1 - (__ntile_n % $k) * (__ntile_n div $k + 1))
         |      div (__ntile_n div $k) + 1
         |END""".stripMargin)
    ranked.withColumn(tileCol, tile.cast("int"))
      .drop("__ntile_rk", "__ntile_n")
  }
}
