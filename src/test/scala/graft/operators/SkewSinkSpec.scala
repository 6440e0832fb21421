package graft.operators

import graft.SparkFunSuite
import graft.sources.Sink
import org.apache.spark.sql.functions._

class SkewSinkSpec extends SparkFunSuite {

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
  private def orders = spark.read.parquet(s"$sf/orders.parquet")

  test("salted join equals the plain inner join") {
    val plain = li.join(orders.withColumnRenamed("o_orderkey", "l_orderkey"),
      "l_orderkey")
    val big = li
    val salted = Skew.saltedJoin(big, orders
      .withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", saltFactor = 4)
    assert(salted.count() == plain.count())
    val a = plain.agg(round(sum(col("l_extendedprice") * col("o_totalprice")), 0))
      .collect().head.getDouble(0)
    val b = salted.agg(round(sum(col("l_extendedprice") * col("o_totalprice")), 0))
      .collect().head.getDouble(0)
    assert(a == b)
  }

  test("salt spreads fully identical duplicate rows across buckets") {
    import graft.SparkTestBase.spark.implicits._
    // the degenerate hot-key case: every row identical — a row-hash salt
    // would send all of them to ONE bucket; the per-partition counter
    // must cover all saltFactor buckets
    val dup = Seq.fill(64)(("hot", 1)).toDF("k", "v").repartition(2)
    val buckets = dup.withColumn("s", Skew.salt(8))
      .select("s").distinct().count()
    assert(buckets == 8)
  }

  test("two-phase agg equals single-phase") {
    val single = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val two = Skew.twoPhaseAgg(li, Seq("l_returnflag"), 8,
      partials = Map("q" -> sum(col("l_quantity")), "n" -> count(lit(1))),
      finals = Map("q" -> sum(col("q")), "n" -> sum(col("n"))))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(two == single)
  }

  test("partitioned sink writes hive-style dirs and partition-prunes reads") {
    withTempDir("graft_sink") { dir =>
      Sink.writePartitioned(li, s"$dir/li", Seq("l_returnflag"), Seq("l_shipdate"))
      val dirs = new java.io.File(s"$dir/li").listFiles().map(_.getName)
        .filter(_.startsWith("l_returnflag=")).sorted
      assert(dirs.toSeq == Seq("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))
      val back = spark.read.parquet(s"$dir/li").filter(col("l_returnflag") === "A")
      assert(back.count() == li.filter(col("l_returnflag") === "A").count())
      // the partition filter must reach the scan (pruned read, not post-filter)
      assert(back.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    }
  }

  test("key-clustered sink round-trips and clusters by key") {
    withTempDir("graft_sink") { dir =>
      Sink.writeKeyClustered(orders, s"$dir/o", "o_custkey", buckets = 4)
      val back = spark.read.parquet(s"$dir/o")
      assert(back.count() == orders.count())
      val files = new java.io.File(s"$dir/o").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 4)
    }
  }

  test("bucketed tables sort-merge-join without a shuffle exchange") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sink.writeBucketed(orders.select(col("o_orderkey"), col("o_totalprice")),
        "b_orders", "o_orderkey", 8)
      Sink.writeBucketed(li.select(col("l_orderkey"), col("l_quantity")),
        "b_lineitem", "l_orderkey", 8)
      val j = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      assert(j.count() == li.count()) // every lineitem has its order
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("approx distinct is within rsd of exact") {
    val rows = Relational.approxCustomerCounts(spark, sf).collect()
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact) <= math.max(2L, (exact * 0.15).toLong),
        s"nation ${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("range cut is inclusive on both bounds") {
    val e = new graft.cube.Engine(spark, sf)
    val df = e.getData(graft.cube.CubeQuery("trade", Seq("Year"),
      Seq("Line Count"), rangeCuts = Map("Year" -> ("1996", "1998"))))
    assert(df.select("year").collect().map(_.getInt(0)).toSet == Set(1996, 1997, 1998))
  }

  test("training shards: deterministic membership, sorted files, record cap honored") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    withTempDir("graft_shards") { dir =>

      graft.sources.Sink.writeTrainingShards(docs, s"$dir/a", "doc_id",
        shards = 4, maxRecordsPerFile = 100)
      val files = new java.io.File(s"$dir/a").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      // 500 docs over 4 hash shards, each file capped at 100 records
      assert(files.length >= 5)
      files.foreach { f =>
        val rows = spark.read.parquet(f.getPath).select("doc_id")
          .collect().map(_.getLong(0)).toSeq
        assert(rows.length <= 100)
        assert(rows == rows.sorted) // sortWithinPartitions survived the write
      }
      // round trip is lossless
      assert(spark.read.parquet(s"$dir/a").count() == 500)

      // re-writing from a differently-partitioned input yields identical
      // shard membership (hash membership, not partition accident)
      graft.sources.Sink.writeTrainingShards(docs.repartition(7), s"$dir/b",
        "doc_id", shards = 4, maxRecordsPerFile = 100)
      def membership(p: String): Map[Long, Int] =
        new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
          .flatMap { f =>
            // part-NNNNN-uuid… — NNNNN is the writing task's partition id,
            // i.e. the shard (cap splits stay within one task)
            val shard = f.getName.stripPrefix("part-").take(5).toInt
            spark.read.parquet(f.getPath).select("doc_id")
              .collect().map(r => r.getLong(0) -> shard)
          }.toMap
      val a = membership(s"$dir/a")
      val b = membership(s"$dir/b")
      assert(a == b)
    }
  }

  test("z-ordered sink bounds BOTH columns' per-file span; plain sort does not") {
    import graft.SparkTestBase.spark.implicits._
    // 256x256 uniform grid — every (x, y) occurs exactly once
    val grid = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    withTempDir("graft_zorder") { dir =>

      Sink.writeZOrdered(grid, s"$dir/z", "x", "y", files = 16)
      grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.parquet(s"$dir/plain")

      def meanSpan(path: String, c: String): Double = {
        val spans = new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map { f =>
            val r = spark.read.parquet(f.getPath)
              .agg(min(col(c)), max(col(c))).head()
            (r.getLong(1) - r.getLong(0)).toDouble
          }
        spans.sum / spans.length
      }

      // 16 z-files over a 256x256 grid ≈ 4x4 blocks: ideal span is 25% of
      // range per column; sampled range-partition boundaries can straddle
      // adjacent z-blocks, so gate at 50% — still a 2x skip factor on BOTH
      // columns where a single-column sort gives one column nothing.
      assert(meanSpan(s"$dir/z", "x") < 0.5 * 255)
      assert(meanSpan(s"$dir/z", "y") < 0.5 * 255)
      // the single-column sort leaves y unclustered (~full range per file)
      assert(meanSpan(s"$dir/plain", "y") > 0.9 * 255)
      // and the z-write is lossless
      assert(spark.read.parquet(s"$dir/z").count() == 65536)
    }
  }

  test("compact rewrites a fragmented directory to the byte-targeted file count, losslessly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    withTempDir("graft_compact_spec") { dir =>
      docs.repartition(64).write.mode("overwrite").parquet(s"$dir/frag")
      val (before, bytes, after) =
        Sink.compact(spark, s"$dir/frag", s"$dir/out", targetBytes = 256L * 1024)
      assert(before == 64, "fragmented input has one file per partition")
      val expected = math.max(1L, (bytes + 256L * 1024 - 1) / (256L * 1024)).toInt
      assert(after == expected, s"byte-targeted count: $after vs $expected")
      assert(after < before, "compaction must reduce the file count")
      // lossless: the relation is untouched
      val a = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val b = spark.read.parquet(s"$dir/out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(a == b)
      // a huge target collapses to a single file
      val (_, _, one) = Sink.compact(spark, s"$dir/frag", s"$dir/one",
        targetBytes = Long.MaxValue)
      assert(one == 1)
    }
  }
}
