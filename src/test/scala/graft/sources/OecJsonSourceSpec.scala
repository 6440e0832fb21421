package graft.sources

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class OecJsonSourceSpec extends SparkFunSuite {

  /** Runs `body` on a temp dir holding the wire example's responses. */
  private def withResponses[T](body: String => T): T =
    withTempDir("oecjson") { dir =>
      // the FIXTURES.md §B wire example, split over two response files
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r1.json"),
        """{"data": [
          |{"Year": 2020, "Country ID": "saarm", "Country": "Armenia", "Trade Value": 2456831.0},
          |{"Year": 2020, "Country ID": "asgeo", "Country": "Georgia", "Trade Value": 1934502.5}
          |]}""".stripMargin)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r2.json"),
        """{"data": [
          |{"Year": 2021, "Country ID": "saaze", "Country": "Azerbaijan", "Trade Value": 999.25}
          |]}""".stripMargin)
      // a non-json file that must be ignored
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/notes.txt"), "x")
      body(dir)
    }

  test("reads the wire format with normalized names and inferred types") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").load(dir)
      assert(df.columns.toSeq == Seq("year", "country_id", "country", "trade_value"))
      assert(df.schema("year").dataType.typeName == "long")
      assert(df.schema("trade_value").dataType.typeName == "double")
      assert(df.count() == 3)
      val am = df.filter(col("country") === "Armenia").collect().head
      assert(am.getLong(0) == 2020L && am.getDouble(3) == 2456831.0)
    }
  }

  test("one partition per response file") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").load(dir)
      assert(df.rdd.getNumPartitions == 2)
    }
  }

  test("column pruning reaches the scan") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").load(dir)
        .select("country")
      // the scan's read schema must be pruned to the single column
      assert(df.queryExecution.executedPlan.toString.contains("country"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("Armenia", "Azerbaijan", "Georgia"))
    }
  }

  test("aggregation over the source composes with the engine surface") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").load(dir)
        .groupBy(col("year")).agg(round(sum(col("trade_value")), 2).as("tv"))
        .orderBy(col("year"))
      val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((2020L, 4391333.5), (2021L, 999.25)))
    }
  }

  test("filters push into the source and evaluate on raw records") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").load(dir)
      // filter column (year) pruned from the projection — the source must
      // evaluate it on the raw record, not the output row
      val q = df.filter(col("year") === 2020 && col("trade_value") > 1000000.0)
        .select(col("country"))
      val rows = q.collect().map(_.getString(0)).sorted.toSeq
      assert(rows == Seq("Armenia", "Georgia"))
      val scan = q.queryExecution.executedPlan.toString
      assert(scan.contains("PushedFilters") && scan.contains("EqualTo(year,2020)"),
        s"expected pushed filters in:\n$scan")
      // IN-list cut (the reference's multi-member cut shape)
      val in = df.filter(col("country_id").isin("saarm", "saaze"))
        .select(col("country")).collect().map(_.getString(0)).sorted.toSeq
      assert(in == Seq("Armenia", "Azerbaijan"))
    }
  }

  test("pushed equality on longs above 2^53 compares exactly, not via double") {
    withTempDir("oecjson_big") { dir =>
      // 2^53 and 2^53+1 are the same double; they must stay distinct rows
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r.json"),
        """{"data": [
          |{"Big ID": 9007199254740992, "Tag": "even"},
          |{"Big ID": 9007199254740993, "Tag": "odd"}
          |]}""".stripMargin)
      val df = spark.read.format("oecjson").load(dir)
      // project the filter column away: the claimed filter is evaluated
      // only at the source, never re-checked by Spark
      val got = df.filter(col("big_id") === 9007199254740993L)
        .select(col("tag")).collect().map(_.getString(0)).toSeq
      assert(got == Seq("odd"))
      val range = df.filter(col("big_id") > 9007199254740992L)
        .select(col("tag")).collect().map(_.getString(0)).toSeq
      assert(range == Seq("odd"))
    }
  }

  test("endpoint= option: file-backed form reads identically to path") {
    withResponses { dir =>
      val viaPath = spark.read.format("oecjson").load(dir)
      val viaEndpoint = spark.read.format("oecjson")
        .option("endpoint", s"file:$dir").load()
      assert(viaEndpoint.columns.toSeq == viaPath.columns.toSeq)
      assert(viaEndpoint.exceptAll(viaPath).isEmpty &&
        viaPath.exceptAll(viaEndpoint).isEmpty)
      // bare-directory endpoint works too
      val bare = spark.read.format("oecjson").option("endpoint", dir).load()
      assert(bare.count() == 3)
    }
  }

  test("endpoint= option: an unreachable live URL fails loudly, not silently empty") {
    // live HTTP is a first-class transport now (OecJsonHttpSpec drives it
    // against an in-process server); an endpoint that cannot be reached
    // must surface the connection failure, never plan an empty scan
    intercept[Exception] {
      spark.read.format("oecjson")
        .option("endpoint", "https://example.invalid/olap").load().collect()
    }
  }

  test("schema widening spans files: later fractional values widen an all-long first file") {
    withTempDir("oecjson_widen") { dir =>
      // file 1 is all-integral; file 2 forces double — inference must widen
      // across files, not pin types from the first response
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r1.json"),
        """{"data": [{"Measure": 1, "Tag": "a"}]}""")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/r2.json"),
        """{"data": [{"Measure": 1.5, "Tag": "b"}]}""")
      val df = spark.read.format("oecjson").load(dir)
      assert(df.schema("measure").dataType.typeName == "double")
      val got = df.orderBy(col("tag")).collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(1.0, 1.5))
    }
  }

  test("table name reflects the endpoint= load path, not null") {
    withResponses { dir =>
      val df = spark.read.format("oecjson").option("endpoint", s"file:$dir").load()
      val plan = df.queryExecution.analyzed.toString
      assert(!plan.contains("oecjson(null)"), s"plan still shows null source:\n$plan")
      assert(plan.contains(dir), s"plan does not echo the endpoint:\n$plan")
    }
  }

  test("missing data key fails with the wire-contract message") {
    withTempDir("oecjson_bad") { dir =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad.json"),
        """{"rows": []}""")
      val e = intercept[Exception] {
        spark.read.format("oecjson").load(dir).collect()
      }
      assert(e.getMessage.contains("data"))
    }
  }

  test("plan-time inference opens a bounded number of files on a homogeneous endpoint") {
    withTempDir("oecjson_cap") { dir =>
      (0 until 40).foreach { i =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"$dir/r$i%03d.json"),
          s"""{"data": [{"Year": ${2000 + i}, "Tag": "t$i"}]}""")
      }
      val before = OecJsonSource.inferOpens.get()
      val df = spark.read.format("oecjson").load(dir)
      val opened = OecJsonSource.inferOpens.get() - before
      // type-stable head sample → inference must stop at the cap, not
      // open all 40 response files at plan time
      assert(opened == OecJsonSource.DefaultInferFiles,
        s"expected ${OecJsonSource.DefaultInferFiles} plan-time opens, got $opened")
      assert(df.schema("year").dataType.typeName == "long")
      // execution still reads EVERY file — the cap is plan-time only
      assert(df.count() == 40)
    }
  }

  test("a widening conflict inside the cap falls back to sampling the tail") {
    withTempDir("oecjson_cap2") { dir =>
      (0 until 30).foreach { i =>
        // r001 stores the measure fractionally → the head sample itself
        // demonstrates heterogeneity; a column present ONLY in the final
        // file must then still be discovered by the fallback pass
        val v = if (i == 1) "1.5" else i.toString
        val extra = if (i == 29) """, "Late Col": "x"""" else ""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"$dir/r$i%03d.json"),
          s"""{"data": [{"Measure": $v, "Tag": "t$i"$extra}]}""")
      }
      val before = OecJsonSource.inferOpens.get()
      val df = spark.read.format("oecjson").load(dir)
      val opened = OecJsonSource.inferOpens.get() - before
      assert(opened == 30, s"conflict must widen across every file, got $opened opens")
      assert(df.schema("measure").dataType.typeName == "double")
      assert(df.columns.contains("late_col"))
    }
  }

  test("inferFiles= option overrides the plan-time cap") {
    withTempDir("oecjson_cap3") { dir =>
      (0 until 10).foreach { i =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"$dir/r$i%03d.json"),
          s"""{"data": [{"Year": ${2000 + i}}]}""")
      }
      val before = OecJsonSource.inferOpens.get()
      spark.read.format("oecjson").option("inferFiles", "4").load(dir)
      assert(OecJsonSource.inferOpens.get() - before == 4)
    }
  }

  test("exhausted record stream throws NoSuchElementException on next()") {
    withResponses { dir =>
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
        .map(_.getPath).sorted.head
      val s = OecJsonSource.records(f)
      while (s.hasNext) s.next()
      intercept[NoSuchElementException] { s.next() }
    }
  }

  test("record stream supports early close, double close, and limit scans") {
    withResponses { dir =>
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
        .map(_.getPath).sorted.head
      // early close: take one record, close, close again — no error, and the
      // iterator terminates (at most the prefetched record remains)
      val s = OecJsonSource.records(f)
      assert(s.hasNext)
      s.next()
      s.close()
      s.close()
      var left = 0
      while (s.hasNext && left < 10) { s.next(); left += 1 }
      assert(left <= 1, "closed stream must not keep producing records")
      // a sample-limited stream self-closes at the limit
      val lim = OecJsonSource.sampleRecords(f, 1)
      assert(lim.hasNext)
      lim.next()
      assert(!lim.hasNext)
      // a limit(1) query over the source terminates cleanly (the reader's
      // close() path releases the stream)
      val one = spark.read.format("oecjson").load(dir).limit(1).collect()
      assert(one.length == 1)
    }
  }
}
