package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CorpusAsOfSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  test("asofJoin carries the latest right row at or before left time") {
    val left = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 10L, 1.0), (1L, 15L, 2.0), (3L, 1L, 9.0)
    ).toDF("k", "t", "rv")
    val out = AsOf.asofJoin(left, right, "k", "t")
      .orderBy(col("k"), col("t"))
      .select(col("lv"), col("r_t"), col("r_rv")).collect()
    // k=1,t=5: no prior right -> nulls; t=10: right@10 (ties include equal
    // time); t=20: right@15; k=2: no right rows at all -> nulls
    assert(out.map(r => (r.getString(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq(("c", -1L), ("a", 10L), ("b", 15L), ("d", -1L)))
  }

  test("asofJoinForward carries the earliest right row at or after left time") {
    val left = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 10L, 1.0), (1L, 15L, 2.0), (3L, 1L, 9.0)
    ).toDF("k", "t", "rv")
    val out = AsOf.asofJoinForward(left, right, "k", "t")
      .orderBy(col("k"), col("t"))
      .select(col("lv"), col("r_t"), col("r_rv")).collect()
    // k=1,t=5: next right@10; t=10: right@10 (>= includes equal time);
    // t=20: nothing after -> nulls; k=2: no right rows -> nulls
    assert(out.map(r => (r.getString(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq(("c", 10L), ("a", 10L), ("b", -1L), ("d", -1L)))
  }

  test("as-of joins name themselves and the missing column") {
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "lv")
    val right = Seq((1L, 10L, 1.0)).toDF("k", "when", "rv")
    val joins: Seq[(String, (DataFrame, DataFrame, String, String) => DataFrame)] =
      Seq("asofJoin" -> AsOf.asofJoin, "asofJoinForward" -> AsOf.asofJoinForward,
        "asofJoinNearest" -> AsOf.asofJoinNearest)
    joins.foreach { case (op, join) =>
      val e = intercept[IllegalArgumentException](join(left, right, "k", "t"))
      assert(e.getMessage.contains(s"$op: column 't' missing") &&
        e.getMessage.contains("left: k,t,lv; right: k,when,rv"),
        s"$op raised: ${e.getMessage}")
    }
  }

  test("asofJoinForward equals the naive argmin theta join on the fixture") {
    val en = new graft.cube.Engine(spark, sf)
    val ev = en.table("events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val naive = clicks.join(purchases,
        col("user_id") === col("pu") && col("pts") >= col("ts"), "left")
      .groupBy(col("event_id")).agg(min(col("pts")).as("next_ts"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.time.LocalDateTime]("next_ts"))).toMap
    AsOf.clickNextPurchase(spark, sf).collect().foreach { r =>
      val got = Option(r.getAs[java.time.LocalDateTime]("purchase_ts"))
      assert(got == naive(r.getLong(0)), s"event ${r.getLong(0)}")
    }
  }

  test("sourceVocabOverlap: identical sources have Jaccard 1") {
    val docs = Seq(
      (1L, "x", "alpha beta gamma"), (2L, "y", "alpha beta gamma"),
      (3L, "z", "delta epsilon zeta eta")).toDF("doc_id", "source", "text")
    val rows = Corpus.sourceVocabOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(rows(("x", "y")) == 1.0)
    assert(!rows.contains(("x", "z")) && !rows.contains(("y", "z")))
  }

  test("asofJoin equals the naive argmax theta join on the fixture") {
    val banded = AsOf.clickLastPurchase(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) null else r.getAs[Any](3)))
      .toMap
    val ev = new graft.cube.Engine(spark, sf).table("events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val naive = c.join(p, col("pu") === col("user_id") && col("pts") <= col("ts"),
        "left_outer")
      .groupBy(col("event_id")).agg(max(col("pts")).as("pts"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getAs[Any](1)))
      .toMap
    assert(banded == naive)
    assert(banded.values.exists(_ != null))
  }

  test("asofJoin matches the naive argmax on randomized data (3 seeds)") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // left times even, right times odd and distinct: no cross-side or
      // right-right ties, so the naive argmax is uniquely defined
      val left = (1 to 300).map(i =>
        (rnd.nextInt(20).toLong, rnd.nextInt(100000).toLong * 2, i.toLong))
        .toDF("k", "t", "lid")
      val rTimes = rnd.shuffle((0 until 100000).toList).take(300)
      val right = rTimes.map(t =>
        (rnd.nextInt(25).toLong, t.toLong * 2 + 1, rnd.nextInt(1000).toLong))
        .toDF("k", "t", "rv")
      val got = AsOf.asofJoin(left, right, "k", "t")
        .collect()
        .map(r => r.getLong(2) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toMap
      val naive = left.as("l").join(right.as("r"),
          col("l.k") === col("r.k") && col("r.t") <= col("l.t"), "left_outer")
        .groupBy(col("lid")).agg(max(col("r.t")).as("rt"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(got == naive, s"seed=$seed")
    }
  }

  test("balancedSample caps each group deterministically") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sampled = Corpus.balancedSample(docs, "lang", 10)
    val byLang = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.forall(_ <= 10))
    val a = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.balancedSample(docs, "lang", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("splitAssign is invariant to physical partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Corpus.splitAssign(df).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // same membership at 1 partition, 13 partitions, and key-shuffled —
    // the split is a pure function of doc_id, not of data placement
    assert(assign(docs.coalesce(1)) == assign(docs.repartition(13)) &&
      assign(docs.repartition(7, col("lang"))) == assign(docs))
  }

  test("splitAssign is deterministic and roughly 80/10/10") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val counts = Corpus.splitAssign(docs).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    assert(counts.keySet == Set("train", "val", "test"))
    // membership is a pure function of doc_id: re-run is identical
    val a = Corpus.splitAssign(docs).select("doc_id", "split").collect().toSeq
    val b = Corpus.splitAssign(docs).select("doc_id", "split").collect().toSeq
    assert(a.toSet == b.toSet)
  }

  test("qualityFilter computes exact ratios on a known doc") {
    val docs = Seq((1L, "a a a b c")).toDF("doc_id", "text")
    val r = withKey("quality")(k => Corpus.qualityFilter(docs, k).collect()).head
    assert(r.getInt(1) == 5)            // n_tokens
    assert(r.getInt(2) == 3)            // distinct
    assert(r.getDouble(3) == 0.4)       // dup_ratio = 1 - 3/5
    assert(r.getDouble(4) == 0.6)       // top_ratio = 3/5
    assert(!r.getBoolean(6))            // short + repetitive -> dropped
  }

  test("tfidf ranks the discriminative term first") {
    val docs = Seq(
      (1L, "x x y"), (2L, "y y y"), (3L, "y z z")
    ).toDF("doc_id", "text")
    val top = withKey("tfidf")(k =>
      Corpus.tfidfTopTerms(docs, topK = 1, datasetKey = k).collect()).map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'y' appears in every doc (idf=0); doc-unique terms win
    assert(top == Map(1L -> "x", 2L -> "y", 3L -> "z"))
  }

  test("point-in-time enrichment assigns each purchase its valid-interval version, leak-free") {
    val out = Relational.pointInTimeEnrichment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getDouble(3),
        r.getString(4), r.getAs[java.time.LocalDateTime](5)))
    val events = new graft.cube.Engine(spark, sf).table("events")
    val nPurchases = events.filter(col("event_type") === "purchase").count()
    assert(out.length == nPurchases, "every purchase enriched exactly once")
    // reconstruct intervals and check containment: the joined version
    // must be valid AT the event time — never a future version (leak)
    val versions = Relational.scd2(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getAs[java.time.LocalDateTime](2)),
        (r.getString(1), Option(r.getAs[java.time.LocalDateTime](3)))))
      .toMap
    out.foreach { case (eid, user, ts, _, state, from) =>
      val (vState, vTo) = versions((user, from))
      assert(vState == state, s"event $eid: state mismatch")
      assert(!from.isAfter(ts), s"event $eid: joined a FUTURE version")
      vTo.foreach(to => assert(ts.isBefore(to),
        s"event $eid: ts $ts outside [$from, $to)"))
    }
  }
}
