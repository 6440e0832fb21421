package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Incremental streaming semantics the single-batch oracle runs cannot
  * exercise: multi-trigger processing, watermark advancement, and
  * late-data drop. Uses MemoryStream so each addData/processAllAvailable
  * cycle is one micro-batch.
  */
class StreamSemanticsSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("watermarked tumbling agg emits closed windows and drops late data") {
    val input = MemoryStream[(Timestamp, Double)](spark)
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("n"), col("total"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_test").start()

    // batch 1: three events in the 10:00 window; watermark still low, so
    // nothing is emitted yet (the window might still grow)
    input.addData((ts("10:01"), 1.0), (ts("10:03"), 2.0), (ts("10:07"), 3.0))
    q.processAllAvailable()
    assert(spark.table("wm_test").count() == 0)

    // batch 2: an 11:00 event advances the watermark to 10:50 — the
    // 10:00-10:10 window is now closed and emitted exactly once
    input.addData((ts("11:00"), 9.0))
    q.processAllAvailable()
    val emitted = spark.table("wm_test").collect()
    assert(emitted.length == 1)
    assert(emitted.head.getLong(1) == 3 && emitted.head.getDouble(2) == 6.0)

    // batch 3: a late 10:02 event is behind the watermark — dropped, the
    // closed window is NOT re-emitted or revised
    input.addData((ts("10:02"), 100.0))
    q.processAllAvailable()
    assert(spark.table("wm_test").count() == 1)
    q.stop()
  }

  test("sessionize emits on in-batch gap and on watermark timeout, exactly once") {
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val sessions = EventsStream.sessionize(
      input.toDF().toDF("user_id", "ts", "value"), gapMinutes = 30)
    val q = sessions.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_test").start()

    // batch 1: user 7 has two events 10 min apart (one open session);
    // user 9 has one event
    input.addData((7L, ts("10:00"), 1.0), (7L, ts("10:10"), 2.0),
      (9L, ts("10:00"), 5.0))
    q.processAllAvailable()
    assert(spark.table("sess_test").count() == 0) // everything still open

    // batch 2: user 9 reappears 2h later — its first session closes via
    // the in-call gap logic; the same batch advances the watermark past
    // user 7's end+gap (10:40), so its session fires via EventTimeTimeout
    // in the follow-up no-data micro-batch processAllAvailable drains
    input.addData((9L, ts("12:00"), 7.0))
    q.processAllAvailable()
    val afterB2 = spark.table("sess_test")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
    assert(afterB2 == Set((9L, 1L, 5.0), (7L, 2L, 3.0)))

    // batch 3: an event inside user 9's open session extends it — nothing
    // new is emitted, and nothing is emitted twice
    input.addData((9L, ts("12:10"), 1.0))
    q.processAllAvailable()
    val afterB3 = spark.table("sess_test")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
    assert(afterB3 == afterB2)
    q.stop()
  }

  test("parquet file sink resumes from checkpoint exactly-once") {
    withTempDir("graft_fsink") { dir =>
      val input = MemoryStream[(Long, Double)](spark)
      def start() = input.toDF().toDF("id", "v").writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/cp")
        .outputMode(OutputMode.Append()).start()

      val q1 = start()
      input.addData((1L, 1.0), (2L, 2.0))
      q1.processAllAvailable(); q1.stop()

      // restart from the same checkpoint: only the new batch is written —
      // the committed offsets prevent re-emission of batch 1
      val q2 = start()
      input.addData((3L, 3.0))
      q2.processAllAvailable(); q2.stop()

      val ids = spark.read.parquet(s"$dir/out")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // all present, none duplicated
    }
  }

  test("stream-stream interval join matches only within the time bound across batches") {
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val purchases = MemoryStream[(Long, Timestamp, Double)](spark)
    val c = clicks.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val p = purchases.toDF().toDF("p_user", "purchase_ts", "value")
      .withWatermark("purchase_ts", "1 hour")
    val joined = c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_join_test").start()

    // purchase arrives in an earlier batch than the click it attributes
    purchases.addData((7L, ts("10:00"), 5.0))
    q.processAllAvailable()
    clicks.addData((7L, ts("10:30")))         // within the hour -> match
    clicks.addData((7L, ts("11:30")))         // 90 min later -> no match
    clicks.addData((8L, ts("10:30")))         // other user -> no match
    q.processAllAvailable()
    val rows = spark.table("ss_join_test")
      .select("user_id", "click_ts", "value").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 7L && rows.head.getDouble(2) == 5.0)
    q.stop()
  }

  test("left-outer interval join emits nulls only after the watermark closes the window") {
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val purchases = MemoryStream[(Long, Timestamp, Double)](spark)
    val c = clicks.toDF().toDF("click_id", "user_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val p = purchases.toDF().toDF("p_user", "purchase_ts", "purchase_value")
      .withWatermark("purchase_ts", "1 hour")
    val joined = c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"),
      "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("outer_join_test").start()

    // batch 1: user 1's click has a matching purchase -> the MATCH emits
    // immediately; user 2's click has none, but its null row must NOT
    // emit yet — a matching purchase could still arrive
    purchases.addData((1L, ts("09:30"), 5.0))
    clicks.addData((100L, 1L, ts("10:00")), (200L, 2L, ts("10:00")))
    q.processAllAvailable()
    val afterB1 = spark.table("outer_join_test")
      .collect().map(r => (r.getLong(0), r.isNullAt(4)))
    assert(afterB1.toSeq == Seq((100L, false)),
      s"only the matched row may emit before close-out: ${afterB1.toSeq}")

    // batch 2: both watermarks advance past 10:00 (events at 13:00 on
    // users that match nothing) -> click 200's window [09:00, 10:00] is
    // closed and its null row emits exactly once
    purchases.addData((8L, ts("13:00"), 1.0))
    clicks.addData((300L, 9L, ts("13:00")))
    q.processAllAvailable()
    val afterB2 = spark.table("outer_join_test")
      .collect().map(r => (r.getLong(0), r.isNullAt(3), r.isNullAt(4))).toSet
    assert(afterB2 == Set((100L, false, false), (200L, true, true)),
      s"null row must emit once the watermark closes the window: $afterB2")

    // batch 3: a LATE purchase behind the watermark cannot resurrect the
    // already-nulled click — no duplicate, no revision
    purchases.addData((2L, ts("09:45"), 9.0))
    q.processAllAvailable()
    assert(spark.table("outer_join_test").count() == 2)
    q.stop()
  }

  test("foreachBatch upsert sink maintains a current-state view across triggers") {
    // the CDC sink pattern: each micro-batch's per-key aggregate is
    // MERGEd into a maintained target (Merge.mergeUpsert), so the view
    // always equals the full-history aggregate without rescanning it —
    // foreachBatch is the API seam a warehouse/Delta upsert plugs into
    val input = MemoryStream[(Long, Double)](spark)
    @volatile var target = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total",
          org.apache.spark.sql.types.DoubleType))))
    val seen = scala.collection.mutable.Map.empty[Long, Double]
    val q = input.toDF().toDF("user_id", "v").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // running per-user totals: fold this batch into the driver-held
        // view (tiny per-key state; a real sink MERGEs into a table)
        batch.groupBy(col("user_id")).agg(sum(col("v")).as("total"))
          .collect().foreach { r =>
            seen(r.getLong(0)) = seen.getOrElse(r.getLong(0), 0.0) + r.getDouble(1)
          }
        import graft.SparkTestBase.spark.implicits._
        target = graft.operators.Merge.mergeUpsert(
          target, seen.toSeq.toDF("user_id", "total"), Seq("user_id"))
          .localCheckpoint()
        ()
      }
      .start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
    q.processAllAvailable()
    input.addData((1L, 4.0), (3L, 9.0)) // second trigger updates 1, inserts 3
    q.processAllAvailable()
    q.stop()
    val out = target.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 7.0, 2L -> 5.0, 3L -> 9.0))
  }

  test("foreachBatch ANN enrichment across triggers equals the batch ivf join") {
    // the q116 pattern driven trigger-by-trigger: query vectors arriving
    // in DIFFERENT micro-batches each probe the same pre-built IVF layout,
    // and the union of per-batch enrichments must equal the one-shot batch
    // join — per-query top-k is batch-local by construction (a query's
    // neighbors never straddle triggers)
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.operators.Similarity.ivfIndex(corpus, "semspec-ann", nlist = 8)
    val input = MemoryStream[Long](spark)
    val qvecs = corpus.select(col("vec_id").as("qv_id"), col("label"),
      col("embedding")).localCheckpoint()
    @volatile var acc: org.apache.spark.sql.DataFrame = null
    val q = input.toDF().toDF("qid").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val queries = qvecs.join(batch, col("qv_id") === col("qid"))
          .select(col("qv_id").as("vec_id"), col("label"), col("embedding"))
        val enriched = graft.operators.Similarity.ivfKnnJoin(corpus, queries,
          3, nlist = 8, nprobe = 8, datasetKey = "semspec-ann")
          .localCheckpoint()
        acc = if (acc == null) enriched else acc.unionAll(enriched)
        ()
      }
      .start()
    input.addData(0L, 1L)
    q.processAllAvailable()
    val afterB1 = acc.count()
    assert(afterB1 == 6, s"first trigger must enrich 2 queries x k=3: $afterB1")
    input.addData(2L, 3L, 4L) // second trigger: new queries, same layout
    q.processAllAvailable()
    q.stop()
    val streamed = acc.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val oneShot = graft.operators.Similarity.ivfKnnJoin(corpus,
      corpus.filter(col("vec_id") < 5), 3, nlist = 8, nprobe = 8,
      datasetKey = "semspec-ann").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(streamed == oneShot)
  }

  test("foreachBatch near-dup gate verdicts are batch-boundary-independent; corpus keyed once") {
    // the q123 pattern trigger-by-trigger: probes arriving in different
    // micro-batches are each gated against the SAME static corpus, so
    // the union of per-batch verdicts must equal gating all probes at
    // once — doc 100's near-dup is rejected in whichever trigger it
    // arrives, doc 102's novel text is admitted. The corpus side is a
    // pre-built shared index: the build counter must advance exactly
    // once for the whole run, however many triggers probe it — the
    // amortization q123 claims (a per-trigger rebuild is a full corpus
    // scan per micro-batch, which an online gate cannot pay).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((200L, base),
      (201L, "established corpus text nothing like the probes own words"))
      .toDF("doc_id", "text")
    def builds = graft.operators.Scratch.memoCounts
      .get("minhashJoinIndex").fold(0L)(_._2)
    val builds0 = builds
    val idx = graft.operators.Dedup.minhashJoinIndexShared(corpus, "semspec-gate")
    val probeText = Map(
      100L -> base,                                          // dup of 200
      101L -> "fresh original probe content first trigger sample words here",
      102L -> "another novel probe arriving in the second trigger entirely")
    val input = MemoryStream[Long](spark)
    @volatile var acc: org.apache.spark.sql.DataFrame = null
    val q = input.toDF().toDF("pid").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.collect().map(_.getLong(0))
        val probes = ids.map(i => (i, probeText(i))).toSeq.toDF("doc_id", "text")
        val hits = graft.operators.Dedup.minhashJoinProbe(probes, idx)
        val verdicts = probes.select(col("doc_id"))
          .join(hits.groupBy(col("probe_id").as("doc_id"))
            .agg(count(lit(1)).cast("int").as("n")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").isNull.as("admitted"))
          .localCheckpoint()
        acc = if (acc == null) verdicts else acc.unionAll(verdicts)
        ()
      }
      .start()
    input.addData(100L, 101L)
    q.processAllAvailable()
    assert(acc.count() == 2, "first trigger must gate both probes")
    input.addData(102L)
    q.processAllAvailable()
    q.stop()
    val got = acc.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(100L -> false, 101L -> true, 102L -> true), s"got $got")
    // one build for the whole multi-trigger run, and a re-request of the
    // same (session, dataset) is a memo hit — the static side never
    // recomputes with trigger count
    assert(builds == builds0 + 1,
      "corpus-side index must be built exactly once across all triggers")
    val again = graft.operators.Dedup.minhashJoinIndexShared(corpus, "semspec-gate")
    assert(again.sh eq idx.sh, "shared index must be a memo hit")
    assert(builds == builds0 + 1)
  }

  test("drained gate and ANN enrichment read a durable sink — plan depth constant in triggers") {
    // the q123/q116 fixture paths end in a plain scan of the per-batch
    // append sink: no driver-side unionAll chain, so the returned plan
    // has no Union however many triggers ran (the O(triggers) plan-depth
    // accumulator is gone), and the verdict relation still matches the
    // batch-equivalence oracle (driver-gated; spot-checked here)
    val gate = EventsStream.nearDupGate(spark, sf)
    assert(!gate.queryExecution.optimizedPlan.toString.contains("Union"),
      "gate result must be a sink scan, not a per-trigger union")
    val admitted = gate.collect()
    assert(admitted.length == 50, "one verdict per probe doc")
    val ann = EventsStream.annEnrich(spark, sf)
    assert(!ann.queryExecution.optimizedPlan.toString.contains("Union"),
      "ANN enrichment result must be a sink scan, not a per-trigger union")
    assert(ann.count() == 15, "5 query vectors x k=3")
  }

  test("streaming dedup within watermark drops replays, keeps distinct ids, bounds state") {
    // at-least-once upstreams (Kafka replays, task retries) make exact
    // dedup a core streaming operator: dropDuplicatesWithinWatermark
    // keeps one copy per id while only retaining state for ids newer
    // than the watermark — bounded state on an unbounded stream
    val input = MemoryStream[(Long, Timestamp)](spark)
    val deduped = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_test").start()

    input.addData((1L, ts("10:00")), (1L, ts("10:01")), (2L, ts("10:02")))
    q.processAllAvailable()
    // replay of id=1 in a later batch, still within the watermark window
    input.addData((1L, ts("10:03")), (3L, ts("10:04")))
    q.processAllAvailable()
    val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))

    // advance event time far past the watermark gap: id=1's dedup state
    // has expired, so a very late re-occurrence is emitted again — the
    // documented contract (dedup guaranteed only within the watermark)
    input.addData((9L, ts("12:00")))
    q.processAllAvailable()
    input.addData((1L, ts("12:01")))
    q.processAllAvailable()
    val after = spark.table("dedup_test").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(1L, 1L, 2L, 3L, 9L))
    q.stop()
  }

  test("fixture-driven hourly rollup matches the batch plan with absolute window counts") {
    // the round-9 silent failure: a unit-scale ts misread (micros read as
    // nanos) compressed all event time 1000x, collapsing the hour windows
    // to 10 buckets — every test still passed because none asserted
    // ABSOLUTE counts from the real fixture. This one does, three ways:
    //  1. the streamed rollup must equal the batch groupBy row-for-row
    //     (catches stream-vs-batch divergence, the exact r09 mode);
    //  2. the fixture's events must span many distinct hours (a 1000x
    //     compression leaves < 10 — floor catches both paths agreeing on
    //     a wrong unit);
    //  3. total event_count must equal the raw fixture row count (no
    //     window may drop or duplicate events).
    val streamed = EventsStream.hourlyRollup(spark, sf)
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0).toString,
        r.getString(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val events = new graft.cube.Engine(spark, sf).table("events")
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("event_hour"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"), round(sum(col("value")), 2).as("total_value"))
      .collect().map(r => (r.getAs[java.time.LocalDateTime](0).toString,
        r.getString(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(streamed == batch)
    val nHours = streamed.map(_._1).distinct.size
    assert(nHours >= 24, s"fixture spans many hours; got $nHours — unit-scale ts error?")
    assert(streamed.map(_._3).sum == events.count())
  }

  test("fixture-driven interval join matches the batch join cardinality exactly") {
    // q54's r09 failure signature: 1000x-compressed timestamps put every
    // purchase within an hour of every click, so the join matched nearly
    // everything (13,432 rows vs 29). Pin the streamed join to the exact
    // batch interval join — cardinality AND rows — so a time-unit error
    // cannot hide behind schema/ordering checks.
    val streamed = EventsStream.purchaseAttribution(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2).toString,
        r.getAs[java.time.LocalDateTime](3).toString, r.getDouble(4))).sorted.toSeq
    val events = new graft.cube.Engine(spark, sf).table("events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2).toString,
        r.getAs[java.time.LocalDateTime](3).toString, r.getDouble(4))).sorted.toSeq
    assert(streamed == batch)
    // the degenerate regime is structurally impossible at a sane time
    // unit: matches must be well below clicks x purchases-per-user
    val nClicks = clicks.count(); val nPurch = purchases.count()
    assert(streamed.size < nClicks * nPurch / 10,
      s"join matched ${streamed.size} of ${nClicks * nPurch} possible pairs — time-unit error?")
  }

  test("sessionConversion aggregates exactly q39's sessions with sound conversion flags") {
    val stats = EventsStream.sessionConversion(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getAs[java.time.LocalDateTime](1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
    val base = EventsStream.userSessions(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getAs[java.time.LocalDateTime](1)), r.getLong(2)))
    // same session set, same per-session event counts
    assert(stats.map(_._1).toSeq.sorted == base.map(_._1).toSeq.sorted)
    val counts = stats.map { case (k, v) => k -> v._1 }.toMap
    base.foreach { case (k, n) => assert(counts(k) == n, s"session $k") }
    stats.foreach { case (k, (n, dur, purch, conv)) =>
      assert(dur >= 0 && purch >= 0 && purch <= n, s"session $k bounds")
      assert(conv == (purch > 0), s"session $k conversion flag")
      if (n == 1) assert(dur == 0, s"singleton session $k must have zero duration")
    }
  }

  test("transformWithState accumulates across triggers in RocksDB value state") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[graft.streaming.EventsStream.Ev](spark)
      val out = input.toDS().groupByKey(_.user_id)
        .transformWithState(new graft.streaming.EventsStream.SpendProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.toDF().writeStream.format("memory").queryName("tws_test")
        .outputMode(OutputMode.Update()).start()

      input.addData(
        graft.streaming.EventsStream.Ev(1L, 1000L, "view", 1.0),
        graft.streaming.EventsStream.Ev(1L, 2000L, "click", 2.0),
        graft.streaming.EventsStream.Ev(2L, 1500L, "view", 5.0))
      q.processAllAvailable()
      // batch 2: user 1's state must carry over (3 events, 6.0 total)
      input.addData(graft.streaming.EventsStream.Ev(1L, 3000L, "purchase", 3.0))
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("tws_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 3.0)))  // user 1 after batch 1
      assert(rows.contains((1L, 3L, 6.0)))  // user 1 after batch 2 — state survived
      assert(rows.contains((2L, 1L, 5.0)))  // untouched key not re-emitted with drift
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming CDC equals the batch apply row-for-row") {
    val stream = graft.streaming.EventsStream.cdcStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val batch = graft.operators.Merge.cdcApply(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("user-grain Complete drains never reach a driver memory sink") {
    // the q163 lesson, structurally asserted for both corpus-growing
    // Complete-mode drains: a memory sink would register a temp view
    // named after the query; the foreachBatch parquet shape registers
    // nothing, so the view's absence proves the user-grain state only
    // ever existed as a distributed frame
    graft.streaming.EventsStream.cdcStream(spark, sf).collect()
    assert(!spark.catalog.tableExists("graft_stream_cdc"),
      "q175's latest-op changelog leaked into a driver memory sink")
    graft.streaming.EventsStream.slidingActiveUsers(spark, sf).collect()
    assert(!spark.catalog.tableExists("graft_stream_wau"),
      "q163's (window, user) state leaked into a driver memory sink")
  }

  test("every drain restores session conf, stops its stream and deletes its checkpoint") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    val stateful = Seq("q32_stream_hourly", "q33_stream_user_state",
      "q54_stream_join", "q78_tws_spend", "q105_stream_enrich",
      "q109_stream_outer_join", "q242_stream_debounce", "q281_stream_trending",
      "q163_stream_wau", "q175_stream_cdc")
    val perBatch = Seq("q116_stream_ann_enrich", "q123_stream_neardup_gate")
    // a session no earlier test has run a drain in, so a conf key any
    // drain leaves behind shows up as a difference
    val fresh = spark.newSession()
    withTempDir("graft_drain_scratch") { scratch =>
      val progress =
        new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.add(e.progress)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      fresh.conf.set("spark.graft.streaming.scratchDir", scratch)
      fresh.streams.addListener(listener)
      try {
        for (q <- stateful ++ perBatch) {
          val before = fresh.conf.getAll
          graft.SparkEntry.queries(q)(fresh, sf).collect()
          assert(fresh.conf.getAll == before, s"$q left session conf changed")
          assert(fresh.streams.active.isEmpty, s"$q left a stream running")
          val left = java.nio.file.Files.list(java.nio.file.Paths.get(scratch))
            .iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("graft_ckpt_")).toSeq
          assert(left.isEmpty, s"$q left checkpoints $left")
        }
        org.apache.spark.graftplans.ListenerBus.drain(fresh)
        val byQuery = progress.asScala.toSeq.groupBy(_.name)
        val withState = byQuery.filter(_._2.exists(_.stateOperators.nonEmpty)).keySet
        assert(withState == Set("graft_stream_hourly", "graft_stream_users",
          "graft_stream_attrib", "graft_stream_tws", "graft_stream_nation",
          "graft_stream_attrib_outer", "graft_stream_debounce",
          "graft_stream_trending", "graft_stream_wau", "graft_stream_cdc"))
        for ((name, ps) <- byQuery; p <- ps; op <- p.stateOperators) {
          assert(op.numShufflePartitions == 4, s"$name state width")
          assert(op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
            s"$name state store is not RocksDB: ${op.customMetrics.keySet}")
        }
      } finally fresh.streams.removeListener(listener)
    }
  }

  test("overwrite drains over a zero-row source keep the populated run's schema") {
    withTempDir("graft_empty_events") { dir =>
      spark.read.parquet(s"$sf/events.parquet").limit(0)
        .write.parquet(s"$dir/events.parquet")
      def columns(df: org.apache.spark.sql.DataFrame) =
        df.schema.map(f => f.name -> f.dataType)
      for (q <- Seq("q163_stream_wau", "q175_stream_cdc")) {
        val populated = columns(graft.SparkEntry.queries(q)(spark, sf))
        val empty = graft.SparkEntry.queries(q)(spark, dir)
        assert(empty.collect().isEmpty, q)
        assert(columns(empty) == populated, q)
      }
    }
  }

  test("session paths: every path has at most 3 hops and counts sum to sessions") {
    val paths = graft.streaming.EventsStream.topSessionPaths(spark, sf)
      .collect()
    assert(paths.nonEmpty && paths.length <= 5)
    paths.foreach { r =>
      assert(r.getString(0).split(" > ").length <= 3)
    }
    // ranked desc
    val counts = paths.map(_.getLong(1)).toSeq
    assert(counts == counts.sorted.reverse)
  }

  test("debounce state carries across micro-batches") {
    val input = MemoryStream[(Long, String, Timestamp)](spark)
    val flags = EventsStream.debounceFlags(
      input.toDF().toDF("user_id", "event_type", "ts"), gapSeconds = 300L)
    val q = flags.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("deb_test").start()

    def kept(): Seq[Long] =
      spark.table("deb_test").collect().map(_.getLong(1)).toSeq

    // batch 1: burst opener kept, +2 min follower dropped
    input.addData((7L, "click", ts("10:00")), (7L, "click", ts("10:02")))
    q.processAllAvailable()
    assert(kept() == Seq(1L, 0L))

    // batch 2: +1 min after the batch-1 tail — only droppable if the
    // last-seen time SURVIVED the batch boundary
    input.addData((7L, "click", ts("10:03")))
    q.processAllAvailable()
    assert(kept() == Seq(1L, 0L, 0L))

    // batch 3: past the 5-minute gap from 10:03 -> kept again; a
    // different event_type is an independent key and always opens
    input.addData((7L, "click", ts("10:09")), (7L, "view", ts("10:09")))
    q.processAllAvailable()
    assert(kept().sorted == Seq(0L, 0L, 1L, 1L, 1L))
    q.stop()
  }

  test("trending leaderboard ranks top-3 per window with deterministic tiebreak") {
    import org.apache.spark.sql.functions._
    val out = graft.streaming.EventsStream.trendingTopK(spark, sf).cache()
    try {
      // every window emits at most 3 ranked rows, ranks start at 1
      val perWin = out.groupBy(col("win_start"))
        .agg(count(lit(1)).as("n"), min(col("rk")).as("lo"),
          max(col("rk")).as("hi"))
        .collect()
      perWin.foreach { r =>
        assert(r.getLong(1) <= 3 && r.getInt(2) == 1 && r.getInt(3) <= 3)
      }
      // rank order within a window follows count desc, then type asc
      val one = out.filter(col("win_start") ===
        out.select(min(col("win_start"))).head().getAs[Any](0))
        .orderBy(col("rk")).collect()
      val counts = one.map(_.getLong(2)).toSeq
      assert(counts == counts.sortBy(-_))
    } finally out.unpersist()
  }
}
