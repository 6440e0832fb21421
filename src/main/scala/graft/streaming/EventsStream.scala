package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._
import graft.operators.{EventAnalytics, Merge}
import graft.operators.EventAnalytics.sessionWindow
import graft.operators.Relational.{MicrosPerHour, MicrosPerMinute, MicrosPerSecond,
  elapsed, micros, ntzBucket, whole}

/** Structured Streaming over the events table (absent in the reference —
  * batch-only, SURVEY §2.9 — provided as [EXT] engine surface).
  *
  * Every registered streaming query ends in the one [[drain]]: the batch
  * parquet drives the stream under Trigger.AvailableNow, awaited to
  * self-termination, so results are deterministic and oracle-checkable
  * against the equivalent batch SQL. The drain writes one of three sinks:
  *
  *   - memory: the memory view is the answer (bounded results);
  *   - overwrite: Complete mode; each trigger overwrites a parquet sink
  *     with an executor-side rollup of the state, so user-grain state
  *     never reaches the driver (q163, q175);
  *   - per-batch: Append mode; batch `bid` overwrites its own
  *     `__bid=<bid>` parquet directory with a batch operator's output
  *     (q116, q123).
  *
  * The drain owns the whole lifecycle — stop a same-named stream, pick
  * or resume the checkpoint, scope the state conf, run, delete the
  * checkpoint, read the answer back — and sets no session conf of its
  * own. At scale the same plans run against a real source (Kafka/files)
  * with the watermark bounding state: the tumbling-window agg keeps one
  * row per (window, type) per trigger, and the stateful session op keeps
  * one state row per user.
  */
object EventsStream {

  /** Events stream with its schema taken from the batch parquet FOOTER
    * (a driver-side metadata read at plan time — the stream itself reads
    * the data files), so the physical ts encoding is whatever the fixture
    * generation actually wrote, never a hard-coded assumption. The raw ts
    * is then normalized by [[graft.cube.Engine.adaptTs]] (legacy
    * nanos-as-long -> micros; timestamp types pass through) and cast to
    * tz-aware TIMESTAMP — watermarks demand it, and under the pinned UTC
    * session the NTZ->TZ cast is value-preserving. Cast back to NTZ only
    * at the output edge. Returned with the input byte size
    * ([[streamTable]]), which [[drain]] sizes the state width by.
    */
  private def streamingEvents(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val (raw, bytes) = streamTable(spark, dir, "events")
    (graft.cube.Engine.adaptTs(raw).withColumn("ts", col("ts").cast(TimestampType)),
      bytes)
  }

  /** Stream a fixture table, schema from its parquet footer, handling
    * both physical layouts a table ships in at
    * [[graft.cube.Engine.tablePath]]: a single FILE (the fixture
    * generator's shape — file stream sources take directories, so the
    * file is selected with pathGlobFilter against its parent) and a
    * DIRECTORY of part files (the layout every distributed writer
    * produces — streamed directly, which is also what lets
    * `maxFilesPerTrigger` split the load into real micro-batches).
    * `spark.graft.streaming.maxFilesPerTrigger` bounds per-trigger file
    * count when set — the multi-batch knob the driver-restart chaos
    * harness uses to make checkpoint RESUME meaningful (some batches
    * committed, some not).
    *
    * Also returns the table's byte size, a driver-side metadata stat
    * summed through the Hadoop FS API (java.nio Files.size on a
    * multi-file parquet directory returns the ~4 KB directory entry,
    * silently collapsing the state width to its floor); 0 when the path
    * cannot be read.
    */
  private def streamTable(spark: SparkSession, dir: String, table: String)
      : (DataFrame, Long) = {
    val path = graft.cube.Engine.tablePath(dir, table)
    val p = new org.apache.hadoop.fs.Path(path)
    // footer-only driver read at plan time; the stream reads the data
    val reader = spark.readStream.schema(graft.cube.Engine.datasetSchema(spark, path))
    spark.conf.getOption("spark.graft.streaming.maxFilesPerTrigger")
      .foreach(reader.option("maxFilesPerTrigger", _))
    val (isDir, bytes) =
      try {
        val fs = hadoopFs(spark, path)
        (fs.getFileStatus(p).isDirectory, fs.getContentSummary(p).getLength)
      } catch { case _: Throwable => (false, 0L) }
    if (isDir) (reader.parquet(path), bytes)
    else (reader.option("pathGlobFilter", p.getName).parquet(p.getParent.toString), bytes)
  }

  /** Ephemeral checkpoint dir for a drain. Drains are synchronous
    * oracle-checkable runs whose checkpoints are deleted at stop —
    * temp-checkpoint semantics, no durability contract — yet Spark's
    * default temp location (java.io.tmpdir) sits on DISK, so every
    * micro-batch pays offset-log + commit-log + state-snapshot fsyncs for
    * files that outlive nothing. Point the scratch at RAM-backed storage
    * when present (`spark.graft.streaming.scratchDir`, default
    * `/dev/shm`; set it to a path or leave unset to fall back to Spark's
    * own temp dir when /dev/shm is absent). Production deployments set a
    * durable checkpointLocation on shared storage and never come here.
    */
  private def scratchCheckpoint(spark: SparkSession, name: String): Option[String] = {
    // `spark.graft.streaming.pinnedCkptRoot`: a STABLE per-drain
    // checkpoint path (no applicationId/nanoTime) — the driver-restart
    // chaos mode. A restarted JVM finds the killed run's offsets/state
    // under the same path and RESUMES (see drain) instead of
    // reprocessing from offset zero; on clean completion the drain
    // still deletes it, so the pin changes nothing for successful runs.
    spark.conf.getOption("spark.graft.streaming.pinnedCkptRoot") match {
      case Some(root) => Some(s"$root/$name")
      case None =>
        val root = spark.conf.getOption("spark.graft.streaming.scratchDir")
          .orElse {
            val shm = java.nio.file.Paths.get("/dev/shm")
            if (java.nio.file.Files.isDirectory(shm) &&
              java.nio.file.Files.isWritable(shm)) Some("/dev/shm") else None
          }
        root.map(r => s"$r/graft_ckpt_" +
          s"${spark.sparkContext.applicationId}_${name}_${System.nanoTime()}")
    }
  }

  /** Floor of the stateful width: stateful operators keep one state
    * store per shuffle partition (per join side) and the store
    * bookkeeping dominates at fixture volume — measured 3.5x on the
    * stream-stream join going 32 -> 8 partitions, a further ~11% across
    * the 17-stream sweep going 8 -> 4 (q109 3.1 -> 2.3 s), and 4 -> 2
    * flat. */
  private val MinStateWidth = 4

  /** Input bytes per state partition above the floor: state CARDINALITY
    * grows with the input — at the 100× fixture the WAU drain's
    * (window × user) state is ~28M rows, and a fixture-static width
    * would put ~7M-row state stores on single cores (the
    * `Par.pairExpansionWidth` lesson applied to streaming state). */
  private val StateBytesPerPartition = 32L << 20

  /** Scoped session conf a stateful drain runs under (restored on exit):
    * width `min(session shuffle width, max(4, ⌈input bytes / 32 MiB⌉))`,
    * and the RocksDB state store — HDFS-backed state maps live on the
    * executor HEAP, and a corpus-growing keyspace (users, join keys,
    * window×user dedup state) kills an executor-sized heap outright
    * (observed live: q163's drain at the 100× fixture under
    * local-cluster[4,8,8192] heap-OOM'd all four executors). RocksDB
    * keeps state in native memory + local disk, and results are
    * provider-agnostic (RocksDbStateSpec).
    */
  private def withStateConf(spark: SparkSession, inputBytes: Long)(body: => Unit): Unit = {
    val width = math.min(Bridge.numShufflePartitions(spark), math.max(MinStateWidth,
      math.ceil(inputBytes.toDouble / StateBytesPerPartition).toInt))
    val scoped = Seq("spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // explicit settings only: restoring a default would pin it in the conf
    val saved = scoped.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Where a drain's answer lands — see the object doc. */
  private sealed trait Sink
  private case object Memory extends Sink
  /** `rollup` runs executor-side on the full state each trigger. */
  private final case class Overwrite(rollup: DataFrame => DataFrame) extends Sink
  /** `f` runs on each micro-batch as a plain batch DataFrame. Each batch
    * overwrites its OWN `__bid=<bid>` directory: foreachBatch is
    * at-least-once — a driver killed between the parquet write and the
    * commit-log write re-runs that batch on restart, and a plain append
    * would then hold its rows TWICE; re-overwriting the same batch
    * directory is a no-op, so the sink reads back exactly once. */
  private final case class PerBatch(f: DataFrame => DataFrame) extends Sink

  /** Run `df` to completion into `sink` and return the drained answer.
    *
    *   - A same-named active stream is stopped first.
    *   - Resume: a checkpoint that already exists (only a pinned one
    *     can) is resumed only when the sink outlives the process — the
    *     parquet sinks, which hold the batches the dead run committed.
    *     A memory sink died with the old process, so resuming its
    *     offsets would lose every pre-kill emission: that drain, and
    *     every drain with no checkpoint to resume, starts from an empty
    *     checkpoint and sink.
    *   - Trigger.AvailableNow, not default-trigger + processAllAvailable
    *     + stop: the end offsets are computed once at start, the engine
    *     runs exactly the needed micro-batches (including the no-data
    *     batch that advances the watermark and flushes append-finalized
    *     state) and then terminates itself.
    *   - State conf ([[withStateConf]]) scopes every drain except the
    *     per-batch ones: their functions run batch joins on the stream's
    *     session and keep the session's width.
    *   - The checkpoint is deleted in a `finally`, so a failed or
    *     interrupted stream leaks no directory.
    *   - When no trigger fired (a source with no files) no parquet sink
    *     exists; the answer is then the sink's own function over an
    *     empty frame of `df`'s schema.
    */
  private def drain(df: DataFrame, inputBytes: Long, name: String,
      mode: OutputMode, sink: Sink): DataFrame = {
    val spark = df.sparkSession
    val query = s"graft_stream_$name"
    spark.streams.active.filter(_.name == query).foreach(_.stop())
    val ckpt = scratchCheckpoint(spark, name)
    val out = batchSink(spark, name)
    if (sink == Memory || !ckpt.exists(sinkExists(spark, _)))
      (ckpt.toSeq :+ out).foreach(resetSink(spark, _))
    val writer = df.writeStream.outputMode(mode).queryName(query)
      .trigger(Trigger.AvailableNow())
    ckpt.foreach(writer.option("checkpointLocation", _))
    sink match {
      case Memory => writer.format("memory")
      case Overwrite(rollup) => writer.foreachBatch { (batch: DataFrame, _: Long) =>
        rollup(batch).write.mode("overwrite").parquet(out)
      }
      case PerBatch(f) => writer.foreachBatch { (batch: DataFrame, bid: Long) =>
        f(batch).write.mode("overwrite").parquet(s"$out/__bid=$bid")
      }
    }
    def run(): Unit =
      try writer.start().awaitTermination()
      finally ckpt.foreach(resetSink(spark, _))
    sink match {
      case _: PerBatch => run()
      case _ => withStateConf(spark, inputBytes)(run())
    }
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)
    sink match {
      case Memory => spark.table(query)
      case Overwrite(rollup) =>
        if (sinkExists(spark, out)) spark.read.parquet(out) else rollup(empty)
      case PerBatch(f) =>
        if (sinkExists(spark, out)) spark.read.parquet(out).drop("__bid") else f(empty)
    }
  }

  /** Parquet sink of a drain: each micro-batch WRITES its rows and
    * forgets them, so driver state and plan depth are CONSTANT in the
    * trigger count. Rooted at the index layouts' root
    * ([[graft.operators.Similarity.indexRoot]]: `spark.graft.indexDir`,
    * a shared filesystem on a cluster, else the local tmpdir); keyed by
    * applicationId so concurrent sessions never collide, and deleted
    * when the context stops ([[graft.operators.Scratch.ownedPath]]). All
    * path ops go through the Hadoop FS API, mirroring
    * [[graft.operators.Similarity]]'s index layouts.
    */
  private def batchSink(spark: SparkSession, name: String): String = {
    // `spark.graft.streaming.pinnedSinkRoot`: a STABLE per-drain sink
    // path (no applicationId) — paired with pinnedCkptRoot in the
    // driver-restart chaos mode, so the restarted JVM appends to the
    // sink holding the dead run's committed batches instead of starting
    // a fresh one keyed by its new applicationId.
    spark.conf.getOption("spark.graft.streaming.pinnedSinkRoot") match {
      case Some(root) => s"$root/graft_${name}_sink"
      case None =>
        val root = graft.operators.Similarity.indexRoot(spark)
        graft.operators.Scratch.ownedPath(spark,
          s"$root/graft_${name}_sink_${spark.sparkContext.applicationId}")
    }
  }

  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def resetSink(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopFs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def sinkExists(spark: SparkSession, path: String): Boolean =
    hadoopFs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Tumbling 1-hour rollup with a 1-hour watermark — the streaming twin
    * of the batch `events` cube query (same oracle SQL applies).
    */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = streamingEvents(spark, dir)
    val agg = ev
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        round(sum(col("value")), 2).as("total_value"))
    drain(agg, bytes, "hourly", OutputMode.Complete(), Memory)
      .select(col("window.start").cast(TimestampNTZType).as("event_hour"),
        col("event_type"),
        col("event_count"), col("total_value"))
      .orderBy(col("event_hour"), col("event_type"))
  }

  /** Streaming trailing-7-day active users — the online twin of the batch
    * q160 expansion (same oracle SQL). Distinct-count is split into its
    * two phases across the stream/batch boundary: the STREAM holds the
    * heavy state — one row per (sliding 7d/1d window, user) via a
    * windowed group-by, which is exactly the dedup state a distinct needs
    * and is bounded by watermark eviction at scale — and the per-window
    * COUNT of those rows (cheap, one row per window-day) runs batch-side
    * on the sink table. Epoch-aligned 1-day slides make the stream's
    * window starts coincide with the batch day-truncation, so
    * win_day = window.start + 6d is the batch query's trailing-window
    * label exactly.
    */
  def slidingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = streamingEvents(spark, dir)
    val perUserWin = ev
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("__n"))
    // an Overwrite sink, NOT the memory sink: in Complete mode the sink
    // receives one row per (window, user) — USER-grain, corpus-growing
    // (~28M rows at the 100× fixture) — so the per-window COUNT rolls up
    // executor-side inside foreachBatch and only #window-days rows
    // (calendar-bounded) ever exist anywhere narrow.
    drain(perUserWin, bytes, "wau", OutputMode.Complete(), Overwrite(
      _.groupBy((col("w.start") + expr("INTERVAL 6 DAYS"))
          .cast(TimestampNTZType).as("win_day"))
        .agg(count(lit(1)).as("active_7d"))))
      .orderBy(col("win_day"))
  }

  /** Streaming CDC consumer — the online twin of the batch
    * `Merge.cdcApply` (q170, same oracle): the change log arrives as a
    * stream, the STREAM holds exactly the state a CDC consumer needs —
    * the latest operation per key, maintained by a `max_by` aggregate
    * over the (ts, event_id) sequence struct (one row per touched key,
    * bounded by key cardinality, no raw-log retention) — and the
    * snapshot merge runs batch-side on the drained latest-op table
    * through the SAME `Merge.applyLatestOps` the batch path uses, so the
    * two paths cannot diverge semantically. The latest-op state is
    * USER-grain and corpus-growing — the exact structure q163's WAU
    * drain heap-killed the driver-side memory sink with, one multiplier
    * later on the curve — so it drains through
    * an [[Overwrite]] sink: the changelog lands in a distributed
    * parquet sink executor-side and the snapshot merge scans it back;
    * at scale that sink IS the periodic snapshot publish.
    */
  def cdcStream(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = Merge.latestState(Merge.splitAtCutoff(Merge.logColumns(spark, dir))._1)
    val (stream, bytes) = streamingEvents(spark, dir)
    val latestOp = Merge.splitAtCutoff(stream)._2.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("op"))
    // struct flatten runs executor-side; the sink holds the drained
    // latest-op changelog as a distributed table, never a driver frame
    val drained = drain(latestOp, bytes, "cdc", OutputMode.Complete(), Overwrite(
      _.select(col("user_id"), col("op.event_type").as("event_type"),
        col("op.value").as("value"))))
    Merge.applyLatestOps(snapshot, drained)
  }

  /** Session path mining: the top-5 opening event-type sequences (first
    * 3 events, in time order) across q39's 30-minute session
    * windows — the "how do journeys start?" product probe. One
    * session_window aggregation assembles ordered paths (struct-sorted
    * collect_list, so ordering never needs a second shuffle), one count
    * ranks them, TakeOrderedAndProject bounds the answer.
    */
  def topSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val prefixLen = 3
    val events = new graft.cube.Engine(spark, dir).table("events")
    events
      .withColumn("tsq", col("ts").cast(TimestampType))
      .groupBy(col("user_id"), sessionWindow("tsq"))
      .agg(array_join(
        slice(transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          e => e.getField("event_type")), 1, prefixLen), " > ").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  // NB: public — encoder codegen cannot access private case classes
  case class Ev(user_id: Long, tsMicros: Long, event_type: String,
      value: Double)
  case class UserState(n: Long, lastTs: Long, lastType: String,
      total: Double)
  case class UserSummary(user_id: Long, n_events: Long,
      last_type: String, total_value: Double)

  /** Batch session windows: per-user sessions with a 30-minute inactivity
    * gap (session_window merges overlapping [ts, ts+gap) intervals). The
    * oracle is the classic gaps-and-islands SQL. Works identically over
    * readStream for online sessionization.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .groupBy(col("user_id"), sessionWindow("ts"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("w.start").cast(TimestampNTZType).as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Session-level conversion stats: [[userSessions]]' 30-minute
    * session windows aggregated to the funnel-analytics artifact —
    * per session, how long it ran, how many events it held, whether a
    * purchase happened inside it (the conversion flag a funnel report
    * divides by), and its value mass. Same one-shuffle session_window
    * plan; duration is integer micros arithmetic (`div`, not a double
    * divide — engines' cast conventions differ) over the session's
    * observed [first, last] event bounds, not the gap-padded window end.
    */
  def sessionConversion(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    events
      .withColumn("tsq", col("ts").cast(TimestampType))
      .groupBy(col("user_id"), sessionWindow("tsq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("__first"), max(col("ts")).as("__last"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("__first").as("session_start"),
        col("n_events"),
        whole(elapsed(col("__first"), col("__last")), MicrosPerSecond).as("duration_s"),
        col("n_purchases"), (col("n_purchases") > 0).as("converted"),
        col("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Sliding windows: 2-hour windows advancing hourly — every event lands
    * in exactly two windows. Same plan runs under readStream with a
    * watermark for online use.
    */
  def slidingTraffic(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("event_count"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Stream-static enrichment join: the event stream joined to a STATIC
    * dimension (user → customer nation) inside the streaming query and
    * rolled up per nation. The static side is re-planned per micro-batch
    * and explicitly broadcast, so the unbounded stream side never
    * shuffles for the join — the canonical pattern for enriching a
    * 100 TB/day stream with reference data. Aggregation state is one row
    * per nation (bounded); oracle is the equivalent batch join.
    */
  def nationSpend(spark: SparkSession, dir: String): DataFrame = {
    val cust = new graft.cube.Engine(spark, dir).table("customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val (ev, bytes) = streamingEvents(spark, dir)
    val agg = ev
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    drain(agg, bytes, "nation", OutputMode.Complete(), Memory)
      .orderBy(col("c_nationkey"))
  }

  /** Streaming ANN enrichment: a micro-batch stream of query vectors
    * enriched against the IVF-INDEXED corpus via `foreachBatch` +
    * [[graft.operators.Similarity.ivfKnnJoin]] — the [[nationSpend]]
    * stream-static pattern with an indexed static side. This is the
    * online-retrieval shape: the index layout is built (or reused) ONCE
    * before the stream starts, so each micro-batch pays only probe cost —
    * its query vectors broadcast against the cid-partitioned layout,
    * never a per-batch corpus scan or rebuild. foreachBatch is the seam:
    * inside it the batch is a plain DataFrame, so the whole batch ANN
    * surface composes unchanged.
    *
    * Run here in the exhaustive regime (nprobe = nlist over the nlist=8
    * layout), so the drained stream provably equals the exact kNN join —
    * its oracle. Per-batch top-k rows land in a [[PerBatch]] parquet
    * sink; the returned frame is a plain scan of it.
    */
  def annEnrich(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val corpus = new graft.cube.Engine(spark, dir).table("embeddings")
    Similarity.ivfIndex(corpus, dir, nlist = 8) // warm: batches probe only
    val (stream, bytes) = streamTable(spark, dir, "embeddings")
    drain(stream.filter(col("vec_id") < 5), bytes, "ann", OutputMode.Append(),
      PerBatch(Similarity.ivfKnnJoin(corpus, _, k = 3,
        nlist = 8, nprobe = 8, datasetKey = dir)))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Streaming ingestion near-dup gate: a stream of incoming documents
    * checked against the STATIC corpus with the bipartite minhash join
    * ([[graft.operators.Dedup.minhashJoin]] — q104's machinery) before
    * admission. This is the online-curation shape: a crawler/ingest feed
    * must reject near-duplicates of what the corpus already holds
    * WITHOUT re-deduping the corpus per batch. Each micro-batch emits
    * one verdict row per probe doc — admitted (no near-dup), or the
    * match count and worst jaccard.
    *
    * Per-doc verdicts depend only on (doc, corpus), never on batch
    * boundaries, so the drained stream provably equals the batch join —
    * its oracle. The static side is keyed ONCE before the stream starts
    * ([[graft.operators.Dedup.minhashJoinIndexShared]] — the q116
    * warm-index pattern): each micro-batch pays only its own shingles
    * plus the (band, sig) equi-join against the checkpointed corpus
    * signature frames, never a per-trigger corpus re-scan. Verdicts land
    * in a [[PerBatch]] parquet sink; the returned frame is a plain scan
    * of it, so driver state and plan depth stay constant in the trigger
    * count.
    */
  def nearDupGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = new graft.cube.Engine(spark, dir).table("documents")
    val corpus = docs.filter(col("doc_id") >= 50)
    // warm: the corpus is shingled + signed once per (session, dataset);
    // triggers probe the checkpointed frames
    val idx = Dedup.minhashJoinIndexShared(corpus, s"$dir#gate-corpus-50")
    val (stream, bytes) = streamTable(spark, dir, "documents")
    def gate(batch: DataFrame): DataFrame = {
      val hits = Dedup.minhashJoinProbe(batch, idx)
      batch.select(col("doc_id"))
        .join(hits.groupBy(col("probe_id").as("doc_id"))
          .agg(count(lit(1)).cast("int").as("__n"),
            max(col("jaccard")).as("max_jaccard")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("__n").isNull.as("admitted"),
          coalesce(col("__n"), lit(0)).as("n_dups"), col("max_jaccard"))
    }
    drain(stream.filter(col("doc_id") < 50), bytes, "gate", OutputMode.Append(),
      PerBatch(gate)).orderBy(col("doc_id"))
  }

  /** Per-type daily running totals — the analytic-window time-series
    * surface (cumulative sums over event time).
    */
  def runningDailyTotals(spark: SparkSession, dir: String): DataFrame = {
    val events = new graft.cube.Engine(spark, dir).table("events")
    val daily = events
      .groupBy(ntzBucket("day", col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        round(sum(col("value")), 2).as("day_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily
      .withColumn("running_value", round(sum(col("day_value")).over(w), 2))
      .withColumn("running_events", sum(col("event_count")).over(w))
      .orderBy(col("event_type"), col("day"))
  }

  // ts stays a Timestamp column end-to-end: the watermark tag travels
  // with the column, and flatMapGroupsWithState's event-time timeout
  // requires a watermarked input
  case class SessEv(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Online sessionization with flatMapGroupsWithState + event-time
    * timeout: a user's session closes (and is emitted exactly once)
    * either when a new event arrives past the gap, or — crucially for an
    * unbounded stream — when the WATERMARK passes session_end + gap with
    * no further events, via the state timeout. This is the capability
    * `session_window` aggregation cannot give you: per-session custom
    * payloads emitted on silence, with state removed (bounded memory).
    * Input df needs (user_id, ts: timestamp, value) and an event-time
    * watermark column `ts`.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): Dataset[SessionOut] = {
    val watermarkDelay = "10 seconds"
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * MicrosPerMinute
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, events, state: GroupState[SessionState]) =>
          def out(s: SessionState) = SessionOut(uid,
            new java.sql.Timestamp(s.start / 1000),
            new java.sql.Timestamp(s.end / 1000), s.n, s.total)
          if (state.hasTimedOut) {
            val done = out(state.get)
            state.remove()
            Iterator(done)
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.orNull
            events.toSeq.map(e => (e.ts.getTime * 1000L, e.value))
              .sortBy(_._1).foreach { case (us, v) =>
                if (cur == null) cur = SessionState(us, us, 1, v)
                else if (us - cur.end > gapUs) {
                  closed += out(cur)
                  cur = SessionState(us, us, 1, v)
                } else cur = SessionState(cur.start,
                  math.max(cur.end, us), cur.n + 1, cur.total + v)
              }
            state.update(cur)
            // fire when the watermark passes the gap after the last event
            state.setTimeoutTimestamp((cur.end + gapUs) / 1000)
            closed.iterator
          }
      }
  }

  case class DebEv(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  case class DebState(lastUs: Long)
  case class DebOut(event_type: String, kept: Long)

  /** The per-event keep/drop flag stage of [[streamingDebounce]], over
    * any (user_id, event_type, ts) stream — factored out so the
    * cross-batch state carry is testable on a MemoryStream.
    */
  def debounceFlags(events: DataFrame,
      gapSeconds: Long): Dataset[DebOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * MicrosPerSecond
    events
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[DebEv]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebState, DebOut](OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case ((_, typ), evs, state: GroupState[DebState]) =>
          var last = state.getOption.map(_.lastUs).getOrElse(Long.MinValue)
          val outs = evs.toSeq
            .map(e => e.ts.toInstant.getEpochSecond * MicrosPerSecond +
              e.ts.toInstant.getNano / 1000L)
            .sorted.map { us =>
              val kept =
                if (last == Long.MinValue || us - last >= gapUs) 1L else 0L
              last = us
              DebOut(typ, kept)
            }
          state.update(DebState(last))
          outs.iterator
      }
  }

  /** Streaming burst-collapse debounce — the stateful twin of the batch
    * debounce report (same oracle): per (user, event_type) the state is
    * the LAST SEEN event time; an event is kept when it opens a burst
    * (no predecessor, or the gap reached
    * [[graft.operators.EventAnalytics.DebounceGapSeconds]]). One tiny fixed
    * state record per key — this is the bounded-memory shape an
    * unbounded throttling ingest needs; equal-timestamp events collapse
    * identically under any intra-batch order, so the batch oracle's
    * event_id tiebreak has no observable effect on the rollup. Emits a
    * flag per event; the per-type rollup runs on the sunk table.
    */
  def streamingDebounce(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = streamingEvents(spark, dir)
    EventAnalytics.dropRates(drain(debounceFlags(ev, EventAnalytics.DebounceGapSeconds).toDF(),
      bytes, "debounce", OutputMode.Append(), Memory))
  }

  /** The interval-join condition of both attribution joins: the same
    * user's purchase within the hour up to and including the click. */
  private def purchaseInClickHour: Column =
    col("user_id") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
      col("purchase_ts") <= col("click_ts")

  /** The output rows of both attribution joins, read from the drain. */
  private def attributionRows(drained: DataFrame): DataFrame =
    drained.select(col("click_id"), col("user_id"),
        col("click_ts").cast(TimestampNTZType).as("click_ts"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("purchase_value"))
      .orderBy(col("click_id"), col("purchase_ts"))

  /** Stream-stream interval join: each click paired with the same user's
    * purchases in the hour leading up to it (purchase attribution).
    * Watermarks on BOTH sides plus the two-sided event-time bound are
    * what let Spark expire join state: a purchase older than
    * click-watermark - 1 h can never match again and is dropped, so
    * state stays proportional to one hour of traffic per key — this is
    * the only join shape that survives an unbounded 100 TB/day stream.
    * With the fixture driven as one batch it equals the batch interval
    * join, which is its oracle.
    */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = streamingEvents(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    attributionRows(drain(clicks.join(purchases, purchaseInClickHour),
      bytes, "attrib", OutputMode.Append(), Memory))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution variant a
    * real pipeline needs: every click is emitted, with null purchase
    * columns when no purchase preceded it within the hour. The
    * semantically hard part is WHEN the null emits: only once the
    * watermark passes the click's match window (until then a matching
    * purchase could still arrive), pinned by the multi-trigger
    * StreamSemanticsSpec test.
    *
    * Determinism at drain time: the fixture stream simply ends, and a
    * click whose match window the final watermark never closes would sit
    * in state forever — its null row never emits, which would diverge
    * from any batch oracle. So the query closes its domain: clicks are
    * restricted to at least 2 h older than the newest event OF EITHER
    * JOINED TYPE — strictly below the final global watermark, so every
    * kept click is matched-or-nulled exactly once before the drain. The
    * per-type maxima (not the full-stream max) are the correct anchor:
    * although each watermark is declared before its event-type filter,
    * Catalyst pushes the non-watermark-column filter BELOW the
    * EventTimeWatermark node, so each side's watermark tracks only its
    * own slice — max(click ts) - 1 h and max(purchase ts) - 1 h, with
    * the global watermark their min. A full-stream cutoff left the
    * newest click above the click-side watermark at one fixture scale
    * (its null row never emitted — caught by the cross-SF oracle sweep).
    * The oracle applies the same per-type cut. The cutoff is a 1-row
    * driver aggregate over the batch table; the stream itself never
    * reads batch data.
    */
  def purchaseAttributionOuter(spark: SparkSession, dir: String): DataFrame = {
    // typed timestamp math end-to-end: Engine.table normalizes whatever
    // the fixture physically stored, `micros` reads it back — no
    // physical-type assumption (the old getLong-of-nanos math broke when
    // the fixture moved to timestamp[us])
    val cutoffMicros = new graft.cube.Engine(spark, dir).table("events")
      .agg(least(
        max(when(col("event_type") === "click", micros(col("ts")))),
        max(when(col("event_type") === "purchase", micros(col("ts"))))))
      .collect()(0).getLong(0) - 2 * MicrosPerHour
    val (ev, bytes) = streamingEvents(spark, dir)
    val clicks = ev
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("event_type"))
      .withWatermark("click_ts", "1 hour")
      .filter(col("event_type") === "click" &&
        micros(col("click_ts")) <= cutoffMicros)
      .drop("event_type")
    val purchases = ev
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"), col("event_type"))
      .withWatermark("purchase_ts", "1 hour")
      .filter(col("event_type") === "purchase")
      .drop("event_type")
    attributionRows(drain(clicks.join(purchases, purchaseInClickHour, "left_outer"),
      bytes, "attrib_outer", OutputMode.Append(), Memory))
  }

  /** The final per-user state of an Update-mode changelog drained into
    * the memory table, which holds one row per (user, trigger that
    * touched it): `n_events` grows strictly per user, so the row with the
    * largest one is the final state. Returns `user_id`, `n_events`, the
    * `fields`, and `total_value` rounded to 2dp. Without this fold a
    * drain is correct only when the fixture runs as one micro-batch
    * (caught by the multi-batch driver-restart chaos probe). */
  private def finalState(changelog: DataFrame, fields: String*): DataFrame = {
    val kept = "n_events" +: fields
    changelog.groupBy(col("user_id"))
      .agg(max_by(struct((kept :+ "total_value").map(col): _*), col("n_events")).as("__s"))
      .select(col("user_id") +: kept.map(f => col(s"__s.$f").as(f)) :+
        round(col("__s.total_value"), 2).as("total_value"): _*)
      .orderBy(col("user_id"))
  }

  /** Custom per-key state via mapGroupsWithState: per-user event count,
    * running value total, and latest event type (by event time). With the
    * fixture driven as one batch this equals the batch
    * count/sum/max_by(event_type, ts) — which is its oracle.
    */
  def userSummaries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ev, bytes) = streamingEvents(spark, dir)
    val evs = ev
      .select(col("user_id"), micros(col("ts")).as("tsMicros"),
        col("event_type"), col("value"))
      .as[Ev]
    val summarized = evs.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSummary](GroupStateTimeout.NoTimeout()) {
        case (uid, events, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Long.MinValue, "", 0.0))
          // fold in event-time order so "latest type" is deterministic
          val next = events.toSeq.sortBy(e => (e.tsMicros, e.event_type))
            .foldLeft(prev) { (s, e) =>
              UserState(s.n + 1,
                math.max(s.lastTs, e.tsMicros),
                if (e.tsMicros >= s.lastTs) e.event_type else s.lastType,
                s.total + e.value)
            }
          state.update(next)
          UserSummary(uid, next.n, next.lastType, next.total)
      }
    finalState(drain(summarized.toDF(), bytes, "users", OutputMode.Update(), Memory),
      "last_type")
  }

  // ---- state API v2 (transformWithState, Spark 4) ----

  case class SpendState(n: Long, total: Double)
  case class SpendOut(user_id: Long, n_events: Long, total_value: Double)

  /** State API v2 processor: per-user running spend in a typed
    * `ValueState`. Versus `mapGroupsWithState`, the handle API gives
    * named composable state variables (value/list/map), per-variable TTL,
    * and event/processing-time timers — and requires the RocksDB state
    * store, whose changelog checkpointing is what bounds state-store
    * recovery time for large keyspaces. TTLConfig.NONE here: the fixture
    * is bounded; production sets a TTL to cap abandoned-key state.
    */
  class SpendProcessor extends StatefulProcessor[Long, Ev, SpendOut] {
    @transient private var state: ValueState[SpendState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SpendState]("spend",
        org.apache.spark.sql.Encoders.product[SpendState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[SpendOut] = {
      val prev = if (state.exists()) state.get() else SpendState(0L, 0.0)
      val next = rows.foldLeft(prev)((s, e) => SpendState(s.n + 1, s.total + e.value))
      state.update(next)
      Iterator.single(SpendOut(key, next.n, next.total))
    }
  }

  /** Per-user running spend via `transformWithState` — the streaming twin
    * of `SELECT user_id, count(*), sum(value) GROUP BY user_id`, which is
    * its oracle when the fixture drives as one batch.
    */
  def userSpendTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ev, bytes) = streamingEvents(spark, dir)
    val evs = ev
      .select(col("user_id"), micros(col("ts")).as("tsMicros"),
        col("event_type"), col("value"))
      .as[Ev]
    val out = evs.groupByKey(_.user_id)
      .transformWithState(new SpendProcessor, TimeMode.None(), OutputMode.Update())
    finalState(drain(out.toDF(), bytes, "tws", OutputMode.Update(), Memory))
  }

  /** Streaming trending leaderboard: tumbling 6-hour windows of
    * per-type counts maintained by the STREAM (watermarked windowed
    * group-by — the unbounded, heavy half), then the top-3 rank per
    * window computed batch-side over the drained window×type frame
    * (bounded: #windows · #types rows — never event-sized). This is the
    * standard trending-topics split: state in the stream, leaderboard on
    * the tiny rollup. Ties rank deterministically by type name.
    */
  def trendingTopK(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    val (ev, bytes) = streamingEvents(spark, dir)
    val agg = ev
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val drained = drain(agg, bytes, "trending", OutputMode.Complete(), Memory)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    drained
      .select(col("window.start").cast(TimestampNTZType).as("win_start"),
        col("event_type"), col("n_events"))
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= k)
      .orderBy(col("win_start"), col("rk"), col("event_type"))
  }
}
