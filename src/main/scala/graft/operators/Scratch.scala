package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of session-scoped state, in two scopes.
  *
  * QUERY scope — SCRATCH checkpoint frames: big intermediates an
  * operator materializes with localCheckpoint for reuse WITHIN one query
  * (exploded token-counts frames, shingle frames, label-propagation
  * rounds) but that nothing needs once the query's result is consumed.
  * Without an explicit release those MEMORY_AND_DISK blocks stay pinned
  * until the driver happens to GC the plan references (ContextCleaner),
  * which on a long-lived session means every later query runs against a
  * storage pool full of dead blocks — exactly the eviction pressure a
  * 100 TB deployment cannot afford. Operators checkpoint each scratch
  * frame through [[staged]], which records it; the HARNESS (Verify / Bench / a
  * production pipeline driver) calls [[releaseAll]] at each query
  * boundary, after the result is materialized to its sink.
  *
  * SESSION scope — [[memo]]ized values (the shared near-dup pair and
  * postings frames, the corpus counts frames, the ANN index layouts)
  * and the checkpoint blocks their builds [[stageShared]]. They survive
  * [[releaseAll]] and live until [[invalidate]] — after a dataset
  * rewrite, or per bench pass so timings include the build — or until
  * the session is stopped.
  *
  * APPLICATION scope — [[ownedPath]] directory trees: the ANN index
  * layouts and the sink-roundtrip outputs a session writes under the
  * temp or index root. They outlive [[invalidate]] (q154's disk-memoized
  * base layout must survive it) and are deleted when the session's
  * SparkContext stops.
  *
  * LOCAL vs RELIABLE checkpoints — the decision, made once here, in
  * [[stage]], the ONLY checkpoint call site in the engine (lint-gated by
  * CheckpointModeSpec): the default is `localCheckpoint` (executor-local
  * MEMORY_AND_DISK blocks, no replication). The frames involved are (a)
  * short-lived — scratch dies at the query boundary, iteration barriers
  * (label propagation, PageRank) die with the loop — and (b) cheap to
  * recompute relative to the reliable alternative's cost: `checkpoint()`
  * writes every block to the cluster-wide checkpoint dir and reads it
  * back, i.e. a full extra write+read of a multi-TB intermediate per
  * barrier at the 100 TB scale point, paid ALWAYS, versus re-running one
  * query's lineage in the rare event an executor dies mid-query. Losing
  * a localCheckpoint block fails the query, not the session (memos
  * recompute on next use; Verify/Bench rerun the query). A deployment on
  * preemptible/spot executors — where mid-query executor loss is the
  * NORM, not the tail — inverts that trade: set
  * `sparkContext.setCheckpointDir` on shared storage and every [[stage]]
  * site becomes a durable `checkpoint()` with the same plan shape. The
  * registry applies in that mode too: it records each reliable frame's
  * checkpoint directory, and [[releaseAll]] / [[invalidate]] delete
  * those files along with unpersisting the blocks, so a harness that
  * invalidates before `spark.stop()` (Verify, Bench, Soak do) leaves no
  * `rdd-*` files behind. Spark's ContextCleaner
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`, a `GraftSession`
  * default) still reclaims the files of RDDs the driver GCs earlier.
  */
object Scratch {
  import scala.collection.concurrent.TrieMap

  private val QueryScope = "query"
  private val SessionScope = "session"

  // The registry records RDD IDs and, for reliable checkpoints, the
  // checkpoint directory as a String — never object references: a strong
  // DataFrame registry would pin every scratch frame for the session's
  // lifetime if a library caller (outside Verify/Bench) never drains it
  // — the hygiene mechanism itself becoming the leak — while weak
  // references are cleared by routine young-gen GC long before the
  // drain, making the release nondeterministic. An Int survives until
  // drained, holds nothing alive, and resolves through the context's
  // persistent-RDD map at release time; an id the ContextCleaner
  // already reclaimed simply resolves to nothing. Keyed by (session,
  // scope).
  private val reg = TrieMap.empty[(SparkSession, String),
    scala.collection.mutable.ArrayBuffer[(Int, Option[String])]]

  // Session-scope memo values, keyed by (session, kind, key). The kind
  // is part of the key so two operators' keys cannot collide. A
  // TrieMap's getOrElseUpdate runs the build outside any lock, so builds
  // may nest (ConcurrentHashMap.computeIfAbsent throws on that).
  private val memos = TrieMap.empty[(SparkSession, String, Any), Any]

  // Directory trees recorded by ownedPath, keyed by session; deleted at
  // context stop or by the prune of a dead session, never dropped
  // without being deleted.
  private val owned = TrieMap.empty[SparkSession, scala.collection.mutable.Set[String]]

  // JVM-wide [hits, misses] per memo kind.
  private val counts =
    TrieMap.empty[String, java.util.concurrent.atomic.AtomicLongArray]

  /** Truncate `df`'s lineage with an EAGER checkpoint — the engine's
    * single checkpoint chokepoint. Without a checkpoint dir (the
    * default) it uses `localCheckpoint` (executor-local MEMORY_AND_DISK —
    * fast, executor-churn-unsafe); once `sparkContext.setCheckpointDir`
    * is set it uses reliable `checkpoint` (durable blocks in that dir —
    * survives executor loss, the preemptible/spot-fleet mode). Identical
    * plan shape and results either way (CheckpointModeSpec asserts
    * both).
    */
  def stage(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** [[stage]], recorded in the QUERY scope — the per-query scratch
    * checkpoint: lineage cut now, blocks released at the next query
    * boundary ([[releaseAll]]).
    */
  def staged(df: DataFrame): DataFrame = record(stage(df), QueryScope)

  /** [[stage]] for [[memo]]ized multi-consumer frames (the shared
    * pair/postings/counts memos), recorded in the SESSION scope so
    * [[invalidate]] releases the blocks. Identical to [[stage]] in the
    * default localCheckpoint mode (the blocks are already
    * MEMORY_AND_DISK). In the reliable mode, `checkpoint()` leaves the
    * frame backed by FILES only — every consumer of the memo then
    * re-reads the whole frame from the checkpoint dir (measured: q139
    * 1.36 s → 4.08 s, q191 1.28 s → 4.05 s at the 10× fixture,
    * SCALE_r14.json `x10.reliable`), which defeats the point of
    * memoizing. This variant additionally persists the checkpointed RDD
    * MEMORY_AND_DISK so consumers read blocks while the durable files
    * still back recovery: a lost block recomputes by re-reading its
    * checkpoint file, never by re-running corpus lineage. [[invalidate]]
    * unpersists the blocks and deletes the files.
    */
  def stageShared(df: DataFrame): DataFrame = {
    val ck = stage(df)
    if (reliable(df)) ck.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    record(ck, SessionScope)
  }

  private def record(df: DataFrame, scope: String): DataFrame = {
    pruneStopped(_.sparkContext.isStopped)
    val entries = df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = l.rdd
        (rdd.id, rdd.getCheckpointFile)
    }
    val buf = reg.getOrElseUpdate((df.sparkSession, scope),
      scala.collection.mutable.ArrayBuffer.empty[(Int, Option[String])])
    buf.synchronized { buf ++= entries }
    df
  }

  /** The value memoized for `spark` under (`kind`, `key`), building it on
    * the first call. `key` carries every field that makes two builds
    * differ (dataset key, index parameters); the caller-supplied dataset
    * key is trusted, so a caller that rewrites the data under it must
    * [[invalidate]]. Builds may nest (a build may memo another kind or
    * key). Hits and misses are counted per kind ([[memoCounts]]).
    */
  def memo[V](spark: SparkSession, kind: String, key: Any)(build: => V): V = {
    pruneStopped(_.sparkContext.isStopped)
    var missed = false
    val v = memos.getOrElseUpdate((spark, kind, key), { missed = true; build })
    counts.getOrElseUpdate(kind, new java.util.concurrent.atomic.AtomicLongArray(2))
      .incrementAndGet(if (missed) 1 else 0)
    v.asInstanceOf[V]
  }

  /** JVM-wide (hits, misses) of [[memo]] per kind since the driver
    * started.
    */
  def memoCounts: Map[String, (Long, Long)] =
    counts.map { case (k, c) => k -> (c.get(0), c.get(1)) }.toMap

  /** Record `path` as a directory tree of `spark`'s application and
    * return it. The tree survives [[releaseAll]] and [[invalidate]] and
    * is deleted when the session's SparkContext stops (a listener on the
    * application end, registered with the session's first path), so an
    * application leaves none of its layouts or roundtrip outputs behind.
    * Only recorded paths are deleted; the root is never listed.
    */
  def ownedPath(spark: SparkSession, path: String): String = {
    val fresh = scala.collection.mutable.Set.empty[String]
    val paths = owned.putIfAbsent(spark, fresh).getOrElse {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            pruneStopped(_ eq spark)
        })
      fresh
    }
    paths.synchronized { paths += path }
    path
  }

  /** Drop registry entries and memos whose session is dead — without
    * this, the map keys strongly retain every stopped SparkSession (and
    * its ids and memoized frames) for the driver's lifetime, so a
    * long-lived driver cycling sessions leaks them through the hygiene
    * mechanism itself. A stopped context has already torn down its block
    * manager, so there is nothing left to unpersist — dropping the entry
    * is the release. A dead session's [[ownedPath]] trees are deleted
    * here, the stop listener's work. Runs at every entry point; the predicate is
    * injectable so tests can exercise the prune without stopping the
    * JVM-wide shared context. Returns how many sessions were pruned.
    */
  private[operators] def pruneStopped(
      isStopped: SparkSession => Boolean): Int = {
    val dead = (reg.keys.map(_._1) ++ memos.keys.map(_._1) ++ owned.keys)
      .toSet.filter(isStopped)
    reg.keys.filter(k => dead(k._1)).foreach(reg.remove)
    memos.keys.filter(k => dead(k._1)).foreach(memos.remove)
    dead.foreach { s =>
      owned.remove(s).foreach { paths =>
        paths.synchronized { paths.toList }.foreach(deleteTree(s, _))
      }
    }
    dead.size
  }

  /** Unpersist every id `spark` recorded in `scope` that is still
    * persisted (non-blocking — the block manager drops the blocks
    * asynchronously, but they leave the storage pool's accounting
    * immediately) and delete the files of its reliable checkpoints; ids
    * and files the ContextCleaner already reclaimed are skipped.
    * Returns how many recorded ids were drained.
    */
  private def drain(spark: SparkSession, scope: String): Int = {
    pruneStopped(_.sparkContext.isStopped)
    reg.remove((spark, scope)).map { buf =>
      val entries = buf.synchronized { buf.toList }
      val persistent = spark.sparkContext.getPersistentRDDs
      entries.foreach { case (id, file) =>
        persistent.get(id).foreach(_.unpersist(blocking = false))
        file.foreach(deleteTree(spark, _))
      }
      entries.size
    }.getOrElse(0)
  }

  private def deleteTree(spark: SparkSession, p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Release every registered scratch frame of `spark` — the query
    * boundary. Returns how many registered ids were drained, so harnesses
    * and tests can assert operators actually registered their scratch.
    */
  def releaseAll(spark: SparkSession): Int = drain(spark, QueryScope)

  /** Drop every [[memo]] entry of `spark` and release the blocks its
    * builds [[stageShared]]; the next [[memo]] call of each kind
    * rebuilds from the data. Call it after rewriting a dataset under a
    * live key, or per bench pass so each pass pays the real build cost.
    * Returns how many session-scope ids were drained.
    */
  def invalidate(spark: SparkSession): Int = {
    memos.keys.filter(_._1 eq spark).foreach(memos.remove)
    drain(spark, SessionScope)
  }
}
