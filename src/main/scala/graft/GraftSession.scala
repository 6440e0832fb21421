package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory — the configuration half of the
  * engine's scale posture, in one place instead of scattered per-main.
  *
  * Correctness pins, which win over every other source of conf:
  *   - UTC session time zone: every timestamp in the engine is naive
  *     wall-clock (TIMESTAMP_NTZ surface); a non-UTC session would shift
  *     NTZ<->TZ casts and break cross-engine determinism.
  *   - TIMESTAMP_MICROS parquet output: results round-trip with the same
  *     physical type ANSI engines write (INT96 reads back as nanos).
  *   - nanosAsLong: legacy fixture generations stored the events ts as
  *     TIMESTAMP(NANOS), which the vectorized reader otherwise rejects;
  *     with the flag it scans as long and `cube.Engine.adaptTs` converts
  *     schema-adaptively (current fixtures store timestamp[us] and pass
  *     through untouched — the flag is then inert but kept so both
  *     encodings read in one session).
  *
  * Performance defaults, each applied only when the caller sets no value
  * for its key (through `SPARK_GRAFT_EXTRA_CONF` or a `spark.*` JVM
  * system property — spark-defaults, `--conf`):
  *   - shuffle partitions: the `builder` argument. There is no correct
  *     global default — size to ~2-3x total cores on a cluster, to the
  *     core count locally. (The streaming drains further cap stateful
  *     partitions — see `streaming.EventsStream`.)
  *   - AQE + partition coalescing + skew-join splitting on (Spark 4
  *     defaults, restated). AQE is the first line of defense for skew;
  *     `operators.Skew` is the explicit fallback.
  *   - the AQE coalescing floor at 64k (see [[settings]]), the UI off,
  *     and checkpoint-file cleanup on.
  *
  * Applies [[GraftExtensions]]: the engine's SQL functions
  * (cosine_similarity, dot_product, ...) so pure-SQL users get the native
  * codegen expressions, and the width rule for heavy per-row stages
  * (`operators.Par`).
  */
object GraftSession {

  /** Parsed `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` pairs — arbitrary session
    * conf for harness experiments (e.g. a speculation-mode sweep:
    * spark.speculation=true;spark.speculation.quantile=0.3) without a
    * per-experiment rebuild.
    */
  private def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k.trim, v.trim)
      }

  /** The session conf [[builder]] applies, in order (a later entry for
    * the same key wins): the performance defaults whose key neither
    * `extra` nor `props` (the JVM system properties) sets, then `extra`,
    * then the correctness pins.
    */
  private[graft] def settings(shufflePartitions: Int,
      extra: Seq[(String, String)],
      props: Map[String, String]): Seq[(String, String)] = {
    val performance = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // AQE's coalescer never splits below this floor, and the Spark
      // default (1m) binds exactly when a shuffle's TOTAL bytes are
      // small (< ~cores × 1 MiB): bounded rollup/window frames collapse
      // to 1-2 partitions and every sort/window/aggregate ABOVE them
      // runs on 1-2 cores while the rest of the session idles (measured:
      // the events-table window family's user_id exchanges all ran
      // single-task at the bench fixture — 0.6-1.1 s serialized stages;
      // 64k keeps them at `parallelismFirst` width, a ~18 s/318-query
      // suite win). Scale-neutral by construction: the floor only
      // matters when a shuffle is tiny — at deployment bytes the
      // advisory/parallelism sizing dominates long before a 64k floor is
      // reachable, and `parallelismFirst` (Spark default, kept) still
      // caps the width at the session's parallelism.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // inert without a checkpoint dir; with one (the reliable mode, see
      // operators.Scratch) it lets the ContextCleaner reclaim reliable
      // checkpoint FILES when their RDDs are GC'd (Scratch.releaseAll
      // drains the blocks; without this every durable file stays in the
      // dir)
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.ui.enabled" -> "false")
    val correctness = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val callerKeys = extra.map(_._1).toSet ++ props.keySet
    performance.filterNot(kv => callerKeys(kv._1)) ++ extra ++ correctness
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .withExtensions(new GraftExtensions)
    settings(shufflePartitions, extraConf, sys.props.toMap)
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** The harness mains' session: [[local]] sized to `SPARK_GRAFT_CPUS`
    * threads, else to every core of the host.
    */
  def local(): SparkSession = local(sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt))

  /** Local session sized to `cpus` threads (the harness shape).
    *
    * `SPARK_GRAFT_RELIABLE_CKPT_DIR=<dir>` sets the context's checkpoint
    * dir, and a checkpoint dir switches every `operators.Scratch.stage`
    * site to the durable-checkpoint mode, so every harness main — Verify,
    * Bench, Soak — can run the preemptible-cluster configuration
    * unmodified; the measured cost delta of that mode lives in
    * SCALE_r14.json.
    *
    * `SPARK_GRAFT_MASTER` overrides the master URL — the multi-process
    * soak mode. `local-cluster[4,8,8192]` runs 4 executor JVMs × 8 cores
    * × 8 GiB so exchanges, broadcasts, and task results actually
    * serialize across process boundaries (a `local[n]` session never
    * exercises shuffle-block transport or executor-heap — as opposed to
    * shared-heap — memory pressure, which is exactly where
    * broadcast-misestimate failures bite on a real cluster). That mode
    * needs the application classes shipped to the executor JVMs:
    * `SPARK_GRAFT_JARS=<path/to/packaged.jar>` (sbt package) goes to
    * `spark.jars`, and the executors get the same JDK-17 --add-opens
    * set the driver runs with (build.sbt's `jdk17AddOpens`), which
    * spark-submit would otherwise inject.
    */
  def local(cpus: Int): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = builder(master, cpus)
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => b.config("spark.jars", j))
    if (master.startsWith("local-cluster")) {
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
      // APPEND to (never clobber) options the user supplied through
      // either external channel — a `spark.executor.extraJavaOptions`
      // JVM system property (how spark-defaults reach an in-process
      // SparkConf) or the SPARK_GRAFT_EXTRA_CONF env hook (whose
      // builder-time .config this pinned one would otherwise silently
      // shadow) — so soak-time GC tuning survives the injection
      val prior = (sys.props.get("spark.executor.extraJavaOptions").toSeq ++
        extraConf.collect { case ("spark.executor.extraJavaOptions", v) => v })
        .map(_.trim).filter(_.nonEmpty)
      b.config("spark.executor.extraJavaOptions",
        (prior :+ addOpens).mkString(" "))
    }
    if (master.startsWith("local-cluster")) {
      // local-cluster[n, cores, mem] sizes each WORKER's capacity at
      // `mem` MiB — but the executor JVM still launches at the
      // spark.executor.memory DEFAULT (-Xmx1024M) unless set, a silent
      // 8x heap under-provision (discovered round 17: every
      // "[4,8,8192]" soak executor had been running on a 1 GiB heap —
      // 8 task threads x 128 MiB). Default the executor heap to the
      // worker capacity so the master string means what it says; an
      // explicit spark.executor.memory (sys-prop or extra-conf hook)
      // still wins.
      val memMb = master.stripPrefix("local-cluster[").stripSuffix("]")
        .split(',')(2).trim
      if (sys.props.get("spark.executor.memory").isEmpty &&
          !extraConf.exists(_._1 == "spark.executor.memory"))
        b.config("spark.executor.memory", s"${memMb}m")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }

  /** 1-minute load average of the host, or -1 where /proc is absent —
    * the contention stamp both timing mains (Bench, Soak) record per
    * pass so a noisy sample is self-diagnosing from the artifact.
    */
  def loadAvg1m(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
}
