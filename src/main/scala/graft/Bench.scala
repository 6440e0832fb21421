package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Timed samples per query. Medians, not single shots: on a shared box
    * the per-query noise between identical binaries measured >10x
    * (q90 4.2<->12.5s, q77 15.2<->0.6s across two runs of the SAME code),
    * so a single sample is dominated by whichever contention window it
    * lands in. Three samples with a median collapse that to the clean
    * time. Passes are INTERLEAVED (run every query once, then repeat the
    * whole sweep) rather than back-to-back per query, so one multi-second
    * contention window poisons at most one sample of each query instead
    * of all three samples of one query.
    */
  private val Passes = 3

  /** Untimed warm-up of `names` on `dir`: pays the one-off JVM / codegen
    * / parquet-footer costs so the timed passes measure the queries, not
    * class loading. A failure is logged; the first timed pass then
    * absorbs that query's one-off costs.
    */
  private[graft] def warmUp(spark: SparkSession, names: Seq[String], dir: String,
      tag: String): Unit =
    names.foreach { name =>
      countOk(spark, name, dir, s"[$tag] warm-up of")
      graft.operators.Scratch.releaseAll(spark)
    }

  /** `passes` timed passes over `names` on `sfDir`, as (name, seconds)
    * samples. Each pass runs `onPass`, then [[graft.operators.Scratch.invalidate]]:
    * the session memos (the shared near-dup pair frame, ANN index
    * layouts, corpus counts) are cleared at the START of every pass, so
    * the first consumer in every pass computes the real pipeline while
    * the later consumers still measure the intended shared-frame shape.
    * Each sample times the query's `count()`; the scratch release after
    * it runs outside the timed window, so the next query starts with a
    * storage pool free of its neighbor's blocks. A failed query samples
    * -1 and logs its exception to stderr.
    */
  private[graft] def timedPasses(spark: SparkSession, names: Seq[String],
      sfDir: String, passes: Int, tag: String)(onPass: => Unit): Seq[(String, Double)] =
    (1 to passes).flatMap { _ =>
      onPass
      graft.operators.Scratch.invalidate(spark)
      names.map { name =>
        val t0 = System.nanoTime()
        val ok = countOk(spark, name, sfDir, s"[$tag]")
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Scratch.releaseAll(spark)
        name -> (if (ok) dt else -1.0)
      }
    }

  private def countOk(spark: SparkSession, name: String, dir: String,
      label: String): Boolean =
    try { SparkEntry.queries(name)(spark, dir).count(); true }
    catch { case e: Throwable =>
      System.err.println(s"$label $name on $dir failed: " +
        s"${e.getClass.getName}: ${e.getMessage}")
      false
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // ANN index builds (q106-q108) run FIRST in each pass, right after
    // the memo invalidation: they are timed as their own entries (the
    // amortized build cost), and by populating the memos they make the
    // probe queries (q29/q46/q101) measure PROBE latency against a warm
    // index — the figure that matters at scale — instead of conflating
    // build + probe as one number.
    // Dev-loop filters: comma-separated substrings of query names to skip
    // (A/B isolation of one query's residue) or to keep exclusively
    // (targeted timing of one family). Unset for driver runs.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val names = {
      val all = SparkEntry.queries.keys.toSeq
        .filterNot(n => skip.exists(n.contains))
        .filter(n => only.isEmpty || only.exists(n.contains))
      val (builds, rest) = all.partition(_.contains("index_build"))
      builds.sorted ++ rest
    }
    // Untimed warmup at the smallest scale factor. Warms only the
    // selected names so a filtered dev loop doesn't pay the full
    // 318-query warmup.
    warmUp(spark, names, "/root/testdata/sf0.001", "bench")
    // Self-identification: the emitted JSON names the active skip list
    // and each pass's wall-clock start, so a filtered run or one whose
    // timings straddle a host-contention window is self-diagnosing from
    // the artifact alone (cross-round comparisons have been poisoned by
    // both before — see the q99 contamination verdicts).
    val passStarts = scala.collection.mutable.ArrayBuffer.empty[Long]
    // 1-minute loadavg at each pass start: pass-to-pass spreads of 3-7x
    // on this box are HOST contention, not code (BENCH_BISECT_r10), and
    // the stamp makes a contaminated pass self-diagnosing from the
    // artifact alone instead of requiring a re-bench to suspect it.
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Without the per-pass memo clear only the first sample of the first
    // consumer would pay the pipeline, and the median would silently
    // report checkpoint-read time as the query's cost.
    val samples = timedPasses(spark, names, sfDir, Passes, "bench") {
      passStarts += System.currentTimeMillis() / 1000L
      passLoads += GraftSession.loadAvg1m()
    }
    val results = names.map { name =>
      val xs = samples.collect { case (`name`, t) => t }
      // Any failed sample marks the query failed (-1), matching the
      // single-run contract the driver parses.
      name -> (if (xs.contains(-1.0)) -1.0 else median(xs))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Index builds (q106-q108) are deliberately timed entries — the
    // amortized build cost — but they are NOT query-path work, and rounds
    // before they existed reported totals without them. builds_total is
    // emitted alongside so cross-round totals compare like-for-like:
    // query-path cost = value - builds_total.
    val buildsTotal =
      results.filter(_._1.contains("index_build")).map(_._2).filter(_ >= 0).sum
    // Min-of-passes companion total: the median absorbs one contention
    // window but still inflates when two of three passes are noisy; the
    // per-query MIN is the best contention-free estimate this box
    // produced, so value_min is the honest lower envelope to compare
    // across rounds (raw per-pass samples are in bench_full.json).
    val minResults = names.map { name =>
      val xs = samples.collect { case (`name`, t) => t }
      name -> (if (xs.contains(-1.0)) -1.0 else xs.min)
    }
    val totalMin = minResults.map(_._2).filter(_ >= 0).sum
    val skipJson = (skip ++ only.map("only:" + _))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val passJson = passStarts.mkString("[", ",", "]")
    val loadJson = passLoads.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"value_min":$totalMin,"builds_total":$buildsTotal,"unit":"sec","queries":$qs,"sf":"$sfDir","skip":$skipJson,"pass_started_epoch_s":$passJson,"pass_load_1m":$loadJson}"""
    println(line)
    // Full artifact beside the stdout line: the driver's log tail keeps
    // only the last ~64 per-query entries, so cross-round comparison
    // needs the complete medians (plus raw per-pass samples) on disk.
    val perPass = names.map { name =>
      val xs = samples.collect { case (`name`, t) => t }
      s"\"" + name + "\":" + xs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // JVM-wide memo hits/misses per kind (warmup included)
    val memoJson = graft.operators.Scratch.memoCounts.toSeq.sorted
      .map { case (k, (h, m)) => s""""$k":{"hits":$h,"misses":$m}""" }
      .mkString("{", ",", "}")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{"result":$line,"passes":$Passes,"samples":$perPass,"memo":$memoJson}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    graft.operators.Scratch.invalidate(spark)
    spark.stop()
    // The harness stores only a ~2000-char tail of this process's output,
    // and any per-query map at 299 queries (~3.4 KB even with qNN keys
    // and 2-decimal seconds) overflows it — five rounds of BENCH_r*.json
    // carried "parsed: null" because the line was truncated from the
    // front. So the LAST thing printed (after spark.stop, so no shutdown
    // logging can displace it) is a compact line: the totals plus the
    // slowest 25 medians with full names at 2 decimals, marked
    // "partial":"slowest25" (failed queries, -1, are excluded like
    // everywhere else). Even the 25 longest registered names keep the
    // line near 1.2k chars, so the tail always holds it whole. The
    // complete per-query medians and raw samples live in bench_full.json,
    // and the full line printed above remains in the process log.
    def r2(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val slow25 = results.filter(_._2 >= 0).sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"value_min":${r2(totalMin)},"builds_total":${r2(buildsTotal)},"unit":"sec","sf":"$sfDir","n":${results.size},"n_err":${results.count(_._2 < 0)},"load_1m":$loadJson,"queries":$slow25,"partial":"slowest25","queries_in":"bench_full.json"}""")
  }
}
