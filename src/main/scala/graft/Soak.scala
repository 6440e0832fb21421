package graft

/** Scale-soak runner: times a named subset of `SparkEntry.queries`
  * against an arbitrary fixture directory and dumps raw per-pass
  * seconds as JSON. The empirical half of the 100-TB argument: the
  * same queries timed at sf0.1 and at the 10x `tools/scaleup.py`
  * fixture give measured scale ratios (`tools/scale_report.py` joins
  * the two dumps into SCALE_r{N}.json), replacing "the plan shape
  * looks right" with numbers.
  *
  * Both passes are COLD-pipeline passes: the session memos (shared
  * postings frame, ANN index layouts) are cleared at the start of
  * EVERY pass, the Bench timing discipline, so each sample prices the
  * full pipeline including index builds. Two samples exist for
  * robustness (min-of-passes is the contention-resistant estimate),
  * NOT as a cold/warm split — only JVM/page-cache warmth differs
  * between them. A loadavg stamp per pass makes host contention
  * self-diagnosing.
  *
  * Usage: runMain graft.Soak <sfDir> <name,name,...> <out.json> [warmupDir]
  */
object Soak {
  /** Timed passes per query: the two cold-pipeline samples above. */
  private val Passes = 2

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: Soak <sfDir> <names-csv> <out.json> [warmupDir]")
    val (sfDir, out) = (args(0), args(2))
    val warmupDir =
      if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    // .distinct: a duplicated name would be timed twice per pass and
    // emit duplicate JSON keys that most parsers silently collapse
    val names = args(1).split(',').toSeq.filter(_.nonEmpty).distinct
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.local()
    // untimed warmup at the smallest sf: JVM/codegen/parquet-footer
    // one-off costs stay out of pass 1. A FAILED warmup silently
    // shifting those costs into the timed pass would skew ratio_cold,
    // so failures are logged loudly even though the soak proceeds.
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmupDir).count()
      catch { case e: Throwable =>
        System.err.println(
          s"[soak] WARMUP FAILED for $n on $warmupDir (pass-1 times " +
            s"will absorb one-off costs): ${e.getMessage}")
      }
      graft.operators.Scratch.releaseAll(spark)
    }
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples = (1 to Passes).flatMap { _ =>
      loads += GraftSession.loadAvg1m()
      graft.operators.Scratch.invalidate(spark)
      names.map { name =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[soak] $name failed: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Scratch.releaseAll(spark)
        name -> (if (ok) dt else -1.0)
      }
    }
    val qs = names.map { n =>
      val xs = samples.collect { case (`n`, t) => t }
      "\"" + n + "\":" + xs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val line = s"""{"sf":"$sfDir","load_1m":${loads.mkString("[", ",", "]")},""" +
      s""""samples":$qs}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    graft.operators.Scratch.invalidate(spark)
    spark.stop()
    println(s"[soak] wrote $out")
  }
}
