package graft

import java.nio.file.{Files, Paths}

/** Same-plan check for refactors: writes the optimized logical plan of every
  * registered query, masked so that two runs of one build compare equal.
  *
  * Masked: expression ids (`#123`), lambda class names, object hashes
  * (`@1a2b3c`) and the application id (`local-1700000000000`). Dropped:
  * every line that mentions `gid`, since Spark's distinct-aggregate
  * `Expand` orders its groups differently from run to run. A plain `diff`
  * of the outputs of two builds is then the check.
  *
  * Usage: sbt "Test/runMain graft.SamePlanDump <fixtureDir> <outFile>"
  */
object SamePlanDump {
  private val masks = Seq(
    "#\\d+L?" -> "#",
    "\\$+Lambda[^\\s,)\\]]*" -> "\\$Lambda",
    "@[0-9a-f]{4,}\\b" -> "@",
    "local-\\d{10,}" -> "local-")

  def mask(plan: String): String =
    plan.linesIterator.filterNot(_.contains("gid"))
      .map(l => masks.foldLeft(l) { case (s, (re, to)) => s.replaceAll(re, to) })
      .mkString("\n")

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val spark = GraftSession.local()
    val out = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.optimizedPlan.toString
        catch { case e: Throwable => s"FAILED: ${e.getClass.getName}" }
      out ++= s"== $name ==\n${mask(plan)}\n"
      operators.Scratch.releaseAll(spark)
    }
    Files.writeString(Paths.get(outFile), out.toString)
    operators.Scratch.invalidate(spark)
    spark.stop()
  }
}
