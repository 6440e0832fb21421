package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites run forked in
  * a single JVM; creating per-suite sessions would dominate runtime).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // Built through GraftSession so tests get the same one-time session
    // conf (UTC, nanosAsLong, TIMESTAMP_MICROS output) production gets —
    // operators no longer set conf themselves. local[4,2] (not local[4]):
    // maxFailures=2 gives every task ONE retry, which ChaosRetrySpec
    // needs to exercise task-retry determinism; genuinely failing tasks
    // still fail their job (after one extra attempt).
    val s = GraftSession.builder("local[4,2]", 4)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  /** Runs `body` with a fresh dataset key for the keyed corpus and dedup
    * operators (their shared frames are memoized per key), then drops
    * the shared session's memos so the key's frames end with the test.
    */
  def withKey[T](prefix: String)(body: String => T): T =
    try body(s"${prefix}_${System.nanoTime()}")
    finally graft.operators.Scratch.invalidate(spark)

  /** Runs `body` on a fresh temp directory whose name starts with
    * `prefix`, then deletes the directory tree, also when `body` throws.
    * The one place tests make a temp directory.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
