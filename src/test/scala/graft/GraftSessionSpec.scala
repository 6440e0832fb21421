package graft

import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.settings`: performance defaults yield to the caller's
  * conf, correctness pins win over it. Entries apply in order, so the
  * effective value of a key is its last entry.
  */
class GraftSessionSpec extends AnyFunSuite {

  private def effective(extra: Seq[(String, String)],
      props: Map[String, String] = Map.empty): Map[String, String] =
    GraftSession.settings(4, extra, props).toMap

  private val floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("performance defaults apply when the caller sets nothing") {
    val conf = effective(Nil)
    assert(conf(floor) == "64k")
    assert(conf("spark.sql.shuffle.partitions") == "4")
  }

  test("the caller's conf overrides a performance default") {
    assert(effective(Seq(floor -> "1m"))(floor) == "1m")
    // a spark.* system property (spark-defaults, --conf) is applied by
    // SparkConf itself, so the default must not be set over it
    assert(!effective(Nil, Map(floor -> "1m")).contains(floor))
  }

  test("correctness pins win over the caller's conf") {
    val conf = effective(Seq("spark.sql.session.timeZone" -> "America/New_York"))
    assert(conf("spark.sql.session.timeZone") == "UTC")
  }
}
