package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The CLI builds its session through [[Sessions.localBuilder]]: the
  * plan-string cap applies, and `--shuffle-partitions` still
  * overrides. */
class MainSessionSpec extends AnyFunSuite {

  test("Main.session carries the Sessions contract and applies " +
      "--shuffle-partitions as an override") {
    // other suites share this JVM's SparkContext: build a fresh
    // session (own SQL conf) on it, then put theirs back
    val (active, default) =
      (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Main.session("test", Map("shuffle-partitions" -> "3"))
    try {
      assert(spark.conf.get("spark.sql.maxPlanStringLength") == "16384")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      if (default.isEmpty) spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}
