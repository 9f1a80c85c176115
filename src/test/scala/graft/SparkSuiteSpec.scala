package graft

import org.scalatest.{Args, DoNotDiscover, Reporter}
import org.scalatest.events.Event

/** A suite that leaves a conf set: run only from [[SparkSuiteSpec]]. */
@DoNotDiscover
class LeakyConfSuite extends SparkSuite {
  test("sets a conf and keeps it") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }
}

/** The shared session's contract, [[SparkSuite.withConf]], and the
  * after-suite conf check. */
class SparkSuiteSpec extends SparkSuite {

  private val unsetKey = "spark.sql.autoBroadcastJoinThreshold"

  test("the shared session carries the Sessions contract at local[4]") {
    assert(spark.conf.get("spark.sql.maxPlanStringLength") == "16384")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("withConf restores a prior value and unsets a key that was unset") {
    assert(!spark.conf.getAll.contains(unsetKey), "precondition: key unset")
    withConf("spark.sql.shuffle.partitions" -> "7", unsetKey -> "-1") {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(spark.conf.get(unsetKey) == "-1")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(!spark.conf.getAll.contains(unsetKey))
    // and when the block throws
    intercept[IllegalStateException] {
      withConf("spark.sql.shuffle.partitions" -> "7", unsetKey -> "-1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(!spark.conf.getAll.contains(unsetKey))
  }

  test("a suite that leaves a conf changed fails, naming the key") {
    val silent = new Reporter { def apply(e: Event): Unit = () }
    // the runner reports the exception as the suite's abort
    val e =
      try intercept[IllegalStateException] {
        new LeakyConfSuite().run(None, Args(silent))
      } finally spark.conf.unset(unsetKey)
    assert(e.getMessage.contains("LeakyConfSuite") &&
      e.getMessage.contains(s"$unsetKey (unset -> -1)"), e.getMessage)
  }
}
