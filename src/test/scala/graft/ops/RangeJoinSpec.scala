package graft.ops

import graft.SparkSuite

class RangeJoinSpec extends SparkSuite {

  test("interval semantics: inclusive bounds, bucket straddles, no dup pairs") {
    import spark.implicits._
    val left = Seq((1L, 1000L), (2L, 5000L)).toDF("lid", "lt")
    val right = Seq(
      (10L, 900L),  // 100 before l1 -> in [lt-100, lt+50] exactly at edge
      (11L, 1050L), // exactly at upper edge of l1
      (12L, 1051L), // 1 past upper edge -> out
      (13L, 899L),  // 1 before lower edge -> out
      (14L, 4990L)  // within l2's window
    ).toDF("rid", "rt")
    // window [lt-100, lt+50], bucket 64 us -> windows straddle buckets
    val out = RangeJoin.rangeJoin(left, right, Seq(), "lt", "rt",
        beforeUs = 100, afterUs = 50, bucketUs = 64)
      .select("lid", "rid").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 10L), (1L, 11L), (2L, 14L)))
    // exactly-once: no dedup artifacts from the bucket explode
    assert(out.length == out.distinct.length)
  }

  test("equi-keys scope the interval match") {
    import spark.implicits._
    val left = Seq(("a", 1L, 1000L), ("b", 2L, 1000L)).toDF("k", "lid", "lt")
    val right = Seq(("a", 10L, 990L), ("b", 11L, 990L)).toDF("k", "rid", "rt")
    val out = RangeJoin.rangeJoin(left, right, Seq("k"), "lt", "rt",
        beforeUs = 100, afterUs = 0, bucketUs = 1000)
      .select("lid", "rid").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((1L, 10L), (2L, 11L)))
  }

  test("tiny bucket vs window is rejected (silent row-blowup guard)") {
    import spark.implicits._
    val left = Seq((1L, 1000L)).toDF("lid", "lt")
    val right = Seq((10L, 900L)).toDF("rid", "rt")
    // 1,000,000us window / 100us bucket = ~10,000 exploded rows per left row
    val e = intercept[IllegalArgumentException] {
      RangeJoin.rangeJoin(left, right, Seq(), "lt", "rt",
        beforeUs = 1000000, afterUs = 0, bucketUs = 100)
    }
    assert(e.getMessage.contains("bucketUs"))
  }

  test("plans as a shuffled equi-join, not a nested-loop/cartesian") {
    import spark.implicits._
    val left = Seq((1L, 1000L)).toDF("lid", "lt")
    val right = Seq((10L, 900L)).toDF("rid", "rt")
    val plan = RangeJoin.rangeJoin(left, right, Seq(), "lt", "rt",
        100, 50, 64).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      "range join degenerated:\n" + plan.take(1000))
  }
}
