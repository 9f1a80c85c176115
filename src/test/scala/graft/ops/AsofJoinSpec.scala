package graft.ops

import graft.SparkSuite

class AsofJoinSpec extends SparkSuite {

  test("backward as-of: latest prior row per key, inclusive ties, null on no-match") {
    import spark.implicits._
    val left = Seq(
      (1L, "a", 100L), // after right rows at 50 and 100 -> tie matches 100
      (2L, "a", 60L),  // between 50 and 100 -> matches 50
      (3L, "a", 10L),  // before any right row -> NULL
      (4L, "b", 500L), // different key -> only b's rows visible
      (5L, "c", 500L)  // key with no right rows at all -> NULL
    ).toDF("id", "k", "t")
    val right = Seq(
      ("a", 50L, 1.0), ("a", 100L, 2.0),
      ("b", 400L, 3.0), ("b", 600L, 4.0)
    ).toDF("k", "t", "v")

    val out = AsofJoin.asofBackward(left, right, Seq("k"), "t", Seq("v"))
      .orderBy("id")
      .select("id", "asof_t", "asof_v")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))

    assert(out.toSeq == Seq(
      (1L, 100L, 2.0), // inclusive: right row AT left.t matches
      (2L, 50L, 1.0),
      (3L, null, null),
      (4L, 400L, 3.0), // 600 is in the future, not matched
      (5L, null, null)))
  }

  test("a NULL right value does not reach further back than the true latest row") {
    import spark.implicits._
    val left = Seq((1L, "a", 100L)).toDF("id", "k", "t")
    val right = Seq(("a", 50L, Some(7.0)), ("a", 80L, None: Option[Double]))
      .toDF("k", "t", "v")
    val r = AsofJoin.asofBackward(left, right, Seq("k"), "t", Seq("v")).head()
    // latest right row is t=80 whose v is NULL — the match must be
    // (80, NULL), not skip back to (50, 7.0)
    assert(r.getAs[Long]("asof_t") == 80L)
    assert(r.isNullAt(r.fieldIndex("asof_v")))
  }

  test("left columns colliding with internal/output names are rejected") {
    import spark.implicits._
    val right = Seq(("a", 5L, 1.0)).toDF("k", "t", "v")
    // internal tag column
    val bad1 = Seq((1L, "a", 10L)).toDF("_asof_side", "k", "t")
    assert(intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(bad1, right, Seq("k"), "t", Seq("v"))
    }.getMessage.contains("reserved"))
    // prefixed output collision: left already has asof_v
    val bad2 = Seq((1L, "a", 10L, 2.0)).toDF("id", "k", "t", "asof_v")
    assert(intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(bad2, right, Seq("k"), "t", Seq("v"))
    }.getMessage.contains("collides"))
  }

  test("single shuffle: exactly one Exchange in the as-of plan") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L)).toDF("id", "k", "t")
    val right = Seq(("a", 5L, 1.0)).toDF("k", "t", "v")
    val plan = AsofJoin.asofBackward(left, right, Seq("k"), "t", Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected ONE shuffle, plan has $exchanges:\n" +
      plan.take(1200))
  }
}
