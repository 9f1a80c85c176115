package graft.plans

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Direct law pins for [[H3RuleSupport]]'s pure helpers — the plan
  * rules pin them indirectly (PushedFilters reach, zero multiset
  * diff), but the laws the rewrites LEAN on deserve their own
  * falsification surface:
  *   - [[H3RuleSupport.coverRanges]]: the multi-range prefilter is
  *     sound only because the ranges jointly contain every covering
  *     id (superset law), and useful only because there are few of
  *     them (count bound) split at the LARGEST id gaps (tightness).
  *   - [[H3RuleSupport.reachableKeys]]: the keyability gate is
  *     honest only if it reports exactly what keyedPlan's
  *     Project/Filter threading can surface — a parent column below
  *     an Aggregate must NOT count (r18 ADVICE low: a gate built on
  *     subtree-wide presence paid the covering enumeration per
  *     compile for a rewrite that could never fire).
  */
class H3RuleSupportSpec extends SparkSuite {

  // raw-ScalaCheck driver (the scalatestplus bridge is not in the
  // offline cache — the PropertySpec convention): 200 deterministic
  // samples per property
  private val N = 200
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until N).foreach { i =>
      val (a, b) = Gen.zip(ga, gb)
        .apply(Gen.Parameters.default, Seed(i.toLong * 7919 + 17)).get
      f(a, b)
    }

  // ---- coverRanges ----

  private val idSets: Gen[Array[Long]] =
    Gen.chooseNum(0, 200).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 10000L)).map(_.toArray)
    }

  test("coverRanges: every id is inside some range (superset law), " +
      "never more than maxRanges ranges, ranges sorted and disjoint") {
    forAll(idSets, Gen.chooseNum(1, 16)) { (ids, maxR) =>
      val ranges = H3RuleSupport.coverRanges(ids, maxR)
      if (ids.isEmpty) assert(ranges.isEmpty)
      else {
        assert(ranges.nonEmpty && ranges.size <= maxR)
        assert(ids.forall(id => ranges.exists(r => id >= r._1 && id <= r._2)),
          s"an id escaped the ranges: ${ids.mkString(",")} -> $ranges")
        // sorted, non-overlapping, each well-formed
        ranges.foreach { case (lo, hi) => assert(lo <= hi) }
        ranges.sliding(2).foreach {
          case Seq((_, h1), (l2, _)) => assert(h1 < l2)
          case _ =>
        }
        // range bounds are actual ids — no phantom widening
        val set = ids.toSet
        ranges.foreach { case (lo, hi) =>
          assert(set(lo) && set(hi))
        }
      }
    }
  }

  test("coverRanges: splits land at the LARGEST gaps — two tight runs " +
      "separated by a big gap become exactly two tight ranges") {
    val ids = (Array(100L, 101L, 102L, 104L) ++
      Array(9000L, 9001L, 9003L)).reverse // unsorted on purpose
    val rs = H3RuleSupport.coverRanges(ids, 2)
    assert(rs == Seq((100L, 104L), (9000L, 9003L)))
    // maxRanges 1 = the classic single envelope
    assert(H3RuleSupport.coverRanges(ids, 1) == Seq((100L, 9003L)))
    // enough budget captures every contiguous run exactly
    val rs4 = H3RuleSupport.coverRanges(ids, 16)
    assert(rs4 == Seq((100L, 102L), (104L, 104L),
      (9000L, 9001L), (9003L, 9003L)))
  }

  test("coverRanges: duplicates and single ids degenerate cleanly") {
    assert(H3RuleSupport.coverRanges(Array(7L), 16) == Seq((7L, 7L)))
    assert(H3RuleSupport.coverRanges(Array(7L, 7L, 7L), 16) ==
      Seq((7L, 7L)))
    assert(H3RuleSupport.coverRanges(Array.empty[Long], 16).isEmpty)
  }

  // ---- reachableKeys ----

  test("reachableKeys: sees through Project/Filter chains (including " +
      "pruned projections), but NOT below an Aggregate — the exact " +
      "blind spot the r18 keyability gate had") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, 11L, 111L, "a"), (2L, 22L, 222L, "b"))
      .toDF("h3_cell", "h3_parent_7", "h3_parent_8", "payload")

    // bare relation: cell + both parents reachable
    val (c0, p0) = H3RuleSupport.reachableKeys(
      base.queryExecution.analyzed)
    assert(c0 && p0.sorted == Seq(7, 8))

    // a pruned projection drops h3_cell and parent_7 from the output,
    // but the threading can re-surface them: still reachable
    val pruned = base.select(col("h3_parent_8"), col("payload"))
      .filter(col("payload") =!= "")
    val (c1, p1) = H3RuleSupport.reachableKeys(
      pruned.queryExecution.analyzed)
    assert(c1 && p1.sorted == Seq(7, 8))

    // below an Aggregate the threading cannot reach: only the
    // aggregate's own output counts
    val agged = base.groupBy(col("h3_parent_8"))
      .agg(count(lit(1)).as("n"))
    val (c2, p2) = H3RuleSupport.reachableKeys(
      agged.queryExecution.analyzed)
    assert(!c2, "h3_cell below an Aggregate reported reachable")
    assert(p2 == Seq(8),
      s"expected only the Aggregate's own output parent, got $p2")

    // an aggregate that carries NO key column: nothing reachable
    val bare = base.groupBy(col("payload")).agg(count(lit(1)).as("n"))
    val (c3, p3) = H3RuleSupport.reachableKeys(
      bare.queryExecution.analyzed)
    assert(!c3 && p3.isEmpty)
  }

  test("NullKeySentinel is an impossible engine cell id: negative, " +
      "while every H3Core id and every parent of one is non-negative") {
    assert(H3RuleSupport.NullKeySentinel < 0L)
    val cell = graft.h3.H3Core.latLngToCell(59.33, 18.07, 9)
    assert(cell >= 0L)
    (0 to 9).foreach { r =>
      assert(graft.h3.H3Core.cellToParent(cell, r) >= 0L)
    }
  }
}
