package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** Pins' counting contract, one case per behaviour: keyed pins split a
  * divergence into only-left, only-right and changed (null-safe
  * values); multiset pins count exactly what `exceptAll` leaves in each
  * direction; `run` executes any number of pins as one action. */
class PinsSpec extends SparkSuite {

  private val kv = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType)))

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r: _*)).asJava,
      schema)

  // (name, left rows, right rows, expected Diff) over (k, v) keyed on k
  private val keyedCases = Seq(
    ("one row only on the left, one only on the right, one changed",
      Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")),
      Seq(Seq(1L, "a"), Seq(3L, "x"), Seq(4L, "d")),
      Pins.Diff(onlyLeft = 1, onlyRight = 1, changed = 1)),
    ("a value NULL on both sides is equal",
      Seq(Seq(1L, null), Seq(2L, "b")),
      Seq(Seq(1L, null), Seq(2L, "b")),
      Pins.Diff(0, 0, 0)),
    ("a value NULL on one side is a change",
      Seq(Seq(1L, null), Seq(2L, "b")),
      Seq(Seq(1L, "a"), Seq(2L, null)),
      Pins.Diff(0, 0, 2)))

  keyedCases.foreach { case (name, l, r, want) =>
    test(s"keyed: $name") {
      val d = Pins.keyed(frame(kv, l), frame(kv, r), Seq("k"), Seq("v")).diff
      assert(d == want)
      assert(d.extra == want.onlyLeft + want.changed)
      assert(d.missing == want.onlyRight + want.changed)
      assert(d.total == want.onlyLeft + want.onlyRight + want.changed)
    }
  }

  test("keyed: a presence-only pin with no value columns ignores values") {
    val d = Pins.keyed(
      frame(kv, Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(5L, "e"))),
      frame(kv, Seq(Seq(1L, "z"), Seq(3L, "c"))), Seq("k")).diff
    assert(d == Pins.Diff(onlyLeft = 2, onlyRight = 1, changed = 0))
  }

  test("multiset: two copies on one side against one on the other gives 1") {
    val l = frame(kv, Seq(Seq(1L, "a"), Seq(1L, "a"), Seq(2L, "b")))
    val r = frame(kv, Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(Pins.multiset(l, r).diff == Pins.Diff(1, 0, 0))
    assert(Pins.multiset(r, l).diff == Pins.Diff(0, 1, 0))
  }

  test("multiset: NULL, NaN and -0.0 group exactly as exceptAll does") {
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("x", DoubleType)))
    val l = frame(schema, Seq(Seq(null, 1.0), Seq("a", Double.NaN),
      Seq("b", -0.0), Seq("c", null), Seq("c", null), Seq("d", 2.0)))
    val r = frame(schema, Seq(Seq(null, 1.0), Seq("a", Double.NaN),
      Seq("b", 0.0), Seq("c", null), Seq("e", 3.0)))
    val d = Pins.multiset(l, r).diff
    assert(d.onlyLeft == l.exceptAll(r).count())
    assert(d.onlyRight == r.exceptAll(l).count())
    assert(d == Pins.Diff(onlyLeft = 2, onlyRight = 1, changed = 0))
  }

  test("run: three pins execute as one action, results in pin order") {
    val a = frame(kv, Seq(Seq(1L, "a"), Seq(2L, "b")))
    val b = frame(kv, Seq(Seq(1L, "a"), Seq(2L, "x"), Seq(3L, "c")))
    val pins = Seq(Pins.keyed(a, b, Seq("k"), Seq("v")),
      Pins.multiset(a, b), Pins.keyed(b, a, Seq("k")))
    val ran = recording(Pins.run(pins: _*))
    assert(ran.actions.size == 1)
    assert(ran.result == Seq(Pins.Diff(0, 1, 1), Pins.Diff(1, 2, 0),
      Pins.Diff(1, 0, 0)))
  }
}
