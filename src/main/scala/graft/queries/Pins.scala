package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-sided equality pins: the in-query proof that an incremental,
  * streaming or shard-rollup result equals an independent rebuild.
  *
  * A [[Pin]] is a one-row count plan that executes nothing by itself.
  * [[run]] unions any number of pins into ONE action, so an entry with
  * several pins plans and executes them together instead of one action
  * per pin.
  *
  *  - [[keyed]] is one full-outer join on `keys` with a presence marker
  *    per side. A key on one side only counts in `onlyLeft` or
  *    `onlyRight`; a key on both sides whose `values` differ counts in
  *    `changed`. Values compare null-safe (`<=>`): NULL on both sides
  *    is equal, NULL on one side is a change. Precondition: `keys` are
  *    unique and non-NULL on each side — a duplicated key pairs up as a
  *    cross product and a NULL key never matches. Where that does not
  *    hold, use [[multiset]].
  *  - [[multiset]] compares the two row multisets over every column, by
  *    position: the side-tagged union and one grouped sum that Spark
  *    rewrites `exceptAll` into, so NULL, NaN and -0.0 group exactly as
  *    there. `onlyLeft` is `left.exceptAll(right).count()` and
  *    `onlyRight` the converse; `changed` is 0.
  */
object Pins {

  final case class Diff(onlyLeft: Long, onlyRight: Long, changed: Long) {
    /** Left rows absent from, or different in, the right side. */
    def extra: Long = onlyLeft + changed
    /** Right rows absent from, or different in, the left side. */
    def missing: Long = onlyRight + changed
    def total: Long = onlyLeft + onlyRight + changed
  }

  final class Pin private[Pins] (private[Pins] val counts: DataFrame) {
    def diff: Diff = run(this).head
  }

  def keyed(left: DataFrame, right: DataFrame, keys: Seq[String],
      values: Seq[String] = Nil): Pin = {
    def side(df: DataFrame, tag: String) =
      df.select(keys.map(col) ++ values.map(v => col(v).as(tag + v)) :+
        lit(true).as(tag): _*)
    val same = values.map(v => col("__l" + v) <=> col("__r" + v))
      .foldLeft(lit(true))(_ && _)
    new Pin(side(left, "__l").join(side(right, "__r"), keys, "full_outer")
      .agg(count_if(col("__r").isNull), count_if(col("__l").isNull),
        count_if(col("__l").isNotNull && col("__r").isNotNull && !same)))
  }

  def multiset(left: DataFrame, right: DataFrame): Pin = {
    val cols = left.columns.indices.map(i => s"__c$i")
    def side(df: DataFrame, w: Long) =
      df.toDF(cols: _*).withColumn("__w", lit(w))
    val n = side(left, 1L).union(side(right, -1L))
      .groupBy(cols.map(col): _*).agg(sum(col("__w")).as("__n"))
    new Pin(n.agg(
      coalesce(sum(when(col("__n") > 0, col("__n"))), lit(0L)),
      coalesce(sum(when(col("__n") < 0, -col("__n"))), lit(0L)),
      lit(0L)))
  }

  /** The one-action plan of `pins`: one row per pin, in order, with
    * columns (pin, only_left, only_right, changed). */
  def plan(pins: Pin*): DataFrame =
    pins.zipWithIndex.map { case (p, i) =>
      p.counts.toDF("only_left", "only_right", "changed")
        .select(lit(i).as("pin"), col("only_left"), col("only_right"),
          col("changed"))
    }.reduce(_ unionByName _)

  def run(pins: Pin*): IndexedSeq[Diff] =
    plan(pins: _*).collect().sortBy(_.getInt(0))
      .map(r => Diff(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toIndexedSeq
}
