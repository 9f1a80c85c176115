package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._

/** Bounded top-k as a MAP-SIDE-COMBINABLE aggregate — the scale shape
  * a per-group top-k needs at 100 TB. The row_number-window spelling
  * shuffles EVERY candidate row to its group's reducer before any can
  * be discarded; this aggregate keeps a k-bounded heap per group in
  * each map task, so the shuffle carries at most k entries per (group,
  * partition) no matter how many candidates a partition holds — for
  * knnJoin that is k rows instead of (cell occupancy x nprobe) rows
  * per query per partition.
  *
  * Ordering contract (identical to the knnJoin/knnBrute window):
  * score DESC with Spark's double sort semantics (NaN greatest,
  * -0.0 == 0.0), id ASC on ties, SQL-NULL scores after every real
  * score (Spark's desc null-last), null-score ties by id ASC. Rows
  * with a NULL id are ignored (a window would rank them; knnJoin's
  * candidate ids are never NULL — callers needing NULL-id rows must
  * coalesce first). eval returns the survivors as
  * array<struct<id, score>> already in rank order — posexplode's
  * position is the 0-based rank. */
object TopKAgg {

  /** One buffered candidate; `hasScore = false` encodes a SQL NULL
    * score (ranked below every real score). */
  private final case class Cand(hasScore: Boolean, score: Double, id: Long)

  /** Spark's double sort semantics as a TOTAL order: NaN greater than
    * every real value (and equal to itself), -0.0 == 0.0 (Catalyst
    * normalizes both in sort keys). `a.score > b.score` alone is NOT a
    * strict weak ordering under NaN — NaN would compare "equal" to
    * everything and could silently evict real top-k candidates. */
  private def cmpScore(x: Double, y: Double): Int = {
    def norm(v: Double) = if (v == 0.0) 0.0 else v // collapse -0.0
    java.lang.Double.compare(norm(x), norm(y))     // NaN ranks greatest
  }

  /** true iff a ranks strictly better than b (score desc, id asc). */
  private def better(a: Cand, b: Cand): Boolean =
    if (a.hasScore != b.hasScore) a.hasScore
    else {
      val c = if (a.hasScore) cmpScore(a.score, b.score) else 0
      if (c != 0) c > 0 else a.id < b.id
    }

  /** Worst-first heap of at most k candidates. */
  final class Buf(val k: Int) {
    // j.u.PriorityQueue with worst-first ordering: peek() is the
    // current cut line, insertion is O(log k)
    private[TopKAgg] val q = new java.util.PriorityQueue[Cand](
      math.max(1, k),
      (x: Cand, y: Cand) => if (better(x, y)) 1 else if (better(y, x)) -1 else 0)
    def add(c: Cand): Unit =
      if (q.size < k) { q.add(c); () }
      else if (better(c, q.peek())) { q.poll(); q.add(c); () }
  }

  case class TopKByScore(score: Expression, id: Expression, k: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Buf] {
    require(k >= 1, "topK needs k >= 1")
    override def children: Seq[Expression] = Seq(score, id)
    override def nullable: Boolean = false
    // LOUD at analysis time: update() casts directly, so a decimal
    // score or int id would otherwise die mid-stage with a
    // ClassCastException after doing real work
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (score.dataType == DoubleType && id.dataType == LongType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_k_by_score needs (double score, bigint id), got " +
            s"(${score.dataType}, ${id.dataType}) — cast explicitly")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType))))

    override def createAggregationBuffer(): Buf = new Buf(k)

    override def update(b: Buf, input: InternalRow): Buf = {
      val idV = id.eval(input)
      if (idV != null) {
        val s = score.eval(input)
        b.add(
          if (s == null) Cand(hasScore = false, 0.0, idV.asInstanceOf[Long])
          else Cand(hasScore = true, s.asInstanceOf[Double],
            idV.asInstanceOf[Long]))
      }
      b
    }

    override def merge(b: Buf, o: Buf): Buf = {
      o.q.forEach(c => b.add(c))
      b
    }

    override def eval(b: Buf): Any = {
      val arr = new Array[Cand](b.q.size)
      var i = 0
      val it = b.q.iterator()
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      // rank order = best first
      val sorted = arr.sortWith(better)
      new GenericArrayData(sorted.map { c =>
        InternalRow(c.id, if (c.hasScore) c.score else null)
      }.toIndexedSeq)
    }

    override def serialize(b: Buf): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + b.q.size * 17)
      bb.putInt(b.q.size)
      b.q.forEach { c =>
        bb.put(if (c.hasScore) 1.toByte else 0.toByte)
        bb.putDouble(c.score)
        bb.putLong(c.id)
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Buf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val b = new Buf(k)
      var i = 0
      while (i < n) {
        b.add(Cand(bb.get() == 1, bb.getDouble, bb.getLong))
        i += 1
      }
      b
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByScore =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(score = c(0), id = c(1))
    override def prettyName: String = "top_k_by_score"
  }

  /** Column form: top `k` (id, score) pairs by score DESC / id ASC,
    * null scores last — as array<struct<id, score>> in rank order. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    toCol(TopKByScore(toExpr(score), toExpr(id), k)
      .toAggregateExpression())
}
