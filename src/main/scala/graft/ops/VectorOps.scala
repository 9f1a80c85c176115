package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._

import graft.functions.GeoExpr

/** Similarity search over embedding columns (builder brief): exact
  * brute-force cosine as the correctness baseline, IVF (inverted-file)
  * partitioning as the scale path — KMeans-coarse-quantize the corpus
  * once, then probe only the nearest `nprobe` partitions per query.
  *
  * At 100 TB: the IVF assignment is a map-only pass; the index is
  * written partitioned by `ivf_cell` so a query reads nprobe/nlist of
  * the data (the same partition-pruning trick as the H3 index). The
  * centroid table is tiny and broadcast.
  */
object VectorOps {

  /** In-order fold dot product — deterministic and SQL-replayable
    * (the same left fold a DuckDB list_sum(list_transform) spells),
    * but NOT codegen'd: aggregate/zip_with are higher-order functions
    * Catalyst always interprets. Hot paths use the native [[CosineSim]]
    * expression instead (measured 4x — its scaladoc has the story);
    * this form is for replay-parity plumbing and cold paths. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a, b) as a NATIVE expression — bit-identical to the HOF
    * composition dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) (each
    * accumulator adds per-element products in array order, the exact
    * IEEE op sequence of the three separate folds, and the same
    * sequence a SQL engine's in-order list fold produces — every
    * cosine oracle stays valid; a zero-norm input yields SQL NULL, the
    * try_divide zero-divisor contract, never NaN — NaN would outrank
    * every real cosine in Spark's ordering), but ONE eval call per row
    * running a
    * primitive while-loop instead of 3 x dims interpreted
    * higher-order-lambda tree walks. Catalyst HOF lambdas never
    * compile (the WordNGrams lesson); for the prune self-join that
    * evaluates Σ n_c² cosines this is the difference between the
    * clustering and the cosine arithmetic dominating (measured ~4x on
    * the 16x semantic-dedup curve point). */
  case class CosineSim(a: Expression, b: Expression) extends GeoExpr {
    override def children: Seq[Expression] = Seq(a, b)
    override def dataType: DataType = DoubleType
    private def supported(t: DataType): Boolean = t match {
      case ArrayType(et, _) => et match {
        case FloatType | DoubleType | IntegerType | LongType |
            ShortType | ByteType | _: DecimalType => true
        case _ => false
      }
      case _ => false
    }
    // LOUD at analysis time for non-numeric-array inputs — the GeoExpr
    // malformed-input => NULL contract would otherwise turn a schema
    // mistake into an all-NULL cosine column, which in semDedupPrune
    // reads as "nothing is a duplicate" with no error anywhere.
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (supported(a.dataType) && supported(b.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine needs two numeric arrays, got ${a.dataType} and ${b.dataType}")
    private def getter(e: Expression): (ArrayData, Int) => Double =
      e.dataType match {
        case ArrayType(FloatType, _) => (ad, i) => ad.getFloat(i).toDouble
        case ArrayType(DoubleType, _) => (ad, i) => ad.getDouble(i)
        case ArrayType(IntegerType, _) => (ad, i) => ad.getInt(i).toDouble
        case ArrayType(LongType, _) => (ad, i) => ad.getLong(i).toDouble
        case ArrayType(ShortType, _) => (ad, i) => ad.getShort(i).toDouble
        case ArrayType(ByteType, _) => (ad, i) => ad.getByte(i).toDouble
        case ArrayType(d: DecimalType, _) =>
          (ad, i) => ad.getDecimal(i, d.precision, d.scale).toDouble
        case t => throw new IllegalArgumentException(
          s"cosine needs a numeric array, got $t")
      }
    @transient private lazy val getA = getter(a)
    @transient private lazy val getB = getter(b)
    override protected def evalNotNull(v: Array[Any]): Any = {
      val aa = v(0).asInstanceOf[ArrayData]
      val bb = v(1).asInstanceOf[ArrayData]
      val n = aa.numElements()
      // zip_with parity: length mismatch pads with null -> null sum;
      // a null element nulls the fold the same way
      if (bb.numElements() != n) return null
      var dab = 0.0
      var daa = 0.0
      var dbb = 0.0
      var i = 0
      while (i < n) {
        if (aa.isNullAt(i) || bb.isNullAt(i)) return null
        val x = getA(aa, i)
        val y = getB(bb, i)
        dab += x * y
        daa += x * x
        dbb += y * y
        i += 1
      }
      // Divide parity: the HOF composition routed through Spark's
      // Divide, which yields SQL NULL on a 0.0 divisor. A zero-norm
      // vector must therefore stay NULL here too — 0.0/0.0 = NaN
      // would sort ABOVE every real cosine (Spark orders NaN last
      // ascending / first descending), silently making a zero vector
      // "duplicate of everything" in semDedupPrune and rank first in
      // knnJoin where the old plan excluded it via the NULL filter.
      if (daa == 0.0 || dbb == 0.0) return null
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(a = c(0), b = c(1))
  }

  def cosine(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))

  /** The subspace-ordered ADC cosine of the q199 decode-re-derivation
    * as a NATIVE expression (r19 optimization, guide §4): bit-identical
    * to the HOF spelling
    * {{{
    *   subFold(sp => dot(slice(q, sp*subDim+1, subDim),
    *                     slice(r, sp*subDim+1, subDim))) /
    *     (l2norm(q) * sqrt(subFold(sp => dot(slice(r, ...), slice(r, ...)))))
    * }}}
    * — the numerator and the r-norm² accumulate per-subspace partial
    * dots (each an in-order left fold) and then sum the partials in
    * subspace order, while the q-norm² is ONE in-order fold over the
    * FULL array (the l2norm grouping); the final division is Spark's
    * Divide contract (0.0 divisor => SQL NULL). Same IEEE op sequence,
    * one eval call per row instead of ~10 interpreted
    * higher-order-lambda tree walks over sliced array copies (measured
    * 6.6 s -> sub-second for the 190k-row q199 pin stage at sf0.1).
    * Inputs must be numeric arrays of exactly m*subDim elements —
    * anything else (including any NULL element) is SQL NULL, exactly
    * like the zip_with/aggregate composition on well-formed input. */
  case class PqAdcCosine(q: Expression, r: Expression, m: Int,
      subDim: Int) extends GeoExpr {
    override def children: Seq[Expression] = Seq(q, r)
    override def dataType: DataType = DoubleType
    private def supported(t: DataType): Boolean = t match {
      case ArrayType(et, _) => et match {
        case FloatType | DoubleType | IntegerType | LongType |
            ShortType | ByteType => true
        case _ => false
      }
      case _ => false
    }
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (supported(q.dataType) && supported(r.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"PqAdcCosine needs two numeric arrays, got ${q.dataType} " +
            s"and ${r.dataType}")
    private def getter(e: Expression): (ArrayData, Int) => Double =
      e.dataType match {
        case ArrayType(FloatType, _) => (ad, i) => ad.getFloat(i).toDouble
        case ArrayType(DoubleType, _) => (ad, i) => ad.getDouble(i)
        case ArrayType(IntegerType, _) => (ad, i) => ad.getInt(i).toDouble
        case ArrayType(LongType, _) => (ad, i) => ad.getLong(i).toDouble
        case ArrayType(ShortType, _) => (ad, i) => ad.getShort(i).toDouble
        case ArrayType(ByteType, _) => (ad, i) => ad.getByte(i).toDouble
        case t => throw new IllegalArgumentException(
          s"PqAdcCosine needs a numeric array, got $t")
      }
    @transient private lazy val getQ = getter(q)
    @transient private lazy val getR = getter(r)
    override protected def evalNotNull(v: Array[Any]): Any = {
      val qa = v(0).asInstanceOf[ArrayData]
      val ra = v(1).asInstanceOf[ArrayData]
      val n = m * subDim
      if (qa.numElements() != n || ra.numElements() != n) return null
      var i = 0
      while (i < n) {
        if (qa.isNullAt(i) || ra.isNullAt(i)) return null
        i += 1
      }
      // numerator and r-norm²: per-subspace in-order partial folds,
      // partials summed in subspace order (the subFold grouping)
      var num = 0.0
      var rr = 0.0
      var sp = 0
      while (sp < m) {
        var dQR = 0.0
        var dRR = 0.0
        var j = sp * subDim
        val end = j + subDim
        while (j < end) {
          val x = getQ(qa, j)
          val y = getR(ra, j)
          dQR += x * y
          dRR += y * y
          j += 1
        }
        num += dQR
        rr += dRR
        sp += 1
      }
      // q-norm²: ONE in-order fold over the full array (the l2norm
      // grouping — a different IEEE sequence than the subspace sums)
      var qq = 0.0
      i = 0
      while (i < n) {
        val x = getQ(qa, i)
        qq += x * x
        i += 1
      }
      val den = math.sqrt(qq) * math.sqrt(rr)
      if (den == 0.0) null else num / den
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(q = c(0), r = c(1))
  }

  def pqAdcCosine(q: Column, r: Column, m: Int, subDim: Int): Column =
    toCol(PqAdcCosine(toExpr(q), toExpr(r), m, subDim))

  /** Shared plumbing of the native SRP expressions: numeric-array
    * element getter (the [[CosineSim]] table). */
  private def arrGetter(t: DataType): (ArrayData, Int) => Double =
    t match {
      case ArrayType(FloatType, _) => (ad, i) => ad.getFloat(i).toDouble
      case ArrayType(DoubleType, _) => (ad, i) => ad.getDouble(i)
      case ArrayType(IntegerType, _) => (ad, i) => ad.getInt(i).toDouble
      case ArrayType(LongType, _) => (ad, i) => ad.getLong(i).toDouble
      case ArrayType(ShortType, _) => (ad, i) => ad.getShort(i).toDouble
      case ArrayType(ByteType, _) => (ad, i) => ad.getByte(i).toDouble
      case t0 => throw new IllegalArgumentException(
        s"need a numeric array, got $t0")
    }
  private def numericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType |
        ShortType | ByteType, _) => true
    case _ => false
  }

  /** All `outDims` signed-projection dot folds of one vector as ONE
    * native expression (r19, guide §4) — bit-identical to
    * `array((0 until outDims).map(i => dot(vec, lit(signs(i)))))`:
    * each component is the same in-order left fold over the same
    * doubles, and the HOF edge cases are reproduced exactly (a vector
    * whose length differs from the sign rows', or with any NULL
    * element, zip_with-pads/nulls every fold — so every component is
    * NULL). The interpreted spelling walked outDims x dims
    * higher-order lambda nodes per row; this is outDims primitive
    * inner loops (measured: the SRP signature stage drops from
    * dominating its queries to noise). */
  case class SrpProject(vec: Expression, signs: Array[Array[Double]])
      extends GeoExpr {
    override def children: Seq[Expression] = Seq(vec)
    override def dataType: DataType = ArrayType(DoubleType, true)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (numericArray(vec.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"SrpProject needs a numeric array, got ${vec.dataType}")
    @transient private lazy val getV = arrGetter(vec.dataType)
    private val dims = if (signs.isEmpty) 0 else signs(0).length
    override protected def evalNotNull(v: Array[Any]): Any = {
      val va = v(0).asInstanceOf[ArrayData]
      val out = new Array[Any](signs.length)
      val n = va.numElements()
      var degenerate = n != dims
      if (!degenerate) {
        var i = 0
        while (i < n && !degenerate) {
          if (va.isNullAt(i)) degenerate = true
          i += 1
        }
      }
      if (degenerate)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      var r = 0
      while (r < signs.length) {
        val row = signs(r)
        var acc = 0.0
        var j = 0
        while (j < dims) {
          acc += getV(va, j) * row(j)
          j += 1
        }
        out(r) = acc
        r += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(vec = c(0))
  }

  /** The SRP band buckets of one vector as ONE native expression
    * (r19, guide §4) — bit-identical to the per-bit HOF spelling
    * `array(bands)(Σ_k when(dot(vec, sign_bk) > 0, 1L << k) else 0L)`:
    * the per-bit projection is the same in-order fold, the
    * strictly-positive bit rule is unchanged, and the HOF edge cases
    * reproduce exactly (length-mismatched or NULL-element vectors
    * null every fold, and `NULL > 0` is false — all buckets 0). */
  case class SrpBandBuckets(vec: Expression, signs: Array[Array[Double]],
      bands: Int, bandBits: Int) extends GeoExpr {
    override def children: Seq[Expression] = Seq(vec)
    override def dataType: DataType = ArrayType(LongType, false)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (numericArray(vec.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"SrpBandBuckets needs a numeric array, got ${vec.dataType}")
    @transient private lazy val getV = arrGetter(vec.dataType)
    private val dims = if (signs.isEmpty) 0 else signs(0).length
    override protected def evalNotNull(v: Array[Any]): Any = {
      val va = v(0).asInstanceOf[ArrayData]
      val out = new Array[Any](bands)
      val n = va.numElements()
      var degenerate = n != dims
      if (!degenerate) {
        var i = 0
        while (i < n && !degenerate) {
          if (va.isNullAt(i)) degenerate = true
          i += 1
        }
      }
      var b = 0
      while (b < bands) {
        var bucket = 0L
        if (!degenerate) {
          var k = 0
          while (k < bandBits) {
            val row = signs(b * bandBits + k)
            var acc = 0.0
            var j = 0
            while (j < dims) {
              acc += getV(va, j) * row(j)
              j += 1
            }
            if (acc > 0) bucket |= 1L << k
            k += 1
          }
        }
        out(b) = bucket
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(vec = c(0))
  }

  /** The ADC LUT score fold as a NATIVE expression (r19, guide §4):
    * bit-identical to [[AdcTables.score]]'s HOF spelling — the
    * numerator sums LUT entries in subspace order, the denominator is
    * qL2 * sqrt(the code words' reconstruction-norm² summed in the
    * same order), division NULLs on a 0.0 divisor (Divide parity) —
    * but one eval per (query, code word) instead of two interpreted
    * aggregate/zip_with walks. `lut` is per-row (query-dependent);
    * `n2` and `stride` are build-time constants of the codebook. A
    * code word whose length differs from the LUT's subspace count, or
    * any NULL element, is SQL NULL. */
  private[ops] case class AdcLutScore(codes: Expression, lut: Expression,
      qL2: Expression, n2: Array[Double], stride: Int) extends GeoExpr {
    override def children: Seq[Expression] = Seq(codes, lut, qL2)
    override def dataType: DataType = DoubleType
    private val m = n2.length / stride
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val okCodes = codes.dataType match {
        case ArrayType(IntegerType | LongType | ShortType | ByteType, _) =>
          true
        case _ => false
      }
      val okLut = lut.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
      if (okCodes && okLut && qL2.dataType == DoubleType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"AdcLutScore needs (int array, double array, double), got " +
            s"${codes.dataType}, ${lut.dataType}, ${qL2.dataType}")
    }
    private def codeAt(ad: ArrayData, i: Int): Int = codes.dataType match {
      case ArrayType(IntegerType, _) => ad.getInt(i)
      case ArrayType(LongType, _) => ad.getLong(i).toInt
      case ArrayType(ShortType, _) => ad.getShort(i).toInt
      case ArrayType(ByteType, _) => ad.getByte(i).toInt
      case t => throw new IllegalArgumentException(s"bad code type $t")
    }
    override protected def evalNotNull(v: Array[Any]): Any = {
      val ca = v(0).asInstanceOf[ArrayData]
      val la = v(1).asInstanceOf[ArrayData]
      val l2 = v(2).asInstanceOf[Double]
      if (ca.numElements() != m || la.numElements() != n2.length) return null
      var num = 0.0
      var den = 0.0
      var sp = 0
      while (sp < m) {
        if (ca.isNullAt(sp)) return null
        val idx = sp * stride + codeAt(ca, sp)
        if (idx < 0 || idx >= n2.length || la.isNullAt(idx)) return null
        num += la.getDouble(idx)
        den += n2(idx)
        sp += 1
      }
      val div = l2 * math.sqrt(den)
      if (div == 0.0) null else num / div
    }
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression =
      copy(codes = c(0), lut = c(1), qL2 = c(2))
  }

  /** Exact top-k by cosine against one query vector (broadcast 1-row
    * side; TakeOrdered keeps the result shuffle at k rows). */
  def knnBrute(emb: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val qLit = typedLit(query.toSeq)
    emb.select(col(idCol),
        cosine(col(vecCol), qLit).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** IVF index: assign every vector to its nearest of `nlist` centroids
    * (trained with distributed KMeans, fixed seed). Returns
    * (assignments with `ivf_cell` column, centroid array). */
  def ivfBuild(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, maxIter: Int = 10,
      initMode: String = "k-means||"): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(nlist >= 1, "ivfBuild needs nlist >= 1")
    if (nlist == 1) {
      // ML KMeans rejects k = 1; the one-cell index is still well
      // defined (everything in cell 0, centroid = mean) and is the
      // degenerate case the ivfSemDedup == semDedup equivalence spec
      // pins, so handle it rather than surface an ML parameter error
      val centroid = emb
        .select(posexplode(col(vecCol)).as(Seq("__dim", "__v")))
        .groupBy("__dim").agg(avg(col("__v").cast("double")).as("__m"))
        .orderBy("__dim").collect().map(_.getDouble(1))
      return (emb.withColumn("ivf_cell", lit(0)), Array(centroid))
    }
    val feats = emb.withColumn("__fv",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter).setInitMode(initMode)
      .setFeaturesCol("__fv")
      .fit(feats)
    val assigned = model.transform(feats)
      .withColumnRenamed("prediction", "ivf_cell")
      .drop("__fv")
    (assigned, model.clusterCenters.map(_.toArray))
  }

  // ------------------------------------------- int8 scalar quantization

  /** Per-dimension max-abs scales for symmetric int8 quantization —
    * one distributed pass (posexplode -> per-dim max, map-side
    * combinable), collected to a tiny dims-sized array on the driver.
    * Floored at 1e-30 so an all-zero dimension quantizes to 0 instead
    * of dividing by zero. */
  def sqScales(emb: DataFrame, vecCol: String): Array[Double] =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim").agg(max(abs(col("v").cast("double"))).as("m"))
      .orderBy("dim").collect()
      .map(r => math.max(r.getDouble(1), 1e-30))

  /** Symmetric per-dimension int8 quantization: q_d = floor(x_d * 127 /
    * scale_d + 0.5) clamped to [-127, 127] — "round half up" spelled as
    * floor(+0.5) because it replays identically in any engine (Java
    * rint is half-even, SQL ROUND is half-away; floor is floor
    * everywhere). 4x memory/shuffle reduction for a 100 TB embedding
    * corpus; map-only, codegen'd built-ins. */
  def sqQuantize(vec: Column, scales: Array[Double]): Column =
    zip_with(vec, typedLit(scales.toSeq), (v, s) => {
      // clamp as DOUBLE, before the int cast, null passed through:
      //  - greatest/least SKIP null arguments, so clamping a null
      //    product (null element, or zip_with's null padding on a
      //    length-mismatched vector) would FABRICATE code 127 where
      //    cosine() on the same input returns NULL — nulls must stay
      //    null;
      //  - clamping after .cast("int") saturates floor's huge-value
      //    double to Long.MaxValue and then WRAPS on the int cast
      //    (frozen stale scales + a grown value -> code -1), while
      //    the driver-side sqKnn clamps before toInt and yields 127 —
      //    corpus and query must land in one codebook.
      val raw = floor(v.cast("double") * 127.0 / s + 0.5)
      when(raw.isNull, lit(null))
        .otherwise(greatest(lit(-127.0), least(lit(127.0), raw)))
        .cast("int")
    })

  /** Cosine on quantized vectors, dequantized on the fly (the scales
    * fold back in; the 127 denominators cancel in cosine but are kept
    * so the dequantized values are also usable as magnitudes). */
  def sqCosine(qa: Column, qb: Column, scales: Array[Double]): Column = {
    val s = typedLit(scales.toSeq)
    val da = zip_with(qa, s, (v, sc) => v.cast("double") * sc / 127.0)
    val db = zip_with(qb, s, (v, sc) => v.cast("double") * sc / 127.0)
    cosine(da, db)
  }

  /** Top-k by quantized cosine: the int8 corpus is what scans (a
    * quarter of the float bytes); the query is quantized driver-side
    * with the SAME scales so corpus and query live in one codebook. */
  def sqKnn(quantized: DataFrame, idCol: String, qvecCol: String,
      scales: Array[Double], query: Array[Float], k: Int): DataFrame = {
    val qq = query.zip(scales).map { case (v, s) =>
      math.max(-127, math.min(127, math.floor(v * 127.0 / s + 0.5))).toInt
    }
    sqKnnQuantized(quantized, idCol, qvecCol, scales, qq, k)
  }

  private def sqKnnQuantized(quantized: DataFrame, idCol: String,
      qvecCol: String, scales: Array[Double], qq: Array[Int],
      k: Int): DataFrame =
    quantized.select(col(idCol),
        sqCosine(col(qvecCol), typedLit(qq.toSeq), scales).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  // ------------------------------------------------ semantic dedup

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus coarsely, then
    * inside each cluster drop every vector that has a near-identical
    * neighbor, keeping one representative. All-pairs work collapses to
    * sum over clusters of n_c² — the same Σn² trick as the LSH bucket
    * join — and the cluster key is the only shuffle.
    *
    * This variant is fully deterministic and cross-engine replayable
    * (no RNG, no iterative KMeans): centroids are the `k` vectors with
    * the smallest ids and clustering is one assignment step (argmax
    * cosine, ties to the smaller seed id on the 6-decimal-rounded
    * value); the keep rule is "drop iff a smaller-id vector in the same
    * cluster has cosine >= tau" — greedy by id instead of the paper's
    * distance-to-centroid order, so the result is independent of
    * partitioning and provable in SQL. Note the rule tests against ALL
    * smaller-id neighbors, dropped ones included, so a similarity
    * CHAIN a~b~c (with a,c dissimilar) keeps only a — more aggressive
    * than the paper's keep-set-greedy, which would retain c. That is a
    * deliberate trade: keep-set-greedy is inherently sequential (kept
    * is defined in terms of kept), while this rule is one
    * self-join; at the paper's tau (~0.95+) near-dup chains are
    * near-equivalence-classes and the two rules converge. Where chain
    * semantics matter, form explicit clusters with
    * [[TextDedup.connectedComponents]] over the >= tau pair list and
    * apply any keep policy per component. For production accuracy use
    * [[ivfSemDedup]] ([[ivfBuild]] KMeans centroids feeding the SAME
    * [[semDedupPrune]] stage) — the one-step seeded assignment here is
    * the replayable PROOF path, not the scale path: its crossJoin
    * evaluates N x k Catalyst cosines with k growing with N (the
    * measured 55 s at the 16x curve point, r9 PERF.md), where KMeans
    * assignment is vectorized linear algebra.
    *
    * At 100 TB: seeds are a k-row broadcast; assignment is map-only;
    * the prune self-join shuffles once on the cluster id. Choose k
    * proportional to corpus size to bound n_c (the paper uses
    * n_c ~ 10⁴ at 10⁸ vectors).
    *
    * Returns (idCol, cluster, kept) — one row per input vector. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double): DataFrame = {
    require(k >= 1, "semDedup needs k >= 1 seed clusters " +
      "(k = 0 would silently assign nothing and drop every vector)")
    val seeds = emb.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__c_id"), col(vecCol).as("__c_vec"))
    semDedupPrune(assignToCentroids(emb, idCol, vecCol, seeds),
      idCol, vecCol, tau)
  }

  /** Nearest-centroid assignment by cosine (argmax over the broadcast
    * centroid table; ties to the smaller centroid id on the
    * 6-decimal-rounded value — deterministic and cross-engine
    * replayable). `centroids` needs (__c_id long, __c_vec array).
    * Returns (idCol, vecCol, cluster) — one row per input vector.
    *
    * The max over (rounded cosine, -centroid_id) structs is
    * argmax-with-min-id-tiebreak as a map-side-combinable aggregate
    * instead of a row_number window. */
  def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    // an empty centroid table would make the inner join below emit
    // ZERO rows — every input vector silently dropped, an empty
    // "index"/"dedup state" with no error anywhere (assignExpr and
    // semDedup guard their equivalents loudly; the centroid table is
    // broadcast-tiny by contract, so the isEmpty action is bounded)
    require(!centroids.isEmpty,
      "assignToCentroids got an EMPTY centroid table — every vector " +
        "would silently drop; check the centroid build/read")
    val best = emb.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids))
      .select(col(idCol),
        struct(round(cosine(col(vecCol), col("__c_vec")), 6).as("c"),
          (-col("__c_id")).as("neg")).as("__cand"))
      .groupBy(idCol)
      .agg(max(col("__cand")).as("__best"))
      .select(col(idCol), (-col("__best.neg")).as("cluster"))
    emb.select(col(idCol), col(vecCol)).join(best, Seq(idCol))
  }

  /** The SemDeDup prune stage, shared by every clustering front-end
    * ([[semDedup]] seeds, [[lloydSemDedup]] one-step centroids,
    * [[ivfSemDedup]] KMeans cells): within each cluster drop every
    * vector with a smaller-id neighbor at cosine >= tau (rounded to 6
    * decimals). `clustered` needs (idCol, vecCol, cluster). All-pairs
    * work is Σ n_c² and the cluster key is the only shuffle.
    * Returns (idCol, cluster, kept) — one row per input vector. */
  def semDedupPrune(clustered: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame =
    // exactly the evidence variant minus its suppressor column — ONE
    // spelling of the drop rule, so a future tie/rounding change
    // cannot drift between the two (the q179/q184 cross-variant
    // equivalences depend on them agreeing; the min-suppressor
    // aggregate and the old distinct produce the same dropped set)
    semDedupPruneEvidence(clustered, idCol, vecCol, tau)
      .drop("suppressor")

  /** One deterministic Lloyd refinement step from the [[semDedup]]
    * seeds, with EXACT cross-engine-replayable centroid means: each
    * member component is quantized to integer micro-units
    * (floor(v * 1e6 + 0.5), the repo's round-half-up spelling) and
    * SUMMED AS INTEGERS — associative, order-independent, identical in
    * any engine — then divided back once. A naive float mean would
    * depend on Spark's partition-order summation and could not
    * hash-match a SQL replay. Returns (__c_id, __c_vec) ready for
    * [[assignToCentroids]].
    *
    * Scale shape: assignment + one posexplode groupBy(cluster, dim)
    * (map-side combinable, k x dims result rows) + a k-row collect_list
    * — all linear. */
  def lloydCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "lloydCentroids needs k >= 1")
    val seeds = emb.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("__c_id"), col(vecCol).as("__c_vec"))
    assignToCentroids(emb, idCol, vecCol, seeds)
      .select(col("cluster"),
        posexplode(col(vecCol)).as(Seq("__dim", "__v")))
      .groupBy("cluster", "__dim")
      .agg(sum(floor(col("__v").cast("double") * 1e6 + 0.5).cast("long"))
          .as("__s"),
        count(lit(1)).as("__n"))
      .select(col("cluster"), col("__dim"),
        (col("__s").cast("double") / (col("__n") * 1e6)).as("__comp"))
      .groupBy("cluster")
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__comp")))),
        x => x.getField("__comp")).as("__c_vec"))
      .select(col("cluster").as("__c_id"), col("__c_vec"))
  }

  /** SemDeDup with one-Lloyd-step centroids — the fully deterministic,
    * SQL-replayable middle ground between [[semDedup]] (raw seed
    * vectors as centroids) and [[ivfSemDedup]] (iterated KMeans): the
    * centroid means sharpen the clustering while every number stays
    * exactly replayable in any engine (q179's hash-matched oracle
    * replays seeds -> assign -> integer-mean centroids -> re-assign ->
    * prune end to end). Exercises the same [[assignToCentroids]] +
    * [[semDedupPrune]] stages the KMeans variant feeds. */
  def lloydSemDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double): DataFrame =
    semDedupPrune(
      assignToCentroids(emb, idCol, vecCol,
        lloydCentroids(emb, idCol, vecCol, k)),
      idCol, vecCol, tau)

  /** Production SemDeDup (the paper's actual shape, arXiv:2303.09540
    * §3: k-means clusters, then prune within each cluster):
    * [[ivfBuild]]'s distributed KMeans assigns the clusters — N x k
    * distance evaluations per iteration in vectorized ML linear
    * algebra with norm-pruning, instead of N x k interpreted Catalyst
    * cosine folds — and the UNCHANGED [[semDedupPrune]] drops
    * near-duplicates. This is the variant that holds at the paper's
    * 10⁸-vector regime where k grows with N: the r9 curve measured the
    * seeded assignment at 55 s for 80k vectors x k=256 while the
    * KMeans path stays in single-digit seconds (PERF.md r10).
    * KMeans centroids depend on Spark ML internals, so this variant is
    * NOT SQL-replayable — correctness is pinned by the shared prune
    * stage (q179 hash-matches it under a replayable clustering) plus
    * the nlist=1 degenerate-equivalence spec. */
  def ivfSemDedup(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, tau: Double, seed: Long = 42L,
      maxIter: Int = 10): DataFrame = {
    // random init, not k-means||: the parallel-init's extra passes buy
    // centroid PLACEMENT quality that a dedup bucketing does not need
    // (the prune law is exact under ANY clustering; placement only
    // shifts which near-dups land in one bucket, and tau-level dups
    // are near-identical vectors that stay together under any seeding)
    // — measured ~40% of the KMeans wall at the 16x curve point
    val (assigned, _) = ivfBuild(emb, idCol, vecCol, nlist, seed, maxIter,
      initMode = "random")
    semDedupPrune(
      assigned.select(col(idCol), col(vecCol),
        col("ivf_cell").cast("long").as("cluster")),
      idCol, vecCol, tau)
  }

  /** Per-row nearest-centroid assignment as a PURE MAP expression over
    * a driver-side centroid table — the streaming-safe form of
    * [[assignToCentroids]]: no groupBy, no join (a blocking
    * aggregation would force complete-mode on a readStream), just an
    * array_max over k inline (rounded cosine, -centroid_id) struct
    * candidates — the identical argmax-with-smaller-id-tiebreak by
    * construction, which q182 requires stream ≡ batch. Use for
    * streaming ingest; the DataFrame form remains the batch/warehouse
    * path (centroids as a broadcast table, not plan literals). */
  def assignExpr(vec: Column,
      centroids: Array[(Long, Array[Double])]): Column = {
    require(centroids.nonEmpty, "assignExpr needs >= 1 centroid")
    val cands = array(centroids.map { case (cid, cv) =>
      struct(round(cosine(vec, typedLit(cv.toSeq)), 6).as("c"),
        lit(-cid).as("neg"))
    }.toIndexedSeq: _*)
    -array_max(cands).getField("neg")
  }

  // ------------------------------- incremental semantic-dedup state

  /** Stored semantic-dedup state: every vector with its cluster,
    * keep/drop decision, and — for dropped members — the id of ONE
    * surviving smaller-id tau-neighbor that suppresses it (the
    * `suppressor` evidence column; the minimum such id at the time the
    * member was last checked). Vectors are retained (future prune
    * joins need them), plus the frozen centroid table.
    *
    * The evidence column is what makes REMOVALS O(dirty) instead of
    * O(affected clusters): a dropped member needs re-checking only if
    * its recorded suppressor is among the removed ids — a surviving
    * suppressor is standing proof the member stays dropped. And the
    * column is exactly reproducible by a full re-run: the recorded
    * value is min(smaller-id tau-neighbor) over the CURRENT membership
    * (appends can never become a min — larger ids; a removal either
    * leaves the min in place or triggers the re-check that recomputes
    * it), so q184 pins it like any other state column. */
  final case class SemState(members: DataFrame, centroids: DataFrame)
      extends IncrementalState {
    /** A maintenance run carries `centroids` into the successor BY
      * REFERENCE (the frozen-centroid discipline). A long-running
      * maintenance service should still persist its state tables to
      * the warehouse (parquet, the incrementalIvf pattern) rather than
      * chaining in-memory states, which also restores fault tolerance
      * (a checkpoint truncates lineage, so losing an executor's blocks
      * fails the run instead of recomputing). */
    def frames: Seq[DataFrame] = Seq(members, centroids)
    def internals: Seq[DataFrame] = Nil
  }

  /** [[semDedupPrune]] with the evidence column: (idCol, cluster,
    * kept, suppressor) — `suppressor` is the minimum smaller-id
    * same-cluster neighbor at rounded cosine >= tau, NULL iff kept.
    * Same pair work as the plain prune (the distinct becomes a
    * min-aggregate over the same join). */
  def semDedupPruneEvidence(clustered: DataFrame, idCol: String,
      vecCol: String, tau: Double): DataFrame = {
    val a = clustered.select(col("cluster"), col(idCol).as("__id_a"),
      col(vecCol).as("__vec_a"))
    val b = clustered.select(col("cluster"), col(idCol).as("__id_b"),
      col(vecCol).as("__vec_b"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__id_a") < col("__id_b") &&
        round(cosine(col("__vec_a"), col("__vec_b")), 6) >= tau)
      .groupBy(col("__id_b").as(idCol))
      .agg(min(col("__id_a")).as("suppressor"))
    clustered
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        col("suppressor").isNull.as("kept"), col("suppressor"))
  }

  /** Full build of [[SemState]] against explicit frozen centroids. */
  def semState(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, tau: Double): SemState = {
    val clustered = assignToCentroids(emb, idCol, vecCol, centroids)
    SemState(
      clustered.join(
        semDedupPruneEvidence(clustered, idCol, vecCol, tau)
          .select(col(idCol), col("kept"), col("suppressor")),
        Seq(idCol)),
      centroids)
  }

  /** APPEND-ONLY incremental SemDeDup: maintain [[SemState]] through a
    * batch of new vectors whose ids all EXCEED every stored id (the
    * crawl-append regime — ids are ingest-ordered). Under that
    * precondition the maintained state is EXACTLY a full re-run over
    * old ∪ added with the same frozen centroids: the drop rule tests
    * only smaller-id same-cluster neighbors (dropped ones included),
    * so (a) every stored decision is final — an appended vector can
    * never flip it — and (b) an added vector's neighbor pool is the
    * stored members plus earlier vectors of its own batch, both known
    * here. The precondition is REQUIRED loudly (id interleaving would
    * silently violate (a)); REMOVALS are out of scope by design — a
    * removed vector can resurrect the neighbors it had suppressed,
    * which needs a dirty-frontier recompute (the incrementalSpanState
    * treatment) or a periodic full re-prune.
    *
    * Cost shape: stored members are scanned once (no shuffle of the
    * state); only the delta pays assignment (delta x k) and the prune
    * join (delta x cluster occupancy). The delta-derived frames are
    * broadcast, so the added batch must fit the broadcast budget. */
  def incrementalSemDedup(state: SemState, addedVecs: DataFrame,
      idCol: String, vecCol: String, tau: Double): SemState = {
    val bounds = state.members.agg(max(col(idCol)).as("mx")).collect()(0)
    val addedMin = addedVecs.agg(min(col(idCol)).as("mn")).collect()(0)
    if (!bounds.isNullAt(0) && !addedMin.isNullAt(0)) {
      def lv(r: org.apache.spark.sql.Row): Long =
        r.get(0).asInstanceOf[Number].longValue
      require(lv(addedMin) > lv(bounds),
        s"incrementalSemDedup is append-only: added ids must all exceed " +
          s"stored ids (stored max ${lv(bounds)}, added min " +
          s"${lv(addedMin)}); interleaved ids could flip stored " +
          "keep decisions — re-run semState instead")
    }
    val addedAssigned = assignToCentroids(addedVecs, idCol, vecCol,
      state.centroids)
    val pool = state.members.select(col("cluster"),
        col(idCol).as("__id_a"), col(vecCol).as("__vec_a"))
      .unionByName(addedAssigned.select(col("cluster"),
        col(idCol).as("__id_a"), col(vecCol).as("__vec_a")))
    val addedB = broadcast(addedAssigned.select(col("cluster"),
      col(idCol).as("__id_b"), col(vecCol).as("__vec_b")))
    val dropped = pool.join(addedB, Seq("cluster"))
      .filter(col("__id_a") < col("__id_b") &&
        round(cosine(col("__vec_a"), col("__vec_b")), 6) >= tau)
      .groupBy(col("__id_b").as(idCol))
      .agg(min(col("__id_a")).as("suppressor"))
    val addedMembers = addedAssigned
      .join(broadcast(dropped), Seq(idCol), "left")
      .select(col(idCol), col(vecCol), col("cluster"),
        col("suppressor").isNull.as("kept"), col("suppressor"))
    // staged with mandatory plan truncation (the removal overload's
    // seam discipline): the returned members ARE the next append's
    // input, and this function itself runs driver actions (the
    // id-bound aggregates above) against them — unstaged, N chained
    // appends would re-execute the full accumulated prune lineage
    // per call (O(N²) prune work) and nest N plan layers.
    SemState(Materialize.stage(state.members.unionByName(addedMembers),
      requireTruncation = true), state.centroids)
  }

  /** Dirty-frontier incremental SemDeDup WITH removals (the
    * incrementalSpanState treatment at the vector layer, closing the
    * append-only overload's documented gap): maintain [[SemState]]
    * through removed ids AND an appended batch in one run, exactly —
    * no periodic-re-prune staleness window.
    *
    * Why the frontier is small and exact: the drop rule is
    * MEMBERSHIP-based, not kept-based — a vector is dropped iff SOME
    * smaller-id vector shares its cluster at cosine >= tau, dropped
    * neighbors counting too. Removing vectors therefore only shrinks
    * drop pools: a stored KEPT decision can never flip, and a stored
    * DROPPED member can only be resurrected. The dirty frontier is
    * the dropped members whose recorded `suppressor` is itself among
    * the removed ids — a SURVIVING suppressor is standing proof the
    * member stays dropped, no re-check needed (a floor-based frontier
    * without the evidence column re-ran most dropped members whenever
    * removals were spread across clusters: measured SLOWER than the
    * full re-prune on an every-cluster-touched 4% removal fixture).
    * Only dirty members re-run the prune, against the surviving
    * smaller-id members of their own cluster; everything else carries
    * over untouched (scanned once, never reshuffled), then the added
    * batch runs through the append-only path.
    *
    * Cost shape: removal work is Σ over dirty members of their
    * cluster occupancy in cosines, with |dirty| <= the number of
    * removed ids that were recorded as suppressors — PERF.md's
    * vector-delta curve measures it a small fraction of the full
    * re-prune's Σ n_c². The removed ids, the dirty frontier and its
    * re-prune are broadcast, so they must fit the broadcast budget. */
  def incrementalSemDedup(state: SemState, removedIds: DataFrame,
      addedVecs: DataFrame, idCol: String, vecCol: String,
      tau: Double): SemState = {
    val rem = removedIds.select(col(idCol))
    val surviving = state.members.join(broadcast(rem), Seq(idCol), "left_anti")
    val dirty = surviving.filter(!col("kept"))
      .join(broadcast(rem.select(col(idCol).as("suppressor"))),
        Seq("suppressor"), "left_semi")
    val carried = surviving
      .join(broadcast(dirty.select(col(idCol))), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol), col("cluster"), col("kept"),
        col("suppressor"))
    val pool = surviving.select(col("cluster"), col(idCol).as("__id_a"),
      col(vecCol).as("__vec_a"))
    val dirtyB = broadcast(dirty.select(col("cluster"), col(idCol).as("__id_b"),
      col(vecCol).as("__vec_b")))
    val reDropped = pool.join(dirtyB, Seq("cluster"))
      .filter(col("__id_a") < col("__id_b") &&
        round(cosine(col("__vec_a"), col("__vec_b")), 6) >= tau)
      .groupBy(col("__id_b").as(idCol))
      .agg(min(col("__id_a")).as("suppressor"))
    val revised = dirty.drop("suppressor", "kept")
      .join(broadcast(reDropped), Seq(idCol), "left")
      .select(col(idCol), col(vecCol), col("cluster"),
        col("suppressor").isNull.as("kept"), col("suppressor"))
    // materialize at the removal/append seam: the append path runs
    // driver actions (its id-bound requires) against this state and
    // then materializes it again inside the final member plan — without
    // it the whole removal lineage (anti-join, dirty semi-join,
    // re-prune) executes once per action. One row per vector, the same
    // table the caller stores anyway. requireTruncation: this state
    // feeds the NEXT maintenance run's plan, so plan truncation is
    // mandatory here regardless of the session stage mode — without
    // it the removal/append lineage nests without bound across runs
    // (Materialize scaladoc, iterative-state seams).
    incrementalSemDedup(
      SemState(Materialize.stage(carried.unionByName(revised),
        requireTruncation = true),
        state.centroids),
      addedVecs, idCol, vecCol, tau)
  }

  // ------------------------------------------ incremental IVF state

  /** The stored ANN index a streaming-embedding pipeline keeps between
    * runs: the cell-keyed assignment table plus its centroid table —
    * the [[graft.ops.TextDedup.ShingleState]]/SpanState O(delta)
    * pattern applied to the vector layer. Centroids are FROZEN
    * between maintenance runs (the standard IVF discipline: retrain
    * on a schedule when cell-size drift warrants it, never per
    * ingest batch — per-batch retraining would reshuffle the whole
    * index under partition-pruned readers). */
  final case class IvfState(assigned: DataFrame, centroids: DataFrame)
      extends IncrementalState {
    /** Maintenance carries `centroids` into the successor by reference. */
    def frames: Seq[DataFrame] = Seq(assigned, centroids)
    def internals: Seq[DataFrame] = Nil
  }

  /** Full build of [[IvfState]] against an explicit centroid table
    * ((__c_id, __c_vec) — [[lloydCentroids]] for a replayable index,
    * [[ivfBuild]]'s KMeans centers for the production one). */
  def ivfState(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): IvfState =
    IvfState(assignToCentroids(emb, idCol, vecCol, centroids), centroids)

  /** O(delta) maintenance of [[IvfState]] through removed / added
    * vectors (a re-embedded document appears in both, new vector in
    * `addedVecs`). Because assignment is PER-ROW deterministic given
    * frozen centroids, the maintained index is EQUAL to re-assigning
    * the whole new corpus — the equivalence q180 require's both
    * directions and hash-matches against a SQL replay. Cost shape:
    * the stored assignment is scanned once with a broadcast anti
    * filter (never shuffled); only delta vectors pay the k-centroid
    * assignment. The removed ids are broadcast, so they must fit the
    * broadcast budget. */
  def incrementalIvf(state: IvfState, removedIds: DataFrame,
      addedVecs: DataFrame, idCol: String, vecCol: String): IvfState = {
    val kept = state.assigned
      .join(broadcast(removedIds.select(col(idCol))), Seq(idCol), "left_anti")
    val added = assignToCentroids(addedVecs, idCol, vecCol,
      state.centroids)
    IvfState(kept.unionByName(added), state.centroids)
  }

  /** Batch k-NN JOIN — top-k neighbors for EVERY query vector at once
    * (the knn-graph builder semantic-dedup and curation pipelines
    * need), celled through the IVF structure instead of all-pairs:
    * each query probes its `nprobe` nearest cells and joins only that
    * slice of the corpus, so total pair work is Σ (query-side cell
    * fan-out x cell occupancy) instead of |Q| x |C|. With
    * nprobe = nlist every cell is probed and the result is EXACTLY
    * the all-pairs top-k under THIS function's ordering contract —
    * ROUNDED cosine (6 decimals) descending, id ascending, the q183
    * hash-matched law. NOTE [[knnBrute]] orders by the RAW cosine
    * (its own q51/q59 oracles replay that), so the two "exact" paths
    * can legitimately disagree at rounding-tie boundaries; smaller
    * nprobe trades recall for the pair-work bound, measured in
    * PERF.md's IVF recall curve.
    *
    * Self-pairs are excluded. Returns (query id as `q_id`, `rank`
    * 1..k, neighbor idCol, `cos_sim`).
    *
    * 100 TB shape: centroids broadcast twice (corpus assignment +
    * query probe ranking); the only big shuffles are the cell-keyed
    * equi-join and the per-query top-k window, both keyed by
    * high-cardinality ids. The probe-cell ranking window shuffles the
    * QUERY side only (|Q| x nprobe rows). */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, k: Int,
      nprobe: Int): DataFrame =
    knnJoinIndexed(queries, ivfState(corpus, idCol, vecCol, centroids),
      idCol, vecCol, k, nprobe)

  /** Each query's `nprobe` nearest cells — the probe-cell ranking that
    * drives partial-probe search, public so callers can reason about
    * the candidate scope (q195's containment law joins against it).
    * Same ordering contract as the assignment itself (rounded cosine
    * desc, centroid id asc). Returns (idCol, cluster), nprobe rows per
    * query; `keepVec` additionally carries the query vector as
    * `__q_vec` for the join path. */
  def probeCells(queries: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, nprobe: Int, keepVec: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = queries.select(col(idCol).as("__q_id"),
        col(vecCol).as("__q_vec"))
      .crossJoin(broadcast(centroids))
      .select(col("__q_id"), col("__q_vec"),
        col("__c_id").as("cluster"),
        round(cosine(col("__q_vec"), col("__c_vec")), 6).as("__cc"))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("__q_id")
          .orderBy(desc("__cc"), asc("cluster"))))
      .filter(col("__pr") <= nprobe)
      .drop("__cc", "__pr")
    if (keepVec) ranked
    else ranked.select(col("__q_id").as(idCol), col("cluster"))
  }

  /** [[knnJoin]] against a STORED [[IvfState]] — the deployment shape:
    * the corpus assignment is the warehouse's maintained index table
    * (written `partitionBy("cluster"/"ivf_cell")`, kept current by
    * [[incrementalIvf]]), so a graph build pays ZERO corpus
    * re-assignment — only the query-side probe ranking and the
    * cell-keyed join against the stored slices. [[knnJoin]] is this
    * function over a just-built state, so the q183 exactness law and
    * the recall curve transfer verbatim; q186 pins the parquet
    * round-trip (stored index read back ≡ in-memory build). */
  def knnJoinIndexed(queries: DataFrame, state: IvfState, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val assigned = state.assigned
      .select(col("cluster"), col(idCol).as("__c_id2"),
        col(vecCol).as("__c_vec2"))
    val probes = probeCells(queries, state.centroids, idCol, vecCol,
      nprobe, keepVec = true)
    // bounded top-k aggregate instead of a row_number window: the
    // window form shuffles EVERY (query, candidate) pair to the
    // query's reducer before discarding; the k-bounded heap combines
    // map-side, so the rank shuffle carries at most k entries per
    // (query, partition) — the difference between shuffling the full
    // Σ(fan-out x occupancy) pair set and shuffling k rows per query.
    // Identical ordering contract (score desc, id asc, NULLs last),
    // pinned by spec against the window spelling and by q183's
    // DuckDB window replay.
    probes.join(assigned, Seq("cluster"))
      .filter(col("__q_id") =!= col("__c_id2"))
      .select(col("__q_id"), col("__c_id2"),
        round(cosine(col("__q_vec"), col("__c_vec2")), 6).as("cos_sim"))
      .groupBy("__q_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        col("cos_sim"), col("__c_id2"), k).as("__top"))
      .select(col("__q_id").as("q_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("q_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as(idCol), col("__e.score").as("cos_sim"))
  }

  /** IVF probe: search only the `nprobe` cells whose centroids are
    * closest to the query — partition pruning for vectors. Cells rank
    * by EUCLIDEAN distance deliberately: this is the Spark-ML KMeans
    * index ([[ivfIndex]]), whose `transform` assigns members by L2 —
    * the probe metric must match the index's own assignment metric
    * (the cosine-assigned IvfState path probes by cosine in
    * [[probeCells]] for the same reason). */
  def ivfSearch(assigned: DataFrame, centroids: Array[Array[Double]],
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      nprobe: Int): DataFrame = {
    require(centroids.nonEmpty, "ivfSearch needs at least one centroid")
    require(centroids.head.length == query.length,
      s"query dims ${query.length} != centroid dims " +
        s"${centroids.head.length}")
    val q = query.map(_.toDouble)
    def dist2(c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) { val d = c(i) - q(i); s += d * d; i += 1 }
      s
    }
    val probeCells = centroids.zipWithIndex
      .sortBy { case (c, _) => dist2(c) }
      .take(nprobe).map(_._2)
    val qLit = typedLit(query.toSeq)
    assigned
      .filter(col("ivf_cell").isin(probeCells.toIndexedSeq: _*))
      .select(col(idCol), cosine(col(vecCol), qLit).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  // ------------------------------------------- product quantization

  /** A collected PQ codebook: (subspace, code, centroid subvector),
    * grouped by subspace with codes sorted ascending. Tiny (m x ksub
    * rows of subDim doubles) — always a broadcast/literal, never a
    * shuffle side. */
  private type PqBook = Map[Int, Seq[(Int, Seq[Double])]]

  /** `vecCol` dimensionality read from the first row — loud on an
    * empty frame, where a bare head() would throw a contextless
    * NoSuchElementException (the assignToCentroids loud-contract
    * convention). Bounded: one-row action. */
  private def dimsOf(df: DataFrame, vecCol: String, who: String): Int = {
    // NULL vectors are skipped for the read — size(NULL) is NULL and
    // a bare getInt on it would NPE with no context (found in the
    // round-13 self-review; the all-NULL case reads as empty, which
    // is the same loud failure)
    val first = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(first.nonEmpty,
      s"$who got an EMPTY frame (or all-NULL $vecCol) — cannot read " +
        s"$vecCol dimensionality; check the upstream build/read")
    first(0).getInt(0)
  }

  private def collectBook(codebooks: DataFrame): PqBook =
    codebooks.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq
      }

  /** The per-row code assignment as a pure expression: for each
    * subspace, argmax over the (literal) codebook by ROUNDED cosine
    * desc, code asc — the [[assignToCentroids]] ordering contract per
    * subspace, so the whole encode replays as SQL window ranking. A
    * zero-norm subvector (cosine NULL) coalesces to -2, below any real
    * cosine, making its assignment deterministic (lowest code wins the
    * tie). Map-only: encoding 100 TB is a scan, no shuffle, no
    * driver involvement past the m x ksub literal. */
  private def pqAssignCol(vec: Column, book: PqBook, m: Int,
      subDim: Int): Column =
    array((0 until m).map { s =>
      val sub = slice(vec, s * subDim + 1, subDim)
      val cands = book(s).map { case (code, cv) =>
        struct(
          coalesce(round(cosine(sub, typedLit(cv)), 6), lit(-2.0)).as("c"),
          lit(-code).as("neg"))
      }
      (-array_max(array(cands: _*)).getField("neg")).cast("int")
    }: _*)

  // ------------------- signed random projection (JL / SRP-LSH layer)

  /** Deterministic ±1 sign matrix for signed random projection:
    * s(i, j) = +1 iff the first hex digit of md5("rp#i#j") is even —
    * the repo's auditable-randomness move (cf. minHashCandidatesMd5)
    * applied to the projection matrix, so the SAME signs derive on
    * the driver (here) and in any SQL engine with md5, and the whole
    * projection replays bit for bit. Dense ±1 entries are the
    * Achlioptas (JCSS 2003) database-friendly JL construction. */
  private[graft] def rpSigns(outDims: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDims, dims) { (i, j) =>
      val h = md.digest(s"rp#$i#$j".getBytes("UTF-8"))
      md.reset()
      // first hex digit = high nibble of byte 0; even -> +1, odd -> -1
      if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Signed random projection: out[i] = Σ_j s(i, j) · v_j over the
    * [[rpSigns]] matrix — the Johnson–Lindenstrauss dimensionality
    * reduction for embedding columns (Achlioptas 2003: ±1 entries
    * preserve pairwise geometry like Gaussians do, at integer-matrix
    * cost). Each component is the repo's in-order [[dot]] fold, so
    * the projected vectors are bit-replayable in any engine with md5.
    * Returns (idCol, rp_vec array<double>). NULL vectors are excluded
    * (their projection is undefined; mirroring the [[srpBands]]
    * contract keeps the two layers consistent).
    *
    * 100 TB shape: a pure map over a literal outDims x dims matrix —
    * no shuffle, no driver involvement past the sign literals; at
    * dims=1024 -> 64 this is a 16x at-rest cut that composes with
    * [[sqQuantize]]/[[pqEncode]] downstream. */
  def rpProject(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int): DataFrame = {
    require(outDims >= 1, "rpProject needs outDims >= 1")
    val dims = dimsOf(emb, vecCol, "rpProject")
    val signs = rpSigns(outDims, dims)
    emb.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        toCol(SrpProject(toExpr(col(vecCol)), signs)).as("rp_vec"))
  }

  /** SRP-LSH band buckets (Charikar, STOC 2002: the sign pattern of
    * random projections is a locality-sensitive hash for COSINE —
    * P[sign equal] = 1 − θ/π): `bands` buckets of `bandBits` sign
    * bits each, packed little-endian into a long. Two properties a
    * spec pins: exact copies share every band (P = 1), and the
    * signature is invariant under POSITIVE scaling (signs don't see
    * magnitude) — the cosine-geometry analogue of minhash's
    * set-semantics. Returns (idCol, band, bucket). Map-only. */
  /** The band buckets as a PURE COLUMN FUNCTION over a caller-known
    * dims — the STREAMING form: [[srpBands]] reads dims with a
    * one-row action, which a streaming frame cannot run, while this
    * is a stateless per-row expression (no state, no watermark, no
    * shuffle — ingest-time near-dup bucketing for free; q214 pins
    * stream == batch). Returns array<long> of `bands` buckets. */
  def srpBandBuckets(vec: Column, dims: Int, bands: Int = 4,
      bandBits: Int = 16): Column = {
    require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
      "srpBandBuckets needs bands >= 1 and 1 <= bandBits <= 62")
    require(dims >= 1, "srpBandBuckets needs the vector dims")
    val signs = rpSigns(bands * bandBits, dims)
    // native fold (r19, guide §4) — bit-identical to the per-bit
    // when(dot(...) > 0, 1L << k) HOF spelling; see [[SrpBandBuckets]]
    toCol(SrpBandBuckets(toExpr(vec), signs, bands, bandBits))
  }

  def srpBands(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bandBits: Int = 16): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
      "srpBands needs bands >= 1 and 1 <= bandBits <= 62")
    val dims = dimsOf(emb, vecCol, "srpBands")
    Banding.explode(emb.filter(col(vecCol).isNotNull), col(idCol),
      srpBandBuckets(col(vecCol), dims, bands, bandBits))
  }

  /** Per-(band, bucket) group sizes of the SRP banding — the drop
    * accounting companion to [[srpCandidates]]' `maxBucket` cap: run
    * it with the same parameters and `filter(bsz > cap)` to see
    * exactly which groups the cap removes and how many rows each
    * held (zero-vector pileups surface as bucket 0 in every band).
    * Same map-side-combinable aggregation the cap itself uses. */
  def srpBucketStats(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bandBits: Int = 16): DataFrame =
    Banding.sizes(srpBands(emb, idCol, vecCol, bands, bandBits))

  /** MULTI-PROBE SRP bucket table (Lv, Josephson, Wang, Charikar &
    * Li, "Multi-probe LSH", VLDB 2007): (idCol, band, probe, bucket)
    * where probe 0 is the base sign bucket and probe r (1-based)
    * flips the bit with the r-th SMALLEST projection magnitude — the
    * bits most likely to read differently for a true neighbor, since
    * P[sign flip] grows as the point nears the hyperplane. Flip rank
    * is (|projection| asc, bit index asc): pure deterministic
    * arithmetic over the md5 sign matrix, so the whole probe table
    * replays in any engine with md5 (the q221 oracle does).
    *
    * Probing buys recall WITHOUT more bands: a pair whose signatures
    * differ by <= 1 bit in SOME band meets under probes >= 1 — where
    * adding bands multiplies the whole bucket table, probing adds
    * `probes` narrow rows per (id, band) on the QUERY side only.
    * Map-only; the projections are computed ONCE into an array
    * column and the bucket/flip arithmetic indexes it (two Projects
    * that CollapseProject keeps apart — the fold per bit is not
    * cheap-to-inline). */
  /** The probe table's PROJECTION stage as a pure Column over
    * caller-known dims: out[i] = dot(vec, sign row i) over the
    * [[rpSigns]] matrix. Kept as its OWN projection step (batch and
    * streaming alike): the downstream bucket/flip arithmetic indexes
    * this array many times, and inlining the 64-fold dot products at
    * every reference would balloon the expression tree. */
  def srpProjections(vec: Column, dims: Int, bands: Int,
      bandBits: Int): Column = {
    require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
      "srpProjections needs bands >= 1 and 1 <= bandBits <= 62")
    require(dims >= 1, "srpProjections needs the vector dims")
    val signs = rpSigns(bands * bandBits, dims)
    // native fold (r19, guide §4) — bit-identical to the per-row
    // array(dot(vec, sign_i)) HOF spelling; see [[SrpProject]]
    toCol(SrpProject(toExpr(vec), signs))
  }

  /** Probe structs from a precomputed [[srpProjections]] array —
    * together they are the STREAMING form of [[srpProbeBands]]
    * ([[srpBandBuckets]]' relationship to [[srpBands]]): two
    * stateless per-row expressions, no action, no state, no
    * shuffle — an ingest stream probes a stored SRP index with the
    * same recall boost the batch side measured (q227 pins
    * stream == batch). Returns array<struct<band, probe, bucket>>;
    * the caller filters NULL vectors first (the DataFrame forms do). */
  def srpProbeStructs(pj: Column, bands: Int, bandBits: Int,
      probes: Int): Column = {
    require(bands >= 1 && bandBits >= 1 && bandBits <= 62,
      "srpProbeStructs needs bands >= 1 and 1 <= bandBits <= 62")
    require(probes >= 0 && probes <= bandBits,
      "srpProbeStructs needs 0 <= probes <= bandBits")
    val perBand = (0 until bands).map { b =>
      def proj(k: Int) = pj(b * bandBits + k)
      val base = (0 until bandBits).map(k =>
        when(proj(k) > 0, lit(1L << k)).otherwise(lit(0L))).reduce(_ + _)
      // flip ranks: (|proj| asc, bit asc) — array_sort on the struct
      // orders by fields left to right
      val ranked = array_sort(array((0 until bandBits).map(k =>
        struct(abs(proj(k)).as("m"), lit(k).as("k"))): _*))
      val probeBuckets = lit(0L) +: (1 to probes).map { r =>
        // dynamic shift: the Scala shiftleft helper is literal-only
        call_function("shiftleft", lit(1L),
          element_at(ranked, r).getField("k"))
      }
      array(probeBuckets.zipWithIndex.map { case (flip, p) =>
        struct(lit(b).as("band"), lit(p).as("probe"),
          base.bitwiseXOR(flip).as("bucket"))
      }: _*)
    }
    flatten(array(perBand: _*))
  }

  def srpProbeBands(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bandBits: Int = 16, probes: Int = 2): DataFrame = {
    val dims = dimsOf(emb, vecCol, "srpProbeBands")
    val projected = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        srpProjections(col(vecCol), dims, bands, bandBits).as("__pj"))
    projected
      .select(col(idCol), explode(
        srpProbeStructs(col("__pj"), bands, bandBits, probes)).as("__e"))
      .select(col(idCol), col("__e.band").as("band"),
        col("__e.probe").as("probe"), col("__e.bucket").as("bucket"))
  }

  /** Multi-probe SRP near-dup candidates: the PROBE side (base + up
    * to `probes` 1-bit-flipped buckets per band) joins the staged BASE
    * side ([[srpStagedBands]]; `maxBucket` caps base groups exactly as
    * [[srpCandidates]]). A pair whose
    * band signatures differ by one bit meets WHEN that bit is within
    * either side's probe budget — the `probes` lowest-|margin| bits,
    * the likeliest to differ for true neighbors — so multi-probe is
    * a heuristic recall boost, not a deterministic 1-bit-recall
    * guarantee (a 1-bit difference outside both probe sets still
    * misses). The exact cosine refine keeps pairs at `tau`. STRICT
    * SUPERSET of [[srpCandidates]] at the same (bands, bandBits)
    * (probe 0 is the base bucket; spec-pinned), converging toward
    * the brute-force join as probes grows. Measured on the recall
    * fixture (PERF): 4x16 recall 0.64/0.84 at tau 0.85/0.95 becomes
    * 0.88/0.99 with probes=2 (32k candidates) and 0.91/0.993 with
    * probes=4 — at tau 0.95 that is 8x8's recall at ~1/38th of its
    * 1.23M-candidate mass. */
  def srpMultiProbeCandidates(emb: DataFrame, idCol: String,
      vecCol: String, tau: Double, bands: Int, bandBits: Int,
      probes: Int = 2, maxBucket: Int = Int.MaxValue): DataFrame =
    srpMultiProbeCandidatesStaged(
      srpStagedBands(emb, idCol, vecCol, bands, bandBits, maxBucket),
      emb, idCol, vecCol, tau, bands, bandBits, probes)

  /** [[srpMultiProbeCandidates]] over a caller-provided staged banding
    * table ([[srpStagedBands]] with the SAME (bands, bandBits,
    * maxBucket)) — the op-level sharing seam (r19 VERDICT Next #5): a
    * caller that also runs [[srpCandidates]] on the same corpus passes
    * ONE staged table to both, paying the banding projection + its
    * (band, bucket) exchange once instead of once per operator. */
  def srpMultiProbeCandidatesStaged(base: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, tau: Double, bands: Int,
      bandBits: Int, probes: Int = 2): DataFrame = {
    val probe = srpProbeBands(emb, idCol, vecCol, bands, bandBits, probes)
    cosineRefine(Banding.probePairs(probe, base, idCol), emb, idCol,
      vecCol, tau)
  }

  /** The exact cosine refine of SRP candidate pairs: (id_a, id_b,
    * cos_sim rounded 6) at `tau` or above. */
  private def cosineRefine(pairs: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame =
    Banding.attach(pairs,
        emb.select(col(idCol).as("id"), col(vecCol).as("v")), "id")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("a_v"), col("b_v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)

  /** SRP-LSH near-duplicate candidates over an embedding column,
    * verified: banded-bucket self-join (the minHashCandidates shape —
    * narrow (id, band, bucket) fan-out, never all-pairs), then the
    * exact cosine refine keeps pairs at `tau` or above. A zero-norm
    * vector's cosine is SQL NULL (the CosineSim contract) and never
    * passes the refine. Returns (id_a, id_b, cos_sim rounded 6),
    * id_a < id_b.
    *
    * This is the third embedding near-dup family: IVF/SemDeDup prune
    * by cluster geometry, SQ/PQ compress then score — SRP hashes
    * DIRECTLY on cosine geometry, needs no training pass at all, and
    * its bucket table is streaming-safe (pure map).
    *
    * OPERATING POINT — the caller MUST pick one (no default: a
    * default 4x16 silently under-recalled semantic near-dup use at
    * 0.64 recall for tau 0.85, r14 finding): P[pair collides in >= 1
    * band] = 1 − (1 − (1 − θ/π)^bandBits)^bands — more bands buys
    * recall, more bits buys precision, the product is the signature
    * budget. Measured at a 64-bit budget over the embeddings fixture
    * (the SRP recall curve in PERF.md): 4x16 is the high-precision point
    * for exact-duplicate hunting (recall 0.84 even at tau 0.95 —
    * fine when every true dup collides in ALL bands); 8x8 is the
    * semantic near-dup point (recall 0.975/0.999 at tau 0.85/0.95
    * for ~4% candidate mass); 16x4 reaches recall 1.0 but stops
    * pruning (~2/3 of all pairs become candidates). Multi-probe
    * ([[srpMultiProbeCandidates]]) buys 4x16 most of 8x8's recall at
    * a fraction of its candidate mass.
    *
    * `maxBucket` drops (band, bucket) groups larger than the cap
    * before the self-join — [[graft.ops.TextDedup.minHashCandidates]]'
    * skew guard, and SRP needs it for a reason minhash doesn't: sign
    * hashing has two DEGENERATE pileups that real crawl corpora
    * produce in bulk. A ZERO vector (failed embedding, padded row)
    * projects to 0 on every hyperplane — strictly-positive bit rule →
    * bucket 0 in EVERY band — so all zero vectors land in one group;
    * and exact-duplicate embeddings (the dup-heavy crawl case this
    * operator exists for) share every band bucket by construction
    * (P[collide] = 1). Either mass sends the banded self-join
    * quadratic in the pileup size. Capped groups drop LOUDLY in the
    * accounting sense: [[srpBucketStats]] returns the per-group sizes
    * so a pipeline can count and log exactly which (band, bucket)
    * groups the cap removed. Recall: a zero vector's cosine is NULL,
    * so its pairs could never pass the refine — capping its pileup
    * removes only join work; near-dups OUTSIDE a pileup still meet in
    * their own small buckets; pairs INTERNAL to an exact-duplicate
    * mass are intentionally skipped (they share every band, so no
    * other band rescues them) — byte-identical duplicates belong to
    * the exact hash-groupBy dedup pass that precedes any LSH stage in
    * the standard pipeline order. */
  def srpCandidates(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, bands: Int, bandBits: Int,
      maxBucket: Int = Int.MaxValue): DataFrame =
    srpCandidatesStaged(
      srpStagedBands(emb, idCol, vecCol, bands, bandBits, maxBucket),
      emb, idCol, vecCol, tau)

  /** The staged, (band, bucket)-partitioned, `maxBucket`-capped
    * banding table ([[Banding.stage]]) both SRP candidate generators
    * consume. Callers running BOTH [[srpCandidates]] and
    * [[srpMultiProbeCandidates]] on one corpus should build this once
    * and use the *Staged variants. */
  def srpStagedBands(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int, bandBits: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    Banding.rows(bands * bandBits, bands, maxBucket)
    Banding.stage(srpBands(emb, idCol, vecCol, bands, bandBits), maxBucket)
  }

  /** [[srpCandidates]] over a caller-provided [[srpStagedBands]] table
    * (same sharing seam as [[srpMultiProbeCandidatesStaged]]). */
  def srpCandidatesStaged(banded: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame =
    cosineRefine(Banding.pairs(banded, idCol).distinct(), emb, idCol,
      vecCol, tau)

  /** Learn PQ codebooks: split each vector into `m` contiguous
    * subvectors (dims % m == 0), seed each subspace's `ksub` codes
    * with the first `ksub` vectors by id (code = id rank), then ONE
    * integer-mean refinement — the [[lloydCentroids]] discipline
    * (micro-unit longs summed associatively, divided once), so every
    * centroid component is bit-replayable in any engine. A code whose
    * seed attracts no members after assignment drops out (the SQL
    * replay drops it identically). Returns (subspace, code, cvec).
    *
    * Scale shape: one map-only seed assignment + one narrow
    * (subspace, code, dim) aggregation — the same cost as ONE Lloyd
    * step, regardless of m/ksub. Reference: Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
    * 2011 (the IVFADC system this layer re-expresses on Spark). */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, steps: Int = 1): DataFrame = {
    require(m >= 1 && ksub >= 1, "pqCodebooks needs m >= 1, ksub >= 1")
    require(steps >= 1, "pqCodebooks needs steps >= 1")
    val dims = dimsOf(emb, vecCol, "pqCodebooks")
    require(dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    val subDim = dims / m
    val seedBook: PqBook = {
      // cast before collect: the embedding column may be float-typed;
      // float -> double widening is exact and both engines spell it
      val seeds = emb.orderBy(col(idCol)).limit(ksub)
        .select(col(vecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0))
      // fewer rows than ksub would SILENTLY train a smaller codebook
      // than requested — downstream encode/ADC would run against an
      // unexpectedly coarse quantizer with no error anywhere
      require(seeds.length == ksub,
        s"pqCodebooks: corpus has only ${seeds.length} rows but " +
          s"ksub=$ksub seed codes were requested — lower ksub or grow " +
          "the corpus")
      (0 until m).map { s =>
        s -> seeds.zipWithIndex.map { case (v, code) =>
          (code, v.slice(s * subDim, (s + 1) * subDim))
        }.toSeq
      }.toMap
    }
    // `steps` full Lloyd iterations, each the same replayable
    // assign + integer-mean aggregation; intermediate books collect
    // (m x ksub rows) between steps, the LAST frame returns lazy —
    // steps = 1 is plan-identical to the original single refinement
    // (the q199 oracle chain). Recall vs steps is measured in
    // PERF.md's PQ curve; the per-step cost is one aggregation regardless of
    // m/ksub, so deeper codebook training scales with step count
    // only, never with corpus width.
    var book = seedBook
    var out = pqRefineOnce(emb, vecCol, book, m, subDim)
    for (_ <- 2 to steps) {
      book = collectBook(out)
      out = pqRefineOnce(emb, vecCol, book, m, subDim)
    }
    out
  }

  /** One Lloyd step over a literal codebook: assign every subvector
    * to its rounded-cosine argmax code, then integer-mean each
    * (subspace, code) — the [[lloydCentroids]] micro-unit discipline,
    * so every step (not just the first) replays exactly. */
  private def pqRefineOnce(emb: DataFrame, vecCol: String, book: PqBook,
      m: Int, subDim: Int): DataFrame =
    emb
      // codes computed ONCE per row (separate projection: the m
      // element_at references keep CollapseProject from inlining the
      // argmax m times over)
      .select(col(vecCol).as("__v"),
        pqAssignCol(col(vecCol), book, m, subDim).as("__codes"))
      .select(posexplode(array((0 until m).map(s => struct(
          lit(s).as("s"),
          element_at(col("__codes"), s + 1).as("code"),
          slice(col("__v"), s * subDim + 1, subDim).as("sv"))): _*))
        .as(Seq("__i", "__e")))
      .select(col("__e.s").as("subspace"), col("__e.code").as("code"),
        posexplode(col("__e.sv")).as(Seq("__dim", "__v")))
      .groupBy("subspace", "code", "__dim")
      .agg(sum(floor(col("__v").cast("double") * 1e6 + 0.5).cast("long"))
          .as("__s"),
        count(lit(1)).as("__n"))
      .select(col("subspace"), col("code"),  col("__dim"),
        (col("__s").cast("double") / (col("__n") * 1e6)).as("__comp"))
      .groupBy("subspace", "code")
      .agg(transform(
        array_sort(collect_list(struct(col("__dim"), col("__comp")))),
        x => x.getField("__comp")).as("cvec"))

  /** Encode every vector to its m-byte PQ code word — THE stored form
    * of a 100 TB vector corpus: m ints (m bytes on disk after parquet
    * bit-packing) instead of 4 x dims float bytes, a 16-64x footprint
    * cut, decodable against the tiny codebook forever after. Pure map
    * over a literal codebook. Returns (idCol, pq_codes). */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val book = collectBook(codebooks)
    val m = book.size
    val dims = dimsOf(emb, vecCol, "pqEncode")
    require(dims % m == 0, s"dims=$dims vs codebook subspaces m=$m")
    pqEncodeWith(emb, idCol, vecCol, book, m, dims / m)
  }

  private def pqEncodeWith(emb: DataFrame, idCol: String, vecCol: String,
      book: PqBook, m: Int, subDim: Int): DataFrame =
    emb.select(col(idCol),
      pqAssignCol(col(vecCol), book, m, subDim).as("pq_codes"))

  /** Asymmetric-distance top-k over PQ codes (Jégou et al.'s ADC):
    * each query precomputes one lookup table of dot(q_s, c_(s,j)) for
    * every (subspace, code) — m x ksub doubles — and every corpus
    * row's approximate similarity is then m table lookups summed in
    * subspace order plus the code word's reconstruction norm (a
    * query-independent table). No per-pair float-vector arithmetic at
    * all: the corpus side touches ONLY the m-int code column, so a
    * 100 TB scan reads the narrow code parquet, broadcasts the
    * (queries x 32-entry LUT) frame, and shuffles k rows per (query,
    * partition) through the bounded top-k aggregate.
    *
    * adc_cos = Σ_s LUT[s][code_s] / (|q| * sqrt(Σ_s |c_(s,code_s)|²)),
    * rounded to 6 — exactly cosine(q, reconstruction) up to float
    * summation grouping, and bit-exactly the subspace-ordered fold a
    * SQL replay produces (q199 hash-matches the whole chain). Both
    * Σ_s folds run in subspace order; every LUT entry is the same
    * in-order [[dot]] fold the oracle's list_sum spells. Ordering:
    * adc_cos desc, id asc; self-pairs excluded. */
  /** Shared ADC machinery: the LUT/norm² tables over a literal
    * codebook, the subspace-ordered fold, and the bounded top-k
    * finish. `stride` is a FIXED ksub-slot stride so (subspace, code)
    * indexes one flat array; absent codes hold 0 and are never
    * referenced (encode cannot emit a code the codebook lacks). The
    * driver-side norm² fold is the same in-order IEEE sequence as the
    * engine's [[dot]] fold on the same doubles. */
  private final case class AdcTables(book: PqBook, m: Int, stride: Int,
      subDim: Int, n2: Seq[Double]) {
    def lutFor(vec: Column): Column =
      array((0 until m * stride).map { i =>
        book(i / stride).find(_._1 == i % stride)
          .fold(lit(0.0)) { case (_, cv) =>
            dot(slice(vec, (i / stride) * subDim + 1, subDim),
              typedLit(cv))
          }
      }: _*)
    // native LUT fold (r19, guide §4) — bit-identical to the previous
    // aggregate/zip_with spelling (same in-order sums, same Divide
    // NULL contract), one eval per row instead of two interpreted
    // HOF walks; see [[AdcLutScore]]
    def score(codes: Column, lut: Column, qL2: Column): Column =
      round(toCol(AdcLutScore(toExpr(codes), toExpr(lut), toExpr(qL2),
        n2.toArray, stride)), 6)
  }

  private def adcTables(codebooks: DataFrame, dims: Int): AdcTables = {
    val book = collectBook(codebooks)
    val m = book.size
    require(dims % m == 0, s"dims=$dims vs codebook subspaces m=$m")
    val stride = book.valuesIterator.map(_.map(_._1).max).max + 1
    val n2 = (0 until m * stride).map { i =>
      book(i / stride).find(_._1 == i % stride).fold(0.0) { case (_, cv) =>
        var acc = 0.0
        var j = 0
        while (j < cv.length) { acc += cv(j) * cv(j); j += 1 }
        acc
      }
    }
    AdcTables(book, m, stride, dims / m, n2)
  }

  private def adcTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .groupBy("__q_id")
      .agg(graft.functions.TopKAgg.topKByScore(
        col("adc_cos"), col(idCol), k).as("__top"))
      .select(col("__q_id").as("q_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("q_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as(idCol), col("__e.score").as("adc_cos"))

  def pqAdcKnn(queries: DataFrame, encoded: DataFrame,
      codebooks: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val dims = dimsOf(queries, vecCol, "pqAdcKnn")
    val t = adcTables(codebooks, dims)
    val qSide = queries.select(col(idCol).as("__q_id"),
      l2norm(col(vecCol)).as("__q_l2"),
      t.lutFor(col(vecCol)).as("__lut"))
    adcTopK(
      encoded.crossJoin(broadcast(qSide))
        .filter(col("__q_id") =!= col(idCol))
        .select(col("__q_id"), col(idCol),
          t.score(col("pq_codes"), col("__lut"), col("__q_l2"))
            .as("adc_cos")),
      idCol, k)
  }

  /** IVFADC — the deployment composition: IVF probe pruning picks the
    * `nprobe` candidate cells per query, ADC scores ONLY those cells'
    * code words. DEPLOYMENT NOTE on the corpus side: THIS form takes
    * the assignment table and the code table separately and pays one
    * id-keyed join to combine them per call — fine for a session that
    * calls it once, but a deployed warehouse materializes the joined
    * (cluster, id, pq_codes) table ONCE, written
    * `partitionBy("cluster")` (the q186 storage discipline), and at
    * that point a query batch reads nprobe/nlist of the cell-
    * partitioned code parquet, floats touched never, no per-call
    * id-join.
    * nprobe = nlist degenerates to [[pqAdcKnn]] exactly (same scores,
    * same ordering — q200 reuses q199's full-scan oracle on that
    * identity), and partial probes obey the q195 containment laws
    * with adc_cos as the score. */
  def pqAdcKnnIndexed(queries: DataFrame, state: IvfState,
      encoded: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val dims = dimsOf(queries, vecCol, "pqAdcKnnIndexed")
    val t = adcTables(codebooks, dims)
    // LUT + query norm computed ONCE PER QUERY (the pqAdcKnn qSide
    // shape) and attached via BROADCAST only AFTER the cell
    // restriction: the cluster join ships the slim (q_id, cluster)
    // probe ranking, never the m x stride LUT arrays — attaching the
    // LUT before that join would duplicate every query's LUT nprobe
    // times through the cluster shuffle, which at larger ksub/m or
    // query batches dominates the very shuffle ADC exists to avoid.
    val qSide = queries.select(col(idCol).as("__q_id"),
      l2norm(col(vecCol)).as("__q_l2"),
      t.lutFor(col(vecCol)).as("__lut"))
    val probes = probeCells(queries, state.centroids, idCol, vecCol,
        nprobe)
      .select(col(idCol).as("__q_id"), col("cluster"))
    val codesByCell = state.assigned.select(col(idCol), col("cluster"))
      .join(encoded, Seq(idCol))
    adcTopK(
      codesByCell.join(broadcast(probes), Seq("cluster"))
        .filter(col("__q_id") =!= col(idCol))
        .join(broadcast(qSide), Seq("__q_id"))
        .select(col("__q_id"), col(idCol),
          t.score(col("pq_codes"), col("__lut"), col("__q_l2"))
            .as("adc_cos")),
      idCol, k)
  }
}
