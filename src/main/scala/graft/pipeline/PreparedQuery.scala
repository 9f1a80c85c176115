package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

import graft.functions.GeoExpr
import graft.h3.H3Core
import graft.spatial.{Crs, Geometry}

/** Mutable driver-side parameter for a prepared plan. Plain Java
  * serialization snapshots `current` at task-serialization time, and
  * Spark re-serializes the task binary on every job submission — so
  * each execution of the one prepared plan ships the CURRENT cell set
  * to executors, exactly the re-broadcast-a-variable pattern, without
  * building a new Dataset (≈300-400 ms fixed planning cost) per
  * polygon. */
final class CellSetHolder extends Serializable {
  // Long keys (the index is long-keyed): the hot probe is one boxed
  // HashSet lookup per row — no string materialization at all
  private var current: java.util.HashSet[java.lang.Long] =
    new java.util.HashSet
  def set(cells: Iterable[Long]): Unit = {
    val s = new java.util.HashSet[java.lang.Long]()
    cells.foreach(c => s.add(java.lang.Long.valueOf(c)))
    current = s
  }
  def containsCell(c: Long): Boolean =
    current.contains(java.lang.Long.valueOf(c))
  def size: Int = current.size
}

/** cell ∈ holder — deterministic=false so Catalyst never folds or
  * migrates it out of the Filter (its value legitimately changes
  * between executions of the same plan). */
case class ParamCellsContains(cell: Expression, holder: CellSetHolder)
    extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = BooleanType
  override lazy val deterministic: Boolean = false
  // direct eval: no argument-array boxing, no UTF8String->String copy —
  // this runs once per index row per query
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = cell.eval(input)
    if (v == null) null
    else java.lang.Boolean.valueOf(
      holder.containsCell(v.asInstanceOf[java.lang.Long].longValue))
  }
  // generated-code path (GeoExpr.doGenCode -> evalBoxed): same probe.
  // The codegen references array is re-serialized per job submission,
  // so `holder`'s CURRENT set still ships with every execution.
  override protected def evalNotNull(a: Array[Any]): Any =
    java.lang.Boolean.valueOf(
      holder.containsCell(a(0).asInstanceOf[java.lang.Long].longValue))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** Interactive polygon-query handle: a FIXED set of analyzed+planned
  * Datasets serves every future polygon (`src/g_etl/h3_query.py:18-119`
  * serves arbitrary polygons per session the same way — one prepared
  * DuckDB relation, new parameters).
  *
  * Scale design (r9 Next #4): a runtime parameter cannot drive Spark's
  * batch/row-group pruning — the r9 single-plan handle therefore
  * scanned the WHOLE cached index per probe (measured linear: 48 ms at
  * 2.7M rows -> 225 ms at 40M). This version does the partition
  * pruning ITSELF, at the handle level: the index's query-res key
  * space is split at `buckets` approximate quantiles, one plan is
  * prepared per bucket with its range bound as LITERALS (so cached-
  * batch min/max stats — or parquet row-group stats — prune inside the
  * bucket too, when the index layout is clustered by cell), and a
  * probe executes only the plans whose range intersects the polygon's
  * [min, max] cell ids. Per-probe work is then O(index / buckets), not
  * O(index) — the same driver-side pruning a partitioned warehouse
  * scan does, paid for by a one-time quantile pass + `buckets`
  * plannings at handle construction (the session-setup cost the
  * prepared-handle contract already amortizes).
  *
  * Correct-by-construction re-execution: buckets partition the key
  * space (range filters are a strict superset of the polygon's cell
  * set, exactly like H3Query's sargable prefilter), each
  * bucket plan is a pure scan+filter+project — no shuffle below the
  * collect and no broadcast of the parameter side — so nothing in
  * Spark's stage/broadcast reuse machinery can serve stale results
  * when the cell set changes; the small distinct+sort runs on the
  * driver over the (interactive-sized) match set, mirroring the
  * reference returning a result table to the UI. */
final class PreparedPolygonQuery private[pipeline] (
    index: DataFrame, res: Int, bucketsRequested: Int,
    // test seam: the measured production crossover stays the default
    crossoverRows: Long = PreparedPolygonQuery.CacheCrossoverRows) {
  require(bucketsRequested >= 0, "need buckets >= 1, or 0 for auto")

  // auto-sizing (buckets = 0): one bucket per ~600k index rows, capped
  // at 64 — a small index gets ONE bucket (bucketing overhead would
  // exceed its full-scan cost, measured ~45 ms at a 10k-object index),
  // a big one gets buckets that keep the per-probe scan population
  // roughly constant as the index grows
  private lazy val isCached: Boolean =
    index.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isDefined

  // counted only when something needs it: bucket auto-sizing, or
  // crossover detection on a cached index (with buckets explicit, an
  // uncached index is NOT counted — it can never trigger the rewrite)
  private val rowCount: Long =
    if (bucketsRequested >= 1 && !isCached) -1L
    else index.count()

  /** The frame probes actually run against. A CACHED index past the
    * measured ~40M-row crossover is rewritten ONCE to the clustered-
    * parquet layout and probed there instead: the r10 cache-prune curve
    * measured InMemoryTableScan stats pruning as a net no-op, so
    * cached probes scan every batch and go linear with index size
    * (224 ms at 116M rows), while the clustered layout's row-group
    * skipping holds probes flat (~20 ms at 116M).
    *
    * The rewrite is a PROBE PROJECTION, not a full index copy: only
    * the columns probes read (the output quadruple + h3_cell + the
    * cluster key) are written — the wide payload (geom WKB etc.) stays
    * behind, keeping the copy ~100 B/row. It lands under
    * spark.local.dir (NOT java.io.tmpdir, which is commonly a
    * RAM-backed tmpfs sized at half of memory), is deleted at JVM
    * exit, and the caller's cache is left untouched (the caller owns
    * it — unpersist it after handle construction to reclaim the
    * memory).
    *
    * An index whose plan optimizes to a `LocalRelation` (a bare
    * `Seq(...).toDF`) is re-based on an RDD scan of the same rows:
    * Spark's ConvertToLocalRelation evaluates a Filter over local rows
    * at optimization time, so pre-planning would fold the parameter
    * filter against the still-empty holder and every probe would
    * return nothing. */
  private val probeIndex: DataFrame =
    if (isCached && rowCount >= crossoverRows)
      H3Index.writeClustered(
        index.select("id", "dataset_id", "leverantor", "klass", "h3_cell"),
        PreparedPolygonQuery.layoutDir(index.sparkSession), res)._1
    else if (index.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      index.sparkSession.createDataFrame(index.rdd, index.schema)
    else index

  private val buckets: Int =
    if (bucketsRequested >= 1) bucketsRequested
    else math.max(1, math.min(64, (rowCount / 600000L).toInt))

  private val holder = new CellSetHolder

  private def keyed: Column = H3Query.probeKey(probeIndex, res)._1

  private def paramPlan(range: Option[Column]): DataFrame =
    range.fold(probeIndex)(probeIndex.filter)
      .filter(toCol(ParamCellsContains(toExpr(keyed), holder)))
      .select(col("id"), col("dataset_id"), col("leverantor"), col("klass"))

  // Approximate quantile split points of the key — exactness is
  // irrelevant to correctness (any split points partition the key
  // space); the double round-trip inside approxQuantile merely places
  // the splits. Duplicate splits (skewed keys) collapse to fewer,
  // wider buckets.
  private val splits: Array[Long] =
    if (buckets == 1) Array.empty
    else probeIndex.select(keyed.cast("double").as("__k"))
      .stat.approxQuantile("__k",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.01)
      .map(_.toLong).distinct.sorted

  // bucket i covers [splits(i-1), splits(i)) with open outer ends
  private val bucketPlans: IndexedSeq[(Option[Long], Option[Long], DataFrame)] =
    (0 to splits.length).map { i =>
      val lo = if (i == 0) None else Some(splits(i - 1))
      val hi = if (i == splits.length) None else Some(splits(i))
      val range = (lo.map(b => keyed >= lit(b)) ++
        hi.map(b => keyed < lit(b))).reduceOption(_ && _)
      (lo, hi, paramPlan(range))
    }

  // per-bucket probe-job deadline, re-read per probe so the conf is
  // genuinely per-session tunable on a LIVE handle (a slow cluster
  // raises it without re-preparing). Default 150 s: above Spark's
  // executor-loss detection window (spark.network.timeout, 120 s), so
  // a transient executor death RECOVERS via task resubmission instead
  // of surfacing as a probe timeout — still bounded, a wedged job
  // cannot hold the handle's monitor forever. Parse fails loudly with
  // the key name; non-positive values are refused (they would fail
  // every multi-bucket probe instantly).
  private def probeTimeoutSec: Long =
    graft.plans.H3RuleSupport.positiveConf(index.sparkSession,
      "spark.graft.probe.timeoutSec")(_.toLong).getOrElse(150L)

  // pre-pay analysis + optimization + physical planning for every
  // bucket NOW; deliberately NOT executed here — an execution warm-up
  // with the empty holder would scan every bucket once (~buckets x a
  // full pass on an unclustered cached layout, where range predicates
  // reject rows but skip no bytes). The first probe that touches a
  // bucket pays its one-time codegen JIT (~tens of ms), which is the
  // cheaper trade.
  bucketPlans.foreach(_._3.queryExecution.executedPlan)

  /** Equivalent of H3Query.objects for a new polygon: distinct matching
    * objects with stable ordering.
    *
    * Synchronized: the handle parameterizes ONE shared [[CellSetHolder]]
    * per probe, so two concurrent `objects()` calls on the same handle
    * would race (caller A's `holder.set` observable by caller B's
    * in-flight bucket collects — easier to hit now that one probe runs
    * several concurrent bucket jobs). Serializing probes per handle is
    * the honest contract; concurrency WITHIN a probe (the bucket jobs)
    * is unaffected, and independent handles never contend. */
  def objects(wktSweref: String): Array[Row] = synchronized {
    val cells = PreparedPolygonQuery.cellIds(wktSweref, res)
    if (cells.isEmpty) return Array.empty
    holder.set(cells)
    val minC = cells.min
    val maxC = cells.max
    // the cell encoding is (..face | ai | aj): a compact polygon spans
    // a FEW ai rows, so its [min, max] range usually intersects a
    // handful of buckets — submit those jobs CONCURRENTLY (Spark
    // schedules concurrent actions fine) so probe latency is the max
    // bucket scan, not the sum of per-job overheads
    val hits = bucketPlans.filter { case (lo, hi, _) =>
      lo.forall(_ <= maxC) && hi.forall(_ > minC)
    }
    val rows =
      if (hits.length <= 1) hits.toArray.flatMap(_._3.collect())
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        implicit val ec = PreparedPolygonQuery.probeEc
        val futs = hits.map { case (_, _, p) => Future(p.collect()) }
        // finite deadline: a wedged bucket job must surface as an
        // error, not hang the probe (and its lock) forever. objects()
        // holds the handle's monitor for the whole probe, so the
        // deadline bounds how long ONE wedged job can stall every
        // other caller on this handle (see probeTimeoutSec for the
        // default's rationale and the tuning knob).
        val deadline = probeTimeoutSec.seconds
        futs.toArray.flatMap(f => Await.result(f, deadline))
      }
    rows.distinct.sortBy(r => (r.getString(1), r.getString(0)))
  }
}

object PreparedPolygonQuery {

  /** Measured cache-vs-clustered-parquet crossover (PERF.md r10
    * index-scale and cache-prune curves): below this row count a cached
    * index probes fastest (predicate evaluation is cheap and the scan
    * population small); past it, cached probes go linear (no byte
    * skipping — InMemoryTableScan stats pruning is a measured no-op)
    * while clustered parquet stays flat (~20 ms at 116M rows). */
  val CacheCrossoverRows: Long = 40000000L

  // auto-layout copies live under spark.local.dir (java.io.tmpdir is
  // commonly a half-of-RAM tmpfs — the wrong place for a multi-GB
  // probe projection); ONE shutdown hook reaps every copy, however
  // many handles a session constructs
  private val layoutDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val layoutReaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      layoutDirs.forEach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))))
  private[pipeline] def layoutDir(spark: SparkSession): String = {
    val base = spark.sparkContext.getConf
      .getOption("spark.local.dir").map(_.split(",")(0))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), "graft_probe_idx").toString
    layoutReaper
    layoutDirs.add(dir)
    dir
  }

  /** Daemon pool for concurrent bucket-probe submission — sized by the
    * bucket default; idle threads die, and daemon status keeps handle
    * probes from pinning JVM exit. */
  private[pipeline] lazy val probeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => {
          val t = new Thread(r, "graft-prepared-probe")
          t.setDaemon(true)
          t
        }))

  /** `buckets` trades one-time handle-construction cost (a quantile
    * pass + that many plannings) for per-probe scan reduction. The
    * default 0 auto-sizes from the index cardinality (~600k rows per
    * bucket, max 64): small indexes keep the single-plan fast path,
    * large ones hold the fresh-probe latency flat through the measured
    * index-scale sweep (PERF.md r10). */
  def apply(index: DataFrame, res: Int = H3Query.DefaultQueryRes,
      buckets: Int = 0): PreparedPolygonQuery =
    new PreparedPolygonQuery(index, res, buckets)

  /** Driver-side polyfill of a SWEREF99 polygon at `res`, as raw ids. */
  def cellIds(wktSweref: String, res: Int): Array[Long] =
    H3Core.polygonToCells(Crs.swerefGeomToWgs84(Geometry.fromWkt(wktSweref)), res)
}
