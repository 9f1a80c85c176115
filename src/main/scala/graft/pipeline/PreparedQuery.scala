package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericRowWithSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
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
  // HashSet lookup per row — no string materialization at all. null
  // matches every cell (see matchAll).
  private var current: java.util.HashSet[java.lang.Long] =
    new java.util.HashSet
  def set(cells: Iterable[Long]): Unit = {
    val s = new java.util.HashSet[java.lang.Long]()
    cells.foreach(c => s.add(java.lang.Long.valueOf(c)))
    current = s
  }
  /** Matches every cell until the next `set`. */
  def matchAll(): Unit = current = null
  def containsCell(c: Long): Boolean =
    current == null || current.contains(java.lang.Long.valueOf(c))
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

/** Interactive polygon-query handle: ONE analyzed, planned and compiled
  * plan serves every future polygon (`src/g_etl/h3_query.py:18-119`
  * serves arbitrary polygons per session the same way — one prepared
  * DuckDB relation, new parameters).
  *
  * Partition pruning: the parameter filter is a runtime set, which
  * neither parquet row-group nor cached-batch statistics can prune on,
  * so the handle prunes whole partitions itself. At construction it
  * takes the plan's RDD once and runs one job over it, with the holder
  * matching every row, that records each partition's probe-key
  * [min, max]. A probe runs only the partitions whose range meets the
  * polygon's [min cell, max cell]; one that meets none runs no job.
  * The range pass and every probe run the SAME RDD object, so
  * partition i holds the same rows in both whatever the index plan is
  * (parquet, cached, the re-based local rows below, or a shuffle). On
  * the range-clustered layout [[H3Index.writeClustered]] writes, the
  * ranges are disjoint and a small polygon reaches one partition; on an
  * unclustered index the ranges overlap, and a probe reaches more of
  * them, up to all, with the same result.
  *
  * Correct-by-construction re-execution: the plan is a scan + filter +
  * project with no broadcast of the parameter side, and every job
  * re-serializes its task binary with the holder's current set, so no
  * probe can see an earlier probe's cells; the small distinct+sort runs
  * on the driver over the (interactive-sized) match set, mirroring the
  * reference returning a result table to the UI. */
final class PreparedPolygonQuery private[pipeline] (
    index: DataFrame, res: Int,
    // test seam: the measured production crossover stays the default
    crossoverRows: Long = PreparedPolygonQuery.CacheCrossoverRows) {

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
    * memory). Only a cached index is counted: an uncached one can
    * never trigger the rewrite.
    *
    * An index whose plan optimizes to a `LocalRelation` (a bare
    * `Seq(...).toDF`) is re-based on an RDD scan of the same rows:
    * Spark's ConvertToLocalRelation evaluates a Filter over local rows
    * at optimization time, so pre-planning would fold the parameter
    * filter against the still-empty holder and every probe would
    * return nothing. */
  private val probeIndex: DataFrame =
    if (index.queryExecution.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation]) &&
        index.count() >= crossoverRows)
      H3Index.writeClustered(
        index.select("id", "dataset_id", "leverantor", "klass", "h3_cell"),
        PreparedPolygonQuery.layoutDir(index.sparkSession), res)._1
    else if (index.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      index.sparkSession.createDataFrame(index.rdd, index.schema)
    else index

  private val holder = new CellSetHolder

  // the result quadruple, then the probe key the ranges are read from
  private val plan: DataFrame = {
    val key = H3Query.probeKey(probeIndex, res)._1
    probeIndex.filter(toCol(ParamCellsContains(toExpr(key), holder)))
      .select(col("id"), col("dataset_id"), col("leverantor"), col("klass"),
        key.as("__probe_key"))
  }
  private val qe = plan.queryExecution
  private val resultSchema = StructType(plan.schema.fields.init)

  // each partition's key [min, max]; None for a partition with no
  // non-null key, which no probe then runs. Taking `qe.toRdd` plans,
  // compiles and (for an index with a shuffle) runs the stages below
  // the filter once, here, for every later probe.
  private val ranges: Array[Option[(Long, Long)]] = {
    holder.matchAll()
    try SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.toRdd.sparkContext.runJob(qe.toRdd, PreparedPolygonQuery.keyRange _)
    } finally holder.set(Nil)
  }

  // probe-job deadline, re-read per probe so the conf is genuinely
  // per-session tunable on a LIVE handle (a slow cluster raises it
  // without re-preparing). Default 150 s: above Spark's executor-loss
  // detection window (spark.network.timeout, 120 s), so a transient
  // executor death RECOVERS via task resubmission instead of surfacing
  // as a probe timeout — still bounded, a wedged job cannot hold the
  // handle's monitor forever. Parse fails loudly with the key name;
  // non-positive values are refused (they would fail every probe
  // instantly).
  private def probeTimeoutSec: Long =
    graft.plans.H3RuleSupport.positiveConf(index.sparkSession,
      "spark.graft.probe.timeoutSec")(_.toLong).getOrElse(150L)

  /** Equivalent of H3Query.objects for a new polygon: distinct matching
    * objects with stable ordering.
    *
    * Synchronized: the handle parameterizes ONE shared [[CellSetHolder]]
    * per probe, so two concurrent `objects()` calls on the same handle
    * would race (caller A's `holder.set` observable by caller B's
    * in-flight job). Serializing probes per handle is the honest
    * contract; independent handles never contend.
    *
    * The probe's job runs under the `spark.graft.probe.timeoutSec`
    * deadline; past it the job is cancelled and the probe fails with a
    * `TimeoutException` naming the key. */
  def objects(wktSweref: String): Array[Row] = synchronized {
    val cells = PreparedPolygonQuery.cellIds(wktSweref, res)
    // the cell encoding is (..face | ai | aj): a compact polygon spans a
    // FEW ai rows, so its [min, max] usually meets one or two partitions
    // of a range-clustered index
    val parts = if (cells.isEmpty) Nil else {
      val (minC, maxC) = (cells.min, cells.max)
      ranges.indices.filter(i =>
        ranges(i).exists { case (lo, hi) => lo <= maxC && hi >= minC })
    }
    if (parts.isEmpty) return Array.empty
    val deadline = probeTimeoutSec.seconds
    holder.set(cells)
    val out = new Array[Array[Row]](parts.length)
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      val job = qe.toRdd.sparkContext.submitJob(qe.toRdd,
        PreparedPolygonQuery.rowsOf(resultSchema), parts,
        (i: Int, rows: Array[Row]) => out(i) = rows, ())
      try Await.result(job, deadline)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          job.cancel()
          scala.util.Try(Await.ready(job, deadline)) // the job has ended
          throw new java.util.concurrent.TimeoutException(
            "prepared probe exceeded spark.graft.probe.timeoutSec=" +
              s"${deadline.toSeconds} s; its job was cancelled")
      }
    }
    out.flatten.distinct.sortBy(r => (r.getString(1), r.getString(0)))
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

  /** One partition's probe-key [min, max] (the key is the last column;
    * the filter has already dropped null keys). */
  private def keyRange(rows: Iterator[InternalRow]): Option[(Long, Long)] =
    rows.map { r => val k = r.getLong(r.numFields - 1); (k, k) }
      .reduceOption((a, b) => (a._1 min b._1, a._2 max b._2))

  /** One partition's matches as `schema`'s rows, as `collect` returns
    * them, without the trailing probe key. */
  private def rowsOf(schema: StructType): Iterator[InternalRow] => Array[Row] =
    _.map(r => new GenericRowWithSchema(schema.fields.zipWithIndex.map { case (f, i) =>
      CatalystTypeConverters.convertToScala(r.get(i, f.dataType), f.dataType) }, schema): Row)
      .toArray

  def apply(index: DataFrame, res: Int = H3Query.DefaultQueryRes): PreparedPolygonQuery =
    new PreparedPolygonQuery(index, res)

  /** Driver-side polyfill of a SWEREF99 polygon at `res`, as raw ids. */
  def cellIds(wktSweref: String, res: Int): Array[Long] =
    H3Core.polygonToCells(Crs.swerefGeomToWgs84(Geometry.fromWkt(wktSweref)), res)
}
