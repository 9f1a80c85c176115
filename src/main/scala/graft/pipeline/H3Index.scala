package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Post-merge index layer: the dynamic UNION-ALL `mart.h3_index` view
  * and the `mart.h3_stats` pre-aggregate
  * (`src/g_etl/services/pipeline_runner.py:1067-1157`).
  *
  * Spark-native shape: lazy DataFrames ARE views (the reference chose
  * views over materialized tables deliberately, :1129-1135); Catalyst
  * pushes h3_cell/dataset predicates through the union into each
  * per-dataset scan, so a polygon query over one dataset reads one
  * dataset. At 100 TB, materialize h3_stats with
  * `.write.partitionBy(...)` instead of caching.
  */
object H3Index {

  /** Output schema of the index view — also the empty-catalog fallback
    * relation (pipeline_runner.py:1100-1110). h3_cell is LONG-keyed
    * (the internal representation everywhere below the export edge):
    * an 8-byte key instead of a 16-char string halves the width of
    * every index shuffle, cache and per-cell join. */
  val indexSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("dataset_id", StringType),
    StructField("leverantor", StringType),
    StructField("klass", StringType),
    StructField("h3_cell", LongType),
    StructField("geom", BinaryType)))

  /** Union every per-dataset mart (`{ds}_h3` shape from
    * Stages.martH3Cells) into one index relation. Materialized
    * `h3_parent_*` ancestor columns (the [[writeClustered]] layout)
    * are preserved when EVERY mart carries them — H3Query then gets
    * its sargable equi-join key straight off the parquet scan. */
  def build(spark: SparkSession, marts: Map[String, DataFrame]): DataFrame =
    if (marts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        indexSchema)
    else {
      val parentCols = marts.values
        .map(_.columns.filter(_.startsWith("h3_parent_")).toSet)
        .reduce(_ intersect _).toSeq.sorted
      marts.map { case (_, df) =>
        df.select(col("id") +: col("dataset").as("dataset_id") +:
          col("leverantor") +: col("klass") +: col("h3_cell") +:
          col("geom") +: parentCols.map(col): _*)
      }.reduce(_.unionByName(_))
    }

  /** Materialize the coarse query-resolution ancestor as an index
    * column — the write-once/read-many trade the reference makes by
    * storing query-joinable cells (docs/H3_POLYGON_ANALYSIS.md:254-271
    * recommends exactly this as its "covering index"). H3Query uses the
    * column automatically when present, turning polygon queries into
    * pure equi-joins with no per-row cell math. */
  def withParentAt(index: DataFrame, res: Int): DataFrame =
    index.withColumn(s"h3_parent_$res",
      graft.functions.GFunctions.h3_cell_to_parent(col("h3_cell"), lit(res)))

  /** Materialize ancestors at SEVERAL resolutions (r19): the
    * query-res ancestor plus 1-2 coarser levels costs pennies of
    * storage (long columns over zstd) and makes the optimizer rules'
    * COARSENED prefilter ([[graft.plans.H3IntersectsRewrite]]'s
    * over-cap degradation, r18) land on a bare stored column whose
    * BETWEEN reaches parquet row-group stats — instead of per-row
    * parent math that scans everything. `res=auto` keys the finest of
    * them (warning once). */
  def withParentsAt(index: DataFrame, rs: Seq[Int]): DataFrame =
    rs.distinct.sorted.foldLeft(index)(withParentAt)

  /** The probe-optimal warehouse layout, as a WRITE: materialize the
    * query-res ancestor (plus its two coarser ancestors — the r19
    * sargable-coarsening layout, see [[withParentsAt]]) and
    * range-cluster + sort the rows by the query-res column, so every
    * downstream polygon probe's literal [min, max] prefilter
    * (H3Query.keyedIndex) reaches the parquet scan as a pushed
    * predicate and row-group footer stats skip everything outside the
    * polygon, and each written file holds a disjoint key range that
    * PreparedPolygonQuery's partition pruning skips whole. The coarse
    * ancestors inherit the clustering's spatial coherence: rows
    * sorted by `h3_parent_<res>` keep tight per-row-group min/max on
    * the coarser columns too, so a coarsened BETWEEN still prunes.
    *
    * This is THE measured scale path (PERF.md r10): probes on this
    * layout hold flat at ~20 ms through 116M index rows, while probes
    * on a cached unclustered index go linear past ~40M rows
    * (InMemoryTableScan stats pruning is a measured net no-op). The
    * Runner writes every mart `_h3` table through here — the layout
    * ships as the default, not as a profiler artifact. Partition
    * count comes from spark.sql.shuffle.partitions (AQE coalesces
    * small outputs), so the same call scales from a 150-row test
    * fixture to a multi-TB mart.
    *
    * Returns the written table, read back with its written schema, and
    * its row count, both without a job ([[Runner.writeBack]],
    * [[Runner.rowsWritten]]). */
  def writeClustered(df: DataFrame, path: String,
      res: Int = H3Query.DefaultQueryRes): (DataFrame, Long) = {
    val parentCol = s"h3_parent_$res"
    val written = Runner.writeBack(
      withParentsAt(df, ((res - 2).max(0) to res))
        .repartitionByRange(col(parentCol))
        .sortWithinPartitions(parentCol),
      path, compression = Some("zstd"))
    (written, Runner.rowsWritten(df.sparkSession, path))
  }

  /** mart.h3_stats (pipeline_runner.py:1144-1153): per-cell heatmap
    * pre-aggregate — the layout that makes heatmap queries
    * O(query cells) instead of O(index).
    *
    * One groupBy over the cell with three sorted `collect_set`s and
    * `dataset_count` as the size of the dataset set — the pattern
    * [[H3Query.stats]] uses. There is no DISTINCT aggregate, so
    * Catalyst plans no Expand. The rows are hash-partitioned on the
    * cell into `defaultParallelism` partitions first, and that one
    * exchange satisfies the groupBy: the aggregate runs in one task per
    * core whatever the shuffle bytes. Left to the planner's exchange,
    * AQE coalesces a small shuffle into one partition, and one task
    * merges every cell. A fixed count is not coalesced, and it is not
    * `spark.sql.shuffle.partitions`, whose default 200 would write 200
    * tiny files. For the 100 TB regime use [[statsApprox]].
    * `object_count` is `sum(1)` rather than `count(1)` so it stays
    * nullable, as it was when it summed per-dataset counts. */
  def stats(index: DataFrame): DataFrame =
    index
      .repartition(index.sparkSession.sparkContext.defaultParallelism, col("h3_cell"))
      .groupBy("h3_cell")
      .agg(
        sum(lit(1L)).as("object_count"),
        sort_array(collect_set(col("dataset_id"))).as("datasets"),
        sort_array(collect_set(col("klass"))).as("klasser"),
        sort_array(collect_set(col("leverantor"))).as("leverantorer"))
      .select(col("h3_cell"), col("object_count"),
        size(col("datasets")).cast("long").as("dataset_count"),
        col("datasets"), col("klasser"), col("leverantorer"))

  /** Top-k h3_stats: "hottest cells" without paying the full set
    * aggregation for every cell. object_count per cell is just the row
    * count, so phase 1 is a codegen hash-count + TakeOrdered(k) — the
    * cheap 99% — and the expensive collect_set columns are computed
    * only for the k winning cells after a broadcast semi-join. Output
    * is identical to
    * `stats(index).orderBy(desc("object_count"), asc("h3_cell")).limit(k)`
    * (per-cell aggregates are independent across cells). At 100 TB the
    * shuffle carries (cell, partial count) instead of every row's
    * string payload. */
  def statsTop(index: DataFrame, k: Int): DataFrame = {
    val top = index.groupBy("h3_cell")
      .agg(count(lit(1)).as("object_count"))
      .orderBy(desc("object_count"), asc("h3_cell"))
      .limit(k)
      .select("h3_cell")
    stats(index.join(broadcast(top), "h3_cell"))
      .orderBy(desc("object_count"), asc("h3_cell"))
  }

  /** Sketch-based h3_stats for the 100 TB regime: HyperLogLog++
    * cardinalities instead of exact distinct sets. The shuffle carries
    * fixed-size sketches per (cell) group — bounded by cells × sketch
    * size no matter how many objects land in a cell — and loses the
    * exact member lists, which heatmap rendering doesn't need. `rsd` is
    * the standard-deviation knob (Spark default 0.05). */
  def statsApprox(index: DataFrame, rsd: Double = 0.05): DataFrame =
    index
      .groupBy("h3_cell")
      .agg(
        count(lit(1)).as("object_count"),
        approx_count_distinct(col("dataset_id"), rsd).as("dataset_count"),
        approx_count_distinct(col("klass"), rsd).as("klass_count"),
        approx_count_distinct(col("leverantor"), rsd).as("leverantor_count"))
}
