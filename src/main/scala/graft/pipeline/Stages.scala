package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution, caseSensitiveResolution}
import org.apache.spark.sql.functions._

import graft.functions.GFunctions._

/** H3 resolution configuration mirroring the reference's production
  * config (`config/config.yml:19-25`, `src/g_etl/settings.py:82-86`). */
final case class H3Config(
    centerRes: Int = 13,
    polygonRes: Int = 11,
    lineRes: Int = 12,
    lineBufferM: Double = 10.0,
    pointRes: Int = 13)

/** Config-driven field mapping with the reference's `$column` vs
  * literal convention (`src/g_etl/sql_generator.py:399-440`,
  * documented at `config/datasets.yml:17-20`):
  *   "$name"  -> COALESCE(CAST(name AS VARCHAR), '')
  *   "value"  -> literal 'value'
  *   ""/none  -> ''
  */
final case class FieldMapping(mappings: Map[String, String]) {
  def resolve(field: String): Column = mappings.get(field) match {
    case Some(v) if v.startsWith("$") =>
      coalesce(col(v.drop(1)).cast("string"), lit(""))
    case Some(v) => lit(v)
    case None => lit("")
  }

  /** source_id_expr: plain cast to VARCHAR (sql_generator.py:437-440). */
  def sourceId(field: String): Column = mappings.get(field) match {
    case Some(v) if v.startsWith("$") => col(v.drop(1)).cast("string")
    case Some(v) => lit(v)
    case None => lit(null).cast("string")
  }

  /** The `$column` references that `df` does not resolve, sorted: a
    * lookup on its analyzed plan, made on the driver without a job. */
  def missingColumns(df: DataFrame): Seq[String] = {
    val resolver =
      if (df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean)
        caseSensitiveResolution
      else caseInsensitiveResolution
    mappings.values.collect { case v if v.startsWith("$") => v.drop(1) }
      .toSeq.distinct.sorted
      .filter(c => df.queryExecution.analyzed.resolveQuoted(c, resolver).isEmpty)
  }
}

/** The per-dataset stage transforms, each a `DataFrame => DataFrame`
  * mirroring one SQL template of the reference — declarative Spark
  * plans, so Catalyst pushes filters/prunes columns through them.
  */
object Stages {

  /** Template 004 (sql/migrations/004_staging_transform_template.sql:
    * 10-61): validated geometry + lineage/hash/centroid/H3 enrichment.
    * Input: any schema with a WKB `geom` column. The geometry-type CASE
    * dispatch (004:50-58) picks polyfill/corridor/point cell strategy.
    * `_h3_cells` stays ArrayType (JSON-string only at export edges,
    * SURVEY §1.1) — LONG-keyed: 8-byte ids instead of 16-char hex
    * halve the staged cache and every downstream shuffle; hex appears
    * only at result surfaces via GFunctions.h3_hex. */
  def stage004(df: DataFrame, h3: H3Config = H3Config()): DataFrame = {
    val attrCols = df.columns.filterNot(_ == "geom").map(col)
    val jsonData = to_json(struct(attrCols.toIndexedSeq: _*))
    val geomType = st_geometrytype(col("geom"))
    df
      .filter(col("geom").isNotNull)
      .withColumn("geom", g_validate_geom(col("geom")))
      .filter(col("geom").isNotNull) // unfixable geometries drop out
      .withColumn("_imported_at", current_timestamp())
      .withColumn("_geom_md5", g_geom_md5(col("geom")))
      .withColumn("_json_data", jsonData)
      .withColumn("_attr_md5", md5(col("_json_data").cast("binary")))
      .withColumn("_centroid_lat", g_centroid_lat(col("geom")))
      .withColumn("_centroid_lng", g_centroid_lng(col("geom")))
      .withColumn("_h3_index",
        g_h3_center(col("_centroid_lat"), col("_centroid_lng"), lit(h3.centerRes)))
      .withColumn("_h3_cells",
        when(geomType.isin("POLYGON", "MULTIPOLYGON"),
          g_h3_polygon_cells_l(col("geom"), lit(h3.polygonRes)))
          .when(geomType.isin("LINESTRING", "MULTILINESTRING"),
            g_h3_line_cells_l(col("geom"), lit(h3.lineBufferM), lit(h3.lineRes)))
          .when(geomType.isin("POINT", "MULTIPOINT"),
            g_h3_point_cells_l(col("geom"), lit(h3.pointRes)))
          .otherwise(lit(null)))
      .withColumn("_a5_index", lit(null).cast("string")) // reserved (004:49)
  }

  /** Pipeline template 001 — ext_restr normalization
    * (aab_ext_restr/001_staging_normalisering_template.sql:10-28):
    * config-mapped identity/classification columns + the fixed
    * normalized schema every downstream op depends on. */
  def normalizeExtRestr(df: DataFrame, fm: FieldMapping,
      datasetId: String): DataFrame =
    df.select(normalizedColumns(fm, datasetId): _*)

  /** avdelning variant (aaa_avdelning/001:18-19): adds rounded area_ha
    * and volym metrics (computed from the raw row, so selected in the
    * same projection). */
  def normalizeAvdelning(df: DataFrame, fm: FieldMapping,
      datasetId: String): DataFrame =
    df.select(normalizedColumns(fm, datasetId) ++ Seq(
      round((st_area(col("geom")) / 10000).cast("float"), 2).as("area"),
      // round(TRY_CAST(x AS FLOAT), 2) — aaa_avdelning/001:18-19
      round(fm.resolve("volym").try_cast("float"), 2).as("volym")): _*)

  private def normalizedColumns(fm: FieldMapping, datasetId: String): Seq[Column] = Seq(
    md5(concat_ws("|", lit(datasetId), fm.sourceId("source_id"),
      col("_geom_md5")).cast("binary")).as("id"),
    fm.sourceId("source_id").as("source_id"),
    fm.resolve("klass").as("klass"),
    fm.resolve("grupp").as("grupp"),
    fm.resolve("typ").as("typ"),
    fm.resolve("leverantor").as("leverantor"),
    col("_h3_index").as("h3_center"),
    col("_h3_cells").as("h3_cells"),
    col("_json_data").as("json_data"),
    fm.resolve("data_1").as("data_1"),
    fm.resolve("data_2").as("data_2"),
    fm.resolve("data_3").as("data_3"),
    fm.resolve("data_4").as("data_4"),
    fm.resolve("data_5").as("data_5"),
    col("geom"),
    st_pointonsurface(col("geom")).as("centerpoint"))

  /** Mart template 002 (aab_ext_restr/002_mart_h3_cells_template.sql:
    * 10-21): one row per (object, H3 cell). The reference UNNESTs the
    * JSON cell array three times (cell, latlng, geom); here the array
    * explodes ONCE and latlng/geom derive from the exploded cell —
    * one shuffle-free projection instead of three array scans. */
  def martH3Cells(df: DataFrame, datasetId: String): DataFrame =
    martH3Derived(martH3Core(df, datasetId))

  /** The shuffle/storage-relevant part of the mart: one row per
    * (object, cell), narrow columns only. Cache THIS — the derived
    * latlng/geom columns are pure per-row functions of `h3_cell` and
    * materializing them for every exploded row (WKB polygon ≈ 120 B ×
    * billions of rows at 100 TB) wastes cache and I/O for the many
    * consumers (stats, heatmap, explode-counts) that never read them. */
  def martH3Core(df: DataFrame, datasetId: String): DataFrame =
    df
      .filter(col("h3_cells").isNotNull && size(col("h3_cells")) > 0)
      .select(
        col("id"),
        lit(datasetId).as("dataset"),
        col("leverantor"),
        col("klass"),
        concat_ws(".",
          coalesce(nullif(col("grupp"), lit("")), lit("-")),
          coalesce(nullif(col("typ"), lit("")), lit("-"))).as("classification"),
        explode(col("h3_cells")).as("h3_cell"))

  /** Derived per-cell columns, applied lazily on top of the core so
    * Catalyst's column pruning drops the (expensive) cell math for
    * consumers that don't read them. */
  def martH3Derived(core: DataFrame): DataFrame =
    core
      .withColumn("latlng", h3_cell_to_latlng(col("h3_cell")))
      .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))

  /** Mart template 003 (aab_ext_restr/003:10-16): per-object compacted
    * cell hierarchy — a pure per-row array op, no shuffle. */
  def martH3Compact(df: DataFrame): DataFrame =
    df
      .filter(col("h3_cells").isNotNull && size(col("h3_cells")) > 0)
      .select(col("id"), col("klass"), col("leverantor"),
        h3_compact_cells(col("h3_cells")).as("h3_cells_compact"))
}
