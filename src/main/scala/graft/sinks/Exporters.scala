package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

import graft.functions.GFunctions._
import graft.spatial.{Geometry, GeoJson}

/** Export surface (`src/g_etl/export.py`, SURVEY §2.2): parquet (ZSTD),
  * CSV with the Kepler.gl `hex_id` convention, GeoJSON (distributed
  * newline-delimited features for scale; driver-side capped
  * FeatureCollection for interactive use), GeoParquet (parquet +
  * sidecar geo metadata), HTML map, and the smart per-mart-table
  * dispatcher (`export.py:344-521`).
  */
object Exporters {

  /** ZSTD parquet (`src/g_etl/plugins/base.py:104-111`). */
  def parquetZstd(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** CSV with header; H3 cells mirrored as Kepler.gl's `hex_id`
    * (`src/g_etl/export.py:23-48`). Array columns become JSON strings
    * (export.py:445-447 casts `x[]` to VARCHAR).
    *
    * INTEROP NOTE: `hex_id` carries this engine's cell encoding, which
    * is deliberately NOT libh3's (graft.h3.H3Core:21-32) — external H3
    * tooling (Kepler's hex layer, DuckDB-h3, QGIS H3 plugins) cannot
    * decode these ids, and real libh3 ids fed back in are rejected
    * loudly at parse time. For tools that render by geometry instead of
    * by id, use [[heatmapGeojson]], which ships each cell's boundary
    * polygon as plain GeoJSON. */
  def csv(df: DataFrame, path: String): Unit = {
    var out = df
    out.schema.fields.foreach { f =>
      f.dataType match {
        case _: ArrayType => out = out.withColumn(f.name, to_json(col(f.name)))
        case _: BinaryType => out = out.withColumn(f.name, hex(col(f.name)))
        case _ =>
      }
    }
    if (out.columns.contains("h3_cell") && !out.columns.contains("hex_id")) {
      // the internal layers are long-keyed; hex_id is the export form
      val cellIsLong = df.schema.fields
        .exists(f => f.name == "h3_cell" && f.dataType == LongType)
      out = out.withColumn("hex_id",
        if (cellIsLong) h3_hex(col("h3_cell")) else col("h3_cell"))
      if (cellIsLong) out = out.withColumn("h3_cell", h3_hex(col("h3_cell")))
    }
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** One GeoJSON Feature string per row — codegen'd expression, no
    * driver collect. */
  def featureColumn(df: DataFrame, geomCol: String): Column = {
    val propCols = df.columns.filterNot(_ == geomCol).map(col)
    concat(
      lit("""{"type": "Feature", "properties": """),
      to_json(struct(propCols.toIndexedSeq: _*)),
      lit(""", "geometry": """),
      st_asgeojson(col(geomCol)),
      lit("}"))
  }

  /** Distributed newline-delimited GeoJSON features (GDAL GeoJSONSeq
    * equivalent) — the 100 TB-safe export path. */
  def geojsonSeq(df: DataFrame, path: String, geomCol: String = "geom"): Unit =
    df.filter(col(geomCol).isNotNull)
      .select(featureColumn(df, geomCol).as("value"))
      .write.mode("overwrite").text(path)

  /** Heatmap export renderable by ANY geo tool: one GeoJSON Feature per
    * h3_cell row with the cell's WGS84 boundary polygon as geometry and
    * the aggregate columns as properties. Interop by geometry rather
    * than by id — the cell-id encoding is engine-internal (see csv's
    * INTEROP NOTE), but a boundary polygon needs no decoder: Kepler,
    * QGIS and geojson.io render it directly, matching the reference's
    * Kepler heatmap workflow (`src/g_etl/export.py:23-48,143`).
    * Distributed NDJSON — the 100 TB-safe shape. */
  def heatmapGeojson(df: DataFrame, path: String,
      cellCol: String = "h3_cell"): Unit = {
    val cellIsLong = df.schema.fields
      .exists(f => f.name == cellCol && f.dataType == LongType)
    val withGeom = df.withColumn("_cell_geom",
        h3_cell_to_geom_wgs84(col(cellCol)))
      // export edge: properties carry the hex form of the id
      .withColumn(cellCol,
        if (cellIsLong) h3_hex(col(cellCol)) else col(cellCol))
    geojsonSeq(withGeom, path, "_cell_geom")
  }

  /** Driver-side FeatureCollection (capped, like the reference's folium
    * 5000-row default, export.py:170) for interactive consumers. */
  def geojsonFeatureCollection(df: DataFrame, path: String,
      geomCol: String = "geom", limit: Int = 5000): Unit = {
    val rows = df.filter(col(geomCol).isNotNull).limit(limit).collect()
    val gIdx = df.columns.indexOf(geomCol)
    val features = rows.map { r =>
      val props = df.columns.zipWithIndex
        .filterNot(_._2 == gIdx)
        .map { case (c, i) => c -> r.get(i) }.toMap[String, Any]
      val geom = Geometry.fromWkb(r.getAs[Array[Byte]](gIdx))
      (props, geom)
    }.toSeq
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), GeoJson.featureCollection(features))
  }

  /** GeoParquet (spec 1.0.0): ZSTD parquet with the `geo` descriptor
    * embedded in each part file's FOOTER key-value metadata — the real
    * spec location (`src/g_etl/export.py:259-281` writes the same via
    * geopandas), so external GeoParquet readers recognize the output.
    * Spark's writer can't attach custom footer metadata, so the
    * descriptor is spliced in post-write by [[ParquetFooter]] — an
    * O(footer) tail rewrite, row groups untouched. geometry_types are
    * computed from the data (one cheap distinct over the type column). */
  def geoparquet(df: DataFrame, path: String, geomCol: String = "geom",
      epsgCode: Int = 3006, crsName: String = "SWEREF99 TM"): Unit = {
    parquetZstd(df, path)
    val camel = Map("POINT" -> "Point", "MULTIPOINT" -> "MultiPoint",
      "LINESTRING" -> "LineString", "MULTILINESTRING" -> "MultiLineString",
      "POLYGON" -> "Polygon", "MULTIPOLYGON" -> "MultiPolygon",
      "GEOMETRYCOLLECTION" -> "GeometryCollection")
    val gtypes = df.filter(col(geomCol).isNotNull)
      .select(st_geometrytype(col(geomCol)).as("t")).distinct()
      .collect().map(_.getString(0))
      .flatMap(camel.get).sorted
      .map("\"" + _ + "\"").mkString("[", ", ", "]")
    // JSON-escape interpolated names: a quote/backslash/control char in
    // a column or CRS name would otherwise corrupt the footer JSON for
    // external GeoParquet readers
    def js(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val crsJson =
      s"""{"type": "ProjectedCRS", "name": "${js(crsName)}", "id": {"authority": "EPSG", "code": $epsgCode}}"""
    val geo =
      s"""{"version": "1.0.0", "primary_column": "${js(geomCol)}", "columns": {"${js(geomCol)}": {"encoding": "WKB", "geometry_types": $gtypes, "crs": $crsJson}}}"""
    ParquetFooter.addKeyValueToDir(path, Map("geo" -> geo))
  }

  /** Self-contained HTML map (SVG; replaces folium, export.py:161-256):
    * driver-side, capped, with per-dataset colors and popups. */
  def htmlMap(df: DataFrame, path: String, geomCol: String = "geom",
      colorCol: Option[String] = None, limit: Int = 5000): Unit = {
    val cols = df.columns
    val rows = df.filter(col(geomCol).isNotNull).limit(limit).collect()
    val gIdx = cols.indexOf(geomCol)
    val geoms = rows.map(r => Geometry.fromWkb(r.getAs[Array[Byte]](gIdx)))
    val pts = geoms.flatMap(g => Geometry.centroid(g) match {
      case p if !p.isEmpty => Some(p)
      case _ => None
    })
    if (pts.isEmpty) {
      Files.writeString(Paths.get(path), "<html><body>empty</body></html>")
      return
    }
    val minX = pts.map(_.x).min; val maxX = pts.map(_.x).max
    val minY = pts.map(_.y).min; val maxY = pts.map(_.y).max
    val w = 900.0; val h = 700.0
    val sx = w / math.max(maxX - minX, 1e-9)
    val sy = h / math.max(maxY - minY, 1e-9)
    val s = math.min(sx, sy)
    val palette = Seq("#1f77b4", "#ff7f0e", "#2ca02c", "#d62728", "#9467bd",
      "#8c564b", "#e377c2", "#7f7f7f", "#bcbd22", "#17becf")
    val colorKeys = colorCol.map(c => rows.map(_.getAs[Any](cols.indexOf(c)))
      .map(String.valueOf).distinct.sorted).getOrElse(Array("all")).toIndexedSeq
    def colorOf(key: String): String =
      palette(math.abs(colorKeys.indexOf(key)) % palette.size)
    val svg = rows.zip(geoms).map { case (r, g) =>
      val c = Geometry.centroid(g)
      val x = (c.x - minX) * s
      val y = h - (c.y - minY) * s
      val key = colorCol.map(cc => String.valueOf(r.getAs[Any](cols.indexOf(cc))))
        .getOrElse("all")
      val title = cols.zipWithIndex.filterNot(_._2 == gIdx)
        .map { case (cn, i) => s"$cn=${r.get(i)}" }.mkString(", ")
      f"""<circle cx="$x%.1f" cy="$y%.1f" r="3" fill="${colorOf(key)}"><title>$title</title></circle>"""
    }.mkString("\n")
    val legend = colorKeys.map { k =>
      s"""<div><span style="color:${colorOf(k)}">&#9632;</span> $k</div>"""
    }.mkString("\n")
    val html =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>graft map</title></head>
         |<body><h3>graft map (${rows.length} features, cap $limit)</h3>
         |<div style="display:flex"><svg width="${w.toInt}" height="${h.toInt}"
         | style="border:1px solid #ccc">$svg</svg>
         |<div style="margin-left:12px">$legend</div></div></body></html>""".stripMargin
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), html)
  }

  /** Smart mart exporter (`src/g_etl/export.py:344-521`): per-table
    * dispatch — skip empty tables, skip tables with >1 geometry column,
    * synthesize geometry from `h3_cell` when absent, CSV for H3-only
    * tables, GeoJSON-seq + ZSTD parquet when geometry exists. Returns
    * (table -> formats written). */
  def exportMartTables(tables: Map[String, DataFrame], outDir: String)
      : Map[String, Seq[String]] = {
    tables.flatMap { case (name, df0) =>
      val geomCols = df0.schema.fields
        .filter(_.dataType == BinaryType).map(_.name)
      if (geomCols.length > 1) {
        Some(name -> Seq("skipped:multiple-geometry-columns"))
      } else if (df0.isEmpty) {
        Some(name -> Seq("skipped:empty"))
      } else {
        // Synthesize geometry from the internal (possibly long-keyed)
        // cell id FIRST, then hex-convert: every export format ships
        // hex cell ids (the reference's export.py emits hex in all
        // mart exports, not only csv — "hex only at surfaces").
        val withGeom = if (geomCols.isEmpty && df0.columns.contains("h3_cell"))
          df0.withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
        else df0
        val cellIsLong = df0.schema.fields
          .exists(f => f.name == "h3_cell" && f.dataType == LongType)
        def hexed(d: DataFrame): DataFrame =
          if (cellIsLong) d.withColumn("h3_cell", h3_hex(col("h3_cell"))) else d
        val df = hexed(withGeom)
        val dfFlat = hexed(df0)
        val written = scala.collection.mutable.ArrayBuffer[String]()
        parquetZstd(dfFlat, s"$outDir/$name.parquet")
        written += "parquet"
        if (df.columns.contains("geom")) {
          geojsonSeq(df, s"$outDir/$name.geojsonl")
          written += "geojsonl"
          GeopackageWriter.write(df, s"$outDir/$name.gpkg", name)
          written += "gpkg"
          FlatGeobuf.write(df, s"$outDir/$name.fgb", name)
          written += "fgb"
        }
        if (dfFlat.columns.contains("h3_cell")) {
          csv(dfFlat, s"$outDir/$name.csv")
          written += "csv"
        }
        Some(name -> written.toSeq)
      }
    }
  }
}
