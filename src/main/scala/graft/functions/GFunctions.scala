package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** The engine's scalar function surface: every `g_*` macro from the
  * reference (`sql/migrations/003_db_makros.sql`) plus the raw ST_/h3_
  * primitives they compose, exposed both as `Column` functions (for the
  * DataFrame API) and registered in the session FunctionRegistry (for
  * `spark.sql`), mirroring how the reference installs macros once per
  * database (`src/g_etl/migrations/migrator.py:394-478`).
  *
  * Pure-SQL-composable macros (g_clean_text, g_empty_to_null, ...) are
  * built from codegen'd built-ins — no custom expression needed; only
  * the genuinely new primitives (H3 family, geometry family, TM
  * transform) use the GeoExpr classes.
  */
object GFunctions {

  // ---------------------------------------------------------- H3 family

  def g_h3_center(lat: Column, lng: Column, res: Column): Column =
    toCol(H3Center(toExpr(lat), toExpr(lng), toExpr(res)))

  def h3_cell_to_latlng(cell: Column): Column =
    toCol(H3CellToLatLng(toExpr(cell)))

  def h3_cell_to_boundary_wkt(cell: Column): Column =
    toCol(H3CellToBoundaryWkt(toExpr(cell)))

  def g_h3_cell_to_geom(cell: Column): Column =
    toCol(H3CellToGeom(toExpr(cell)))

  def h3_cell_to_geom_wgs84(cell: Column): Column =
    toCol(H3CellToGeomWgs84(toExpr(cell)))

  def g_h3_polygon_cells(geom: Column, res: Column): Column =
    toCol(H3PolygonCells(toExpr(geom), toExpr(res)))

  def g_h3_line_cells(geom: Column, bufferM: Column, res: Column): Column =
    toCol(H3LineCells(toExpr(geom), toExpr(bufferM), toExpr(res)))

  def g_h3_point_cells(geom: Column, res: Column): Column =
    toCol(H3PointCells(toExpr(geom), toExpr(res)))

  def g_h3_covering_cells(geom: Column, res: Column): Column =
    toCol(H3CoveringCells(toExpr(geom), toExpr(res)))

  def h3_compact_cells(cells: Column): Column =
    toCol(H3CompactCells(toExpr(cells)))

  def h3_uncompact_cells(cells: Column, res: Column): Column =
    toCol(H3UncompactCells(toExpr(cells), toExpr(res)))

  def h3_resolution(cell: Column): Column =
    toCol(H3Resolution(toExpr(cell)))

  def g_h3_query_cells(wkt: Column, res: Column): Column =
    toCol(H3QueryCells(toExpr(wkt), toExpr(res)))

  def h3_cell_to_parent(cell: Column, res: Column): Column =
    toCol(H3CellToParent(toExpr(cell), toExpr(res)))

  // ---- long-keyed internal variants (PERF.md lever: 8-byte cell ids
  // inside the mart/index layers; hex only at surfaces and exports).
  // Not SQL-registered: the public g_* surface stays hex-string.

  def g_h3_polygon_cells_l(geom: Column, res: Column): Column =
    toCol(H3PolygonCells(toExpr(geom), toExpr(res), asLong = true))

  def g_h3_covering_cells_l(geom: Column, res: Column): Column =
    toCol(H3CoveringCells(toExpr(geom), toExpr(res), asLong = true))

  def g_h3_line_cells_l(geom: Column, bufferM: Column, res: Column): Column =
    toCol(H3LineCells(toExpr(geom), toExpr(bufferM), toExpr(res), asLong = true))

  def g_h3_point_cells_l(geom: Column, res: Column): Column =
    toCol(H3PointCells(toExpr(geom), toExpr(res), asLong = true))

  /** Long cell id -> the engine's canonical hex form. lower(hex(x)) is
    * exactly Long.toHexString (minimal-width unsigned lowercase), and
    * both stay codegen'd built-ins — the conversion belongs at RESULT
    * surfaces, bounded by output size, never inside the index. */
  def h3_hex(cell: Column): Column = lower(hex(cell))

  /** Hex cell id -> long (conv is a codegen'd built-in; ids are < 2^61
    * so the signed cast is exact). */
  def h3_unhex(cell: Column): Column = conv(cell, 16, 10).cast("long")

  // ---------------------------------------------------- geometry family

  def st_geomfromtext(wkt: Column): Column = toCol(StGeomFromText(toExpr(wkt)))
  def st_astext(geom: Column): Column = toCol(StAsText(toExpr(geom)))
  def st_geometrytype(geom: Column): Column = toCol(StGeometryType(toExpr(geom)))
  def st_isvalid(geom: Column): Column = toCol(StIsValid(toExpr(geom)))
  def g_validate_geom(geom: Column): Column = toCol(GValidateGeom(toExpr(geom)))
  def st_area(geom: Column): Column = toCol(StArea(toExpr(geom)))
  def st_centroid(geom: Column): Column = toCol(StCentroid(toExpr(geom)))
  def st_pointonsurface(geom: Column): Column = toCol(StPointOnSurface(toExpr(geom)))
  def st_distance(a: Column, b: Column): Column = toCol(StDistance(toExpr(a), toExpr(b)))
  def st_buffer(geom: Column, dist: Column): Column = toCol(StBuffer(toExpr(geom), toExpr(dist)))
  def st_intersects(a: Column, b: Column): Column = toCol(StIntersects(toExpr(a), toExpr(b)))
  def st_point(x: Column, y: Column): Column = toCol(StPoint(toExpr(x), toExpr(y)))
  def st_x(geom: Column): Column = toCol(StX(toExpr(geom)))
  def st_y(geom: Column): Column = toCol(StY(toExpr(geom)))
  def st_asgeojson(geom: Column): Column = toCol(StAsGeoJson(toExpr(geom)))
  def st_geomfromgeojson(json: Column): Column = toCol(StGeomFromGeoJson(toExpr(json)))
  def g_to_wgs84(geom: Column): Column = toCol(GToWgs84(toExpr(geom)))
  def g_to_sweref(geom: Column): Column = toCol(GToSweref(toExpr(geom)))
  def g_centroid_lat(geom: Column): Column = toCol(GCentroidLat(toExpr(geom)))
  def g_centroid_lng(geom: Column): Column = toCol(GCentroidLng(toExpr(geom)))

  /** g_area_ha: ST_Area / 10000, NULL-safe (003_db_makros.sql:32). */
  def g_area_ha(geom: Column): Column = st_area(geom) / 10000.0

  // --------------------------------------- pure-Column macros (003:98+)

  /** g_clean_text: TRIM(REGEXP_REPLACE(txt,'\s+',' ')) (003:98). */
  def g_clean_text(txt: Column): Column =
    trim(regexp_replace(txt, "\\s+", " "))

  /** g_empty_to_null (003:104). */
  def g_empty_to_null(txt: Column): Column =
    nullif(trim(txt), lit(""))

  /** g_geom_md5: MD5(ST_AsText(geom)) (003:111). */
  def g_geom_md5(geom: Column): Column = md5(st_astext(geom).cast("binary"))

  /** g_generate_id: md5(seed || now) (003:124). */
  def g_generate_id(seed: Column): Column =
    md5(concat(seed.cast("string"), current_timestamp().cast("string")).cast("binary"))

  /** g_format_date_iso (003:127). */
  def g_format_date_iso(d: Column): Column = date_format(d, "yyyy-MM-dd")

  // ------------------------------------------------------- registration

  /** The full SQL-function surface as (name, builder) pairs — ONE list
    * feeding both [[registerAll]] (temp functions on a live session)
    * and [[graft.GraftExtensions]] (`spark.sql.extensions` wiring, so
    * a spark-submit user gets the surface with zero driver code). */
  private[graft] lazy val sqlBuilders
      : Seq[(String, Seq[Expression] => Expression)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Expression] => Expression)]
    def reg1(name: String, f: Expression => Expression): Unit =
      out += (name -> ((es: Seq[Expression]) => f(es.head)))
    def reg2(name: String, f: (Expression, Expression) => Expression): Unit =
      out += (name -> ((es: Seq[Expression]) => f(es(0), es(1))))
    def reg3(name: String, f: (Expression, Expression, Expression) => Expression): Unit =
      out += (name -> ((es: Seq[Expression]) => f(es(0), es(1), es(2))))

    reg3("g_h3_center", H3Center(_, _, _))
    reg1("h3_cell_to_latlng", H3CellToLatLng(_))
    reg1("h3_cell_to_boundary_wkt", H3CellToBoundaryWkt(_))
    reg1("g_h3_cell_to_geom", H3CellToGeom(_))
    reg1("h3_cell_to_geom_wgs84", H3CellToGeomWgs84(_))
    reg2("g_h3_polygon_cells", H3PolygonCells(_, _))
    reg3("g_h3_line_cells", H3LineCells(_, _, _))
    reg2("g_h3_point_cells", H3PointCells(_, _))
    reg2("g_h3_covering_cells", H3CoveringCells(_, _))
    reg1("h3_compact_cells", H3CompactCells(_))
    reg2("h3_uncompact_cells", H3UncompactCells(_, _))
    reg1("h3_resolution", H3Resolution(_))
    reg2("g_h3_query_cells", H3QueryCells(_, _))
    reg2("h3_cell_to_parent", H3CellToParent(_, _))

    reg1("st_geomfromtext", StGeomFromText(_))
    reg1("st_astext", StAsText(_))
    reg1("st_geometrytype", StGeometryType(_))
    reg1("st_isvalid", StIsValid(_))
    reg1("g_validate_geom", GValidateGeom(_))
    reg1("st_area", StArea(_))
    reg1("st_centroid", StCentroid(_))
    reg1("st_pointonsurface", StPointOnSurface(_))
    reg2("st_distance", StDistance(_, _))
    reg2("st_buffer", StBuffer(_, _))
    reg2("st_intersects", StIntersects(_, _))
    reg2("st_point", StPoint(_, _))
    reg1("st_x", StX(_))
    reg1("st_y", StY(_))
    reg1("st_asgeojson", StAsGeoJson(_))
    reg1("st_geomfromgeojson", StGeomFromGeoJson(_))
    reg1("g_to_wgs84", GToWgs84(_))
    reg1("g_to_sweref", GToSweref(_))
    reg1("g_centroid_lat", GCentroidLat(_))
    reg1("g_centroid_lng", GCentroidLng(_))

    // pure-Column macros, registered as RAW catalyst expressions (the
    // Column bridge would wrap unresolved function nodes that codegen
    // can't compile) so the FULL g_* surface is spark.sql-reachable
    // (003:98-127)
    import org.apache.spark.sql.catalyst.expressions.{Cast, Concat,
      CurrentTimestamp, DateFormatClass, Divide, EqualTo, If, Literal,
      Md5, RegExpReplace, StringTrim}
    import org.apache.spark.sql.types.{BinaryType, DoubleType, StringType}
    def areaHaExpr(e: Expression): Expression =
      Divide(StArea(e), Literal(10000.0, DoubleType))
    reg1("g_area_ha", areaHaExpr)
    reg1("g_clean_text",
      e => StringTrim(RegExpReplace(e, Literal("\\s+"), Literal(" "))))
    reg1("g_empty_to_null", e => {
      val t = StringTrim(e)
      If(EqualTo(t, Literal("")), Literal(null, StringType), t)
    })
    reg1("g_geom_md5", e => Md5(Cast(StAsText(e), BinaryType)))
    reg1("g_generate_id", e => Md5(Cast(Concat(Seq(
      Cast(e, StringType), Cast(CurrentTimestamp(), StringType))), BinaryType)))
    reg1("g_format_date_iso",
      e => DateFormatClass(e, Literal("yyyy-MM-dd")))

    // back-compat unprefixed aliases (003:157-166)
    reg1("validate_geom", GValidateGeom(_))
    reg1("to_wgs84", GToWgs84(_))
    reg1("area_ha", areaHaExpr)
    reg3("h3_center", H3Center(_, _, _))
    reg2("h3_polygon_cells", H3PolygonCells(_, _))

    // dedup sketch surface (beyond-reference: SURVEY §7.4 operators as
    // SQL functions, so the LLM-pipeline passes are spark.sql-reachable)
    def reg4(name: String,
        f: (Expression, Expression, Expression, Expression) => Expression): Unit =
      out += (name -> ((es: Seq[Expression]) => f(es(0), es(1), es(2), es(3))))
    reg3("minhash_signature", graft.ops.TextDedup.MinHashSig(_, _, _))
    reg4("minhash_shingle_signature", graft.ops.TextDedup.MinHashShingleSig(_, _, _, _))
    reg1("simhash64", graft.ops.TextDedup.SimHash64(_))
    out.toSeq
  }

  /** Register the full surface for spark.sql, mirroring the reference's
    * macro names plus their unprefixed back-compat aliases (003:157-166).
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
