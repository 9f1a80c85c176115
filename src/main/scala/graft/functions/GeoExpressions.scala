package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h3.H3Core
import graft.spatial.{Crs, Geometry, Geom, Pt}

/** Catalyst expression library for the reference's macro surface
  * (`sql/migrations/003_db_makros.sql`, SURVEY.md §2.4/§2.12).
  *
  * Implemented as native `Expression`s rather than Scala UDFs: no
  * Encoder round-trip per row, and the optimizer sees real expression
  * trees (constant folding, null propagation). Geometry travels as WKB
  * `BinaryType` — the GeoParquet convention (SURVEY §1.1).
  *
  * Codegen: NOT CodegenFallback. A CodegenFallback expression marks the
  * whole enclosing plan node unsupported for whole-stage codegen, so a
  * scan->filter->project pipeline containing one geo column falls out
  * of Tungsten fusion entirely — at 100 TB that de-fuses the index
  * build's hottest stage. Instead `doGenCode` emits a boxed-args call
  * into [[evalBoxed]]: the per-row cost is one virtual call + boxing of
  * a handful of args (noise next to polyfill/WKB math), and the
  * surrounding operators stay inside one generated loop.
  */
abstract class GeoExpr extends Expression {
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean = true

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    evalBoxed(vals)
  }

  /** Generated-code entry point: all-args-non-null boxed evaluation
    * with the same malformed-input => SQL NULL contract as eval. */
  final def evalBoxed(args: Array[Any]): Any =
    try evalNotNull(args)
    catch { case _: IllegalArgumentException | _: IllegalStateException => null }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geoExpr", this, classOf[GeoExpr].getName)
    val childGen = children.map(_.genCode(ctx))
    val args = ctx.freshName("geoArgs")
    val res = ctx.freshName("geoRes")
    val childCode = childGen.zipWithIndex.map { case (c, i) =>
      s"""
         |${c.code}
         |if (${c.isNull}) {
         |  $args = null;
         |} else if ($args != null) {
         |  $args[$i] = ${c.value};
         |}
       """.stripMargin
    }.mkString("\n")
    val javaType = CodeGenerator.javaType(dataType)
    val boxedType = CodeGenerator.boxedType(dataType)
    val body =
      s"""
         |Object[] $args = new Object[${children.length}];
         |$childCode
         |boolean ${ev.isNull} = true;
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if ($args != null) {
         |  Object $res = $ref.evalBoxed($args);
         |  if ($res != null) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = ($boxedType) $res;
         |  }
         |}
       """.stripMargin
    ev.copy(code = code"$body")
  }

  /** All-args-non-null evaluation; malformed input yields SQL NULL. */
  protected def evalNotNull(args: Array[Any]): Any

  // ---- shared decode helpers
  protected final def str(a: Any): String = a.asInstanceOf[UTF8String].toString
  protected final def wkb(a: Any): Geom = Geometry.fromWkb(a.asInstanceOf[Array[Byte]])
  protected final def dbl(a: Any): Double = a match {
    case d: java.lang.Double => d
    case f: java.lang.Float => f.toDouble
    case i: java.lang.Integer => i.toDouble
    case l: java.lang.Long => l.toDouble
    case d: Decimal => d.toDouble
  }
  protected final def int(a: Any): Int = a match {
    case i: java.lang.Integer => i
    case l: java.lang.Long => l.toInt
  }
  protected final def lng(a: Any): Long = a match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.longValue
    case s: java.lang.Short => s.longValue
    case b: java.lang.Byte => b.longValue
  }
  protected final def utf8(s: String): UTF8String = UTF8String.fromString(s)
  protected final def strArray(xs: Array[String]): ArrayData =
    new GenericArrayData(xs.map(utf8(_).asInstanceOf[Any]))

  /** Cell-id input, polymorphic: hex UTF8String (the public SQL surface)
    * or raw 64-bit id (the internal long-keyed mart/index layers —
    * PERF.md's "long-keyed index" lever: an 8-byte key instead of a
    * 16-char string halves shuffle and cache width for every index
    * build and polygon join). */
  protected final def cellId(a: Any): Long = a match {
    case u: UTF8String => H3Core.fromHexString(u.toString)
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
  }
  protected final def longArray(xs: Array[Long]): ArrayData =
    new GenericArrayData(xs.map(java.lang.Long.valueOf(_).asInstanceOf[Any]))
  /** Cell-id array output in the caller's requested representation. */
  protected final def cellsOut(xs: Array[Long], asLong: Boolean): ArrayData =
    if (asLong) longArray(xs) else strArray(xs.map(H3Core.toHexString))
}

// ----------------------------------------------------------------- H3

/** g_h3_center(lat, lng, res) -> cell id string (003_db_makros.sql:56). */
case class H3Center(lat: Expression, lng: Expression, res: Expression)
    extends GeoExpr {
  override def children: Seq[Expression] = Seq(lat, lng, res)
  override def dataType: DataType = StringType
  override protected def evalNotNull(a: Array[Any]): Any =
    utf8(H3Core.toHexString(H3Core.latLngToCell(dbl(a(0)), dbl(a(1)), int(a(2)))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(lat = c(0), lng = c(1), res = c(2))
}

/** h3_cell_to_latlng(cell) -> [lat, lng] (aab_ext_restr/002:18). */
case class H3CellToLatLng(cell: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = ArrayType(DoubleType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val (lat, lng) = H3Core.cellToLatLng(cellId(a(0)))
    new GenericArrayData(Array[Any](lat, lng))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** h3_cell_to_boundary_wkt(cell) (export.py:143,272). */
case class H3CellToBoundaryWkt(cell: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = StringType
  override protected def evalNotNull(a: Array[Any]): Any =
    utf8(H3Core.cellToBoundaryWkt(cellId(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** g_h3_cell_to_geom(cell) -> WKB polygon in SWEREF99 TM
  * (003_db_makros.sql:87). */
case class H3CellToGeom(cell: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any = {
    // boundary vertices -> ring -> WKB directly; the earlier WKT
    // print/parse round-trip per row dominated index-build time
    val b = H3Core.cellToBoundary(cellId(a(0)))
    val ring = new Array[Pt](b.length + 1)
    var i = 0
    while (i < b.length) {
      val (lat, lng) = b(i)
      val (e, n) = Crs.wgs84ToSweref(lat, lng)
      ring(i) = Pt(e, n)
      i += 1
    }
    ring(b.length) = ring(0)
    Geometry.toWkb(graft.spatial.Poly(Array(ring)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** h3_cell_to_geom_wgs84(cell) -> WKB polygon in WGS84 (lng, lat) —
  * the export-edge variant: cell boundaries shipped as plain GeoJSON/
  * WKB geometry are renderable by ANY external tool (Kepler, QGIS,
  * geojson.io) without understanding the cell-id encoding (which is
  * deliberately not libh3's, H3Core.scala:21-32). */
case class H3CellToGeomWgs84(cell: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val b = H3Core.cellToBoundary(cellId(a(0)))
    val ring = new Array[Pt](b.length + 1)
    var i = 0
    while (i < b.length) {
      val (lat, lng) = b(i)
      ring(i) = Pt(lng, lat)
      i += 1
    }
    ring(b.length) = ring(0)
    Geometry.toWkb(graft.spatial.Poly(Array(ring)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** g_h3_polygon_cells(geom, res): SWEREF99 WKB polygon -> WGS84 ->
  * polyfill -> cell array (003_db_makros.sql:64). */
case class H3PolygonCells(geom: Expression, res: Expression,
    asLong: Boolean = false) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom, res)
  override def dataType: DataType =
    ArrayType(if (asLong) LongType else StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val wgs = Crs.swerefGeomToWgs84(wkb(a(0)))
    cellsOut(H3Core.polygonToCells(wgs, int(a(1))), asLong)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), res = c(1))
}

/** g_h3_covering_cells(geom, res): SWEREF99 WKB geometry (any type) ->
  * COVERING cell set at `res` — a superset of every res-`res` cell
  * that is the ancestor of any cell whose own H3 geometry intersects
  * the input ([[graft.h3.H3Cover]]; the center polyfill plus a
  * 2.5-spacing boundary corridor). The per-row primitive behind the
  * lossless [[graft.plans.H3JoinRewrite]] spatial-join rewrite; also
  * useful to build recall-complete indexes where the reference's
  * center-polyfill convention is not wanted. */
case class H3CoveringCells(geom: Expression, res: Expression,
    bufferM: Expression = Literal(0.0), asLong: Boolean = false,
    maxCells: Int = Int.MaxValue)
    extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom, res, bufferM)
  // containsNull = false: the covering array never holds null elements
  // (H3Cover returns cell ids only), and H3JoinRewrite's generator
  // output attribute declares nullable=false — the element schema must
  // agree with that optimizer-constructed attribute (r16 ADVICE)
  override def dataType: DataType =
    ArrayType(if (asLong) LongType else StringType, containsNull = false)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val cells = graft.h3.H3Cover.coveringCellIds(wkb(a(0)), int(a(1)),
      dbl(a(2)))
    // the fan-out cliff guard (H3JoinRewrite passes its conf cap): a
    // country-sized geometry at a fine res covers millions of cells
    // PER ROW — fail FAST with an actionable message. NOT an
    // IllegalArgumentException: GeoExpr.evalBoxed converts that to
    // SQL NULL, which here would SILENTLY DROP the row from a
    // rewritten join — an unsound rewrite, far worse than an error.
    if (cells.length > maxCells)
      throw new org.apache.spark.SparkException(
        s"graft H3JoinRewrite: one geometry's covering spans " +
          s"${cells.length} cells at res ${int(a(1))} (cap $maxCells) " +
          "— use a coarser spark.graft.h3Join.res, raise " +
          "spark.graft.h3Join.maxFanout, or pre-split giant geometries")
    cellsOut(cells, asLong)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), res = c(1), bufferM = c(2))
}

/** g_h3_line_cells(geom, buffer_m, res) (003_db_makros.sql:71). */
case class H3LineCells(geom: Expression, bufferM: Expression, res: Expression,
    asLong: Boolean = false) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom, bufferM, res)
  override def dataType: DataType =
    ArrayType(if (asLong) LongType else StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val wgs = Crs.swerefGeomToWgs84(wkb(a(0)))
    cellsOut(H3Core.lineToCells(wgs, dbl(a(1)), int(a(2))), asLong)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), bufferM = c(1), res = c(2))
}

/** g_h3_point_cells(geom, res): centroid cell as 1-element array
  * (003_db_makros.sql:78). */
case class H3PointCells(geom: Expression, res: Expression,
    asLong: Boolean = false) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom, res)
  override def dataType: DataType =
    ArrayType(if (asLong) LongType else StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val c = Geometry.centroid(wkb(a(0)))
    if (c.isEmpty) null
    else {
      val (lat, lng) = Crs.swerefToWgs84(c.x, c.y)
      cellsOut(Array(H3Core.latLngToCell(lat, lng, int(a(1)))), asLong)
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), res = c(1))
}

/** h3_compact_cells(cells) (aab_ext_restr/003:14). */
case class H3CompactCells(cells: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cells)
  private def longIn: Boolean = cells.dataType match {
    case ArrayType(LongType, _) => true; case _ => false
  }
  override def dataType: DataType =
    ArrayType(if (longIn) LongType else StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val in = GeoExprs.cellArray(a(0), longIn)
    if (in == null) null
    else cellsOut(H3Core.compactCells(in).toArray, longIn)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cells = c(0))
}

/** h3_uncompact_cells(cells, res): expand a compacted hierarchy back to
  * uniform-resolution cells — the inverse of h3_compact_cells
  * (aab_ext_restr/003:14; libh3's uncompactCells surface). */
case class H3UncompactCells(cells: Expression, res: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cells, res)
  private def longIn: Boolean = cells.dataType match {
    case ArrayType(LongType, _) => true; case _ => false
  }
  override def dataType: DataType =
    ArrayType(if (longIn) LongType else StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val in = GeoExprs.cellArray(a(0), longIn)
    if (in == null) null
    else cellsOut(H3Core.uncompactCells(in, int(a(1))).toArray, longIn)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cells = c(0), res = c(1))
}

/** h3_resolution(cell): the cell's resolution (libh3 getResolution). */
case class H3Resolution(cell: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell)
  override def dataType: DataType = IntegerType
  override protected def evalNotNull(a: Array[Any]): Any =
    java.lang.Integer.valueOf(H3Core.resolution(cellId(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0))
}

/** g_h3_query_cells(wkt, res): SWEREF99 WKT polygon -> query cell array
  * (003_db_makros.sql:138). */
case class H3QueryCells(wkt: Expression, res: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(wkt, res)
  override def dataType: DataType = ArrayType(StringType)
  override protected def evalNotNull(a: Array[Any]): Any = {
    val wgs = Crs.swerefGeomToWgs84(Geometry.fromWkt(str(a(0))))
    cellsOut(H3Core.polygonToCells(wgs, int(a(1))), asLong = false)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(wkt = c(0), res = c(1))
}

/** h3_cell_to_parent(cell, res): coarser ancestor cell — lets a
  * fine-resolution index join a coarse query-cell set (SURVEY §2.6). */
case class H3CellToParent(cell: Expression, res: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(cell, res)
  private def longIn: Boolean = cell.dataType == LongType
  override def dataType: DataType = if (longIn) LongType else StringType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val h = cellId(a(0))
    val target = int(a(1))
    if (target > H3Core.resolution(h)) null
    else if (longIn) java.lang.Long.valueOf(H3Core.cellToParent(h, target))
    else utf8(H3Core.toHexString(H3Core.cellToParent(h, target)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(cell = c(0), res = c(1))
}

// ----------------------------------------------------------- geometry

/** ST_GeomFromText (sql/examples/h3_polygon_queries.sql:24). */
case class StGeomFromText(wkt: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(wkt)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    Geometry.toWkb(Geometry.fromWkt(str(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(wkt = c(0))
}

/** ST_AsText. */
case class StAsText(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = StringType
  override protected def evalNotNull(a: Array[Any]): Any =
    utf8(Geometry.toWkt(wkb(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_GeometryType (004:50-58 dispatch). */
case class StGeometryType(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = StringType
  override protected def evalNotNull(a: Array[Any]): Any =
    utf8(wkb(a(0)).typeName)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_IsValid (g_validate_geom, 003:25). */
case class StIsValid(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(a: Array[Any]): Any =
    java.lang.Boolean.valueOf(Geometry.isValid(wkb(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** g_validate_geom: NULL-safe make-valid (003:25). */
case class GValidateGeom(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val g = wkb(a(0))
    if (Geometry.isValid(g)) a(0)
    else Geometry.makeValid(g).map(Geometry.toWkb).orNull
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_Area (planar units; SWEREF99 -> m^2). */
case class StArea(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(a: Array[Any]): Any =
    java.lang.Double.valueOf(Geometry.area(wkb(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_Centroid. */
case class StCentroid(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val c = Geometry.centroid(wkb(a(0)))
    if (c.isEmpty) null else Geometry.toWkb(c)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_PointOnSurface (aab_ext_restr/001:27). */
case class StPointOnSurface(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val p = Geometry.pointOnSurface(wkb(a(0)))
    if (p.isEmpty) null else Geometry.toWkb(p)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** ST_Distance (examples :185-188). */
case class StDistance(a: Expression, b: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(a, b)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(v: Array[Any]): Any =
    java.lang.Double.valueOf(Geometry.distance(wkb(v(0)), wkb(v(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(a = c(0), b = c(1))
}

/** ST_Buffer (003:71 uses it for line corridors). */
case class StBuffer(geom: Expression, dist: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom, dist)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    Geometry.toWkb(Geometry.buffer(wkb(a(0)), dbl(a(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0), dist = c(1))
}

/** ST_Intersects (examples :240-244; exact-refine join §2.6). */
case class StIntersects(a: Expression, b: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(a, b)
  override def dataType: DataType = BooleanType
  override protected def evalNotNull(v: Array[Any]): Any =
    java.lang.Boolean.valueOf(Geometry.intersects(wkb(v(0)), wkb(v(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(a = c(0), b = c(1))
}

/** ST_Point(x, y). */
case class StPoint(x: Expression, y: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(x, y)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    Geometry.toWkb(Pt(dbl(a(0)), dbl(a(1))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(x = c(0), y = c(1))
}

/** ST_X / ST_Y on point geometries. */
case class StX(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(a: Array[Any]): Any = wkb(a(0)) match {
    case p: Pt if !p.isEmpty => java.lang.Double.valueOf(p.x)
    case _ => null
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

case class StY(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(a: Array[Any]): Any = wkb(a(0)) match {
    case p: Pt if !p.isEmpty => java.lang.Double.valueOf(p.y)
    case _ => null
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** g_to_wgs84: SWEREF99 TM -> WGS84 coordinate transform on WKB
  * (003_db_makros.sql:22). Output coords are (lng, lat) like the
  * reference's ST_Transform output. */
case class GToWgs84(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    Geometry.toWkb(Crs.swerefGeomToWgs84(wkb(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** Inverse transform: WGS84 (lng, lat) -> SWEREF99 TM. */
case class GToSweref(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    Geometry.toWkb(Geometry.mapCoords(wkb(a(0)), p => {
      val (e, n) = Crs.wgs84ToSweref(p.y, p.x)
      Pt(e, n)
    }))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** g_centroid_lat / g_centroid_lng: centroid of a SWEREF99 geometry in
  * WGS84 degrees (003_db_makros.sql:42-49). */
case class GCentroidLat(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val c = Geometry.centroid(wkb(a(0)))
    if (c.isEmpty) null
    else java.lang.Double.valueOf(Crs.swerefToWgs84(c.x, c.y)._1)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

case class GCentroidLng(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = DoubleType
  override protected def evalNotNull(a: Array[Any]): Any = {
    val c = Geometry.centroid(wkb(a(0)))
    if (c.isEmpty) null
    else java.lang.Double.valueOf(Crs.swerefToWgs84(c.x, c.y)._2)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** st_asgeojson(geom): WKB -> GeoJSON geometry string — the exporter's
  * building block (export.py:129-158). */
case class StAsGeoJson(geom: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType = StringType
  override protected def evalNotNull(a: Array[Any]): Any =
    utf8(graft.spatial.GeoJson.toGeometryJson(wkb(a(0))))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(geom = c(0))
}

/** st_geomfromgeojson(json): GeoJSON geometry string -> WKB. */
case class StGeomFromGeoJson(json: Expression) extends GeoExpr {
  override def children: Seq[Expression] = Seq(json)
  override def dataType: DataType = BinaryType
  override protected def evalNotNull(a: Array[Any]): Any =
    try Geometry.toWkb(graft.spatial.GeoJson.parseGeometry(str(a(0))))
    catch { case _: Exception => null }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(json = c(0))
}

private[functions] object GeoExprs {
  /** Decode an ArrayData of cell ids (hex strings or raw longs, per
    * `longIn`); a NULL element makes the whole input malformed
    * (-> caller returns SQL NULL) instead of an NPE escaping the
    * expression contract. */
  def cellArray(a: Any, longIn: Boolean): IndexedSeq[Long] = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      out(i) =
        if (longIn) arr.getLong(i)
        else H3Core.fromHexString(arr.getUTF8String(i).toString)
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
