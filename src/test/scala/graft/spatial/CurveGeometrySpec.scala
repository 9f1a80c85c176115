package graft.spatial

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.SparkSuite
import graft.sources.{Sources, SQLiteWriter}
import graft.sources.SQLiteWriter.Table

/** ISO curved WKB types (CIRCULARSTRING/COMPOUNDCURVE/CURVEPOLYGON/
  * MULTICURVE/MULTISURFACE) linearize on parse — the reference
  * downgrades these via shapely `buffer(0)` in its pyogrio fallback
  * (`src/g_etl/plugins/zip_geopackage.py:327-343`); here the WKB
  * reader itself emits chordal approximations so every downstream
  * stage sees only simple types. */
class CurveGeometrySpec extends SparkSuite {

  // ------------------------------------------------- raw WKB builders

  private def buf(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def trim(bb: ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](bb.position())
    bb.rewind(); bb.get(out); out
  }

  private def putPts(bb: ByteBuffer, pts: Seq[(Double, Double)]): Unit = {
    bb.putInt(pts.length)
    pts.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
  }

  private def circularString(pts: Seq[(Double, Double)]): Array[Byte] = {
    val bb = buf(9 + 16 * pts.length)
    bb.put(1.toByte).putInt(8); putPts(bb, pts); trim(bb)
  }

  private def lineString(pts: Seq[(Double, Double)]): Array[Byte] = {
    val bb = buf(9 + 16 * pts.length)
    bb.put(1.toByte).putInt(2); putPts(bb, pts); trim(bb)
  }

  private def wrap(typeCode: Int, members: Seq[Array[Byte]]): Array[Byte] = {
    val bb = buf(9 + members.map(_.length).sum)
    bb.put(1.toByte).putInt(typeCode).putInt(members.length)
    members.foreach(bb.put)
    trim(bb)
  }

  /** Full circle as two CCW half-arcs, center (cx,cy), radius r. */
  private def circleRing(cx: Double, cy: Double, r: Double): Array[Byte] =
    circularString(Seq((cx + r, cy), (cx, cy + r), (cx - r, cy),
      (cx, cy - r), (cx + r, cy)))

  // ------------------------------------------------------- unit level

  test("circularstring: quarter arc linearizes through the mid point") {
    // quarter circle r=10 around origin: (10,0) -> (0,10) via 45 deg
    val s = math.sqrt(0.5) * 10
    val g = Geometry.fromWkb(circularString(Seq((10, 0), (s, s), (0, 10))))
    val line = g.asInstanceOf[Line]
    assert(line.pts.length >= 5)
    assert(line.pts.head == Pt(10, 0) && line.pts.last == Pt(0, 10))
    // every interior vertex sits on the circle
    line.pts.foreach(p => assert(math.abs(math.hypot(p.x, p.y) - 10) < 1e-9))
    // arc bulges through the first quadrant, not the chord
    assert(line.pts.exists(p => p.x > 5 && p.y > 5))
  }

  test("circularstring: collinear triple degrades to the chord") {
    val g = Geometry.fromWkb(circularString(Seq((0, 0), (5, 5), (10, 10))))
    assert(g.asInstanceOf[Line].pts.toSeq == Seq(Pt(0, 0), Pt(10, 10)))
  }

  test("curvepolygon: full-circle ring closes and has ~pi r^2 area") {
    val wkb = wrap(10, Seq(circleRing(650000, 6550000, 1000)))
    val g = Geometry.fromWkb(wkb)
    val p = g.asInstanceOf[Poly]
    assert(p.rings.length == 1)
    val ring = p.rings(0)
    assert(ring.head == ring.last, "ring must close")
    val err = math.abs(Geometry.area(g) - math.Pi * 1e6) / (math.Pi * 1e6)
    assert(err < 0.01, s"area error $err")
    assert(Geometry.contains(g, Pt(650000, 6550000)))
  }

  test("compoundcurve: line + arc + line joins without duplicate joints") {
    val seg1 = lineString(Seq((0, 0), (10, 0)))
    val s = math.sqrt(0.5) * 5
    // half circle (10,0)->(20,0) over the top, center (15,0) r=5
    val seg2 = circularString(Seq((10, 0), (15, 5), (20, 0)))
    val seg3 = lineString(Seq((20, 0), (30, 0)))
    val g = Geometry.fromWkb(wrap(9, Seq(seg1, seg2, seg3)))
    val line = g.asInstanceOf[Line]
    assert(line.pts.head == Pt(0, 0) && line.pts.last == Pt(30, 0))
    // no consecutive duplicate vertices at the joints
    line.pts.sliding(2).foreach { case Array(a, b) => assert(a != b) }
    // arc length ~ pi*5 + 20 straight
    val expect = math.Pi * 5 + 20
    assert(math.abs(Geometry.length(g) - expect) / expect < 0.01)
    val _ = s
  }

  test("multicurve and multisurface linearize member-wise") {
    val mc = Geometry.fromWkb(wrap(11, Seq(
      lineString(Seq((0, 0), (1, 1))),
      circularString(Seq((0, 0), (1, 1), (2, 0))))))
    val ml = mc.asInstanceOf[MultiLine]
    assert(ml.lines.length == 2 && ml.lines(1).pts.length > 3)

    val plainPoly = {
      val bb = buf(200)
      bb.put(1.toByte).putInt(3).putInt(1)
      putPts(bb, Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)))
      trim(bb)
    }
    val ms = Geometry.fromWkb(wrap(12, Seq(
      wrap(10, Seq(circleRing(100, 100, 10))), plainPoly)))
    val mp = ms.asInstanceOf[MultiPoly]
    assert(mp.polys.length == 2)
    assert(math.abs(Geometry.area(mp) - (math.Pi * 100 + 1)) / 315 < 0.01)
  }

  test("round-trip: linearized curves re-serialize as simple WKB") {
    val g = Geometry.fromWkb(wrap(10, Seq(circleRing(0, 0, 1))))
    val again = Geometry.fromWkb(Geometry.toWkb(g))
    assert(again.asInstanceOf[Poly].rings(0).toSeq ==
      g.asInstanceOf[Poly].rings(0).toSeq)
  }

  // -------------------------------------------- gpkg -> stage004 loop

  test("gpkg with a CURVEPOLYGON survives stage004 with non-null geom") {
    val dir = Files.createTempDirectory("curvegpkg")
    val path = dir.resolve("curves.gpkg")
    val curveWkb = wrap(10, Seq(circleRing(650000, 6550000, 1000)))
    SQLiteWriter.write(path, Seq(
      Table("gpkg_spatial_ref_sys",
        """CREATE TABLE gpkg_spatial_ref_sys ("srs_name" TEXT NOT NULL, "srs_id" INTEGER PRIMARY KEY, "organization" TEXT NOT NULL, "organization_coordsys_id" INTEGER NOT NULL, "definition" TEXT NOT NULL, "description" TEXT)""",
        Seq(Seq[Any]("SWEREF99 TM", 3006L, "EPSG", 3006L, "PROJCS[...]", "d")),
        rowidAliasIdx = 1),
      Table("gpkg_contents",
        """CREATE TABLE gpkg_contents ("table_name" TEXT NOT NULL, "data_type" TEXT NOT NULL, "identifier" TEXT, "description" TEXT, "last_change" TEXT NOT NULL, "min_x" REAL, "min_y" REAL, "max_x" REAL, "max_y" REAL, "srs_id" INTEGER)""",
        Seq(Seq[Any]("kurvor", "features", "kurvor", "d",
          "2026-01-01T00:00:00.000Z", null, null, null, null, 3006L))),
      Table("gpkg_geometry_columns",
        """CREATE TABLE gpkg_geometry_columns ("table_name" TEXT NOT NULL, "column_name" TEXT NOT NULL, "geometry_type_name" TEXT NOT NULL, "srs_id" INTEGER NOT NULL, "z" TINYINT NOT NULL, "m" TINYINT NOT NULL)""",
        Seq(Seq[Any]("kurvor", "geom", "CURVEPOLYGON", 3006L, 0L, 0L))),
      Table("kurvor",
        """CREATE TABLE "kurvor" ("fid" INTEGER PRIMARY KEY, "geom" BLOB, "namn" TEXT)""",
        Seq(Seq[Any](1L, curveWkb, "cirkel")), rowidAliasIdx = 0)))

    val df = Sources.GeopackageDistSource.read(spark, Map("url" -> path.toString))
    assert(df.count() == 1)
    val staged = graft.pipeline.Stages.stage004(df)
    val row = staged.head()
    assert(row.getAs[Array[Byte]]("geom") != null)
    assert(row.getAs[scala.collection.Seq[String]]("_h3_cells").nonEmpty)
    // the stored curve came back as a closed simple polygon
    val g = Geometry.fromWkb(row.getAs[Array[Byte]]("geom"))
    assert(g.typeName == "POLYGON" || g.typeName == "MULTIPOLYGON")
  }
}
