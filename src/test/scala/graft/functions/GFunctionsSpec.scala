package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.h3.H3Core
import graft.spatial.{Crs, Geometry, Pt}

class GFunctionsSpec extends SparkSuite {

  import GFunctions._
  registerAll(spark)

  // a small square near Stockholm in SWEREF99 TM meters
  private val stockholmSquare =
    "POLYGON ((674000 6580000, 676000 6580000, 676000 6582000, 674000 6582000, 674000 6580000))"

  private def df = {
    import spark.implicits._
    Seq(
      (1L, stockholmSquare),
      (2L, "POINT (674500 6580500)"),
      (3L, "LINESTRING (674000 6580000, 675000 6581000)")
    ).toDF("id", "wkt")
      .withColumn("geom", st_geomfromtext(col("wkt")))
  }

  test("wkt <-> wkb round trip through expressions") {
    val out = df.select(col("id"), st_astext(col("geom")).as("t"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == stockholmSquare)
    assert(out(1).getString(1) == "POINT (674500 6580500)")
  }

  test("geometry type dispatch + area + validity") {
    val out = df.select(col("id"), st_geometrytype(col("geom")).as("t"),
      st_area(col("geom")).as("a"), g_area_ha(col("geom")).as("ha"),
      st_isvalid(col("geom")).as("v"))
      .orderBy("id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("POLYGON", "POINT", "LINESTRING"))
    assert(out(0).getDouble(2) == 2000.0 * 2000.0)
    assert(out(0).getDouble(3) == 400.0)
    assert(out.forall(_.getBoolean(4)))
  }

  test("centroid transforms to plausible WGS84 over Stockholm") {
    val r = df.filter(col("id") === 1)
      .select(g_centroid_lat(col("geom")), g_centroid_lng(col("geom"))).head()
    val (lat, lng) = (r.getDouble(0), r.getDouble(1))
    assert(lat > 59.2 && lat < 59.5, s"lat $lat")
    assert(lng > 17.8 && lng < 18.3, s"lng $lng")
    // cross-check against the direct Crs call on the exact centroid
    val (elat, elng) = Crs.swerefToWgs84(675000, 6581000)
    assert(math.abs(lat - elat) < 1e-9 && math.abs(lng - elng) < 1e-9)
  }

  test("h3 center/cells expressions agree with H3Core") {
    val r = df.filter(col("id") === 1).select(
      g_h3_center(g_centroid_lat(col("geom")), g_centroid_lng(col("geom")), lit(13)).as("c13"),
      g_h3_polygon_cells(col("geom"), lit(9)).as("cells9"),
      g_h3_point_cells(col("geom"), lit(13)).as("pc")).head()
    val (elat, elng) = Crs.swerefToWgs84(675000, 6581000)
    assert(r.getString(0) ==
      H3Core.toHexString(H3Core.latLngToCell(elat, elng, 13)))
    val cells = r.getSeq[String](1)
    assert(cells.nonEmpty)
    // every polyfill cell center must be inside the WGS84 polygon
    val wgs = Geometry.mapCoords(Geometry.fromWkt(stockholmSquare), p => {
      val (la, ln) = Crs.swerefToWgs84(p.x, p.y)
      Pt(ln, la)
    })
    cells.foreach { c =>
      val (la, ln) = H3Core.cellToLatLng(H3Core.fromHexString(c))
      assert(Geometry.contains(wgs, Pt(ln, la)), s"cell $c center outside")
    }
    assert(r.getSeq[String](2) == Seq(r.getString(0)))
  }

  test("line cells cover the corridor; compact round-trips") {
    val r = df.filter(col("id") === 3).select(
      g_h3_line_cells(col("geom"), lit(10.0), lit(12)).as("lc")).head()
    val lineCells = r.getSeq[String](0)
    assert(lineCells.nonEmpty)
    val sq = df.filter(col("id") === 1).select(
      h3_compact_cells(g_h3_polygon_cells(col("geom"), lit(10))).as("compacted"),
      g_h3_polygon_cells(col("geom"), lit(10)).as("full")).head()
    assert(sq.getSeq[String](0).length < sq.getSeq[String](1).length)
  }

  test("distance / intersects / buffer expressions") {
    import spark.implicits._
    val two = Seq((
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
      "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))",
      "POINT (5 5)")).toDF("a", "b", "p")
      .select(st_geomfromtext($"a").as("ga"), st_geomfromtext($"b").as("gb"),
        st_geomfromtext($"p").as("gp"))
    val r = two.select(
      st_distance($"ga", $"gb").as("d"),
      st_intersects($"ga", $"gb").as("i1"),
      st_intersects($"ga", $"gp").as("i2"),
      st_area(st_buffer($"gp", lit(2.0))).as("ba"),
      st_x($"gp"), st_y($"gp")).head()
    assert(r.getDouble(0) == 10.0)
    assert(!r.getBoolean(1) && r.getBoolean(2))
    assert(math.abs(r.getDouble(3) - math.Pi * 4) < 0.2)
    assert(r.getDouble(4) == 5.0 && r.getDouble(5) == 5.0)
  }

  test("null safety: null/malformed input yields null, not a crash") {
    import spark.implicits._
    val d = Seq(("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"), (null: String))
      .toDF("wkt")
    val out = d.select(st_area(st_geomfromtext($"wkt")).as("a")).collect()
    assert(out.count(_.isNullAt(0)) == 1)
    val bad = Seq("NOT A WKT").toDF("wkt")
      .select(st_geomfromtext($"wkt").as("g")).collect()
    assert(bad.head.isNullAt(0))
    // a NULL ELEMENT inside a cell array is malformed input -> SQL
    // NULL, not an executor-killing NPE
    val nullElem = spark.sql(
      """SELECT h3_compact_cells(array(h3_center(60.0, 15.0, 9), NULL)) AS c,
        |       h3_uncompact_cells(array(NULL), 9) AS u""".stripMargin).collect()
    assert(nullElem.head.isNullAt(0) && nullElem.head.isNullAt(1))
  }

  test("SQL surface: registered g_* functions work in spark.sql") {
    df.createOrReplaceTempView("geoms")
    val r = spark.sql(
      """SELECT id, st_geometrytype(geom) AS t,
        |  g_h3_center(g_centroid_lat(geom), g_centroid_lng(geom), 13) AS cell,
        |  size(g_h3_polygon_cells(geom, 8)) AS n8
        |FROM geoms WHERE id = 1""".stripMargin).head()
    assert(r.getString(1) == "POLYGON")
    assert(r.getString(2).nonEmpty)
    // validate_geom alias + query cells table shape
    val q = spark.sql(
      s"SELECT explode(g_h3_query_cells('$stockholmSquare', 9)) AS h3_cell").collect()
    assert(q.length > 0)
  }

  test("SQL surface: dedup sketch functions work in spark.sql") {
    val r = spark.sql(
      """SELECT
        |  minhash_shingle_signature(split('a b c d e', ' '), 3, 8, 42) AS sig,
        |  minhash_signature(array('a b c', 'b c d', 'c d e'), 8, 42) AS sig2,
        |  simhash64(split('hello world hello', ' ')) AS sh""".stripMargin).head()
    val sig = r.getSeq[Long](0)
    val sig2 = r.getSeq[Long](1)
    assert(sig.length == 8)
    assert(sig == sig2) // fused shingle+hash is bit-identical to explicit shingles
    assert(r.getLong(2) != 0L)
  }

  test("g_validate_geom fixes an open ring, g_geom_md5 stable") {
    import spark.implicits._
    val d = Seq("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))").toDF("wkt")
      .select(st_geomfromtext($"wkt").as("g"))
    val r = d.select(g_validate_geom($"g").as("v"), g_geom_md5($"g").as("h"),
      g_format_date_iso(lit("2026-08-12").cast("date")).as("d")).head()
    assert(!r.isNullAt(0))
    assert(r.getString(1).length == 32)
    assert(r.getString(2) == "2026-08-12")
  }
}
