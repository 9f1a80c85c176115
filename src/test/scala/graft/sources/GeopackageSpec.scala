package graft.sources

import org.apache.spark.sql.functions._

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSuite
import graft.spatial.{Geometry, Pt, Poly}

/** GPKG reader against a committed real GeoPackage fixture
  * (src/test/resources/fixture.gpkg: 2 layers, 200-row multi-page
  * table, a ~19 KB overflow-chain polygon, unicode text, NULLs,
  * negative ints). */
class GeopackageSpec extends SparkSuite {

  private val fixture = Paths.get("src/test/resources/fixture.gpkg")

  test("sqlite parser: master table, DDL columns, multi-page rows") {
    val db = SQLiteFile.open(fixture)
    assert(db.tableNames.toSet == Set("gpkg_spatial_ref_sys", "gpkg_contents",
      "gpkg_geometry_columns", "punkter", "omraden"))
    assert(db.columnsOf("punkter") == Seq("fid", "namn", "vikt", "antal", "geom"))
    val rows = db.readTable("punkter")
    assert(rows.length == 200)
    // rowid-alias primary key materializes
    assert(rows.map(_._2.head).toSet == (1L to 200L).toSet)
    // unicode text, NULLs, negative ints, floats
    val r5 = rows.find(_._2.head == 6L).get._2 // i=5
    assert(r5(1) == "punkt_åäö_5")
    assert(r5(2) == 5 * 1.5 - 100)
    assert(r5(3) == -5L)
    val r0 = rows.find(_._2.head == 1L).get._2 // i=0 -> NULL name+weight
    assert(r0(1) == null && r0(2) == null)
  }

  test("gpkg layers + geometry blobs incl. overflow-page polygon") {
    val db = SQLiteFile.open(fixture)
    val layers = Geopackage.layers(db)
    assert(layers.map(_.table).toSet == Set("punkter", "omraden"))
    assert(layers.forall(_.srsId == 3006))

    val (cols, rows, lyr) = Geopackage.readLayer(db, Some("omraden"))
    assert(cols == Seq("fid", "beteckn", "areal", "geom"))
    assert(rows.length == 11)
    val big = rows.find(_.head == 11L).get
    assert(big(1) == "stor_cirkel")
    val g = Geometry.fromWkb(big(3).asInstanceOf[Array[Byte]])
    val poly = g.asInstanceOf[Poly]
    assert(poly.rings(0).length == 1201, s"got ${poly.rings(0).length} vertices")
    // ~circle of radius 1000 m -> area ~ pi * 10^6
    assert(math.abs(Geometry.area(g) - math.Pi * 1e6) / (math.Pi * 1e6) < 0.01)
    assert(Geometry.contains(g, Pt(650000, 6550000)))
  }

  test("geopackage connector: named layer selection into a DataFrame") {
    val df = Sources.GeopackageDistSource.read(spark, Map(
      "url" -> fixture.toString, "layer" -> "punkter"))
    assert(df.count() == 200)
    assert(df.columns.toSeq == Seq("fid", "namn", "vikt", "antal", "geom"))
    val r = df.filter(col("fid") === 6).head()
    assert(r.getAs[String]("namn") == "punkt_åäö_5")
    assert(r.getAs[Long]("antal") == -5L)
    val g = Geometry.fromWkb(r.getAs[Array[Byte]]("geom"))
    assert(g == Pt(500050.0, 6400035.0))
    // default layer = first in gpkg_geometry_columns
    val first = Sources.GeopackageDistSource.read(spark, Map("url" -> fixture.toString))
    assert(first.count() == 200)
    // unknown layer -> clear error listing alternatives
    val err = intercept[IllegalArgumentException] {
      Sources.GeopackageDistSource.read(spark, Map(
        "url" -> fixture.toString, "layer" -> "nope"))
    }
    assert(err.getMessage.contains("available"))
  }

  test("zip_geopackage connector end-to-end") {
    val dir = Files.createTempDirectory("gpkgzip")
    val zipPath = dir.resolve("bundle.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    zos.putNextEntry(new ZipEntry("data/test.gpkg"))
    zos.write(Files.readAllBytes(fixture))
    zos.closeEntry()
    zos.close()
    val df = Sources.ZipGeopackageSource.read(spark, Map(
      "url" -> zipPath.toUri.toString,
      "cache_dir" -> Files.createTempDirectory("c").toString,
      "layer" -> "omraden"))
    assert(df.count() == 11)
    assert(df.columns.contains("geom"))
    // pipeline-ready: feed straight into stage004
    val staged = graft.pipeline.Stages.stage004(df)
    assert(staged.count() == 11)
    assert(staged.filter(col("_h3_cells").isNotNull).count() == 11)
  }
}
