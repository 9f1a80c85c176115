package graft.sinks

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.SparkSuite
import graft.sources.{Geopackage, SQLiteFile, SQLiteWriter}
import graft.spatial.{Geometry, Line, Poly, Pt}

/** Writer -> reader round trips: SQLiteWriter output parsed back by the
  * pure-JVM SQLiteFile b-tree reader, and GeopackageWriter output read
  * back through the Geopackage layer API (same path the source registry
  * uses for real .gpkg files). */
class GeopackageWriterSpec extends SparkSuite {

  private def tmp(name: String) = {
    val d = Files.createTempDirectory("gpkgw")
    d.resolve(name)
  }

  test("sqlite writer: types, rowid alias, NULLs round-trip") {
    val p = tmp("basic.db")
    SQLiteWriter.write(p, Seq(SQLiteWriter.Table(
      "t",
      """CREATE TABLE "t" ("id" INTEGER PRIMARY KEY, "txt" TEXT, "d" REAL, "n" INTEGER, "b" BLOB)""",
      Seq(
        Seq[Any](7L, "hello åäö", 1.5, -42L, Array[Byte](1, 2, 3)),
        Seq[Any](9L, null, null, 0L, null),
        Seq[Any](1000L, "big" * 10, 2.25, 1L, Array.fill[Byte](10)(5))),
      rowidAliasIdx = 0)))
    val db = SQLiteFile.open(p)
    assert(db.tableNames == Seq("t"))
    assert(db.columnsOf("t") == Seq("id", "txt", "d", "n", "b"))
    val rows = db.readTable("t")
    assert(rows.map(_._1) == Seq(7L, 9L, 1000L)) // rowids
    val r7 = rows.head._2
    assert(r7(0) == 7L) // alias materializes
    assert(r7(1) == "hello åäö")
    assert(r7(2) == 1.5)
    assert(r7(3) == -42L)
    assert(r7(4).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2, 3))
    assert(rows(1)._2(1) == null && rows(1)._2(2) == null && rows(1)._2(3) == 0L)
  }

  test("rowid alias follows the DDL position; NULL elsewhere stays NULL") {
    val p = tmp("alias.db")
    SQLiteWriter.write(p, Seq(SQLiteWriter.Table(
      "srs_like",
      // alias in position 1 (gpkg_spatial_ref_sys shape) + a genuinely
      // NULL first column
      """CREATE TABLE "srs_like" ("srs_name" TEXT, "srs_id" INTEGER PRIMARY KEY, "org" TEXT)""",
      Seq(
        Seq[Any](null, 4326L, "EPSG"),
        Seq[Any]("SWEREF99 TM", 3006L, null)),
      rowidAliasIdx = 1)))
    val db = SQLiteFile.open(p)
    assert(db.rowidAliasIndex("srs_like") == 1)
    val rows = db.readTable("srs_like")
    assert(rows.map(_._1) == Seq(3006L, 4326L)) // b-tree key order
    val byId = rows.map(_._2).map(r => r(1) -> r).toMap
    assert(byId(4326L)(0) == null, "NULL first column must stay NULL")
    assert(byId(4326L)(1) == 4326L, "alias position materializes the rowid")
    assert(byId(3006L)(0) == "SWEREF99 TM" && byId(3006L)(2) == null)
  }

  test("sqlite writer: multi-leaf b-tree with interior pages") {
    val p = tmp("big.db")
    val n = 5000
    SQLiteWriter.write(p, Seq(SQLiteWriter.Table(
      "many",
      """CREATE TABLE "many" ("id" INTEGER PRIMARY KEY, "v" TEXT)""",
      (1 to n).map(i => Seq[Any](i.toLong, s"value_$i" * 4)),
      rowidAliasIdx = 0)))
    val db = SQLiteFile.open(p)
    val rows = db.readTable("many")
    assert(rows.length == n)
    assert(rows.map(_._1) == (1L to n.toLong))
    assert(rows(2573)._2(1) == s"value_${2574}" * 4)
  }

  test("sqlite writer: overflow-chain payloads round-trip") {
    val p = tmp("ovf.db")
    val blob = Array.tabulate[Byte](50000)(i => (i % 251).toByte)
    val text = "x" * 9000
    SQLiteWriter.write(p, Seq(SQLiteWriter.Table(
      "o",
      """CREATE TABLE "o" ("id" INTEGER PRIMARY KEY, "big" BLOB, "t" TEXT)""",
      Seq(Seq[Any](1L, blob, text)),
      rowidAliasIdx = 0)))
    val r = SQLiteFile.open(p).readTable("o").head._2
    assert(r(1).asInstanceOf[Array[Byte]].toSeq == blob.toSeq)
    assert(r(2) == text)
  }

  test("geopackage writer: spark df -> gpkg -> layer reader round-trip") {
    import spark.implicits._
    val geoms = Seq(
      1L -> Geometry.toWkb(Pt(500000, 6400000)),
      2L -> Geometry.toWkb(Poly(Array(Array(
        Pt(510000, 6410000), Pt(511000, 6410000),
        Pt(511000, 6411000), Pt(510000, 6411000), Pt(510000, 6410000))))),
      3L -> Geometry.toWkb(Line(Array(Pt(520000, 6420000), Pt(521000, 6421000)))))
    val df = geoms.toDF("oid", "geom")
      .withColumn("namn", concat(lit("obj_"), col("oid")))
      .withColumn("vikt", col("oid").cast("double") * 1.5)
    val p = tmp("out.gpkg")
    GeopackageWriter.write(df, p.toString, "funkar", "geom")

    val db = SQLiteFile.open(p)
    assert(db.tableNames.toSet == Set("gpkg_spatial_ref_sys", "gpkg_contents",
      "gpkg_geometry_columns", "funkar"))
    val layers = Geopackage.layers(db)
    assert(layers.map(_.table) == Seq("funkar"))
    assert(layers.head.srsId == 3006)

    val (cols, rows, _) = Geopackage.readLayer(db, Some("funkar"))
    assert(cols == Seq("fid", "geom", "oid", "namn", "vikt"))
    assert(rows.length == 3)
    val r2 = rows.find(_.head == 2L).get
    val g = Geometry.fromWkb(r2(1).asInstanceOf[Array[Byte]])
    assert(g.typeName == "POLYGON")
    assert(Geometry.area(g) == 1000.0 * 1000.0)
    assert(r2(3) == "obj_2")
    assert(r2(4) == 3.0)

    // contents row carries the layer bbox
    val contents = db.readTable("gpkg_contents").head._2
    assert(contents(0) == "funkar" && contents(1) == "features")
    assert(contents(5) == 500000.0 && contents(8) == 6421000.0)
    // mixed geometry types -> generic GEOMETRY declaration
    val gc = db.readTable("gpkg_geometry_columns").head._2
    assert(gc(2) == "GEOMETRY")
  }

  test("writer output feeds the zip_geopackage source -> stage004 loop") {
    import spark.implicits._
    val df = Seq(
      (1L, graft.spatial.Geometry.toWkb(Poly(Array(Array(
        Pt(600000, 6500000), Pt(600800, 6500000),
        Pt(600800, 6500800), Pt(600000, 6500800), Pt(600000, 6500000)))))))
      .toDF("oid", "geom")
    val dir = Files.createTempDirectory("gpkgzip")
    val gpkg = dir.resolve("export.gpkg")
    GeopackageWriter.write(df, gpkg.toString, "exported", "geom")
    // zip it like a published dataset archive
    val zipPath = dir.resolve("export.zip")
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(zipPath.toFile))
    zos.putNextEntry(new java.util.zip.ZipEntry("export.gpkg"))
    zos.write(Files.readAllBytes(gpkg))
    zos.closeEntry(); zos.close()

    val back = graft.sources.Sources.ZipGeopackageSource.read(spark, Map(
      "url" -> zipPath.toUri.toString,
      "cache_dir" -> Files.createTempDirectory("gpkgzipc").toString))
    assert(back.count() == 1)
    val staged = graft.pipeline.Stages.stage004(back)
    val r = staged.select("_geom_md5", "_h3_index").head()
    assert(r.getString(0).length == 32)
    assert(r.getString(1).nonEmpty)
  }

  test("geopackage writer: GPKG blob header carries envelope + srs") {
    val blob = GeopackageWriter.gpkgBlob(
      Poly(Array(Array(Pt(0, 0), Pt(10, 0), Pt(10, 5), Pt(0, 5), Pt(0, 0)))), 3006)
    assert(blob(0) == 'G'.toByte && blob(1) == 'P'.toByte)
    assert((blob(3) & 0x0E) >> 1 == 1) // envelope code 1 (XY)
    val parsed = Geopackage.parseGpkgGeometry(blob)
    assert(parsed.get.typeName == "POLYGON")
    assert(Geometry.area(parsed.get) == 50.0)
  }
}
