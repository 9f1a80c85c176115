package graft.sources

import org.apache.spark.sql.functions._

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSuite
import graft.spatial.{Geometry, GeoJson, Poly, Pt}

/** Shared fixture builders (also used by DistSourcesSpec). */
object SourcesSpecFixtures {

  /** Write a minimal polygon shapefile + dbf: 2 records with a NAME
    * (C), AREA (N.2) and CNT (N) column; one square each. */
  def writeShapefileFixture(dir: Path): Path = {
    val shp = dir.resolve("test.shp")
    // records: squares at (0,0)-(10,10) and (20,0)-(30,10), CW rings
    def square(x0: Double): Array[Pt] = Array(
      Pt(x0, 0), Pt(x0, 10), Pt(x0 + 10, 10), Pt(x0 + 10, 0), Pt(x0, 0))
    val recs = Seq(square(0), square(20))
    val recordBodies = recs.map { ring =>
      val body = ByteBuffer.allocate(4 + 32 + 4 + 4 + 4 + 16 * ring.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      body.putInt(5) // polygon
      val xs = ring.map(_.x); val ys = ring.map(_.y)
      body.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
      body.putInt(1).putInt(ring.length).putInt(0)
      ring.foreach(p => body.putDouble(p.x).putDouble(p.y))
      body.array()
    }
    val fileLen = 100 + recordBodies.map(8 + _.length).sum
    val out = ByteBuffer.allocate(fileLen)
    out.order(ByteOrder.BIG_ENDIAN)
    out.putInt(9994).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    out.putInt(fileLen / 2)
    out.order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(1000).putInt(5)
    out.putDouble(0).putDouble(0).putDouble(30).putDouble(10)
    out.putDouble(0).putDouble(0).putDouble(0).putDouble(0)
    recordBodies.zipWithIndex.foreach { case (b, i) =>
      out.order(ByteOrder.BIG_ENDIAN)
      out.putInt(i + 1).putInt(b.length / 2)
      out.put(b)
    }
    Files.write(shp, out.array())

    // DBF: NAME C(8), AREA N(10,2), CNT N(5,0)
    val fields = Seq(("NAME", 'C', 8, 0), ("AREA", 'N', 10, 2), ("CNT", 'N', 5, 0))
    val recSize = 1 + fields.map(_._3).sum
    val headerSize = 32 + fields.size * 32 + 1
    val dbf = ByteBuffer.allocate(headerSize + recSize * 2 + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    dbf.put(0x03.toByte).put(24.toByte).put(1.toByte).put(1.toByte)
    dbf.putInt(2).putShort(headerSize.toShort).putShort(recSize.toShort)
    dbf.position(32)
    fields.foreach { case (n, t, len, dec) =>
      val pos0 = dbf.position()
      dbf.put(n.getBytes("ASCII"))
      dbf.position(pos0 + 11)
      dbf.put(t.toByte)
      dbf.position(pos0 + 16)
      dbf.put(len.toByte).put(dec.toByte)
      dbf.position(pos0 + 32)
    }
    dbf.put(0x0D.toByte)
    def rec(name: String, area: String, cnt: String): Unit = {
      dbf.put(' '.toByte)
      dbf.put(name.padTo(8, ' ').getBytes("ISO-8859-1"))
      dbf.put(area.reverse.padTo(10, ' ').reverse.getBytes("ASCII"))
      dbf.put(cnt.reverse.padTo(5, ' ').reverse.getBytes("ASCII"))
    }
    rec("område1", "100.50", "7")
    rec("zone2", "200.25", "9")
    dbf.put(0x1A.toByte)
    Files.write(dir.resolve("test.dbf"), dbf.array())
    shp
  }
}

class SourcesSpec extends SparkSuite {
  import SourcesSpecFixtures.writeShapefileFixture

  test("shapefile parser: polygons + latin1 dbf attributes") {
    val dir = Files.createTempDirectory("shp")
    val shp = writeShapefileFixture(dir)
    val data = Shapefile.readBytes(Files.readAllBytes(shp),
      Files.readAllBytes(dir.resolve("test.dbf")))
    assert(data.fields.map(_.name) == Seq("NAME", "AREA", "CNT"))
    assert(data.rows.length == 2)
    val (attrs0, geom0) = data.rows(0)
    assert(attrs0 == Seq("område1", 100.50, 7L))
    assert(geom0.exists(g => Geometry.area(g) == 100.0))
    val (attrs1, geom1) = data.rows(1)
    assert(attrs1(0) == "zone2")
    assert(geom1.exists(g => Geometry.contains(g, Pt(25, 5))))
  }

  test("zip_shapefile connector end-to-end (file:// URL, cache, unzip)") {
    val dir = Files.createTempDirectory("shpzip")
    writeShapefileFixture(dir)
    val zipPath = dir.resolve("bundle.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    Seq("test.shp", "test.dbf").foreach { n =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(Files.readAllBytes(dir.resolve(n)))
      zos.closeEntry()
    }
    zos.close()
    val cache = Files.createTempDirectory("cache").toString
    val df = Sources.ZipShapefileSource.read(spark, Map(
      "url" -> zipPath.toUri.toString, "cache_dir" -> cache))
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("NAME", "AREA", "CNT", "geom"))
    val r = df.filter(col("NAME") === "zone2").head()
    assert(r.getAs[Double]("AREA") == 200.25)
    assert(r.getAs[Long]("CNT") == 9L)
    assert(Geometry.area(Geometry.fromWkb(r.getAs[Array[Byte]]("geom"))) == 100.0)
    // cached second read hits the same file
    val df2 = Sources.ZipShapefileSource.read(spark, Map(
      "url" -> zipPath.toUri.toString, "cache_dir" -> cache))
    assert(df2.count() == 2)
  }

  test("zip_shapefile: a .shp without its .dbf fails naming the missing companion") {
    val dir = Files.createTempDirectory("shpnodbf")
    val shp = writeShapefileFixture(dir)
    val zipPath = dir.resolve("nodbf.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    zos.putNextEntry(new ZipEntry("test.shp"))
    zos.write(Files.readAllBytes(shp))
    zos.closeEntry()
    zos.close()
    val e = intercept[Exception] {
      Sources.ZipShapefileSource.read(spark, Map("url" -> zipPath.toUri.toString,
        "cache_dir" -> Files.createTempDirectory("cache").toString)).count()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("missing companion .dbf for test.shp"), messages)
  }

  test("wfs connector paginates until an empty page") {
    def page(ids: Seq[Int]): String = GeoJson.featureCollection(
      ids.map(i => (Map[String, Any]("fid" -> i, "namn" -> s"f$i"),
        Pt(10.0 + i, 60.0))))
    val served = scala.collection.mutable.ArrayBuffer[String]()
    val fetch: String => String = { url =>
      served += url
      val start = "startIndex=(\\d+)".r.findFirstMatchIn(url)
        .map(_.group(1).toInt).getOrElse(0)
      if (start >= 4) GeoJson.featureCollection(Seq.empty)
      else page(Seq(start, start + 1))
    }
    val df = Sources.wfs(fetch).read(spark,
      Map("url" -> "http://example/wfs?typ=ns:t", "count" -> "2"))
    assert(df.count() == 4)
    assert(served.length == 3) // 2 full pages + 1 empty
    assert(df.columns.contains("geom") && df.columns.contains("namn"))
  }

  test("geojson + lantmateriet connectors produce WKB geom") {
    val fc = GeoJson.featureCollection(Seq(
      (Map[String, Any]("id" -> 1),
        Poly(Array(Array(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1), Pt(0, 0)))))))
    val f = Files.createTempFile("fc", ".geojson")
    Files.writeString(f, fc)
    val df = Sources.GeoJsonSource.read(spark, Map("url" -> f.toUri.toString))
    assert(df.count() == 1)
    val g = Geometry.fromWkb(df.head().getAs[Array[Byte]]("geom"))
    assert(Geometry.area(g) == 1.0)

    var gotHeaders: Map[String, String] = Map.empty
    val lm = new Sources.LantmaterietSource((url, headers) => {
      gotHeaders = headers; fc
    })
    val df2 = lm.read(spark, Map("url" -> "https://api/x", "token" -> "T0K"))
    assert(df2.count() == 1)
    assert(gotHeaders == Map("Authorization" -> "Bearer T0K"))
  }

  test("geometry column normalization + registry completeness") {
    import spark.implicits._
    val df = Seq((1, Array[Byte](1))).toDF("id", "geometry")
    assert(Sources.normalizeGeometryColumn(df).columns.contains("geom"))
    val reg = Sources.defaultRegistry()
    assert(Set("geoparquet", "csv", "json", "mssql", "geojson", "wfs",
      "lantmateriet", "zip_shapefile", "geopackage",
      "zip_geopackage").subsetOf(reg.keySet))
    assert(reg.keySet == Set("geoparquet", "geoparquet_http", "csv", "json",
      "mssql", "geojson", "lantmateriet", "wfs", "wfs_dist", "wfs_geopandas",
      "wfs_arrow", "geopackage", "geopackage_dist", "zip_geopackage",
      "zip_shapefile", "zip_shapefile_dist"))
  }

  test("geojson codec round-trips all geometry types") {
    Seq(
      "POINT (3 4)",
      "LINESTRING (0 0, 1 1)",
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0), (0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))").foreach { wkt =>
      val g = Geometry.fromWkt(wkt)
      val back = GeoJson.parseGeometry(GeoJson.toGeometryJson(g))
      assert(Geometry.toWkt(back) == wkt, s"geojson round-trip $wkt")
    }
  }
}
