package graft.sources

import org.apache.spark.sql.DataFrame

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.FileOutputStream
import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSuite

/** Archive reads over `http://`: the archive reader fetches the url into
  * `cache_dir` once, then scans the cached copy exactly as it scans a
  * `file://` url. Served from an in-process server on an ephemeral
  * loopback port that counts requests per path. */
class HttpArchiveSpec extends SparkSuite {

  private def zipOf(zip: Path, entries: Seq[(String, Array[Byte])]): Path = {
    val zos = new ZipOutputStream(new FileOutputStream(zip.toFile))
    entries.foreach { case (n, b) =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(b)
      zos.closeEntry()
    }
    zos.close()
    zip
  }

  /** Serve `files` (url path -> file) and count the requests per path. */
  private def withServer(files: Map[String, Path])(
      body: (String, String => Int) => Unit): Unit = {
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      hits.computeIfAbsent(path, _ => new AtomicInteger()).incrementAndGet()
      files.get(path) match {
        case Some(f) =>
          val bytes = Files.readAllBytes(f)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}",
      p => Option(hits.get(p)).map(_.get).getOrElse(0))
    finally server.stop(0)
  }

  private def sortedRows(df: DataFrame, key: String) =
    df.orderBy(key).collect().toSeq

  test("zipped shapefile and GeoPackage over http: fetched once, same rows as file://") {
    val dir = Files.createTempDirectory("httparch")
    SourcesSpecFixtures.writeShapefileFixture(dir)
    val shpZip = zipOf(dir.resolve("layer.zip"), Seq("test.shp", "test.dbf")
      .map(n => n -> Files.readAllBytes(dir.resolve(n))))
    val gpkgZip = zipOf(dir.resolve("bundle.zip"), Seq("data/test.gpkg" ->
      Files.readAllBytes(Paths.get("src/test/resources/fixture.gpkg"))))
    val cache = Files.createTempDirectory("httparch_cache").toString
    withServer(Map("/layer.zip" -> shpZip, "/bundle.zip" -> gpkgZip)) {
      (base, hits) =>
        val cases = Seq(
          (Sources.ZipShapefileSource, "/layer.zip", shpZip, Map.empty[String, String], "NAME"),
          (Sources.ZipGeopackageSource, "/bundle.zip", gpkgZip, Map("layer" -> "omraden"), "fid"))
        cases.foreach { case (src, path, local, opts, key) =>
          val viaHttp = src.read(spark,
            opts ++ Map("url" -> (base + path), "cache_dir" -> cache))
          assert(hits(path) == 1, s"$path: first read fetches once")
          val viaFile = src.read(spark, opts + ("url" -> local.toUri.toString))
          assert(viaHttp.schema == viaFile.schema)
          assert(viaHttp.count() > 0)
          assert(sortedRows(viaHttp, key) == sortedRows(viaFile, key))
          val again = src.read(spark,
            opts ++ Map("url" -> (base + path), "cache_dir" -> cache))
          assert(again.count() == viaHttp.count())
          assert(hits(path) == 1, s"$path: a second read is served from cache_dir")
        }
        // an unknown layer still fails inside read(), listing the layers
        val err = intercept[IllegalArgumentException] {
          Sources.ZipGeopackageSource.read(spark, Map(
            "url" -> (base + "/bundle.zip"), "cache_dir" -> cache,
            "layer" -> "nope"))
        }
        assert(err.getMessage.contains("available: punkter, omraden"),
          err.getMessage)
        assert(hits("/bundle.zip") == 1)
    }
  }
}
