package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

import graft.functions.GFunctions._
import graft.pipeline.{Bucketed, GeoFixture, Stages}
import graft.sinks.{Exporters, FlatGeobuf, GeopackageWriter}
import graft.sources.Sources

/** Driver-visible end-to-end loops through the source/sink surface
  * (SURVEY §2.1/§2.2): write with the repo's native writers, read back
  * with the repo's native sources, and project the result into an
  * oracle-checkable digest — so the GPKG/FGB/GeoJSON/CSV round-trips
  * produce hash-matched CORRECTNESS rows instead of scalatest-only
  * evidence (reference plugin contract: `tests/test_plugins.py:12-228`).
  *
  * Each loop runs on a 300-feature fixture slice: big enough to hit
  * multi-page SQLite b-trees and every geometry type, small enough that
  * the single-file writers stay off the bench's critical path.
  */
object SourceSinkQueries {

  private def slice(s: SparkSession, dir: String): DataFrame =
    GeoFixture(s, dir).filter(col("fid") <= 300)
      .select(col("fid").as("src_fid"), col("name"), col("geom"))

  /** Same digest convention as q60: md5 of the WKT rendering, so the
    * DuckDB oracle can reproduce it with pure string arithmetic. */
  private def digest(df: DataFrame): DataFrame =
    df.select(col("src_fid").cast("long").as("fid"),
      col("name"),
      md5(st_astext(col("geom")).cast("binary")).as("wkt_md5"))
      .orderBy("fid")

  private val digestOracle: String =
    s"""SELECT c_custkey AS fid, c_name AS name, md5(${GeoFixture.wktSql}) AS wkt_md5
       |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin

  private def md5hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Native GPKG writer -> native SQLite/GPKG source -> digest.
    "q93_gpkg_roundtrip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q93")
      val gpkg = tmp.resolve("loop.gpkg").toString
      GeopackageWriter.write(slice(s, dir), gpkg, "loop")
      val back = Sources.GeopackageDistSource.read(s, Map("url" -> gpkg))
      digest(back)
    }),

    // Native FlatGeobuf writer -> own reader -> digest (the reader is
    // driver-side by design: FGB is an interactive/interop format).
    "q94_fgb_roundtrip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q94")
      val fgb = tmp.resolve("loop.fgb").toString
      FlatGeobuf.write(slice(s, dir), fgb, "loop")
      val (_, feats) = FlatGeobuf.read(fgb)
      val rows = feats.map { case (g, props) =>
        Row(props("src_fid").asInstanceOf[Long],
          props("name").asInstanceOf[String],
          md5hex(graft.spatial.Geometry.toWkt(g)))
      }
      val schema = StructType(Seq(StructField("fid", LongType),
        StructField("name", StringType), StructField("wkt_md5", StringType)))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema).orderBy("fid")
    }),

    // Writer -> zip archive -> zip_geopackage source -> stage004 ->
    // geometry-type census (the published-dataset ingest loop).
    "q95_zip_gpkg_stage004" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q95")
      val gpkg = tmp.resolve("export.gpkg")
      GeopackageWriter.write(slice(s, dir), gpkg.toString, "exported")
      val zipPath = tmp.resolve("export.zip")
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(zipPath.toFile))
      zos.putNextEntry(new java.util.zip.ZipEntry("export.gpkg"))
      zos.write(Files.readAllBytes(gpkg))
      zos.closeEntry(); zos.close()
      val back = Sources.ZipGeopackageSource.read(s, Map(
        "url" -> zipPath.toUri.toString,
        "cache_dir" -> Files.createTempDirectory("graft_q95c").toString))
      Stages.stage004(back)
        .select(st_geometrytype(col("geom")).as("gtype"))
        .groupBy("gtype").agg(count(lit(1)).as("n"))
        .orderBy("gtype")
    }),

    // Distributed GeoJSONSeq export -> text source -> JSON-path fields
    // -> geometry reparse -> digest.
    "q96_geojson_roundtrip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q96")
      val path = tmp.resolve("features").toString
      Exporters.geojsonSeq(slice(s, dir), path)
      s.read.text(path)
        .select(
          get_json_object(col("value"), "$.properties.src_fid")
            .cast("long").as("fid"),
          get_json_object(col("value"), "$.properties.name").as("name"),
          md5(st_astext(st_geomfromgeojson(
            get_json_object(col("value"), "$.geometry"))).cast("binary"))
            .as("wkt_md5"))
        .orderBy("fid")
    }),

    // Directory of GPKG archives -> distributed binaryFile ingest
    // (one task per archive, rows parsed inside tasks) -> digest. The
    // same 300 features as q93, so a file dropped by the distributed
    // path breaks the hash.
    "q98_gpkg_dist_read" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q98")
      val all = slice(s, dir)
      Seq((0, 100), (101, 200), (201, 300)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          GeopackageWriter.write(
            all.filter(col("src_fid").between(lo, hi)),
            tmp.resolve(f"part_$i%02d.gpkg").toString, "loop")
      }
      val back = Sources.GeopackageDistSource.read(s,
        Map("url" -> tmp.toString))
      digest(back)
    }),

    // Curved-geometry ingest: a GPKG whose layer stores raw ISO
    // CURVEPOLYGON WKB (full-circle ring per feature). The reader
    // linearizes arcs at 32 chords per circle, so area/(pi r^2) is the
    // inscribed-32-gon constant 0.993587... for EVERY feature — a
    // deterministic integer the DuckDB oracle states in closed form.
    "q99_curve_gpkg_read" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q99")
      val gpkg = tmp.resolve("curves.gpkg")
      val fids = (1 to 50).map(_.toLong)
      graft.sources.SQLiteWriter.write(gpkg, Seq(
        graft.sources.SQLiteWriter.Table("gpkg_spatial_ref_sys",
          """CREATE TABLE gpkg_spatial_ref_sys ("srs_name" TEXT NOT NULL, "srs_id" INTEGER PRIMARY KEY, "organization" TEXT NOT NULL, "organization_coordsys_id" INTEGER NOT NULL, "definition" TEXT NOT NULL, "description" TEXT)""",
          Seq(Seq[Any]("SWEREF99 TM", 3006L, "EPSG", 3006L, "PROJCS[...]", "d")),
          rowidAliasIdx = 1),
        graft.sources.SQLiteWriter.Table("gpkg_contents",
          """CREATE TABLE gpkg_contents ("table_name" TEXT NOT NULL, "data_type" TEXT NOT NULL, "identifier" TEXT, "description" TEXT, "last_change" TEXT NOT NULL, "min_x" REAL, "min_y" REAL, "max_x" REAL, "max_y" REAL, "srs_id" INTEGER)""",
          Seq(Seq[Any]("kurvor", "features", "kurvor", "d",
            "2026-01-01T00:00:00.000Z", null, null, null, null, 3006L))),
        graft.sources.SQLiteWriter.Table("gpkg_geometry_columns",
          """CREATE TABLE gpkg_geometry_columns ("table_name" TEXT NOT NULL, "column_name" TEXT NOT NULL, "geometry_type_name" TEXT NOT NULL, "srs_id" INTEGER NOT NULL, "z" TINYINT NOT NULL, "m" TINYINT NOT NULL)""",
          Seq(Seq[Any]("kurvor", "geom", "CURVEPOLYGON", 3006L, 0L, 0L))),
        graft.sources.SQLiteWriter.Table("kurvor",
          """CREATE TABLE "kurvor" ("fid" INTEGER PRIMARY KEY, "geom" BLOB)""",
          fids.map(f => Seq[Any](f,
            curvePolygonWkb((560000 + f * 1000).toDouble,
              (6440000 + f * 500).toDouble, (100 + f).toDouble))),
          rowidAliasIdx = 0)))
      val back = Sources.GeopackageDistSource.read(s, Map("url" -> gpkg.toString))
      back.select(col("fid"),
        round(st_area(col("geom")) /
          (lit(math.Pi) * pow(lit(100).cast("double") + col("fid"), 2)) * 1000)
          .cast("long").as("area_ratio_k"))
        .orderBy("fid")
    }),

    // GeoParquet export (geo descriptor spliced into each part FOOTER,
    // the spec location) -> plain parquet source -> digest: proves the
    // footer-rewritten files are still valid parquet with intact rows,
    // and fails loudly if any part lost its geo key.
    "q100_geoparquet_footer" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q100")
      val path = tmp.resolve("gpq").toString
      Exporters.geoparquet(slice(s, dir), path)
      val parts = graft.sinks.ParquetFooter.parquetParts(tmp.resolve("gpq").toString)
      require(parts.nonEmpty, "no parquet parts written")
      parts.foreach { p =>
        val geo = graft.sinks.ParquetFooter.readKeyValue(p)
        require(geo.get("geo").exists(_.contains("\"encoding\": \"WKB\"")),
          s"geo footer key missing in $p")
      }
      digest(Sources.ParquetSource.read(s, Map("url" -> path)))
    }),

    // LIVE JDBC round-trip: Spark JDBC writer -> embedded Derby (a real
    // SQL database on the classpath) -> the repo's JdbcSource reader,
    // exercising type mapping, BLOB geometry transport and the
    // `geometry`->`geom` normalization against an actual database
    // rather than a stubbed registry (`src/g_etl/plugins/mssql.py`'s
    // contract). In-memory Derby is JVM-local — fine under local[n];
    // a cluster deployment points the same options at a server URL.
    "q104_jdbc_roundtrip" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftq104;create=true"
      val driver = "org.apache.derby.jdbc.EmbeddedDriver"
      slice(s, dir)
        .select(col("src_fid"), col("name"), col("geom").as("geometry"))
        .write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "DOCS")
        .option("driver", driver).save()
      val back = Sources.JdbcSource.read(s, Map(
        "url" -> url, "dbtable" -> "DOCS", "driver" -> driver))
      digest(back)
    }),

    // Bucketed-layout loop: both sides written bucketBy(k) (ONE shuffle,
    // at write time), then joined and aggregated through the bucketed
    // read — the co-located path BucketedSpec plan-asserts as
    // zero-exchange — and value-checked against DuckDB replaying the
    // same join from the raw parquet.
    "q106_bucketed_join" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("k"), col("o_totalprice"))
      Bucketed.writeBucketed(cust, "q106_cust", "k", buckets = 8)
      Bucketed.writeBucketed(ord, "q106_ord", "k", buckets = 8)
      Bucketed.joinCoBucketed(s, "q106_cust", "q106_ord", "k")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
    }),

    // CSV export (Kepler hex_id convention) -> CSV source: rows survive
    // only if hex_id mirrors h3_cell, so a broken mirror fails the
    // row-count check, and fid/name hash-match against the oracle.
    "q97_csv_export_loop" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q97")
      val path = tmp.resolve("csv").toString
      val enriched = slice(s, dir).select(
        col("src_fid"), col("name"),
        g_h3_center(g_centroid_lat(col("geom")), g_centroid_lng(col("geom")),
          lit(8)).as("h3_cell"))
      Exporters.csv(enriched, path)
      s.read.option("header", "true").csv(path)
        .filter(col("hex_id") === col("h3_cell"))
        .select(col("src_fid").cast("long").as("fid"), col("name"))
        .orderBy("fid")
    })
  )

  /** Raw ISO WKB: CURVEPOLYGON with one full-circle CIRCULARSTRING
    * ring (two CCW half-arcs), little-endian. */
  private def curvePolygonWkb(cx: Double, cy: Double, r: Double): Array[Byte] = {
    val pts = Seq((cx + r, cy), (cx, cy + r), (cx - r, cy),
      (cx, cy - r), (cx + r, cy))
    val bb = java.nio.ByteBuffer.allocate(9 + 9 + 16 * pts.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(10).putInt(1) // CURVEPOLYGON, 1 ring
    bb.put(1.toByte).putInt(8).putInt(pts.length) // CIRCULARSTRING
    pts.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
    bb.array()
  }

  val oracle: Map[String, String] = Map(
    "q93_gpkg_roundtrip" -> digestOracle,
    "q98_gpkg_dist_read" -> digestOracle,
    // inscribed regular 32-gon: area/(pi r^2) = (16/pi)*sin(pi/16)
    // = 0.9935865... -> ROUND(x*1000) = 994 for every feature
    "q99_curve_gpkg_read" ->
      """SELECT CAST(c_custkey AS BIGINT) AS fid, CAST(994 AS BIGINT) AS area_ratio_k
        |FROM customer WHERE c_custkey BETWEEN 1 AND 50 ORDER BY fid""".stripMargin,
    "q94_fgb_roundtrip" -> digestOracle,
    "q95_zip_gpkg_stage004" ->
      """SELECT CASE WHEN c_custkey % 3 = 0 THEN 'POINT'
        |            WHEN c_custkey % 3 = 1 THEN 'POLYGON'
        |            ELSE 'LINESTRING' END AS gtype, COUNT(*) AS n
        |FROM customer WHERE c_custkey <= 300
        |GROUP BY 1 ORDER BY gtype""".stripMargin,
    "q96_geojson_roundtrip" -> digestOracle,
    "q100_geoparquet_footer" -> digestOracle,
    "q104_jdbc_roundtrip" -> digestOracle,
    "q106_bucketed_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q97_csv_export_loop" ->
      """SELECT c_custkey AS fid, c_name AS name
        |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin
  )
}
