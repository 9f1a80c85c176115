package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.functions.GFunctions
import graft.functions.GFunctions._
import graft.pipeline.{Catalog, GeoFixture}
import graft.sinks.Exporters
import graft.sources.Sources

/** Driver checks for the remaining spec-only operator surfaces: the
  * bearer-authenticated REST source (against the live loopback server,
  * including the 401 path), geometry validation + area macros with
  * closed-form expectations, the SQL-registered g_* function surface
  * (spark.sql end to end), HTML map export row conservation, the smart
  * mart exporter dispatch matrix, and catalog introspection.
  */
object SurfaceQueries {

  private def slice(s: SparkSession, dir: String): DataFrame =
    GeoFixture(s, dir).filter(col("fid") <= 300)
      .select(col("fid").as("src_fid"), col("name"), col("geom"))

  private def digest(df: DataFrame): DataFrame =
    df.select(col("src_fid").cast("long").as("fid"),
      col("name"),
      md5(st_astext(col("geom")).cast("binary")).as("wkt_md5"))
      .orderBy("fid")

  private val digestOracle: String =
    s"""SELECT c_custkey AS fid, c_name AS name, md5(${GeoFixture.wktSql}) AS wkt_md5
       |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin

  /** Header-capable HTTP fetch; non-200 throws (so the 401 path is a
    * visible failure, not silent empty data). */
  private val httpFetchH: (String, Map[String, String]) => String =
    (u: String, hs: Map[String, String]) => {
      val conn = new java.net.URL(u).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      hs.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val code = conn.getResponseCode
      if (code != 200) {
        conn.disconnect()
        throw new java.io.IOException(s"HTTP $code for $u")
      }
      val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
      try src.mkString finally { src.close(); conn.disconnect() }
    }

  /** Spark-SQL replay of the fixture WKT (GeoFixture.wktSql is the
    * DuckDB dialect; this is the same arithmetic in Spark SQL). */
  private val wktSparkSql: String =
    """CASE
      |  WHEN c_custkey % 3 = 0 THEN 'POINT (' || CAST((c_custkey % 31) * 2000 + 560000 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440000 AS STRING) || ')'
      |  WHEN c_custkey % 3 = 1 THEN 'POLYGON ((' || CAST((c_custkey % 31) * 2000 + 560000 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440000 AS STRING) || ', ' || CAST((c_custkey % 31) * 2000 + 560800 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440000 AS STRING) || ', ' || CAST((c_custkey % 31) * 2000 + 560800 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440800 AS STRING) || ', ' || CAST((c_custkey % 31) * 2000 + 560000 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440800 AS STRING) || ', ' || CAST((c_custkey % 31) * 2000 + 560000 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440000 AS STRING) || '))'
      |  ELSE 'LINESTRING (' || CAST((c_custkey % 31) * 2000 + 560000 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440000 AS STRING) || ', ' || CAST((c_custkey % 31) * 2000 + 561500 AS STRING) || ' ' || CAST((c_custkey * 7) % 23 * 3000 + 6440900 AS STRING) || ')'
      |END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bearer-authenticated REST source against the live server: the
    // WRONG token must 401 (require'd), the right token returns the
    // full layer — hash-matched like every other ingest loop.
    "q127_lantmateriet_auth" -> ((s, dir) => {
      val url = LiveSourceQueries.serverBaseUrl(s, dir) + "/lm"
      val lm = new Sources.LantmaterietSource(httpFetchH)
      val unauthorized =
        try { lm.read(s, Map("url" -> url, "token" -> "wrong")); false }
        catch { case _: java.io.IOException => true }
      require(unauthorized, "endpoint accepted a bad bearer token")
      digest(lm.read(s, Map("url" -> url, "token" -> "graft-test-token")))
    }),

    // Geometry validation + area macros, closed form: fixture shapes
    // are valid as-is, the 800x800 polygon is exactly 64 ha, point/line
    // areas are 0; an UNCLOSED 400x400 ring built per row is invalid
    // as-is, and g_validate_geom's ring-closing repair must yield a
    // valid polygon of exactly 16 ha. (A zero-signed-area bowtie is
    // deliberately NOT the probe: that is the documented unfixable
    // class that validate maps to NULL and stage004 drops.)
    "q128_validate_area" -> ((s, dir) => {
      val x0 = (col("src_fid") % 31) * 2000 + 560000
      val y0 = ((col("src_fid") * 7) % 23) * 3000 + 6440000
      def ss(c: org.apache.spark.sql.Column) = c.cast("long").cast("string")
      val open = st_geomfromtext(concat(
        lit("POLYGON (("),
        ss(x0), lit(" "), ss(y0), lit(", "),
        ss(x0 + 400), lit(" "), ss(y0), lit(", "),
        ss(x0 + 400), lit(" "), ss(y0 + 400), lit(", "),
        ss(x0), lit(" "), ss(y0 + 400), lit("))")))
      slice(s, dir)
        .select(col("src_fid").cast("long").as("fid"),
          st_isvalid(col("geom")).as("raw_valid"),
          round(g_area_ha(col("geom")), 6).as("area_ha"),
          (!st_isvalid(open)).as("open_invalid"),
          st_isvalid(g_validate_geom(open)).as("fixed_valid"),
          round(g_area_ha(g_validate_geom(open)), 6).as("fixed_area_ha"))
        .orderBy("fid")
    }),

    // The SQL-registered function surface end to end: registerAll puts
    // the g_*/st_* names into the session FunctionRegistry and a plain
    // spark.sql text query uses them — text cleanup, null coercion,
    // date formatting, WKT parse + md5 — hash-matched against DuckDB
    // replaying each macro.
    "q129_sql_functions" -> ((s, dir) => {
      GFunctions.registerAll(s)
      s.read.parquet(s"$dir/customer.parquet")
        .createOrReplaceTempView("q129_cust")
      s.sql(
        s"""SELECT c_custkey AS fid,
           |  g_clean_text('  ' || c_name || '   x  ' || c_mktsegment) AS cleaned,
           |  g_empty_to_null('   ') AS empty_null,
           |  g_geom_md5(st_geomfromtext($wktSparkSql)) AS wkt_md5,
           |  g_format_date_iso(DATE'1995-02-03') AS iso
           |FROM q129_cust
           |WHERE c_custkey <= 500
           |ORDER BY fid""".stripMargin)
    }),

    // HTML map export row conservation: every input feature becomes
    // exactly one SVG circle and the header states the count — the
    // export can't silently drop rows.
    "q130_html_map" -> ((s, dir) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q130")
      val path = tmp.resolve("map.html")
      Exporters.htmlMap(slice(s, dir), path.toString)
      val html = Files.readString(path)
      val nCircles = "<circle ".r.findAllIn(html).length.toLong
      // conservation law: the header's stated feature count must equal
      // the number of circles actually drawn
      Seq((nCircles, html.contains(s"($nCircles features"), html.contains("<svg")))
        .toDF("n_circles", "has_count", "has_svg")
    }),

    // Smart mart exporter dispatch matrix: geometry table -> parquet +
    // geojsonl + gpkg + fgb; h3-only table -> parquet + csv; empty
    // table -> skipped. The geometry table's parquet is read back and
    // counted, so the dispatch result is also value-checked.
    "q131_smart_export" -> ((s, dir) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_q131").toString
      val geo = slice(s, dir)
      val cells = slice(s, dir).select(col("src_fid"),
        g_h3_center(g_centroid_lat(col("geom")), g_centroid_lng(col("geom")),
          lit(8)).as("h3_cell"))
      val empty = geo.filter(lit(false))
      val written = Exporters.exportMartTables(
        Map("geo_t" -> geo, "cells_t" -> cells, "empty_t" -> empty), tmp)
      val backCounts = Map(
        "geo_t" -> s.read.parquet(s"$tmp/geo_t.parquet").count(),
        "cells_t" -> s.read.parquet(s"$tmp/cells_t.parquet").count(),
        "empty_t" -> -1L)
      written.toSeq.map { case (t, fmts) =>
        (t, fmts.mkString("|"), backCounts(t))
      }.toDF("table_name", "formats", "n_back").orderBy("table_name")
    }),

    // CRS transform laws (the TM projection itself is not
    // SQL-replayable, but its mathematical contract is): the
    // WGS84<->SWEREF round-trip must return to the original centroid
    // within 5 mm (measured max over the fixture: 1.7 mm — the inverse
    // TM iteration's precision), and every fixture centroid must land
    // inside the Sweden window in WGS84.
    "q133_crs_roundtrip" -> ((s, dir) => {
      val rt = g_to_sweref(g_to_wgs84(col("geom")))
      val lat = g_centroid_lat(col("geom"))
      val lng = g_centroid_lng(col("geom"))
      slice(s, dir)
        .select(col("src_fid").cast("long").as("fid"),
          (abs(st_x(st_centroid(rt)) - st_x(st_centroid(col("geom")))) < 5e-3 &&
            abs(st_y(st_centroid(rt)) - st_y(st_centroid(col("geom")))) < 5e-3)
            .as("roundtrip_ok"),
          lat.between(57.0, 60.0).as("lat_in_window"),
          lng.between(15.0, 18.0).as("lng_in_window"))
        .orderBy("fid")
    }),

    // Point/line cell laws: the point-cells entry point must agree with
    // the g_h3_center entry point on the same centroid (two independent
    // code paths); line corridors are non-empty with every cell at the
    // requested resolution; polygon polyfills likewise.
    "q134_cell_entrypoints" -> ((s, dir) => {
      val pc = g_h3_point_cells(col("geom"), lit(8))
      val center = g_h3_center(g_centroid_lat(col("geom")),
        g_centroid_lng(col("geom")), lit(8))
      val cells = when(st_geometrytype(col("geom")) === "LINESTRING",
        g_h3_line_cells(col("geom"), lit(100.0), lit(10)))
        .when(st_geometrytype(col("geom")) === "POLYGON",
          g_h3_polygon_cells(col("geom"), lit(9)))
        .otherwise(g_h3_point_cells(col("geom"), lit(9)))
      slice(s, dir)
        .select(col("src_fid").cast("long").as("fid"),
          (size(pc) === 1 && element_at(pc, 1) === center).as("point_cell_ok"),
          (size(cells) > 0).as("cells_nonempty"),
          (size(filter(cells,
            c => h3_resolution(c) === when(
              st_geometrytype(col("geom")) === "LINESTRING", 10).otherwise(9)))
            === size(cells)).as("cells_res_ok"),
          // the centroid's own cell, materialized as a boundary polygon
          // (g_h3_cell_to_geom), must contain the centroid it was
          // derived from — cell-to-geometry and point-to-cell are
          // mutually consistent
          st_intersects(g_h3_cell_to_geom(center), st_centroid(col("geom")))
            .as("cell_contains_centroid"))
        .orderBy("fid")
    }),

    // Streaming parity: the SAME raw features ingested as a 3-micro-
    // batch file stream through incrementalMart (foreachBatch running
    // the batch stage transforms, AvailableNow trigger) must produce
    // EXACTLY the batch mart's (id, h3_cell) set — require'd — and the
    // streamed mart's per-klass distinct objects equal the closed-form
    // customer counts, which DuckDB checks directly.
    "q136_streaming_mart" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q136")
      val src = tmp.resolve("src").toString
      val mart = tmp.resolve("mart").toString
      val ckpt = tmp.resolve("ckpt").toString
      val raw = GeoFixture(s, dir).filter(col("fid") <= 150)
      // three files -> three micro-batches under maxFilesPerTrigger=1
      for (r <- 0 to 2)
        raw.filter(col("fid") % 3 === r).coalesce(1)
          .write.mode("append").parquet(src)
      val fm = graft.pipeline.FieldMapping(Map(
        "source_id" -> "$source_id", "klass" -> "$klass_raw",
        "grupp" -> "fixture", "typ" -> "synthetic",
        "leverantor" -> "$lev_raw", "data_1" -> "$name"))
      val stream = s.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val query = graft.streaming.StreamingOps.incrementalMart(
        stream, fm, "sdemo", mart, ckpt)
      query.awaitTermination()
      val streamed = s.read.parquet(mart)
      val batch = graft.pipeline.Stages.martH3Cells(
        graft.pipeline.Stages.normalizeExtRestr(
          graft.pipeline.Stages.stage004(raw), fm, "sdemo"), "sdemo")
      val sSet = streamed.select("id", "h3_cell").collect().map(_.toSeq).toSet
      val bSet = batch.select("id", "h3_cell").collect().map(_.toSeq).toSet
      require(sSet == bSet,
        s"streamed mart diverged from batch: ${sSet.size} vs ${bSet.size} pairs")
      streamed.groupBy("klass")
        .agg(countDistinct(col("id")).as("n_objects"))
        .orderBy("klass")
    }),

    // Streaming ingest dedup (StreamingOps.streamingDedup /
    // dropDuplicatesWithinWatermark): documents stream in over three
    // micro-batches with every text duplicated ~5x across batches; the
    // gate must admit each content fingerprint EXACTLY once with
    // bounded state. WHICH duplicate wins is processing-order
    // dependent, so the query require's once-per-fingerprint and
    // streaming-set == batch-set, then returns the admitted
    // FINGERPRINT SET — deterministic, and hash-matched against
    // DuckDB's distinct-md5 replay of the same synthetic corpus.
    "q167_streaming_dedup" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_q167")
      val src = tmp.resolve("src").toString
      // duplicates of one text cluster within seconds (the re-crawl
      // storm the op is for) — spreading them past the watermark
      // horizon would make re-admission CORRECT eviction behavior
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("crawl body "), (col("doc_id") % 97).cast("string"))
            .as("text"),
          timestamp_seconds(lit(1700000000L) + (col("doc_id") % 97) * 60
            + (col("doc_id") / 97).cast("long") * 5).as("ingest_ts"))
      for (r <- 0 to 2)
        base.filter(col("doc_id") % 3 === r).coalesce(1)
          .write.mode("append").parquet(src)
      val stream = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = graft.streaming.StreamingOps
        .streamingDedup(stream, "ingest_ts", "text")
        .writeStream.outputMode("append")
        .format("memory").queryName("q167out").start()
      try q.processAllAvailable() finally q.stop()
      val admitted = s.table("q167out")
      val n = admitted.count()
      val fps = admitted.select("fingerprint").distinct()
      require(n == fps.count(),
        s"streaming dedup admitted a fingerprint twice: $n rows vs distinct")
      val batchFps = base.select(md5(col("text")).as("fingerprint")).distinct()
      require(Pins.multiset(fps, batchFps).diff.total == 0L,
        "streaming dedup's admitted set diverged from the batch dedup set")
      fps.orderBy("fingerprint")
    }),

    // The reference's h3_query_table macro (SQL-facing polygon query
    // over a named table) replayed through the REGISTERED SQL surface:
    // explode(g_h3_query_cells(wkt)) joined to the index view must
    // return exactly the programmatic H3Query.objects rows — collected
    // concurrently, diffed on the driver, pinned at zero rows.
    "q135_query_table_macro" -> ((s, dir) => {
      GFunctions.registerAll(s)
      val idx = GeoQueries.sharedIndex(s, dir)
      idx.createOrReplaceTempView("q135_index")
      val wkt = GeoFixture.queryPolygonWkt
      val viaSql = s.sql(
        s"""WITH q AS (SELECT explode(g_h3_query_cells('$wkt', 8)) AS q_cell)
           |SELECT DISTINCT id, dataset_id, leverantor, klass
           |FROM q135_index i
           |JOIN q ON i.h3_parent_8 = CAST(conv(q.q_cell, 16, 10) AS BIGINT)
           |ORDER BY dataset_id, id""".stripMargin)
      val viaApi = graft.pipeline.H3Query.objects(s, idx, wkt, res = 8)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fSql = Future(viaSql.collect())
      val fApi = Future(viaApi.collect())
      val sqlRows = Await.result(fSql, Duration.Inf).map(_.toSeq).toSet
      val apiRows = Await.result(fApi, Duration.Inf).map(_.toSeq).toSet
      val diff = (sqlRows -- apiRows) ++ (apiRows -- sqlRows)
      s.createDataFrame(
        java.util.Arrays.asList(diff.toSeq.map(
          x => org.apache.spark.sql.Row.fromSeq(x)): _*),
        viaApi.schema)
    }),

    // Catalog introspection over the layered-schema convention: three
    // prefixed temp views land in the right layers with the right
    // column/geometry/h3 metadata, in the explorer's layer-priority
    // order (mart, staging, raw).
    "q132_catalog" -> ((s, dir) => {
      import s.implicits._
      val base = slice(s, dir)
      base.select(col("src_fid"),
        g_h3_center(g_centroid_lat(col("geom")), g_centroid_lng(col("geom")),
          lit(8)).as("h3_cell"))
        .createOrReplaceTempView("mart_q132cat_h3")
      base.select("src_fid", "name").createOrReplaceTempView("staging_q132cat")
      base.createOrReplaceTempView("raw_q132cat")
      val infos = Catalog.listTables(s).filter(_.name.contains("q132cat"))
      infos.zipWithIndex.map { case (t, i) =>
        (t.name, t.schemaLayer, i.toLong, t.columns.length.toLong,
          t.geometryColumns.mkString("|"), t.hasH3Cell)
      }.toDF("table_name", "layer", "priority_rank", "n_cols", "geom_cols",
        "has_h3").orderBy("table_name")
    })
  )

  val oracle: Map[String, String] = Map(
    // The admitted fingerprint set == distinct md5 of the synthetic
    // corpus (which duplicate carried it is processing-order detail,
    // require'd in-query).
    "q167_streaming_dedup" ->
      """SELECT DISTINCT md5('crawl body ' || (doc_id % 97)) AS fingerprint
        |FROM documents ORDER BY fingerprint""".stripMargin,
    "q127_lantmateriet_auth" -> digestOracle,
    "q128_validate_area" ->
      """SELECT c_custkey AS fid, true AS raw_valid,
        |  CAST(CASE WHEN c_custkey % 3 = 1 THEN 64.0 ELSE 0.0 END AS DOUBLE) AS area_ha,
        |  true AS open_invalid, true AS fixed_valid,
        |  CAST(16.0 AS DOUBLE) AS fixed_area_ha
        |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin,
    "q129_sql_functions" ->
      s"""SELECT c_custkey AS fid,
         |  trim(regexp_replace('  ' || c_name || '   x  ' || c_mktsegment, '\\s+', ' ', 'g')) AS cleaned,
         |  CAST(NULL AS VARCHAR) AS empty_null,
         |  md5(${GeoFixture.wktSql}) AS wkt_md5,
         |  '1995-02-03' AS iso
         |FROM customer WHERE c_custkey <= 500 ORDER BY fid""".stripMargin,
    "q133_crs_roundtrip" ->
      """SELECT c_custkey AS fid, true AS roundtrip_ok,
        |  true AS lat_in_window, true AS lng_in_window
        |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin,
    "q134_cell_entrypoints" ->
      """SELECT c_custkey AS fid, true AS point_cell_ok,
        |  true AS cells_nonempty, true AS cells_res_ok,
        |  true AS cell_contains_centroid
        |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin,
    "q136_streaming_mart" ->
      """SELECT c_mktsegment AS klass, COUNT(*) AS n_objects
        |FROM customer WHERE c_custkey <= 150
        |GROUP BY 1 ORDER BY klass""".stripMargin,
    "q135_query_table_macro" ->
      """SELECT CAST(NULL AS VARCHAR) AS id, CAST(NULL AS VARCHAR) AS dataset_id,
        |  CAST(NULL AS VARCHAR) AS leverantor, CAST(NULL AS VARCHAR) AS klass
        |WHERE 1=0""".stripMargin,
    "q130_html_map" ->
      """SELECT (SELECT count(*) FROM customer WHERE c_custkey <= 300) AS n_circles,
        |  true AS has_count, true AS has_svg""".stripMargin,
    // cells_t synthesizes geometry FROM h3_cell (the dispatch's whole
    // point), so it gets the geo formats AND the h3 csv
    "q131_smart_export" ->
      """WITH n AS (SELECT count(*) AS c FROM customer WHERE c_custkey <= 300)
        |SELECT 'cells_t' AS table_name, 'parquet|geojsonl|gpkg|fgb|csv' AS formats, c AS n_back FROM n
        |UNION ALL SELECT 'empty_t', 'skipped:empty', CAST(-1 AS BIGINT)
        |UNION ALL SELECT 'geo_t', 'parquet|geojsonl|gpkg|fgb', c FROM n
        |ORDER BY table_name""".stripMargin,
    "q132_catalog" ->
      """SELECT 'mart_q132cat_h3' AS table_name, 'mart' AS layer,
        |  CAST(0 AS BIGINT) AS priority_rank, CAST(2 AS BIGINT) AS n_cols,
        |  '' AS geom_cols, true AS has_h3
        |UNION ALL SELECT 'raw_q132cat', 'raw', 2, 3, 'geom', false
        |UNION ALL SELECT 'staging_q132cat', 'staging', 1, 2, '', false
        |ORDER BY table_name""".stripMargin
  )
}
