package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.config.DatasetConfig
import graft.functions.GFunctions._
import graft.pipeline.{GeoFixture, Ledger, Runner}
import graft.sinks.Exporters
import graft.sources.Sources

/** LIVE end-to-end loops for the service-layer surface that was
  * previously scalatest-only: the WFS readers against a REAL in-process
  * HTTP server (pagination and the distributed page fan-out exercise
  * actual sockets, not a stubbed fetch), the zipped-shapefile ingest
  * against a from-scratch .shp/.dbf/.zip fixture, the full Runner
  * pipeline (registry dispatch -> ledger -> ZSTD parquet stages ->
  * layered temp views) queried back through its OWN catalog views, and
  * the migration ledger's checksum laws. Same digest convention as
  * SourceSinkQueries: md5 of the WKT rendering, replayable by DuckDB
  * string arithmetic (q104's live-Derby loop is the precedent).
  */
object LiveSourceQueries {

  private def slice(s: SparkSession, dir: String): DataFrame =
    GeoFixture(s, dir).filter(col("fid") <= 300)
      .select(col("fid").as("src_fid"), col("name"), col("geom"))

  // q125 builds the Runner warehouse (one full pipeline pass) and
  // stores the handle; q219 reads it for the re-run + layout laws
  // (battery order runs q125 first; a q219-only run rebuilds).
  private final case class RunnerBuild(cfg: DatasetConfig,
      registry: Map[String, graft.sources.SourceConnector],
      src: String, ledgerPath: String, out: String, r1: Runner.RunResult)
  private val runnerMemo =
    scala.collection.concurrent.TrieMap[String, RunnerBuild]()
  private def runnerE2EBuild(s: SparkSession, dir: String): RunnerBuild = {
    val tmp = Files.createTempDirectory("graft_q125")
    val src = tmp.resolve("src.parquet").toString
    GeoFixture(s, dir).filter(col("fid") <= 150)
      .write.mode("overwrite").parquet(src)
    val cfg = DatasetConfig(
      datasetId = "demo", pipeline = "ext_restr", plugin = "parquet",
      url = src, sourceIdColumn = "$source_id", klass = "$klass_raw",
      grupp = "fixture", typField = "synthetic", leverantor = "$lev_raw",
      dataMappings = Map("name" -> "$name"))
    val registry = Map[String, graft.sources.SourceConnector](
      "parquet" -> Sources.ParquetSource)
    val ledgerPath = tmp.resolve("ledger").toString
    val out = tmp.resolve("wh").toString
    val r1 = Runner.run(s, Seq(cfg), registry, out,
      ledger = Some(Ledger.at(ledgerPath)))
    val b = RunnerBuild(cfg, registry, src, ledgerPath, out, r1)
    runnerMemo.put(dir, b)
    b
  }

  private def digest(df: DataFrame): DataFrame =
    df.select(col("src_fid").cast("long").as("fid"),
      col("name"),
      md5(st_astext(col("geom")).cast("binary")).as("wkt_md5"))
      .orderBy("fid")

  private val digestOracle: String =
    s"""SELECT c_custkey AS fid, c_name AS name, md5(${GeoFixture.wktSql}) AS wkt_md5
       |FROM customer WHERE c_custkey <= 300 ORDER BY fid""".stripMargin

  /** One JVM-wide WFS test server per scale dir: GeoJSON feature lines
    * (rendered by the repo's own exporter) served as FeatureCollection
    * pages honoring `startIndex`/`count`, plus the WFS 2.0
    * `resultType=hits` probe. Port 0 = ephemeral; the server lives for
    * the JVM (battery + Verify both reuse it), bound to loopback only.
    * Worker threads are DAEMON and the mains call [[stopServers]] so a
    * lingering acceptor thread can never hold the JVM open. */
  private val servers = new java.util.concurrent.ConcurrentHashMap[
    String, (String, com.sun.net.httpserver.HttpServer)]()

  /** Stop every test server (called by Bench/Verify before exit). */
  def stopServers(): Unit = {
    val it = servers.values().iterator()
    while (it.hasNext) {
      try it.next()._2.stop(0) catch { case _: Throwable => () }
    }
    servers.clear()
  }

  private[queries] def serverBaseUrl(s: SparkSession, dir: String): String =
    servers.computeIfAbsent(dir, _ => {
      val tmp = Files.createTempDirectory("graft_wfs")
      Exporters.geojsonSeq(slice(s, dir), tmp.resolve("features").toString)
      val fidOf = "\"src_fid\":(\\d+)".r
      val features = s.read.text(tmp.resolve("features").toString)
        .collect().map(_.getString(0))
        .sortBy(l => fidOf.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L))
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/wfs", new com.sun.net.httpserver.HttpHandler {
        def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("="))
            .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
          val body =
            if (params.get("resultType").contains("hits"))
              s"""{"type":"FeatureCollection","numberMatched":${features.length},"features":[]}"""
            else {
              val start = params.get("startIndex").map(_.toInt).getOrElse(0)
              val n = params.get("count").map(_.toInt).getOrElse(features.length)
              features.slice(start, start + n)
                .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
            }
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      // Arrow IPC wire endpoint: the SAME layer served as real Arrow
      // stream-format bytes (typed columns: fid Int64, name Utf8, geom
      // WKB Binary), paged by startIndex/count; resultType=hits stays
      // JSON (WFS capability negotiation is orthogonal to the payload
      // format). Rows are re-encoded per request from a typed cache.
      val typedRows: IndexedSeq[org.apache.spark.sql.Row] =
        graft.spatial.GeoJson.parseFeatureCollection(features
            .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
          .toIndexedSeq
          .map { case (props, geom) =>
            org.apache.spark.sql.Row(
              props("src_fid").toLong,
              props.get("name").orNull,
              geom.map(graft.spatial.Geometry.toWkb).orNull)
          }
      val arrowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src_fid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("geom",
          org.apache.spark.sql.types.BinaryType)))
      server.createContext("/wfs-arrow", new com.sun.net.httpserver.HttpHandler {
        def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("="))
            .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
          val (ctype, bytes) =
            if (params.get("resultType").contains("hits"))
              ("application/json",
                s"""{"type":"FeatureCollection","numberMatched":${typedRows.length},"features":[]}"""
                  .getBytes("UTF-8"))
            else {
              val start = params.get("startIndex").map(_.toInt).getOrElse(0)
              val n = params.get("count").map(_.toInt).getOrElse(typedRows.length)
              ("application/vnd.apache.arrow.stream",
                graft.sources.ArrowWire.write(arrowSchema,
                  typedRows.slice(start, start + n), batchRows = 32))
            }
          ex.getResponseHeaders.add("Content-Type", ctype)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      // bearer-token endpoint for the Lantmateriet-style source: the
      // full collection, but ONLY with the right Authorization header
      server.createContext("/lm", new com.sun.net.httpserver.HttpHandler {
        def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
          val (code, body) =
            if (!auth.contains("Bearer graft-test-token"))
              (401, """{"error":"unauthorized"}""")
            else (200, features
              .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      // a small DAEMON pool: the distributed reader fetches pages from
      // many executor threads concurrently, and non-daemon workers
      // would pin the JVM open after main() returns
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t }))
      // start from a short-lived daemon thread: the JDK server's
      // internal dispatcher inherits daemon status from its creator, so
      // even a main that dies before stopServers() can't hang the JVM
      val starter = new Thread(() => server.start())
      starter.setDaemon(true)
      starter.start()
      starter.join()
      (s"http://127.0.0.1:${server.getAddress.getPort}", server)
    })._1

  private val httpFetch: String => String =
    (u: String) => {
      val src = scala.io.Source.fromURL(u, "UTF-8")
      try src.mkString finally src.close()
    }

  /** Raw-bytes fetch for the Arrow wire (Arrow IPC is binary; a
    * string round-trip would corrupt it). Serializable so the
    * distributed page fan-out can call it from executor tasks. */
  private val httpFetchBytes: String => Array[Byte] =
    (u: String) => {
      val in = new java.net.URI(u).toURL.openStream()
      try in.readAllBytes() finally in.close()
    }

  // ------------------------------------------------------ shp fixture

  /** Minimal valid point shapefile (.shp per the ESRI whitepaper: BE
    * file header fields + LE records) + dBase III .dbf (src_fid N,
    * name C) — fixture tooling for the zip-shapefile ingest loop, NOT
    * a shipped writer (the reference only reads shapefiles too). */
  private def shpBytes(pts: Seq[(Long, String, Double, Double)]): (Array[Byte], Array[Byte]) = {
    val n = pts.length
    val shp = java.nio.ByteBuffer.allocate(100 + n * (8 + 20))
    shp.order(java.nio.ByteOrder.BIG_ENDIAN)
    shp.putInt(9994); shp.position(24)
    shp.putInt((100 + n * 28) / 2) // file length in 16-bit words
    shp.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    shp.putInt(1000).putInt(1) // version, shape type POINT
    val xs = pts.map(_._3); val ys = pts.map(_._4)
    shp.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
    shp.putDouble(0).putDouble(0).putDouble(0).putDouble(0)
    pts.zipWithIndex.foreach { case ((_, _, x, y), i) =>
      shp.order(java.nio.ByteOrder.BIG_ENDIAN)
      shp.putInt(i + 1).putInt(10) // record #, content words (4+16)/2
      shp.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      shp.putInt(1).putDouble(x).putDouble(y)
    }
    // dBase III: 32B header + 2 field descriptors + 0x0D, then records
    val fidLen = 18; val nameLen = 25
    val recSize = 1 + fidLen + nameLen
    val headerSize = 32 + 2 * 32 + 1
    val dbf = java.nio.ByteBuffer.allocate(headerSize + n * recSize + 1)
    dbf.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dbf.put(0x03.toByte).put(126.toByte).put(1.toByte).put(1.toByte)
    dbf.putInt(n).putShort(headerSize.toShort).putShort(recSize.toShort)
    dbf.position(32)
    def field(name: String, t: Char, len: Int): Unit = {
      val start = dbf.position()
      dbf.put(name.getBytes("US-ASCII"))
      dbf.position(start + 11)
      dbf.put(t.toByte)
      dbf.position(start + 16)
      dbf.put(len.toByte).put(0.toByte)
      dbf.position(start + 32)
    }
    field("SRC_FID", 'N', fidLen)
    field("NAME", 'C', nameLen)
    dbf.put(0x0D.toByte)
    pts.foreach { case (fid, name, _, _) =>
      dbf.put(' '.toByte) // not-deleted flag
      dbf.put(("%" + fidLen + "d").format(fid).getBytes("US-ASCII"))
      dbf.put(name.padTo(nameLen, ' ').take(nameLen).getBytes("ISO-8859-1"))
    }
    dbf.put(0x1A.toByte)
    (shp.array(), dbf.array())
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // WFS sequential reader with REAL pagination: the repo's server
    // fixture pages the 300-feature layer at count=50; the reader walks
    // startIndex pages until the empty page — a dropped or duplicated
    // page breaks the row count and hash.
    "q122_wfs_pagination" -> ((s, dir) => {
      val url = serverBaseUrl(s, dir) + "/wfs"
      val wfs = Sources.wfs(httpFetch)
      digest(wfs.read(s, Map("url" -> url, "count" -> "50")))
    }),

    // WFS auto-dispatch (the reference's wfs_geopandas lever): count
    // given + endpoint reports numberMatched via resultType=hits ->
    // pages fan OUT ACROSS TASKS, each task fetching its own page over
    // a real socket; same digest, so both paths must agree exactly.
    "q123_wfs_dist_fanout" -> ((s, dir) => {
      val url = serverBaseUrl(s, dir) + "/wfs"
      val wfs = Sources.wfsGeopandas(httpFetch)
      digest(wfs.read(s, Map("url" -> url, "count" -> "40")))
    }),

    // Zipped-shapefile ingest loop: from-scratch .shp/.dbf fixture
    // (ESRI/dBase byte layouts) -> zip -> archive reader (in-memory
    // unzip inside the scan task) -> Shapefile parser -> digest. POINT
    // subset of the fixture, so the oracle replays membership and
    // geometry exactly.
    "q124_shapefile_roundtrip" -> ((s, dir) => {
      val pts = slice(s, dir)
        .filter(col("src_fid") % 3 === 0)
        .select(col("src_fid"), col("name"),
          st_x(st_centroid(col("geom"))).as("x"),
          st_y(st_centroid(col("geom"))).as("y"))
        .orderBy("src_fid")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      val (shp, dbf) = shpBytes(pts.toSeq)
      val tmp = Files.createTempDirectory("graft_q124")
      val zipPath = tmp.resolve("layer.zip")
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(zipPath.toFile))
      zos.putNextEntry(new java.util.zip.ZipEntry("layer.shp")); zos.write(shp)
      zos.closeEntry()
      zos.putNextEntry(new java.util.zip.ZipEntry("layer.dbf")); zos.write(dbf)
      zos.closeEntry(); zos.close()
      val back = Sources.ZipShapefileSource.read(s, Map(
        "url" -> zipPath.toUri.toString,
        "cache_dir" -> Files.createTempDirectory("graft_q124c").toString))
      digest(back.select(col("SRC_FID").as("src_fid"), col("NAME").as("name"),
        col("geom")))
    }),

    // FULL Runner E2E, queried back through the runner's OWN layered
    // catalog views: registry dispatch by plugin name -> extract (ZSTD
    // parquet) -> stage004 -> normalize -> mart -> per-layer temp views
    // -> h3_index/h3_stats, then the staging_004 view read back through
    // the session catalog by NAME. SPLIT in r14 (VERDICT #6): the
    // ledgered RE-RUN short-circuit and the clustered-layout
    // assertions moved to q219, which reads this build through the
    // runnerMemo — q125's battery slot is the one-pass pipeline again
    // (it had silently grown toward the #1 slot: ~40% of its r13 wall
    // was the second Runner.run + the input_file_name range collect).
    // q125 RECOMPUTES the build per execution (honest bench timing,
    // the q189 discipline) and re-stores the memo.
    "q125_runner_e2e" -> ((s, dir) => {
      val b = runnerE2EBuild(s, dir)
      require(Ledger.at(b.ledgerPath).isApplied("extract:demo",
        s"parquet|${b.src}"), "ledger did not record the extract")
      // the layered-schema view, resolved by NAME from the catalog
      s.table("staging_004_demo")
        .select(col("fid").cast("long").as("fid"), col("_geom_md5"),
          st_geometrytype(col("geom")).as("gtype"))
        .orderBy("fid")
    }),

    // The Runner gate's LAW half (split from q125): re-run with the
    // same migration ledger takes the isApplied short-circuit and
    // returns identical results, and the mart _h3 table ships the
    // probe-optimal clustered layout (r10 Next #1) — materialized
    // query-res ancestor present through the h3_index view, file-level
    // key ranges non-overlapping (repartitionByRange) so probe range
    // predicates skip files and row groups instead of scanning the
    // index. Every law is require'd, then emitted as a static-truth
    // row (the q126 oracle convention).
    "q219_runner_rerun_layout" -> ((s, dir) => {
      val b = runnerMemo.getOrElse(dir, runnerE2EBuild(s, dir))
      val r2 = Runner.run(s, Seq(b.cfg), b.registry, b.out,
        ledger = Some(Ledger.at(b.ledgerPath)))
      require(b.r1.extracted("demo").get == r2.extracted("demo").get &&
        b.r1.indexRows == r2.indexRows,
        s"ledgered re-run diverged: ${b.r1} vs $r2")
      val martBack = s.read.parquet(s"${b.out}/mart/demo_h3.parquet")
      require(martBack.columns.contains("h3_parent_8"),
        "runner mart lacks the materialized query-res ancestor")
      require(s.table("h3_index").columns.contains("h3_parent_8"),
        "h3_index view dropped the clustered layout's ancestor column")
      val ranges = martBack
        .groupBy(input_file_name().as("__f"))
        .agg(min("h3_parent_8").as("lo"), max("h3_parent_8").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      ranges.toSeq.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          require(lo2 >= hi1, s"mart files not range-clustered: " +
            s"file range [$lo2,...] overlaps previous ending $hi1")
        case _ => ()
      }
      import s.implicits._
      Seq(("files_range_clustered", true),
        ("mart_has_query_ancestor", true),
        ("rerun_short_circuit_identical", true),
        ("view_keeps_ancestor", true))
        .toDF("law", "holds").orderBy("law")
    }),

    // Arrow IPC wire, distributed page fan-out: the layer served as
    // REAL Arrow stream-format bytes (typed Int64/Utf8/Binary columns,
    // 32-row record batches so every page is multi-batch). The endpoint
    // reports numberMatched, so pages fan out across tasks, each task
    // decoding its own stream with the Arrow Java reader. Same digest
    // as the GeoJSON paths — the wire format must be invisible.
    "q148_wfs_arrow_wire" -> ((s, dir) => {
      val url = serverBaseUrl(s, dir) + "/wfs-arrow"
      val wfs = Sources.wfsArrow(httpFetchBytes)
      digest(wfs.read(s, Map("url" -> url, "count" -> "60")))
    }),

    // Arrow wire, sequential page walk: a fetch wrapper fails the hits
    // probe (endpoints without resultType=hits are common), forcing
    // the walk-until-empty-page branch. Must agree with q148 exactly.
    "q149_wfs_arrow_seq" -> ((s, dir) => {
      val url = serverBaseUrl(s, dir) + "/wfs-arrow"
      val noHits: String => Array[Byte] = u =>
        if (u.contains("resultType=hits")) throw new java.io.IOException("no hits endpoint")
        else httpFetchBytes(u)
      val wfs = Sources.wfsArrow(noHits)
      digest(wfs.read(s, Map("url" -> url, "count" -> "45")))
    }),

    // Migration-ledger checksum laws: fresh version not applied ->
    // applied after record; SAME content stays applied and not stale;
    // CHANGED content flips to stale (md5 mismatch); rollback forgets.
    "q126_ledger_laws" -> ((s, dir) => {
      import s.implicits._
      val _ = dir
      val ledger = Ledger.at(
        Files.createTempDirectory("graft_q126").resolve("ledger").toString)
      val v1 = "001_create"; val c1 = "CREATE TABLE t AS SELECT 1"
      val rows = Seq(
        ("before_record", ledger.isApplied(v1, c1), ledger.isStale(v1, c1)),
        { ledger.record(v1, c1); ("after_record", ledger.isApplied(v1, c1), ledger.isStale(v1, c1)) },
        ("after_change", ledger.isApplied(v1, c1 + " -- edited"), ledger.isStale(v1, c1 + " -- edited")),
        { ledger.record("002_index", "CREATE INDEX i ON t(a)"); ("two_applied", ledger.appliedVersions == Set(v1, "002_index"), false) },
        { ledger.rollback(v1); ("after_rollback", ledger.isApplied(v1, c1), ledger.isStale(v1, c1)) })
      rows.toDF("step", "applied", "stale").orderBy("step")
    })
  )

  val oracle: Map[String, String] = Map(
    "q122_wfs_pagination" -> digestOracle,
    "q123_wfs_dist_fanout" -> digestOracle,
    "q148_wfs_arrow_wire" -> digestOracle,
    "q149_wfs_arrow_seq" -> digestOracle,
    "q124_shapefile_roundtrip" ->
      s"""SELECT c_custkey AS fid, c_name AS name, md5(${GeoFixture.wktSql}) AS wkt_md5
         |FROM customer WHERE c_custkey <= 300 AND c_custkey % 3 = 0
         |ORDER BY fid""".stripMargin,
    // staging_004's _geom_md5 is md5 of the WKT (format pinned by q60);
    // geometry-type census replays the %3 split
    "q125_runner_e2e" ->
      s"""SELECT c_custkey AS fid, md5(${GeoFixture.wktSql}) AS _geom_md5,
         |  CASE WHEN c_custkey % 3 = 0 THEN 'POINT'
         |       WHEN c_custkey % 3 = 1 THEN 'POLYGON'
         |       ELSE 'LINESTRING' END AS gtype
         |FROM customer WHERE c_custkey <= 150 ORDER BY fid""".stripMargin,
    // static truth: every law is require'd in-query before emission
    // (the q126 convention — the oracle pins the emitted shape, the
    // requires pin the laws)
    "q219_runner_rerun_layout" ->
      """SELECT 'files_range_clustered' AS law, true AS holds
        |UNION ALL SELECT 'mart_has_query_ancestor', true
        |UNION ALL SELECT 'rerun_short_circuit_identical', true
        |UNION ALL SELECT 'view_keeps_ancestor', true
        |ORDER BY law""".stripMargin,
    // applied = version recorded AND checksum matches; a content change
    // therefore flips applied->false and stale->true simultaneously
    "q126_ledger_laws" ->
      """SELECT 'after_change' AS step, false AS applied, true AS stale
        |UNION ALL SELECT 'after_record', true, false
        |UNION ALL SELECT 'after_rollback', false, false
        |UNION ALL SELECT 'before_record', false, false
        |UNION ALL SELECT 'two_applied', true, false
        |ORDER BY step""".stripMargin
  )
}
