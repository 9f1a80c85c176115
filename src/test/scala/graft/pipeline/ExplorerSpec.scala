package graft.pipeline

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.config.DatasetConfig
import graft.sources.Sources

/** Scripted explorer session over a real Runner-layout warehouse —
  * the capability subset of the reference's admin explorer screen
  * (table list / info / preview / braille map / polygon query /
  * export). */
class ExplorerSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private val fm = FieldMapping(Map(
    "source_id" -> "$source_id", "klass" -> "$klass_raw",
    "grupp" -> "fixture", "typ" -> "synthetic",
    "leverantor" -> "$lev_raw", "data_1" -> "$name"))

  /** Build a minimal on-disk warehouse: one dataset through the real
    * stage chain, written in Runner's layout. */
  private lazy val warehouse: String = {
    val dir = Files.createTempDirectory("wh").toString
    val staged = Stages.stage004(GeoFixture(spark, sfDir))
    val normalized = Stages.normalizeExtRestr(staged, fm, "geo_cust")
    val mart = Stages.martH3Cells(normalized, "geo_cust")
    staged.write.mode("overwrite").parquet(s"$dir/staging_004/geo_cust.parquet")
    mart.write.mode("overwrite").parquet(s"$dir/mart/geo_cust_h3.parquet")
    H3Index.stats(H3Index.build(spark,
      Map("geo_cust" -> spark.read.parquet(s"$dir/mart/geo_cust_h3.parquet"))))
      .write.mode("overwrite").parquet(s"$dir/mart/h3_stats.parquet")
    dir
  }

  private def run(commands: String*): String = runIn(spark, commands: _*)

  private def runIn(session: org.apache.spark.sql.SparkSession,
      commands: String*): String = {
    val baos = new ByteArrayOutputStream()
    val out = new PrintStream(baos, true, "UTF-8")
    Explorer.session(session, commands.iterator, out)
    baos.toString("UTF-8")
  }

  test("openWarehouse registers layered views + h3_index") {
    val views = Explorer.openWarehouse(spark, warehouse)
    assert(views.toSet == Set(
      "staging_004_geo_cust", "mart_geo_cust_h3", "h3_stats", "h3_index"))
    assert(spark.table("h3_index").columns.contains("h3_cell"))
  }

  test("scripted session: tables, info, head") {
    Explorer.openWarehouse(spark, warehouse)
    val txt = run("tables", "info mart_geo_cust_h3", "head mart_geo_cust_h3 3")
    // mart listed before staging, geometry flag shown
    val lines = txt.linesIterator.toSeq
    val martLine = lines.indexWhere(_.contains("mart_geo_cust_h3"))
    val stagingLine = lines.indexWhere(_.contains("staging_004_geo_cust"))
    assert(martLine >= 0 && stagingLine > martLine)
    assert(lines(martLine).contains("geo"))
    // info block
    assert(txt.contains("geometry: geom"))
    assert(txt.contains("- h3_cell (bigint)"))
    // head renders a table with WKT-preview geometry, not raw bytes
    assert(txt.contains("| id ") || txt.contains("| id"))
    assert(txt.contains("POINT") || txt.contains("POLYGON") ||
      txt.contains("LINESTRING"))
  }

  test("scripted session: braille map plots the fixture extent") {
    Explorer.openWarehouse(spark, warehouse)
    val txt = run("map mart_geo_cust_h3 40 10")
    assert(txt.contains("extent:"))
    val mapLines = txt.linesIterator.filter(
      _.exists(ch => ch >= 0x2800 && ch <= 0x28FF)).toSeq
    assert(mapLines.nonEmpty, "no braille output")
    // something was actually plotted (not all blank cells)
    assert(mapLines.exists(_.exists(ch => ch > 0x2800)))
  }

  test("scripted session: polygon query + export + error resilience") {
    Explorer.openWarehouse(spark, warehouse)
    val exportDir = Files.createTempDirectory("expl_exp").toString
    val txt = run(
      "nonsense command",
      "info no_such_table",
      s"query heatmap 8 ${GeoFixture.queryPolygonWkt}",
      s"export $exportDir",
      "quit",
      "tables # must never run - session ended")
    assert(txt.contains("unknown command: nonsense"))
    assert(txt.contains("error:")) // bad table didn't kill the session
    assert(txt.contains("object_count"))
    assert(txt.contains("export geo_cust"))
    assert(Files.list(java.nio.file.Paths.get(exportDir)).count() > 0)
    assert(!txt.contains("h3_index\n# must"))
  }

  test("the CLI export and the explorer export write the same files; " +
      "an export inside the warehouse gets no view") {
    // a session of its own: its temp views are only this warehouse's
    val iso = spark.newSession()
    val src = Files.createTempDirectory("expl_src").toString
    val wh = Files.createTempDirectory("expl_wh").toString
    GeoFixture(spark, sfDir).drop("wkt")
      .write.mode("overwrite").parquet(s"$src/geo_cust.parquet")
    val cfg = DatasetConfig(datasetId = "geo_cust", pipeline = "ext_restr",
      plugin = "geoparquet", url = s"$src/geo_cust.parquet",
      sourceIdColumn = "$source_id", klass = "$klass_raw",
      grupp = "fixture", typField = "synthetic", leverantor = "$lev_raw",
      dataMappings = Map("name" -> "$name"))
    val result = Runner.run(iso, Seq(cfg), Sources.defaultRegistry(), wh)
    assert(result.transformed("geo_cust").isSuccess)
    // what `pipeline --export` does: the CLI export into <wh>/export
    graft.Main.runExportOf(iso, wh, s"$wh/export")
    val views = Explorer.openWarehouse(iso, wh)
    assert(!views.exists(_.startsWith("export")), views)
    val viaExplorer = Files.createTempDirectory("expl_all").toString
    val txt = runIn(iso, s"export $viaExplorer")
    assert(!txt.contains("error:"), txt)
    def files(dir: String): Set[String] =
      Files.list(Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).toSet
    val cli = files(s"$wh/export")
    assert(files(viaExplorer) == cli)
    // every mart table: the union input, its compacted form and h3_stats
    Seq("geo_cust_h3", "geo_cust_h3_compact", "h3_stats")
      .foreach(t => assert(cli.contains(s"$t.parquet"), s"$t not exported: $cli"))
  }
}
