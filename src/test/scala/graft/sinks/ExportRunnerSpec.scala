package graft.sinks

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.config.ConfigLoader
import graft.pipeline.{GeoFixture, Ledger, Runner, Stages, FieldMapping}
import graft.sources.Sources
import graft.spatial.{Geometry, GeoJson}

class ExportRunnerSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val fm = FieldMapping(Map(
    "source_id" -> "$source_id", "klass" -> "$klass_raw",
    "grupp" -> "fixture", "typ" -> "synthetic", "leverantor" -> "$lev_raw"))

  private lazy val mart = {
    val staged = Stages.stage004(GeoFixture(spark, sfDir))
    Stages.martH3Cells(
      Stages.normalizeExtRestr(staged, fm, "geo_cust"), "geo_cust")
  }

  test("heatmap geojson: cell polygons render without decoding ids") {
    import graft.pipeline.H3Index
    val out = Files.createTempDirectory("hm").toString + "/heatmap.geojsonl"
    val idx = H3Index.build(spark, Map("geo_cust" -> mart))
    val heat = H3Index.stats(idx).limit(20)
    Exporters.heatmapGeojson(heat
      .select("h3_cell", "object_count", "dataset_count"), out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.nonEmpty)
    lines.foreach { l =>
      val feats = GeoJson.parseFeatureCollection(
        s"""{"type":"FeatureCollection","features":[$l]}""")
      val (props, geom) = feats.head
      val g = geom.get
      assert(g.typeName == "POLYGON")
      val ring = g.asInstanceOf[graft.spatial.Poly].rings.head
      assert(ring.length == 7 && ring.head == ring.last, "closed hexagon")
      // WGS84 lng/lat in the fixture's Sweden box
      assert(ring.forall(p => p.x > 11 && p.x < 22 && p.y > 55 && p.y < 62))
      assert(props("object_count").toLong >= 1)
      // the cell's own center must fall inside its boundary polygon
      val cell = graft.h3.H3Core.fromHexString(props("h3_cell"))
      val (clat, clng) = graft.h3.H3Core.cellToLatLng(cell)
      assert(Geometry.contains(g.asInstanceOf[graft.spatial.Poly],
        graft.spatial.Pt(clng, clat)))
    }
  }

  test("geojson-seq export: every line is a valid Feature") {
    val out = Files.createTempDirectory("gj").toString + "/mart.geojsonl"
    Exporters.geojsonSeq(mart.limit(50), out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.length == 50)
    lines.take(5).foreach { l =>
      assert(l.contains(""""type": "Feature""""), l.take(100))
      val gjson = l.substring(l.indexOf(""""geometry": """) + 12, l.length - 1)
      val g = GeoJson.parseGeometry(gjson)
      assert(g.typeName == "POLYGON")
    }
  }

  test("feature-collection export honors the row cap") {
    val out = Files.createTempDirectory("gj2").resolve("fc.geojson").toString
    Exporters.geojsonFeatureCollection(mart, out, limit = 25)
    val fc = Files.readString(Paths.get(out))
    val features = GeoJson.parseFeatureCollection(fc)
    assert(features.length == 25)
    assert(features.head._2.isDefined)
  }

  test("csv export: hex_id convention + arrays as json") {
    import spark.implicits._
    val df = Seq((1L, "8abc", Seq("a", "b"))).toDF("id", "h3_cell", "tags")
    val out = Files.createTempDirectory("csv").toString + "/t.csv"
    Exporters.csv(df, out)
    val back = spark.read.option("header", "true").csv(out).head()
    assert(back.getAs[String]("hex_id") == "8abc")
    assert(back.getAs[String]("tags") == """["a","b"]""")
  }

  test("geoparquet export embeds the geo key in every part footer") {
    val out = Files.createTempDirectory("gpq").toString + "/t"
    Exporters.geoparquet(mart.limit(10), out)
    // the footer-rewritten files must still be valid parquet with the
    // same rows, and EVERY part must carry the spec's `geo` key
    val back = spark.read.parquet(out)
    assert(back.count() == 10)
    assert(back.columns.contains("geom"))
    val parts = Files.list(Paths.get(out)).iterator()
    var nParts = 0
    parts.forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet")) {
        nParts += 1
        val geo = ParquetFooter.readKeyValue(p).getOrElse("geo",
          fail(s"no geo key in $p"))
        assert(geo.contains("\"encoding\": \"WKB\""))
        assert(geo.contains("\"primary_column\": \"geom\""))
        assert(geo.contains("\"code\": 3006"))
        assert(geo.contains("geometry_types"))
      }
    }
    assert(nParts > 0)
  }

  test("footer rewrite preserves spark's own schema metadata") {
    import spark.implicits._
    val out = Files.createTempDirectory("gpq2").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .repartition(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val before = ParquetFooter.readKeyValue(part)
    ParquetFooter.addKeyValue(part, Map("custom" -> "v1"))
    val after = ParquetFooter.readKeyValue(part)
    assert(after("custom") == "v1")
    before.keys.foreach(k => assert(after.contains(k), s"lost key $k"))
    // idempotent replace, not duplicate
    ParquetFooter.addKeyValue(part, Map("custom" -> "v2"))
    assert(ParquetFooter.readKeyValue(part)("custom") == "v2")
    assert(spark.read.parquet(out).orderBy("id").collect().map(_.getString(1))
      .toSeq == Seq("a", "b"))
  }

  test("html map export renders circles with colors and caps rows") {
    val out = Files.createTempDirectory("html").resolve("map.html").toString
    Exporters.htmlMap(mart, out, colorCol = Some("klass"), limit = 100)
    val html = Files.readString(Paths.get(out))
    assert(html.contains("<svg"))
    assert(html.count(_ == 'c') > 0 && html.contains("<circle"))
    assert(html.contains("100 features"))
  }

  test("smart mart exporter dispatch rules") {
    val withGeom = mart.limit(20)
    val h3Only = mart.limit(20).select("id", "h3_cell", "klass")
    val empty = mart.limit(0)
    val twoGeoms = mart.limit(5)
      .withColumn("geom2", col("geom"))
    val out = Files.createTempDirectory("mart").toString
    val results = Exporters.exportMartTables(Map(
      "with_geom" -> withGeom, "h3_only" -> h3Only,
      "empty_t" -> empty, "two_geoms" -> twoGeoms), out)
    assert(results("with_geom").contains("parquet"))
    assert(results("with_geom").contains("geojsonl"))
    assert(results("h3_only").contains("csv")) // geometry synthesized from cell
    assert(results("h3_only").contains("geojsonl"))
    assert(results("empty_t") == Seq("skipped:empty"))
    assert(results("two_geoms") == Seq("skipped:multiple-geometry-columns"))
    // hex-only-at-exports: the internal long cell id must ship as the
    // lowercase hex form in EVERY format, not just csv (the parquet
    // branch leaked raw bigints until round 9)
    assert(h3Only.schema("h3_cell").dataType ==
      org.apache.spark.sql.types.LongType, "fixture precondition")
    val back = spark.read.parquet(s"$out/h3_only.parquet")
    assert(back.schema("h3_cell").dataType ==
      org.apache.spark.sql.types.StringType)
    back.select("h3_cell").collect().foreach { r =>
      assert(r.getString(0).matches("[0-9a-f]+"), s"not hex: ${r.getString(0)}")
    }
    val gjl = spark.read.text(s"$out/h3_only.geojsonl")
      .head().getString(0)
    assert(!gjl.matches(""".*"h3_cell":\s*\d+.*"""),
      "geojsonl leaked a numeric cell id")
  }

  test("runner end-to-end: yaml config -> extract -> transform -> index views") {
    // stage a raw parquet "source" from the fixture
    val srcDir = Files.createTempDirectory("runner_src").toString
    GeoFixture(spark, sfDir).limit(200)
      .write.mode("overwrite").parquet(s"$srcDir/geo.parquet")
    val yaml =
      s"""pipelines:
         |  - id: ext_restr
         |    datasets:
         |      - id: fixture_ds
         |        plugin: geoparquet
         |        url: $srcDir/geo.parquet
         |        field_mapping:
         |          source_id_column: $$source_id
         |          klass: $$klass_raw
         |          grupp: fixture
         |          typ: synthetic
         |          leverantor: $$lev_raw
         |""".stripMargin
    val datasets = ConfigLoader.filtered(ConfigLoader.loadDatasets(yaml))
    val outDir = Files.createTempDirectory("runner_out").toString
    val ledger = Ledger.at(outDir)
    val result = Runner.run(spark, datasets, Sources.defaultRegistry(),
      outDir, ledger = Some(ledger))
    assert(result.extracted("fixture_ds").isSuccess)
    assert(result.transformed("fixture_ds").isSuccess)
    assert(result.indexRows > 0 && result.statsRows > 0)
    // layered outputs exist
    assert(Files.exists(Paths.get(s"$outDir/raw/fixture_ds.parquet")))
    assert(Files.exists(Paths.get(s"$outDir/staging_004/fixture_ds.parquet")))
    assert(Files.exists(Paths.get(s"$outDir/mart/fixture_ds_h3.parquet")))
    // post-merge views are queryable via SQL
    val n = spark.sql(
      "SELECT count(*) FROM h3_index WHERE dataset_id = 'fixture_ds'")
      .head().getLong(0)
    assert(n == result.indexRows)
    assert(spark.table("h3_stats").columns.contains("object_count"))
    // catalog introspection over the layered views
    import graft.pipeline.Catalog
    val tables = Catalog.listTables(spark)
    assert(tables.exists(_.name == "raw_fixture_ds"))
    assert(tables.exists(_.name == "staging_004_fixture_ds"))
    val martInfo = Catalog.describe(spark, "mart_fixture_ds_h3")
    assert(martInfo.schemaLayer == "mart")
    assert(martInfo.geometryColumns == Seq("geom") && martInfo.hasH3Cell)
    // layer ordering: mart rows sort before staging before raw
    val layers = tables.map(_.schemaLayer).distinct
    assert(layers.indexOf("mart") < layers.indexOf("raw"))
    // idempotent re-run: extract skipped via ledger (still succeeds)
    val again = Runner.run(spark, datasets, Sources.defaultRegistry(),
      outDir, ledger = Some(ledger))
    assert(again.extracted("fixture_ds").isSuccess)
    assert(again.indexRows == result.indexRows)
  }
}
