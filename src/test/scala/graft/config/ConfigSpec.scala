package graft.config

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TemplateEngine

/** Ports of the reference's config/template test cases
  * (`tests/test_sql_generator.py`, `tests/test_config_loader.py`). */
class ConfigSpec extends AnyFunSuite {

  private val pipelinesYaml =
    """# comment
      |pipelines:
      |  - id: ext_restr
      |    name: Externa restriktioner
      |    datasets:
      |      - id: avverkningsanmalningar
      |        name: Avverkningsanmalningar
      |        typ: skogsstyrelsen_gpkg
      |        plugin: zip_geopackage
      |        url: https://example.com/data.zip
      |        enabled: true
      |        field_mapping:
      |          source_id_column: $beteckn
      |          klass: avverkningsanmalan
      |          grupp:
      |          typ: $Arendtyp
      |          leverantor: sks
      |      - id: disabled_ds
      |        enabled: false
      |        plugin: wfs
      |        url: http://x
      |  - id: avdelning
      |    datasets:
      |      - id: avd1
      |        plugin: geoparquet
      |        url: /data/avd.parquet
      |        field_mapping:
      |          source_id_column: $objektid
      |          h3_polyfill_resolution: 10
      |          volym: $m3sk
      |          extra_key: $foo
      |""".stripMargin

  test("pipelines format flattens with pipeline injected") {
    val ds = ConfigLoader.loadDatasets(pipelinesYaml)
    assert(ds.map(_.datasetId) ==
      Seq("avverkningsanmalningar", "disabled_ds", "avd1"))
    assert(ds.map(_.pipeline) == Seq("ext_restr", "ext_restr", "avdelning"))
  }

  test("legacy flat format still loads") {
    val legacy =
      """datasets:
        |  - id: old_ds
        |    pipeline: ext_restr
        |    plugin: wfs
        |    url: http://example/wfs
        |    field_mapping:
        |      klass: x
        |""".stripMargin
    val ds = ConfigLoader.loadDatasets(legacy)
    assert(ds.map(_.datasetId) == Seq("old_ds"))
    assert(ds.head.pipeline == "ext_restr")
    assert(ds.head.klass == "x")
  }

  test("field_mapping: $col vs literal vs empty") {
    val ds = ConfigLoader.loadDatasets(pipelinesYaml).head
    assert(ds.sourceIdColumn == "$beteckn")
    assert(ds.klass == "avverkningsanmalan") // literal
    assert(ds.grupp == "") // empty
    assert(ds.typField == "$Arendtyp") // column ref
    assert(ds.leverantor == "sks")
  }

  test("default + overridden H3 resolutions (test_sql_generator defaults)") {
    val ds = ConfigLoader.loadDatasets(pipelinesYaml)
    val default = ds.head.h3
    assert(default.centerRes == 13 && default.polygonRes == 11 &&
      default.lineRes == 12 && default.pointRes == 13 &&
      default.lineBufferM == 10.0)
    val overridden = ds.find(_.datasetId == "avd1").get.h3
    assert(overridden.polygonRes == 10)
    assert(overridden.centerRes == 13) // untouched default
  }

  test("unknown field_mapping keys collect into data_mappings") {
    val avd = ConfigLoader.loadDatasets(pipelinesYaml).find(_.datasetId == "avd1").get
    assert(avd.dataMappings == Map("volym" -> "$m3sk", "extra_key" -> "$foo"))
    val fm = avd.fieldMapping
    // sorted keys -> data_1..n
    assert(fm.mappings("data_1") == "$foo")
    assert(fm.mappings("data_2") == "$m3sk")
  }

  test("enabled/typ/id filtering") {
    val all = ConfigLoader.loadDatasets(pipelinesYaml)
    assert(ConfigLoader.filtered(all).map(_.datasetId) ==
      Seq("avverkningsanmalningar", "avd1"))
    assert(ConfigLoader.filtered(all, typ = Some("skogsstyrelsen_gpkg"))
      .map(_.datasetId) == Seq("avverkningsanmalningar"))
    assert(ConfigLoader.filtered(all, onlyEnabled = false,
      ids = Seq("disabled_ds")).map(_.datasetId) == Seq("disabled_ds"))
  }

  test("the fixtures load to exactly these configs") {
    assert(ConfigLoader.loadDatasets(pipelinesYaml) == Seq(
      DatasetConfig("avverkningsanmalningar", "ext_restr",
        name = "Avverkningsanmalningar", typ = "skogsstyrelsen_gpkg",
        plugin = "zip_geopackage", url = "https://example.com/data.zip",
        sourceIdColumn = "$beteckn", klass = "avverkningsanmalan",
        typField = "$Arendtyp", leverantor = "sks"),
      DatasetConfig("disabled_ds", "ext_restr", plugin = "wfs",
        url = "http://x", enabled = false),
      DatasetConfig("avd1", "avdelning", plugin = "geoparquet",
        url = "/data/avd.parquet", sourceIdColumn = "$objektid",
        h3 = graft.pipeline.H3Config(polygonRes = 10),
        dataMappings = Map("volym" -> "$m3sk", "extra_key" -> "$foo"))))
    assert(ConfigLoader.loadDatasets("") == Nil)
    assert(ConfigLoader.loadDatasets("- a\n- b\n") == Nil)
  }

  test("YAML as PyYAML reads it: '#' inside a value, 1.1 booleans, flow " +
      "collections, quoted ': ', literal text") {
    val ds = ConfigLoader.loadDatasets(
      """pipelines:
        |  - id: p   # a comment after a value
        |    datasets:
        |      - id: off_ds
        |        url: https://host/a.zip#layer
        |        enabled: no
        |        field_mapping:
        |          klass: "avverkning: ny"
        |          grupp: 1.50
        |          leverantor: 007
        |          typ: True
        |          h3_polyfill_resolution: 9
        |          h3_line_buffer_meters: 2.5
        |          layers: [a, b]
        |      - id: on_ds
        |        enabled: yes
        |        field_mapping: {klass: x, grupp: "$g", h3_center_resolution: 012}
        |  - {id: q, datasets: [{id: flow_ds, enabled: off}]}
        |""".stripMargin)
    assert(ds.map(d => (d.datasetId, d.pipeline, d.enabled)) == Seq(
      ("off_ds", "p", false), ("on_ds", "p", true), ("flow_ds", "q", false)))
    val off = ds.head
    assert(off.url == "https://host/a.zip#layer")
    assert(off.klass == "avverkning: ny")
    assert(off.grupp == "1.50" && off.leverantor == "007" && off.typField == "True")
    assert(off.h3.polygonRes == 9 && off.h3.lineBufferM == 2.5)
    // a flow list is not a scalar, so it is no data mapping
    assert(off.dataMappings.isEmpty)
    assert(ds(1).klass == "x" && ds(1).grupp == "$g")
    assert(ds(1).h3.centerRes == 10) // a leading 0 is octal in YAML 1.1
  }

  test("schema name derivation (test_sql_generator schema cases)") {
    import TemplateEngine._
    assert(schemaName("004_staging_transform_template.sql", None) == "staging_004")
    assert(schemaName("001_staging_normalisering_template.sql", Some("ext_restr")) ==
      "staging_ext_restr_001")
    assert(schemaName("002_mart_h3_cells_template.sql", Some("ext_restr")) == "mart")
  }

  test("prev-schema chaining rules") {
    import TemplateEngine._
    assert(prevSchemaName("004_staging_transform_template.sql", None) == "raw")
    assert(prevSchemaName("005_staging_x.sql", None) == "staging_004")
    assert(prevSchemaName("001_staging_norm.sql", Some("ext_restr")) == "staging_004")
    assert(prevSchemaName("002_staging_more.sql", Some("ext_restr")) ==
      "staging_ext_restr_001")
    val templates = Seq(
      TemplateInfo("aab_ext_restr/001_staging_norm.sql"),
      TemplateInfo("aab_ext_restr/002_mart_h3.sql"))
    assert(prevSchemaName("002_mart_h3.sql", Some("ext_restr"), templates) ==
      "staging_ext_restr_001")
    assert(prevSchemaName("001_mart_only.sql", Some("p"), Nil) == "staging_004")
  }

  test("variable building: $col -> COALESCE, literal -> quoted, empty -> ''") {
    val cfg = DatasetConfig(
      datasetId = "ds1", pipeline = "ext_restr",
      sourceIdColumn = "$beteckn", klass = "k", grupp = "$Biotyp",
      typField = "", leverantor = "sks",
      dataMappings = Map("data_1" -> "$areal", "data_2" -> "fast"))
    val vars = TemplateEngine.buildVariables(cfg,
      "001_staging_normalisering_template.sql", Some("ext_restr"))
    assert(vars("source_id_expr") == "s.beteckn::VARCHAR")
    assert(vars("grupp_expr") == "COALESCE(s.Biotyp::VARCHAR, '')")
    assert(vars("typ_expr") == "''")
    assert(vars("data_1_expr") == "COALESCE(s.areal::VARCHAR, '')")
    assert(vars("data_2_expr") == "'fast'")
    assert(vars("data_3_expr") == "''")
    assert(vars("schema") == "staging_ext_restr_001")
    assert(vars("prev_schema") == "staging_004")
  }

  test("template substitution handles both spacings") {
    val cfg = DatasetConfig(datasetId = "ds9", pipeline = "p")
    val sql = TemplateEngine.render(
      "SELECT * FROM {{ prev_schema }}.t_{{dataset_id}}",
      cfg, "001_staging_n.sql", Some("p"))
    assert(sql == "SELECT * FROM staging_004.t_ds9")
  }

  test("ledger: apply-once, stale detection, rollback") {
    val dir = java.nio.file.Files.createTempDirectory("ledger").toString
    val l = graft.pipeline.Ledger.at(dir)
    assert(!l.isApplied("aab/001:ds1", "SELECT 1"))
    l.record("aab/001:ds1", "SELECT 1")
    assert(l.isApplied("aab/001:ds1", "SELECT 1"))
    assert(!l.isApplied("aab/001:ds1", "SELECT 2"))
    assert(l.isStale("aab/001:ds1", "SELECT 2"))
    l.record("aab/002:ds1", "SELECT 2")
    assert(l.appliedVersions == Set("aab/001:ds1", "aab/002:ds1"))
    l.rollback("aab/001:ds1")
    assert(l.appliedVersions == Set("aab/002:ds1"))
  }
}
