package graft.config

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.nodes.{MappingNode, Node, ScalarNode, SequenceNode,
  Tag}

import graft.pipeline.{FieldMapping, H3Config}

/** datasets.yml semantics (`src/g_etl/config_loader.py:16-91`,
  * `src/g_etl/sql_generator.py:45-113`): pipelines-grouped new format
  * and legacy flat format, flattened to dataset configs with the
  * pipeline id injected; `field_mapping` carries the `$col`/literal
  * convention, per-dataset H3 resolution overrides, and arbitrary
  * extra keys collected into data_mappings.
  */
final case class DatasetConfig(
    datasetId: String,
    pipeline: String,
    name: String = "",
    typ: String = "",
    plugin: String = "",
    url: String = "",
    enabled: Boolean = true,
    sourceIdColumn: String = "",
    geometryColumn: String = "geom",
    h3: H3Config = H3Config(),
    klass: String = "",
    grupp: String = "",
    typField: String = "",
    leverantor: String = "",
    dataMappings: Map[String, String] = Map.empty) {

  /** The normalized-stage FieldMapping for this dataset. */
  def fieldMapping: FieldMapping = {
    val dataKeys = dataMappings.keys.toSeq.sorted.zipWithIndex.map {
      case (k, i) => s"data_${i + 1}" -> dataMappings(k)
    }.toMap
    FieldMapping(Map(
      "source_id" -> sourceIdColumn,
      "klass" -> klass,
      "grupp" -> grupp,
      "typ" -> typField,
      "leverantor" -> leverantor) ++ dataKeys)
  }
}

object ConfigLoader {

  private val knownFieldKeys = Set(
    "source_id_column", "geometry_column",
    "h3_center_resolution", "h3_polyfill_resolution", "h3_line_resolution",
    "h3_point_resolution", "h3_line_buffer_meters",
    "klass", "grupp", "typ", "leverantor", "data_mappings")

  /** Parses `yamlText` with SnakeYAML (YAML 1.1, as PyYAML reads it)
    * into its composed node graph: every scalar keeps its literal text
    * and the tag the resolver gave it. String fields take the literal
    * text; `enabled` and the H3 fields take SnakeYAML's own bool and
    * number for a `bool`, `int` or `float` tag. */
  def loadDatasets(yamlText: String): Seq[DatasetConfig] = {
    val root = new Yaml().compose(new java.io.StringReader(yamlText)) match {
      case m: MappingNode => YMap(m)
      case _ => return Seq.empty
    }
    root.list("pipelines") match {
      case Some(pipelines) =>
        // new format: pipelines: [{id, name, datasets: [...]}]
        pipelines.flatMap(p =>
          p.list("datasets").getOrElse(Nil).map(parseDataset(_, p.str("id"))))
      case None =>
        // legacy flat format: datasets: [{id, pipeline, ...}]
        root.list("datasets").getOrElse(Nil)
          .map(ds => parseDataset(ds, ds.str("pipeline")))
    }
  }

  /** enabled/typ/id filtering (src/g_etl/pipeline.py:124-150). */
  def filtered(all: Seq[DatasetConfig], onlyEnabled: Boolean = true,
      typ: Option[String] = None, ids: Seq[String] = Nil): Seq[DatasetConfig] =
    all
      .filter(d => !onlyEnabled || d.enabled)
      .filter(d => typ.forall(_ == d.typ))
      .filter(d => ids.isEmpty || ids.contains(d.datasetId))

  private def parseDataset(m: YMap, pipeline: String): DatasetConfig = {
    val fm = m.map("field_mapping").getOrElse(new YMap(Nil))
    val defaults = H3Config()
    val extra = fm.map("data_mappings").fold(Map.empty[String, String])(dm =>
      dm.keys.map(k => k -> dm.str(k)).toMap) ++
      fm.keys.filterNot(knownFieldKeys).flatMap(k => fm.text(k).map(k -> _))
    DatasetConfig(
      datasetId = m.str("id"),
      pipeline = pipeline,
      name = m.str("name"),
      typ = m.str("typ"),
      plugin = m.str("plugin"),
      url = m.str("url"),
      enabled = m.value("enabled") match {
        case Some(b: java.lang.Boolean) => b
        case _ => true
      },
      sourceIdColumn = fm.str("source_id_column"),
      geometryColumn = fm.text("geometry_column").getOrElse("geom"),
      h3 = H3Config(
        centerRes = fm.number("h3_center_resolution").fold(defaults.centerRes)(_.intValue),
        polygonRes = fm.number("h3_polyfill_resolution").fold(defaults.polygonRes)(_.intValue),
        lineRes = fm.number("h3_line_resolution").fold(defaults.lineRes)(_.intValue),
        lineBufferM = fm.number("h3_line_buffer_meters")
          .fold(defaults.lineBufferM)(_.doubleValue),
        pointRes = fm.number("h3_point_resolution").fold(defaults.pointRes)(_.intValue)),
      klass = fm.str("klass"),
      grupp = fm.str("grupp"),
      typField = fm.str("typ"),
      leverantor = fm.str("leverantor"),
      dataMappings = extra)
  }

  /** SnakeYAML's construction of one scalar from its resolved tag:
    * `yes`/`no`/`on`/`off` to a Boolean, `0x1A` or `1_000` to a number. */
  private final class Scalars extends SafeConstructor(new LoaderOptions) {
    def value(n: ScalarNode): AnyRef = constructObject(n)
  }

  private object YMap {
    def apply(m: MappingNode): YMap = new YMap(m.getValue.asScala.toSeq.collect {
      case t if t.getKeyNode.isInstanceOf[ScalarNode] =>
        t.getKeyNode.asInstanceOf[ScalarNode].getValue -> t.getValueNode
    })
  }

  /** A YAML mapping's scalar-keyed entries, read by key. The last of
    * duplicate keys wins. */
  private final class YMap(entries: Seq[(String, Node)]) {
    private val byKey = entries.toMap
    def keys: Seq[String] = entries.map(_._1).distinct

    private def scalar(k: String): Option[ScalarNode] = byKey.get(k).collect {
      case s: ScalarNode if s.getTag != Tag.NULL => s
    }
    /** The literal text of a non-null scalar. */
    def text(k: String): Option[String] = scalar(k).map(_.getValue)
    def str(k: String): String = text(k).getOrElse("")
    def value(k: String): Option[AnyRef] = scalar(k).map(new Scalars().value)
    def number(k: String): Option[Number] = value(k).collect { case n: Number => n }
    def map(k: String): Option[YMap] = byKey.get(k).collect {
      case m: MappingNode => YMap(m)
    }
    /** The mappings of a sequence; other items are skipped. */
    def list(k: String): Option[Seq[YMap]] = byKey.get(k).collect {
      case s: SequenceNode => s.getValue.asScala.toSeq.collect {
        case m: MappingNode => YMap(m)
      }
    }
  }
}
