package graft.pipeline

import graft.config.DatasetConfig

/** SQL-template parity layer (`src/g_etl/sql_generator.py:281-560`):
  * `{{ var }}` substitution, schema-name derivation and prev-schema
  * chaining — pure string logic, directly portable, so user-authored
  * templates keep working against `spark.sql` over temp views named
  * `{schema}_{dataset}`.
  */
object TemplateEngine {

  final case class TemplateInfo(relativePath: String) {
    val filename: String = relativePath.split('/').last
    val number: String = filename.takeWhile(_.isDigit)
    def isStaging: Boolean = filename.toLowerCase.contains("_staging_")
    def isMart: Boolean = filename.toLowerCase.contains("_mart_")
  }

  /** staging_004 / staging_{pipeline}_{NNN} / mart
    * (sql_generator.py:281-295). */
  def schemaName(templateName: String, pipeline: Option[String]): String = {
    val t = TemplateInfo(templateName)
    if (t.isStaging) pipeline match {
      case Some(p) => if (t.number.nonEmpty) s"staging_${p}_${t.number}" else s"staging_$p"
      case None => if (t.number.nonEmpty) s"staging_${t.number}" else "staging"
    }
    else if (t.isMart) "mart"
    else "staging"
  }

  /** prev-schema chaining (sql_generator.py:317-363). */
  def prevSchemaName(templateName: String, pipeline: Option[String],
      pipelineTemplates: Seq[TemplateInfo] = Nil): String = {
    val t = TemplateInfo(templateName)
    if (t.number.isEmpty) return "raw"
    val n = t.number.toInt
    pipeline match {
      case Some(p) =>
        if (t.isStaging) {
          if (n <= 1) "staging_004"
          else f"staging_${p}_${n - 1}%03d"
        } else if (t.isMart) {
          val staging = pipelineTemplates.filter(x => x.isStaging)
          if (staging.nonEmpty) s"staging_${p}_${staging.last.number}"
          else "staging_004"
        } else "staging_004"
      case None =>
        if (t.isStaging) {
          if (n <= 4) "raw" else f"staging_${n - 1}%03d"
        } else if (t.isMart) "staging_004"
        else "raw"
    }
  }

  private def isColumnRef(v: String): Boolean = v != null && v.startsWith("$")
  private def columnName(v: String): String =
    if (isColumnRef(v)) v.drop(1) else v

  /** Build the substitution dict (sql_generator.py:367-440): `$x` ->
    * `COALESCE(s.x::VARCHAR, '')`, literal -> quoted, empty -> `''`. */
  def buildVariables(cfg: DatasetConfig, templateName: String = "",
      pipeline: Option[String] = None,
      pipelineTemplates: Seq[TemplateInfo] = Nil): Map[String, String] = {
    val schema =
      if (templateName.nonEmpty) schemaName(templateName, pipeline) else "staging"
    val prev =
      if (templateName.nonEmpty) prevSchemaName(templateName, pipeline, pipelineTemplates)
      else "raw"

    def refOrLiteral(v: String): String =
      if (isColumnRef(v)) s"COALESCE(s.${columnName(v)}::VARCHAR, '')"
      else if (v == null || v.isEmpty) "''"
      else s"'$v'"

    val srcCol = columnName(cfg.sourceIdColumn)
    val base = Map(
      "dataset_id" -> cfg.datasetId,
      "schema" -> schema,
      "prev_schema" -> prev,
      "source_id_column" -> srcCol,
      "geometry_column" -> cfg.geometryColumn,
      "h3_center_resolution" -> cfg.h3.centerRes.toString,
      "h3_polyfill_resolution" -> cfg.h3.polygonRes.toString,
      "h3_line_resolution" -> cfg.h3.lineRes.toString,
      "h3_point_resolution" -> cfg.h3.pointRes.toString,
      "h3_line_buffer_meters" -> cfg.h3.lineBufferM.toInt.toString,
      "klass" -> cfg.klass,
      "leverantor" -> cfg.leverantor,
      "source_id_expr" ->
        (if (srcCol.trim.nonEmpty) s"s.$srcCol::VARCHAR" else "''"),
      "grupp_expr" -> refOrLiteral(cfg.grupp),
      "typ_expr" -> refOrLiteral(cfg.typField))

    val dataExprs = cfg.dataMappings.map { case (k, v) =>
      s"${k}_expr" -> refOrLiteral(v)
    }
    val dataDefaults = (1 to 5).map(i => s"data_${i}_expr" -> "''")
      .filterNot { case (k, _) => dataExprs.contains(k) }

    base ++ dataExprs ++ dataDefaults
  }

  /** `{{ var }}` / `{{var}}` substitution (sql_generator.py:443-448). */
  def substitute(template: String, variables: Map[String, String]): String =
    variables.foldLeft(template) { case (acc, (k, v)) =>
      acc.replace(s"{{ $k }}", v).replace(s"{{$k}}", v)
    }

  def render(template: String, cfg: DatasetConfig, templateName: String,
      pipeline: Option[String] = None,
      pipelineTemplates: Seq[TemplateInfo] = Nil): String =
    substitute(template, buildVariables(cfg, templateName, pipeline, pipelineTemplates))

  /** Dialect shim for executing rendered templates via spark.sql: the
    * few DuckDB constructs the reference's templates rely on that Spark
    * SQL spells differently. */
  def toSparkSql(sql: String): String =
    sql
      .replaceAll("([A-Za-z_][A-Za-z0-9_.]*)::VARCHAR", "CAST($1 AS STRING)")
      .replaceAll("([A-Za-z_][A-Za-z0-9_.]*)::FLOAT", "CAST($1 AS FLOAT)")
      .replaceAll("([A-Za-z_][A-Za-z0-9_.]*)::DOUBLE", "CAST($1 AS DOUBLE)")
      .replaceAll("(?i)CREATE OR REPLACE TABLE", "CREATE OR REPLACE TEMP VIEW")
      .replaceAll("(?i)strftime\\(", "date_format(")
}
