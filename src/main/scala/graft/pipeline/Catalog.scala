package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StructType}

/** Catalog/schema introspection (`information_schema` usage in the
  * reference: `pipeline_runner.py:1017-1025,1084-1092`, `export.py:
  * 404-432`, `admin/screens/explorer.py:291-316`) over Spark's own
  * catalog + df.schema — no joins against information_schema needed.
  */
object Catalog {

  final case class TableInfo(
      name: String, schemaLayer: String, columns: Seq[(String, String)],
      geometryColumns: Seq[String], hasH3Cell: Boolean)

  /** Layer priority ordering mirrors the explorer's CASE-in-ORDER-BY
    * (explorer.py:305-314): mart first, then staging, then raw. */
  private def layerOf(table: String): String =
    if (table.startsWith("mart") || table == "h3_index" || table == "h3_stats") "mart"
    else if (table.startsWith("staging")) "staging"
    else if (table.startsWith("raw")) "raw"
    else "other"

  private val layerPriority = Map("mart" -> 0, "staging" -> 1, "raw" -> 2, "other" -> 3)

  def listTables(spark: SparkSession): Seq[TableInfo] =
    spark.catalog.listTables().collect().toSeq
      .map(t => describe(spark, t.name))
      .sortBy(t => (layerPriority(t.schemaLayer), t.name))

  def describe(spark: SparkSession, table: String): TableInfo = {
    val schema: StructType = spark.table(table).schema
    TableInfo(
      name = table,
      schemaLayer = layerOf(table),
      columns = schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      geometryColumns = schema.fields
        .filter(_.dataType == BinaryType).map(_.name).toSeq,
      hasH3Cell = schema.fieldNames.contains("h3_cell"))
  }
}
