package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for Spark 4's column-node API.
  * `ExpressionUtils` is private[sql], so this lives under the
  * org.apache.spark.sql package — the established pattern for libraries
  * that define custom Catalyst expressions (cf. Spark's own
  * `package object sql` exposing Strategy, and third-party engines that
  * publish `org.apache.spark.sql.*` shims).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDD behind a `localCheckpoint()`ed frame, if that is what
    * `df` is. `Dataset.unpersist` only clears cache-manager entries,
    * but localCheckpoint persists at the RDD level — so freeing a
    * superseded iteration's checkpoint blocks EAGERLY (instead of
    * waiting for driver GC + ContextCleaner) needs the LogicalRDD,
    * which is private[sql]. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** The number of partitions Spark's file-source planner makes of a
    * scan over `files` of a splittable format with no partition
    * columns: the `FilePartition.maxSplitBytes`,
    * `PartitionedFileUtil.splitFiles` and `FilePartition.getFilePartitions`
    * calls `FileSourceScanExec` makes, splits largest-first as it sorts
    * them, without building the physical RDD (the split helpers are
    * private[sql]). */
  def filePartitionCount(spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition,
      FileStatusWithMetadata, PartitionDirectory}
    val statuses = files.map(FileStatusWithMetadata(_))
    val maxSplitBytes = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val splits = statuses.flatMap(f => PartitionedFileUtil.splitFiles(
        f, f.getPath, true, maxSplitBytes, InternalRow.empty))
      .sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplitBytes).size
  }

  /** The catalog's own default location for a (possibly db-qualified)
    * managed table name — current database and `<db>.db/<t>` layout
    * resolved by the same rule `saveAsTable` uses. `sessionState` is
    * private[sql], hence exposed here. */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession,
      table: String): java.net.URI = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ident = classic.sessionState.sqlParser.parseTableIdentifier(table)
    classic.sessionState.catalog.defaultTablePath(ident)
  }
}
