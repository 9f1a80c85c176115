package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive parallel read of the battery's parquet inputs.
  *
  * The sf fixtures ship as ONE parquet file with one row group per
  * table, so a bare `read.parquet` plans a single scan partition and
  * every map-heavy stage rooted at it (per-character anchor explodes,
  * bigram explodes, per-dimension vector unnests) runs on ONE core of
  * the whole machine until the first exchange — the classic
  * unsplittable-input skew of the optimization guide (§2.5 "one huge
  * unsplittable file … otherwise repartition immediately after the
  * read"; measured r19: the q228 bigram build ran 12 s in one task at
  * sf0.1 with 31 cores idle).
  *
  * The fix is layout-adaptive, not a constant: when the scan would
  * already plan at least the session's default parallelism (the
  * warehouse case — many files / row groups), the read is returned
  * UNCHANGED and no exchange is added; only a scan narrower than the
  * core count gets one round-robin repartition right after the read.
  * The decision is memoized per (session, path, parallelism) so
  * repeated per-query constructions don't re-probe.
  *
  * The width probe is a FILE-LISTING ESTIMATE, not an RDD build (r19
  * VERDICT Next #8: `df.rdd.getNumPartitions` constructed the physical
  * RDD — one-time per memo key, but on a 100 TB table even the first
  * probe should not pay physical planning). The estimate calls
  * Spark's own split math — `FilePartition.maxSplitBytes`,
  * `PartitionedFileUtil.splitFiles`, `FilePartition.getFilePartitions`
  * over the splits sorted largest-first — on a plain Hadoop listing of
  * the path's data files, which is exactly the information the real
  * scan planner derives its partition count from.
  * An estimate off by a partition or two cannot change correctness
  * (the repartition is a no-op semantically); it only moves the
  * narrow/wide cutover, and at the cutover both choices are fine.
  *
  * Determinism: round-robin repartition sorts partitions locally
  * before assignment (spark.sql.execution.sortBeforeRepartition,
  * default true — SPARK-23207), so the row-to-partition assignment is
  * reproducible across retries; every battery operator is
  * partitioning-independent by construction (the driver's oracle
  * hash-checks sorted rows).
  */
private[graft] object Inputs {

  private val narrowScan =
    scala.collection.concurrent.TrieMap[(Int, String, Int), Boolean]()

  /** Estimated planned partition count for a parquet scan of `path`:
    * Spark's own split and packing calls over a Hadoop file listing
    * (hidden and empty files excluded, like InMemoryFileIndex). */
  private[queries] def estimateScanPartitions(s: SparkSession,
      path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && f.getLen > 0) files += f
    }
    if (files.isEmpty) 1
    else org.apache.spark.sql.graftbridge.Bridge.filePartitionCount(s, files.toSeq)
  }

  def parquet(s: SparkSession, path: String): DataFrame = {
    val df = s.read.parquet(path)
    val p = s.sparkContext.defaultParallelism
    val narrow = narrowScan.getOrElseUpdate(
      (System.identityHashCode(s), path, p),
      try estimateScanPartitions(s, path) < p
      catch { case scala.util.control.NonFatal(_) =>
        // unlistable path: fall back to the planner's own answer
        df.rdd.getNumPartitions < p
      })
    if (narrow) df.repartition(p) else df
  }
}
