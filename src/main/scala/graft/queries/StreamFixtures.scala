package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared micro-batch fixture writer for the streaming battery
  * entries and stream profiles.
  *
  * Splits `df` into `nBatches` id-ordered parquet micro-batches under
  * a temp dir and returns (tmpDir, srcPath). Split points are EXACT
  * quantiles of the row population (a plain (min+max)/n range split
  * leaves interior batches empty under bimodal id ranges — e.g.
  * planted copies at id + 30M). FileStreamSource orders new files by
  * MODIFICATION TIME, and local writes can land within one ms (ties
  * then resolve by arbitrary listing order), so each slice's files
  * get an explicit strictly-increasing mtime stamped ONCE —
  * restamping would flatten the order; setLastModified FAILS BY
  * RETURNING FALSE on some filesystems, hence the require. Callers
  * must deleteQuietly(tmpDir) in a finally — a require failure must
  * not leak a corpus copy per run. */
private[graft] object StreamFixtures {

  /** Memoized [[writeIdOrderedMicroBatches]] for a slice streamed by
    * SEVERAL battery entries (q203/q231: the events stratum; q214/q227:
    * the embeddings stratum) — the sharedBigrams pattern applied to
    * stream inputs (r19 optimization): one quantile-split + write
    * serves both entries (and their bench reps) instead of each
    * execution re-writing an identical corpus copy. `key` must be
    * "<module>:<layer>:<dir>" (the Memos convention, so the deferred
    * pass's memo-rebuild matching sees the consumers) and `df` must be
    * plan-identical across the sharing entries. Returns the source path
    * only — callers must NOT delete it: the memo's release deletes the
    * directory once no remaining battery entry consumes it, and outside
    * a battery (Verify, tests) it is deleted on JVM exit. */
  def sharedMicroBatches(df: DataFrame, idCol: String, key: String,
      consumers: Set[String]): String =
    Memos.shared(key, consumers) {
      val ts = writeIdOrderedMicroBatches(df, idCol,
        key.replaceAll("[^A-Za-z0-9]+", "_"))
      org.apache.commons.io.FileUtils.forceDeleteOnExit(ts._1.toFile)
      ts
    }(ts => org.apache.commons.io.FileUtils.deleteQuietly(ts._1.toFile))._2

  def writeIdOrderedMicroBatches(df: DataFrame, idCol: String,
      tag: String, nBatches: Int = 3): (java.nio.file.Path, String) = {
    require(nBatches >= 1, "need nBatches >= 1")
    val cuts =
      if (nBatches == 1) Array.empty[Double]
      else df.stat.approxQuantile(idCol,
        (1 until nBatches).map(_.toDouble / nBatches).toArray, 0.0)
    val bounds = (Double.NegativeInfinity +: cuts.toSeq) :+
      Double.PositiveInfinity
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    val src = tmp.resolve("src").toString
    val stamped = scala.collection.mutable.Set[java.io.File]()
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), r) =>
      // repartition(1) + an explicit in-file id sort, NOT coalesce(1)
      // (r19): coalesce collapsed the upstream filter scan into the
      // single write task (a full corpus pass per batch on one core),
      // while the exchange keeps the scan parallel and only the
      // ~k-rows write single-task; the sort makes each batch file
      // id-ordered BY CONSTRUCTION instead of inheriting whatever
      // order the source scan happened to produce
      df.filter(col(idCol) > lo && col(idCol) <= hi)
        .repartition(1).sortWithinPartitions(idCol)
        .write.mode("append").parquet(src)
      new java.io.File(src).listFiles().foreach { f =>
        if (!stamped.contains(f)) {
          require(f.setLastModified(1700000000000L + r * 60000L),
            s"could not stamp mtime on $f — batch order would be " +
              "nondeterministic on this filesystem")
          stamped += f
        }
      }
    }
    (tmp, src)
  }
}
