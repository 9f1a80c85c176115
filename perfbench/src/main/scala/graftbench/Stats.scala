package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure helpers behind every reported number: percentiles, the
  * driver-only gap, the Runner output-path -> phase attribution and the
  * order-independent result digest. */
object Stats {

  /** Linear-interpolated percentile (numpy's default) of `xs`, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, highest first. */
  val TailGrid: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** The highest percentile of [[TailGrid]] that has at least 10 of `n`
    * samples beyond it, if any. */
  def tailPct(n: Int): Option[Double] =
    TailGrid.find(p => math.floor(n * (1 - p / 100) + 1e-9) >= 10)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Driver-only time of the window [start, end): wall minus the union
    * of the job intervals clipped to it. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  /** Runner phases, in pipeline order. */
  val Phases: Seq[String] =
    Seq("extract", "stage004", "normalize", "mart_h3", "mart_compact", "stats")

  private val Normalized = """.*/staging_[A-Za-z0-9_]+_001/.*""".r

  /** The Runner phase that owns a SQL execution, named by the warehouse
    * layer its output (or, for read-backs, input) path lies in. */
  def phaseOf(path: String): Option[String] = {
    val p = path.replace('\\', '/')
    if (p.contains("/raw/")) Some("extract")
    else if (p.contains("/staging_004/")) Some("stage004")
    else if (Normalized.matches(p)) Some("normalize")
    else if (p.contains("/mart/h3_stats")) Some("stats")
    else if (p.matches(""".*/mart/[^/]+_h3_compact\.parquet.*""")) Some("mart_compact")
    else if (p.matches(""".*/mart/[^/]+_h3\.parquet.*""")) Some("mart_h3")
    else None
  }

  // the write target: inline in a simple plan string, or in the
  // "Arguments:" line of the node's details in a formatted one
  private val WriteInline = """InsertIntoHadoopFsRelationCommand ([^,\s(]+),""".r
  private val WriteDetails =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+),""".r
  private val ReadPath = """InMemoryFileIndex[^\[]*\[([^,\]]+)""".r

  /** The path an executed plan writes, else the first path it reads. */
  def planPath(planText: String): Option[String] =
    Seq(WriteDetails, WriteInline, ReadPath).iterator
      .flatMap(_.findFirstMatchIn(planText)).map(_.group(1)).nextOption()

  /** Order-independent digest of `cols`: row count and the exact sum of
    * a 64-bit row hash. Equal multisets of rows give equal digests. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val h: Column = xxhash64(cols.map(col): _*).cast("decimal(20,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(30,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Multiset difference size between two row collections. */
  def multisetDiff[A](a: Seq[A], b: Seq[A]): Long = {
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
    (ca.keySet ++ cb.keySet).iterator
      .map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
  }
}
