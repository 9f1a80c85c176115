package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, checked without a warehouse. */
class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between ranks") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 90) == 4.6)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
  }

  test("the tail is the highest percentile with 10 samples beyond it") {
    assert(Stats.tailPct(39).isEmpty)
    assert(Stats.tailPct(40).contains(75.0))
    assert(Stats.tailPct(99).contains(75.0))
    assert(Stats.tailPct(100).contains(90.0))
    assert(Stats.tailPct(200).contains(95.0))
    assert(Stats.tailPct(999).contains(95.0))
    assert(Stats.tailPct(1000).contains(99.0))
    assert(Stats.tailPct(10000).contains(99.9))
  }

  test("union of job intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("driver gap is wall minus the job union clipped to the window") {
    // window [100, 200): jobs cover 90-120 (clipped to 100-120) and 150-160
    assert(Stats.driverGap(100, 200, Seq((90L, 120L), (150L, 160L), (300L, 400L))) == 70)
    assert(Stats.driverGap(0, 50, Nil) == 50)
    assert(Stats.driverGap(0, 50, Seq((0L, 50L), (10L, 20L))) == 0)
  }

  test("output paths name the Runner phase") {
    val wh = "file:/w/run_3"
    assert(Stats.phaseOf(s"$wh/raw/ds_0.parquet").contains("extract"))
    assert(Stats.phaseOf(s"$wh/staging_004/ds_0.parquet").contains("stage004"))
    assert(Stats.phaseOf(s"$wh/staging_ext_restr_001/ds_0.parquet").contains("normalize"))
    assert(Stats.phaseOf(s"$wh/staging_avdelning_001/ds_1.parquet").contains("normalize"))
    assert(Stats.phaseOf(s"$wh/mart/ds_0_h3.parquet").contains("mart_h3"))
    assert(Stats.phaseOf(s"$wh/mart/ds_0_h3_compact.parquet").contains("mart_compact"))
    assert(Stats.phaseOf(s"$wh/mart/h3_stats.parquet").contains("stats"))
    assert(Stats.phaseOf("file:/w/src_etl/ds_0.parquet").isEmpty)
    assert(Stats.phaseOf("file:/w/base/customer.parquet").isEmpty)
  }

  test("plan text yields the written path, else the first read path") {
    val formatted =
      """== Physical Plan ==
        |Execute InsertIntoHadoopFsRelationCommand (3)
        |+- WriteFiles (2)
        |   +- Scan parquet  (1)
        |
        |(1) Scan parquet
        |Location: InMemoryFileIndex [file:/w/raw/ds_0.parquet]
        |
        |(3) Execute InsertIntoHadoopFsRelationCommand
        |Input [2]: [a#1, b#2]
        |Arguments: file:/w/staging_004/ds_0.parquet, false, Parquet, [path=file:/w/staging_004/ds_0.parquet], Overwrite, [a, b]
        |""".stripMargin
    assert(Stats.planPath(formatted).contains("file:/w/staging_004/ds_0.parquet"))
    val simple = "Execute InsertIntoHadoopFsRelationCommand file:/w/mart/h3_stats.parquet, false, Parquet"
    assert(Stats.planPath(simple).contains("file:/w/mart/h3_stats.parquet"))
    val read = "(1) Scan parquet\nLocation: InMemoryFileIndex [file:/w/mart/a_h3.parquet, file:/w/mart/b_h3.parquet]"
    assert(Stats.planPath(read).contains("file:/w/mart/a_h3.parquet"))
    assert(Stats.planPath("LocalTableScan [a#1]").isEmpty)
  }

  test("multiset difference counts every unmatched copy") {
    assert(Stats.multisetDiff(Seq(1, 2, 2), Seq(2, 1, 2)) == 0)
    assert(Stats.multisetDiff(Seq(1, 2, 2), Seq(1, 2)) == 1)
    assert(Stats.multisetDiff(Seq(1, 1), Seq(2, 2)) == 4)
  }

  test("expected ETL totals add up per band placement") {
    val rs = Inputs.placed(Workloads.EtlSizes, "etl", Seq(0, 1, 2, 3))
    val parts = rs.map(r => Expected.etl(Seq(r)).get)
    val all = Expected.etl(rs).get
    assert(all.indexRows == parts.map(_.indexRows).sum && all.indexRows > 0)
    assert(all.digest == parts.map(_.digest).sum)
    // every slot has a recorded output in every band
    for (slot <- Workloads.EtlSizes.indices; band <- 0 until Inputs.Bands)
      assert(Expected.etl(Seq(Replica("x", slot, "ext_restr", 1, band))).isDefined)
  }

  test("the digest ignores row order and sees duplicates") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = Seq(("a", 1L), ("b", 2L), ("c", 3L))
      val cols = Seq("k", "v")
      val d = Stats.digest(rows.toDF("k", "v"), cols)
      assert(d._1 == 3)
      assert(Stats.digest(rows.reverse.toDF("k", "v").repartition(3), cols) == d)
      assert(Stats.digest((rows :+ rows.head).toDF("k", "v"), cols) != d)
      assert(Stats.digest(Seq(("a", 1L), ("b", 2L), ("c", 4L)).toDF("k", "v"), cols)._2 != d._2)
      assert(Stats.digest(Seq.empty[(String, Long)].toDF("k", "v"), cols) == ((0L, BigDecimal(0))))
    } finally spark.stop()
  }
}
