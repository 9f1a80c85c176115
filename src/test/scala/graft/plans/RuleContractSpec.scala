package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.GFunctions._
import graft.pipeline.PreparedPolygonQuery
import graft.spatial.{Geometry, Pt}

/** Pins for the decisions the three optimizer rules share through
  * [[H3RuleSupport]]: the numeric conf contract (every malformed or
  * non-positive value names its key), the spatial conjunct matcher
  * (every shape, both operand orders, in BOTH H3 rules), and the
  * exploded-side orientation check both join rules gate on. */
class RuleContractSpec extends SparkSuite {

  private def withRules[T](f: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev ++ Seq(
      H3IntersectsRewrite(spark), H3JoinRewrite(spark), RangeJoinRewrite(spark))
    try f finally spark.experimental.extraOptimizations = prev
  }

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  // mart-h3_index-shaped relation: rectangles polyfilled at res 9,
  // exploded, geom = the CELL's geometry (the exactness layout)
  private def cellIndex: DataFrame = {
    import spark.implicits._
    (1L to 60L).map { i =>
      val x0 = (i % 10) * 1800 + 560000
      val y0 = (i / 10) * 1800 + 6448000
      (i, s"POLYGON (($x0 $y0, ${x0 + 1300} $y0, ${x0 + 1300} ${y0 + 1300}, " +
        s"$x0 ${y0 + 1300}, $x0 $y0))")
    }.toDF("id", "wkt")
      .withColumn("h3_cell",
        explode(g_h3_polygon_cells_l(st_geomfromtext(col("wkt")), lit(9))))
      .select(col("id"), col("h3_cell"),
        g_h3_cell_to_geom(col("h3_cell")).as("geom"))
  }

  // geometry side for the join: polygons, lines and points
  private def geomSide: DataFrame = {
    import spark.implicits._
    (1L to 20L).map { k =>
      val x0 = (k % 7) * 2500 + 559000
      val y0 = (k % 5) * 2600 + 6447500
      val wkt = (k % 3) match {
        case 0 => s"POLYGON (($x0 $y0, ${x0 + 900} $y0, ${x0 + 900} " +
          s"${y0 + 900}, $x0 ${y0 + 900}, $x0 $y0))"
        case 1 => s"LINESTRING ($x0 $y0, ${x0 + 2400} ${y0 + 1100})"
        case _ => s"POINT ($x0 $y0)"
      }
      (k, wkt)
    }.toDF("gid", "gwkt")
      .select(col("gid"), st_geomfromtext(col("gwkt")).as("ggeom"))
  }

  private val queryWkt =
    "POLYGON ((561000 6449000, 570700 6449000, 570700 6455300, " +
      "561000 6455300, 561000 6449000))"

  /** The four `st_distance` threshold spellings over (a, b). */
  private def distanceShapes(a: Column, b: Column, d: Column): Seq[(String, Column)] =
    Seq(
      "st_distance(a, b) <= d" -> (st_distance(a, b) <= d),
      "st_distance(a, b) < d" -> (st_distance(a, b) < d),
      "d >= st_distance(a, b)" -> (d >= st_distance(a, b)),
      "d > st_distance(a, b)" -> (d > st_distance(a, b)))

  /** All five shapes, each in both operand orders: `st_intersects`
    * against `x`, and the distance spellings against `y` at 900 m. */
  private def allShapes(g: Column, x: Column, y: Column): Seq[(String, Column)] =
    Seq("st_intersects(g, x)" -> st_intersects(g, x),
      "st_intersects(x, g)" -> st_intersects(x, g)) ++
      distanceShapes(g, y, lit(900.0)).map { case (n, c) => s"$n [g, y]" -> c } ++
      distanceShapes(y, g, lit(900.0)).map { case (n, c) => s"$n [y, g]" -> c }

  /** Thresholds the matcher must refuse: a column, NaN and Infinity. */
  private def refusedShapes(g: Column, y: Column, column: Column): Seq[(String, Column)] =
    Seq("a column" -> column, "NaN" -> lit(Double.NaN),
      "Infinity" -> lit(Double.PositiveInfinity)).flatMap { case (t, d) =>
      (distanceShapes(g, y, d) ++ distanceShapes(y, g, d))
        .map { case (n, c) => s"$n, d = $t" -> c }
    }

  test("numeric rule and probe confs: a malformed or non-positive value " +
      "fails with an error whose cause chain names the key") {
    import spark.implicits._
    val queryWkb = Geometry.toWkb(Geometry.fromWkt(queryWkt))
    def filterQ = cellIndex.filter(st_intersects(col("geom"), lit(queryWkb)))
    def joinQ = cellIndex.join(geomSide, st_intersects(col("geom"), col("ggeom")))
    val pts = (1L to 30L).map(i => (i, i * 3.0)).toDF("pid", "pt")
    val ivs = (1L to 10L).map(i => (i, i * 7.0, i * 7.0 + 5.0))
      .toDF("iid", "lo", "hi")
    def rangeQ = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
    // the probe deadline is read by every probe that runs a job, which
    // the whole-extent polygon does.
    val extent = "POLYGON ((560000 6448000, 580000 6448000, 580000 6462000, " +
      "560000 6462000, 560000 6448000))"
    val probeIndex = PreparedPolygonQuery.cellIds(extent, 9).toSeq
      .map(c => (c.toString, "ds", "lev", "k", c))
      .toDF("id", "dataset_id", "leverantor", "klass", "h3_cell")
    lazy val probe = PreparedPolygonQuery(probeIndex, res = 8)
    def plan(df: => DataFrame): () => Unit =
      () => df.queryExecution.executedPlan
    // (key, malformed, non-positive, confs the key needs to be read, action)
    val cases: Seq[(String, String, String, Seq[(String, String)], () => Unit)] = Seq(
      ("spark.graft.h3Filter.res", "eight", "-1", Nil, plan(filterQ)),
      ("spark.graft.h3Join.res", "eight", "-1", Nil, plan(joinQ)),
      ("spark.graft.h3Filter.maxCells", "1e6", "0",
        Seq("spark.graft.h3Filter.res" -> "8"), plan(filterQ)),
      ("spark.graft.h3Join.maxFanout", "1e6", "0",
        Seq("spark.graft.h3Join.res" -> "8"), plan(joinQ)),
      ("spark.graft.rangeJoin.bucketWidth", "wide", "0", Nil, plan(rangeQ)),
      ("spark.graft.rangeJoin.maxFanout", "1e6", "-3",
        Seq("spark.graft.rangeJoin.bucketWidth" -> "5"), plan(rangeQ)),
      ("spark.graft.probe.timeoutSec", "1e6", "0", Nil,
        () => probe.objects(extent)))
    // the probe handle is built with every conf unset
    assert(probe.objects(extent).nonEmpty, "probe fixture selects nothing")
    try withRules {
      for ((key, malformed, nonPositive, needs, action) <- cases;
           value <- Seq(malformed, nonPositive)) {
        withConf(needs :+ (key -> value): _*) {
          val e = intercept[Exception](action())
          val chain = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
          assert(chain.contains(key), s"$key=$value: error does not name " +
            s"the key: $chain")
        }
      }
    } finally probeIndex.unpersist()
  }

  test("H3IntersectsRewrite: every spatial shape, both operand orders, " +
      "rewrites and keeps the rules-off multiset; column, NaN and " +
      "Infinity thresholds stay unrewritten") {
    val idx = cellIndex.cache()
    try {
      val poly = lit(Geometry.toWkb(Geometry.fromWkt(queryWkt)))
      val pt = lit(Geometry.toWkb(Pt(565500, 6451500)))
      def q(c: Column) = idx.filter(c).select("id", "h3_cell")
      val rule = H3IntersectsRewrite(spark)
      allShapes(col("geom"), poly, pt).foreach { case (name, c) =>
        val base = rows(q(c))
        assert(base.nonEmpty, s"$name selects nothing — vacuous")
        withRules(withConf(rule.ConfKey -> "8") {
          assert(planString(q(c)).contains("__g_h3f_"), s"$name not rewritten")
          assert(rows(q(c)) == base, s"$name: rows changed")
        })
      }
      withRules(withConf(rule.ConfKey -> "8") {
        refusedShapes(col("geom"), pt, col("id").cast("double"))
          .foreach { case (name, c) =>
            assert(!planString(q(c)).contains("__g_h3f_"), s"$name rewrote")
          }
      })
    } finally idx.unpersist()
  }

  test("H3JoinRewrite: every spatial shape, both operand orders, " +
      "rewrites and keeps the rules-off multiset; column, NaN and " +
      "Infinity thresholds stay unrewritten") {
    val idx = cellIndex.cache()
    val gs = geomSide.cache()
    try {
      def q(c: Column) = idx.join(gs, c).select("id", "h3_cell", "gid")
      val rule = H3JoinRewrite(spark)
      allShapes(col("geom"), col("ggeom"), col("ggeom")).foreach {
        case (name, c) =>
          val base = rows(q(c))
          assert(base.nonEmpty, s"$name selects nothing — vacuous")
          withRules(withConf(rule.ConfKey -> "8") {
            assert(planString(q(c)).contains("__g_h3j_"), s"$name not rewritten")
            assert(rows(q(c)) == base, s"$name: rows changed")
          })
      }
      withRules(withConf(rule.ConfKey -> "8") {
        refusedShapes(col("geom"), col("ggeom"), col("gid").cast("double"))
          .foreach { case (name, c) =>
            assert(!planString(q(c)).contains("__g_h3j_"), s"$name rewrote")
          }
      })
    } finally { idx.unpersist(); gs.unpersist() }
  }

  test("orientationOk truth table: only a NON-preserved side may explode") {
    val table = Seq(
      // (join type, exploded side on the left?, may rewrite?)
      (Inner, true, true), (Inner, false, true),
      (LeftOuter, true, false), (LeftOuter, false, true),
      (LeftSemi, true, false), (LeftSemi, false, true),
      (LeftAnti, true, false), (LeftAnti, false, true),
      (RightOuter, true, true), (RightOuter, false, false),
      (FullOuter, true, false), (FullOuter, false, false))
    table.foreach { case (jt, explodedOnLeft, ok) =>
      assert(H3RuleSupport.orientationOk(jt, explodedOnLeft) == ok,
        s"$jt with the exploded side on the " +
          s"${if (explodedOnLeft) "left" else "right"}")
    }
  }
}
