package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSuite

class RangeJoinRewriteSpec extends SparkSuite {

  private def withRule[T](width: Option[String])(f: => T): T = {
    val rule = RangeJoinRewrite(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ rule
    try withConf(width.map(rule.ConfKey -> _).toSeq: _*)(f)
    finally spark.experimental.extraOptimizations = prev
  }

  private def fixture: (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // points and intervals over [0, 10000); ~1% empty intervals
    // (lo > hi), NULL points and NULL bounds sprinkled in
    val pts = (1L to 400L).map { i =>
      (i, if (i % 37 == 0) null else
        java.lang.Long.valueOf(rnd.nextInt(10000).toLong))
    }.toDF("p_id", "pt")
    val ivs = (1L to 300L).map { i =>
      val lo = rnd.nextInt(10000).toLong
      val w = rnd.nextInt(400).toLong - 4 // some empty (negative width)
      (i,
        if (i % 41 == 0) null else java.lang.Long.valueOf(lo),
        if (i % 43 == 0) null else java.lang.Long.valueOf(lo + w))
    }.toDF("i_id", "lo", "hi")
    (pts, ivs)
  }

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("pure range join replans from nested-loop to bucketed equi-join; rows identical") {
    val (pts, ivs) = fixture
    def query = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("p_id", "i_id", "pt", "lo", "hi")
    val baseline = query.collect().map(_.toSeq).toSet
    assert(planString(query).contains("NestedLoop") ||
      planString(query).contains("Cartesian"),
      "fixture no longer plans as a nested-loop join — test is vacuous")
    withRule(Some("256")) {
      val got = query
      val plan = planString(got)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"rule did not remove the nested-loop join:\n$plan")
      assert(plan.contains("Generate"),
        "expected the bucket explode in the rewritten plan")
      assert(got.collect().map(_.toSeq).toSet == baseline,
        "rewritten join changed the result")
    }
  }

  test("strict bounds, flipped operand order, and point on the RIGHT side all rewrite") {
    val (pts, ivs) = fixture
    // lo < pt AND hi > pt, interval side as the LEFT input
    def query = ivs.join(pts, col("lo") < col("pt") && col("hi") > col("pt"))
      .select("i_id", "p_id")
    val baseline = query.collect().map(_.toSeq).toSet
    withRule(Some("100")) {
      val plan = planString(query)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"strict/flipped form not rewritten:\n$plan")
      assert(query.collect().map(_.toSeq).toSet == baseline)
    }
  }

  test("mixed numeric types (int point, double bounds) rewrite and stay exact") {
    import spark.implicits._
    val pts = (1 to 500).map(i => (i.toLong, i % 97)).toDF("p_id", "pt")
    val ivs = Seq((1L, 10.5, 20.5), (2L, 90.0, 96.0), (3L, 96.5, 3.0))
      .toDF("i_id", "lo", "hi") // third interval is empty (lo > hi)
    def q = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .groupBy("i_id").agg(count(lit(1)).as("n"))
    val baseline = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withRule(Some("7")) {
      assert(planString(q).contains("Generate"), "mixed types not rewritten")
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == baseline)
    }
  }

  test("rule is inert without the conf; invalid width fails loudly") {
    val (pts, ivs) = fixture
    def rangeOnly = pts.join(ivs,
      col("pt") >= col("lo") && col("pt") <= col("hi"))
    withRule(None) {
      assert(planString(rangeOnly).contains("NestedLoop") ||
        planString(rangeOnly).contains("Cartesian"),
        "rule fired without its conf")
    }
    // invalid width fails loudly at plan time
    withRule(Some("-5")) {
      val e = intercept[Exception] { rangeOnly.collect() }
      val msg = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msg.contains("positive finite"), msg)
    }
  }

  test("composite join: equi keys keep hash-joining, the bucket is " +
      "APPENDED as one more key; rows identical; reserved prefix skips") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // keyed interval fixture: (key, t) points vs (key, lo, hi)
    // intervals — only same-key, in-interval pairs qualify
    val pts = (1L to 600L).map { i =>
      (i, s"k${i % 7}", rnd.nextInt(1000).toLong)
    }.toDF("p_id", "pk", "pt")
    val ivs = (1L to 200L).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i, s"k${i % 7}", lo, lo + rnd.nextInt(60).toLong)
    }.toDF("i_id", "ik", "lo", "hi")
    def keyed = pts.join(ivs,
      col("pk") === col("ik") &&
        col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("p_id", "i_id")
    val baseline = keyed.collect().map(_.toSeq).toSet
    withRule(Some("64")) {
      val plan = planString(keyed)
      assert(plan.contains("Generate"),
        s"composite join was not rewritten:\n$plan")
      assert(plan.contains("__g_rj_b_"),
        "bucket key missing from the rewritten composite join")
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
      assert(keyed.collect().map(_.toSeq).toSet == baseline,
        "composite rewrite changed the result")
      // structural idempotency marker: a CROSS-SIDE predicate over a
      // reserved-prefix column stays in the join condition and
      // conservatively disables the rewrite (a single-side predicate
      // is pushed below the join before the rule sees it — the skip
      // exists to stop the rule re-bucketing its own output at the
      // optimizer's fixed point, and attribute binding is by exprId,
      // so a user name can't be captured either way)
      val marked = pts.withColumn("__g_rj_b_user", lit(1L))
      val q2 = marked.join(ivs,
        col("pk") === col("ik") && col("__g_rj_b_user") <= col("i_id") &&
          col("pt") >= col("lo") && col("pt") <= col("hi"))
      assert(!planString(q2).contains("Generate"),
        "reserved-prefix join-condition column did not disable the rewrite")
    }
  }

  test("fan-out cliff guard: a row spanning more buckets than maxFanout " +
      "fails fast with both conf keys named; under-cap rows still join") {
    import spark.implicits._
    val rule = RangeJoinRewrite(spark)
    val pts = Seq((1L, 3.0), (2L, 42.0)).toDF("p_id", "pt")
    def err(body: => Unit): String = {
      val e = intercept[Exception] { body }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    // DEFAULT cap (1e6): a micro bucket width over a width-5 interval
    // implies 5e6 buckets/row — the actionable raise, not Sequence's
    // opaque allocation error
    withRule(Some("0.000001")) {
      val ivs = Seq((10L, 0.0, 5.0)).toDF("i_id", "lo", "hi")
      val m = err(pts.join(ivs,
        col("pt") >= col("lo") && col("pt") <= col("hi")).collect())
      assert(m.contains(rule.FanoutKey) && m.contains("bucketWidth"), m)
    }
    withRule(Some("1")) {
      val ivs = Seq((10L, 0.0, 5.0), (11L, 40.0, 90.0))
        .toDF("i_id", "lo", "hi")
      def q = pts.join(ivs,
        col("pt") >= col("lo") && col("pt") <= col("hi"))
        .select("p_id", "i_id")
      // custom cap honored: the width-50 interval (51 buckets) trips
      // a cap of 10
      withConf(rule.FanoutKey -> "10") {
        assert(err(q.collect()).contains(rule.FanoutKey))
      }
      // generous cap: same query runs, rewritten, exact rows
      withConf(rule.FanoutKey -> "100") {
        assert(planString(q).contains("Generate"))
        assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          == Set((1L, 10L), (2L, 11L)))
      }
      // invalid cap refuses loudly at plan time
      withConf(rule.FanoutKey -> "0") {
        assert(err(q.collect()).contains(">= 1"))
      }
    }
  }

  test("temporal points/bounds rewrite: timestamps bucket on epoch " +
      "micros, dates on epoch days; rows identical; maxFanout applies") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // TIMESTAMP composite: keyed interval join on event times — the
    // as-of/sessionization shape the temporal support exists for
    val pts = (1L to 500L).map { i =>
      (i, s"k${i % 5}", rnd.nextInt(100000000).toLong)
    }.toDF("p_id", "pk", "t_us")
      .select(col("p_id"), col("pk"),
        expr("timestamp_micros(t_us)").as("pt"))
    val ivs = (1L to 150L).map { i =>
      val lo = rnd.nextInt(100000000).toLong
      (i, s"k${i % 5}", lo, lo + rnd.nextInt(4000000).toLong - 40000L)
    }.toDF("i_id", "ik", "lo_us", "hi_us")
      .select(col("i_id"), col("ik"),
        expr("timestamp_micros(lo_us)").as("lo"),
        expr("timestamp_micros(hi_us)").as("hi"))
    def keyed = pts.join(ivs,
      col("pk") === col("ik") &&
        col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("p_id", "i_id")
    val baseline = keyed.collect().map(_.toSeq).toSet
    assert(baseline.nonEmpty, "temporal fixture matched nothing")
    // width = 1 s expressed in MICROS (the timestamp bucket unit)
    withRule(Some("1000000")) {
      val plan = planString(keyed)
      assert(plan.contains("Generate") && plan.contains("__g_rj_b_"),
        s"timestamp interval join was not rewritten:\n$plan")
      assert(keyed.collect().map(_.toSeq).toSet == baseline,
        "timestamp rewrite changed the result")
    }
    // pure (unkeyed) DATE form: bucket unit is DAYS
    val dpts = (1L to 300L).map(i => (i, rnd.nextInt(3000)))
      .toDF("p_id", "off")
      .select(col("p_id"),
        expr("date_add(DATE'2016-01-01', off)").as("pt"))
    val divs = (1L to 80L).map { i =>
      val lo = rnd.nextInt(3000)
      (i, lo, lo + rnd.nextInt(90) - 1)
    }.toDF("i_id", "lo_d", "hi_d")
      .select(col("i_id"),
        expr("date_add(DATE'2016-01-01', lo_d)").as("lo"),
        expr("date_add(DATE'2016-01-01', hi_d)").as("hi"))
    def dq = dpts.join(divs,
      col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("p_id", "i_id")
    val dBase = dq.collect().map(_.toSeq).toSet
    assert(dBase.nonEmpty, "date fixture matched nothing")
    assert(planString(dq).contains("NestedLoop") ||
      planString(dq).contains("Cartesian"),
      "date fixture no longer plans as a nested loop — test is vacuous")
    withRule(Some("7")) { // weekly buckets, in DAYS
      val plan = planString(dq)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian")
        && plan.contains("Generate"),
        s"date interval join was not rewritten:\n$plan")
      assert(dq.collect().map(_.toSeq).toSet == dBase,
        "date rewrite changed the result")
    }
    // maxFanout interacts with the temporal normalization: a 1-micro
    // bucket width over multi-second timestamp intervals trips the
    // default cap with the actionable message, not Sequence's cliff
    withRule(Some("1")) {
      val e = intercept[Exception] { keyed.collect() }
      val m = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(m.contains("maxFanout") && m.contains("bucketWidth"), m)
    }
  }

  test("non-inner joins rewrite when the bound side is non-preserved: " +
      "left outer/semi/anti with point on the left, right outer " +
      "mirrored; preserved-side-explosion orientations stay inert") {
    val (pts, ivs) = fixture
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
    val condLR = col("pt") >= col("lo") && col("pt") <= col("hi")
    def check(name: String, q: => DataFrame, expectRewrite: Boolean): Unit = {
      val baseline = rows(q)
      withRule(Some("128")) {
        val plan = planString(q)
        if (expectRewrite) {
          assert(plan.contains("Generate") && !plan.contains("NestedLoop")
              && !plan.contains("Cartesian"),
            s"$name was not rewritten:\n$plan")
        } else {
          assert(!plan.contains("__g_rj_b_"),
            s"$name was rewritten despite a preserved exploded side:\n$plan")
        }
        assert(rows(q) == baseline, s"$name changed rows under the rule")
      }
    }
    // point on the LEFT: outer/semi/anti all rewrite, rows identical
    check("left outer (pt left)",
      pts.join(ivs, condLR, "left_outer"), expectRewrite = true)
    check("left semi (pt left)",
      pts.join(ivs, condLR, "left_semi"), expectRewrite = true)
    check("left anti (pt left)",
      pts.join(ivs, condLR, "left_anti"), expectRewrite = true)
    // point on the RIGHT: right outer rewrites (preserved side = the
    // point side), left outer must NOT (the exploded bound side would
    // be preserved and unmatched intervals would multiply)
    check("right outer (pt right)",
      ivs.join(pts, condLR, "right_outer"), expectRewrite = true)
    check("left outer (pt right)",
      ivs.join(pts, condLR, "left_outer"), expectRewrite = false)
    check("full outer",
      pts.join(ivs, condLR, "full_outer"), expectRewrite = false)
    // the left-outer unmatched mass is real in this fixture — the
    // null-extension semantics are exercised, not vacuous
    withRule(Some("128")) {
      val unmatched = pts.join(ivs, condLR, "left_outer")
        .filter(col("i_id").isNull).count()
      assert(unmatched > 0, "no unmatched point rows — fixture vacuous")
    }
  }

  test("dual-orientation condition: the rule selects the REWRITABLE " +
      "triple, not merely the first (left outer, right-sided range " +
      "listed first)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val pts = (1L to 300L).map { i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(50).toLong,
        50L + rnd.nextInt(50).toLong)
    }.toDF("p_id", "pt", "plo", "phi")
    val ivs = (1L to 100L).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i, lo, lo + rnd.nextInt(80).toLong, rnd.nextInt(120).toLong)
    }.toDF("i_id", "lo", "hi", "iy")
    // the FIRST range constraint has its point on the RIGHT (iy) —
    // unsound to explode for a left outer join — the second has it on
    // the LEFT (pt): the rule must pick the second, not give up
    def q = pts.join(ivs,
      col("iy") >= col("plo") && col("iy") <= col("phi") &&
        col("pt") >= col("lo") && col("pt") <= col("hi"),
      "left_outer")
      .select("p_id", "i_id")
    val baseline = q.collect().map(_.toSeq.toVector: Seq[Any]).toSet
    withRule(Some("64")) {
      val plan = planString(q)
      assert(plan.contains("Generate") && !plan.contains("NestedLoop")
          && !plan.contains("Cartesian"),
        s"dual-orientation left outer did not rewrite via the " +
          s"left-sided triple:\n$plan")
      assert(q.collect().map(_.toSeq.toVector: Seq[Any]).toSet == baseline,
        "dual-orientation rewrite changed the result")
    }
  }

  test("dual-INTERVAL condition: exactly one interval earns the bucket " +
      "key, the other stays a verbatim post-join predicate; rows " +
      "identical in both shapes") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // two same-side intervals: both points on the LEFT, both bound
    // pairs on the RIGHT
    val pts = (1L to 300L).map { i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)
    }.toDF("p_id", "x1", "x2")
    val ivs = (1L to 100L).map { i =>
      val lo1 = rnd.nextInt(1000).toLong
      val lo2 = rnd.nextInt(1000).toLong
      (i, lo1, lo1 + rnd.nextInt(120).toLong,
        lo2, lo2 + rnd.nextInt(400).toLong)
    }.toDF("i_id", "lo1", "hi1", "lo2", "hi2")
    def q = pts.join(ivs,
      col("x1") >= col("lo1") && col("x1") <= col("hi1") &&
        col("x2") >= col("lo2") && col("x2") <= col("hi2"))
      .select("p_id", "i_id")
    val baseline = q.collect().map(_.toSeq).toSet
    assert(baseline.nonEmpty, "dual-interval fixture selects nothing")
    withRule(Some("64")) {
      val plan = planString(q)
      assert(plan.contains("Generate") && !plan.contains("NestedLoop")
          && !plan.contains("Cartesian"),
        s"dual-interval join did not rewrite:\n$plan")
      // exactly ONE bucket fan-out: the second interval must NOT add
      // a second Generate (fanout would multiply), it survives as a
      // plain predicate in the join condition
      assert(plan.linesIterator.count(_.contains("Generate")) == 1,
        s"expected exactly one bucket Generate:\n$plan")
      assert(q.collect().map(_.toSeq).toSet == baseline,
        "dual-interval rewrite changed the result")
    }
    // one interval per orientation on an INNER join: either triple is
    // sound; one wins the bucket, the other filters post-join
    val pts2 = (1L to 300L).map { i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(100).toLong,
        100L + rnd.nextInt(100).toLong)
    }.toDF("p_id", "pt", "plo", "phi")
    val ivs2 = (1L to 100L).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (i, lo, lo + rnd.nextInt(120).toLong, rnd.nextInt(250).toLong)
    }.toDF("i_id", "lo", "hi", "iy")
    def q2 = pts2.join(ivs2,
      col("pt") >= col("lo") && col("pt") <= col("hi") &&
        col("iy") >= col("plo") && col("iy") <= col("phi"))
      .select("p_id", "i_id")
    val baseline2 = q2.collect().map(_.toSeq).toSet
    assert(baseline2.nonEmpty, "dual-orientation fixture selects nothing")
    withRule(Some("64")) {
      val plan = planString(q2)
      assert(plan.contains("Generate") &&
        plan.linesIterator.count(_.contains("Generate")) == 1 &&
        !plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"dual-orientation inner join did not single-bucket rewrite:\n$plan")
      assert(q2.collect().map(_.toSeq).toSet == baseline2,
        "dual-orientation inner rewrite changed the result")
    }
  }

  test("GraftExtensions wires the SQL surface and the rule into a fresh session") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = graft.Sessions.localBuilder("graft-test-extensions", "4")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      // the injected function surface answers without registerAll
      assert(s2.sql("SELECT g_clean_text('  a   b ') AS t")
        .head().getString(0) == "a b")
      assert(s2.sql("SELECT simhash64(array('x','y'))").head().get(0) != null)
      // the injected optimizer rule fires under its conf
      import s2.implicits._
      val pts = Seq((1L, 5L), (2L, 50L)).toDF("p_id", "pt")
      val ivs = Seq((10L, 0L, 10L)).toDF("i_id", "lo", "hi")
      s2.conf.set("spark.graft.rangeJoin.bucketWidth", "8")
      try {
        val q = pts.join(ivs,
          col("pt") >= col("lo") && col("pt") <= col("hi"))
        assert(q.queryExecution.executedPlan.toString.contains("Generate"),
          "extension-injected rule did not fire")
        assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
      } finally s2.conf.unset("spark.graft.rangeJoin.bucketWidth")
      // the injected H3 filter rule fires under ITS conf
      s2.conf.set("spark.graft.h3Filter.res", "8")
      try {
        import graft.functions.GFunctions._
        val wkb = graft.spatial.Geometry.toWkb(graft.spatial.Geometry
          .fromWkt("POLYGON ((561000 6449000, 565000 6449000, " +
            "565000 6453000, 561000 6453000, 561000 6449000))"))
        val idx = Seq((1L, "POLYGON ((562000 6450000, 562400 6450000, " +
            "562400 6450400, 562000 6450400, 562000 6450000))"))
          .toDF("id", "wkt")
          .withColumn("h3_cell",
            explode(g_h3_polygon_cells_l(st_geomfromtext(col("wkt")), lit(9))))
          .select(col("id"), col("h3_cell"),
            g_h3_cell_to_geom(col("h3_cell")).as("geom"))
        val q2 = idx.filter(st_intersects(col("geom"), lit(wkb)))
          .select("id").distinct()
        assert(q2.queryExecution.executedPlan.toString.contains("__g_h3f_"),
          "extension-injected H3 filter rule did not fire")
        assert(q2.collect().map(_.getLong(0)).toSeq == Seq(1L))
        // pure SQL-STRING users get the same rewrite: the injected
        // function surface parses st_intersects/st_geomfromtext and
        // the injected rule replans the resulting filter
        idx.createOrReplaceTempView("g_idx_wiring")
        val sqlQ = s2.sql(
          "SELECT DISTINCT id FROM g_idx_wiring WHERE st_intersects(" +
            "geom, st_geomfromtext('POLYGON ((561000 6449000, " +
            "565000 6449000, 565000 6453000, 561000 6453000, " +
            "561000 6449000))'))")
        assert(sqlQ.queryExecution.executedPlan.toString.contains("__g_h3f_"),
          "H3 filter rule did not fire on a SQL-string query")
        assert(sqlQ.collect().map(_.getLong(0)).toSeq == Seq(1L))
      } finally s2.conf.unset("spark.graft.h3Filter.res")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
