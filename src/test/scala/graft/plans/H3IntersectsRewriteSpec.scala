package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.GFunctions._
import graft.h3.H3Core
import graft.pipeline.PreparedPolygonQuery
import graft.spatial.{Crs, Geometry, Poly, Pt}

class H3IntersectsRewriteSpec extends SparkSuite {

  private def withRule[T](res: Option[String])(f: => T): T = {
    val rule = H3IntersectsRewrite(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ rule
    try withConf(res.map(rule.ConfKey -> _).toSeq: _*)(f)
    finally spark.experimental.extraOptimizations = prev
  }

  // a mart-h3_index-shaped relation: SWEREF rectangles polyfilled at
  // res 9, exploded, geom = the CELL's geometry (Stages.martH3Derived)
  private def cellIndex: DataFrame = {
    import spark.implicits._
    val objs = (1L to 80L).map { i =>
      val x0 = (i % 12) * 1500 + 560000
      val y0 = (i / 12) * 1500 + 6448000
      (i, s"POLYGON (($x0 $y0, ${x0 + 1200} $y0, ${x0 + 1200} ${y0 + 1200}, " +
        s"$x0 ${y0 + 1200}, $x0 $y0))")
    }.toDF("id", "wkt")
    objs
      .withColumn("h3_cell",
        explode(g_h3_polygon_cells_l(st_geomfromtext(col("wkt")), lit(9))))
      .select(col("id"), col("h3_cell"),
        g_h3_cell_to_geom(col("h3_cell")).as("geom"))
  }

  // a query rectangle whose boundary cuts through the object field
  private val queryWkt =
    "POLYGON ((561000 6449000, 570700 6449000, 570700 6455300, " +
      "561000 6455300, 561000 6449000))"
  private val queryWkb = Geometry.toWkb(Geometry.fromWkt(queryWkt))

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("covering cell set catches every intersecting cell, incl. finer-res ancestors") {
    val poly = Geometry.fromWkt(queryWkt)
    val cover = graft.h3.H3Cover.coveringCellIds(poly, 8).toSet
    // candidate enumeration: center polyfill of the query bbox expanded
    // well past any intersecting cell's center (3 km >> res-8 reach)
    val bbox = "POLYGON ((558000 6446000, 573700 6446000, 573700 6458300, " +
      "558000 6458300, 558000 6446000))"
    def cellPolySweref(c: Long): Poly = {
      val b = H3Core.cellToBoundary(c).map { case (lat, lng) =>
        val (e, n) = Crs.wgs84ToSweref(lat, lng)
        Pt(e, n)
      }
      Poly(Array(b :+ b(0)))
    }
    var checkedDirect = 0
    PreparedPolygonQuery.cellIds(bbox, 8).foreach { c =>
      if (Geometry.intersects(cellPolySweref(c), poly)) {
        checkedDirect += 1
        assert(cover.contains(c), s"res-8 cell $c intersects but not covered")
      }
    }
    assert(checkedDirect > 50, "bbox sweep found too few intersecting cells")
    // boundary-straddling evidence: the covering is strictly more than
    // the center polyfill (otherwise the whole construction is vacuous)
    val centers = PreparedPolygonQuery.cellIds(queryWkt, 8).toSet
    assert((cover -- centers).nonEmpty, "covering == center polyfill — vacuous")
    var checkedChild = 0
    PreparedPolygonQuery.cellIds(bbox, 9).foreach { c =>
      if (Geometry.intersects(cellPolySweref(c), poly)) {
        checkedChild += 1
        assert(cover.contains(H3Core.cellToParent(c, 8)),
          s"res-9 cell $c intersects but its parent is not covered")
      }
    }
    assert(checkedChild > 100, "bbox sweep found too few res-9 cells")
  }

  test("rewrite fires and returns byte-identical rows to the full-scan filter") {
    val idx = cellIndex.cache()
    try {
      def query = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id", "h3_cell")
      val baseline = query.collect().map(_.toSeq).toSet
      assert(baseline.nonEmpty, "fixture selects nothing — vacuous")
      // non-vacuity of the covering: some kept rows have a parent the
      // CENTER polyfill misses (boundary-straddling cells) — a naive
      // polyfill prefilter would drop them and the equality would fail
      val centers = PreparedPolygonQuery.cellIds(queryWkt, 8).toSet
      val straddlers = query.select("h3_cell").collect().map(_.getLong(0))
        .count(c => !centers.contains(H3Core.cellToParent(c, 8)))
      assert(straddlers > 0,
        "no boundary-straddling matches — the lossless claim is untested")
      withRule(Some("8")) {
        val plan = planString(query)
        assert(plan.contains("__g_h3f_key"), s"rule did not fire:\n$plan")
        assert(plan.contains("BroadcastHashJoin"),
          s"prefilter join is not a broadcast hash join:\n$plan")
        assert(query.collect().map(_.toSeq).toSet === baseline)
      }
    } finally idx.unpersist()
  }

  test("plan-time-constant polygon (st_geomfromtext of a literal) rewrites too") {
    val idx = cellIndex
    def query = idx.filter(
      st_intersects(col("geom"), st_geomfromtext(lit(queryWkt))))
      .select("id", "h3_cell")
    val baseline = query.collect().map(_.toSeq).toSet
    withRule(Some("8")) {
      assert(planString(query).contains("__g_h3f_key"))
      assert(query.collect().map(_.toSeq).toSet === baseline)
    }
  }

  test("composite condition keeps the residual conjunct; rows identical") {
    val idx = cellIndex
    def query = idx.filter(
      st_intersects(col("geom"), lit(queryWkb)) && col("id") % 3 === 0)
      .select("id", "h3_cell")
    val baseline = query.collect().map(_.toSeq).toSet
    assert(baseline.nonEmpty)
    withRule(Some("8")) {
      assert(planString(query).contains("__g_h3f_key"))
      assert(query.collect().map(_.toSeq).toSet === baseline)
    }
  }

  test("inert without the conf, without an H3 column, and on non-rewritable polygons") {
    import spark.implicits._
    val idx = cellIndex
    val q1 = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
    withRule(None) {
      assert(!planString(q1).contains("__g_h3f_"),
        "rule fired without its opt-in conf")
    }
    withRule(Some("8")) {
      // no h3 cell column anywhere in the lineage (a rename above the
      // index does NOT hide the column — pushdown re-exposes it, which
      // is correct; only a relation truly lacking the key is inert)
      val noKey = Seq((1L, Geometry.toWkb(Geometry.fromWkt(
        "POLYGON ((561000 6449000, 561400 6449000, 561400 6449400, " +
          "561000 6449400, 561000 6449000))"))))
        .toDF("id", "geom")
        .filter(st_intersects(col("geom"), lit(queryWkb)))
      assert(!planString(noKey).contains("__g_h3f_"))
      // hex-string cell key is not the long-keyed contract
      val hexKey = cellIndex
        .select(col("id"), h3_hex(col("h3_cell")).as("h3_cell"), col("geom"))
        .localCheckpoint(true)
        .filter(st_intersects(col("geom"), lit(queryWkb)))
      assert(!planString(hexKey).contains("__g_h3f_"))
      // both st_intersects sides reference the relation — no literal
      val nonLit = idx.withColumn("geom2", col("geom"))
        .filter(st_intersects(col("geom"), col("geom2")))
      assert(!planString(nonLit).contains("__g_h3f_"))
      // a POINT literal rewrites too (r17: any-type literals through
      // H3Cover's covering; all candidates refined) — rows identical
      def pointLit = idx.filter(st_intersects(col("geom"),
        lit(Geometry.toWkb(Pt(562000, 6448500)))))
        .select("id", "h3_cell")
      val basePt = pointLit.collect().map(_.toSeq).toSet
      assert(basePt.nonEmpty, "point-literal fixture selects nothing")
      assert(planString(pointLit).contains("__g_h3f_"),
        "point-literal st_intersects did not rewrite")
      assert(pointLit.collect().map(_.toSeq).toSet === basePt)
    }
  }

  test("ST_DWithin FILTER shape (st_distance <= d, any operand order) " +
      "rewrites with the buffer widening the covering; rows identical; " +
      "non-constant thresholds stay inert") {
    val idx = cellIndex.cache()
    try {
      val pt = Geometry.toWkb(Pt(565500, 6451500))
      def q(d: Double) = idx
        .filter(st_distance(col("geom"), lit(pt)) <= d)
        .select("id", "h3_cell")
      val base = q(900.0).collect().map(_.toSeq).toSet
      assert(base.nonEmpty, "distance fixture selects nothing — vacuous")
      // the buffer is LOAD-BEARING: within-900m rows that do NOT
      // contain the point exist (a pure point-intersects covering
      // would drop them)
      val touching = idx.filter(st_intersects(col("geom"), lit(pt)))
        .select("id", "h3_cell").collect().map(_.toSeq).toSet
      assert((base -- touching).nonEmpty,
        "no within-distance non-intersecting rows — buffer untested")
      withRule(Some("8")) {
        val plan = planString(q(900.0))
        assert(plan.contains("__g_h3f_key"),
          s"distance filter did not rewrite:\n$plan")
        assert(q(900.0).collect().map(_.toSeq).toSet === base)
        // reversed operand order (d >= st_distance) and strict <
        val rev = idx
          .filter(lit(900.0) >= st_distance(col("geom"), lit(pt)))
          .select("id", "h3_cell")
        assert(planString(rev).contains("__g_h3f_key"))
        assert(rev.collect().map(_.toSeq).toSet === base)
        val strict = idx
          .filter(st_distance(col("geom"), lit(pt)) < 900.0)
          .select("id", "h3_cell")
        assert(planString(strict).contains("__g_h3f_key"))
        // a NON-CONSTANT threshold stays inert (the covering cannot
        // be sized at plan time)
        val varThresh = idx.filter(
          st_distance(col("geom"), lit(pt)) <= col("id").cast("double"))
        assert(!planString(varThresh).contains("__g_h3f_"),
          "variable-threshold distance filter must not rewrite")
        // NON-FINITE thresholds stay inert too — a NaN/Infinity buffer
        // reaching the covering enumeration would hang/explode where
        // the unrewritten predicate is just a constant
        Seq(Double.NaN, Double.PositiveInfinity).foreach { d =>
          val bad = idx.filter(st_distance(col("geom"), lit(pt)) <= d)
          assert(!planString(bad).contains("__g_h3f_"),
            s"non-finite threshold $d must not rewrite")
        }
      }
    } finally idx.unpersist()
  }

  test("non-positive distance thresholds NEVER take the interior-proof " +
      "fast path: st_distance(g, polyLit) < 0 returns EMPTY under the " +
      "rule exactly like the unrewritten constant-false filter, and " +
      "<= 0.0 stays row-identical (r17 ADVICE, medium)") {
    import org.apache.spark.sql.Column
    val idx = cellIndex.cache()
    try {
      val polyLit = lit(queryWkb)
      def q(cond: Column) = idx.filter(cond).select("id", "h3_cell")
      // unrewritten truths: st_distance >= 0 always, so strict-<0 and
      // negative thresholds select NOTHING; <= 0.0 selects exactly the
      // intersecting rows (distance 0)
      val negShapes: Seq[Column] = Seq(
        st_distance(col("geom"), polyLit) < 0.0,
        st_distance(col("geom"), polyLit) <= -5.0,
        lit(-1.0) >= st_distance(col("geom"), polyLit))
      negShapes.foreach(c =>
        assert(q(c).collect().isEmpty, "unrewritten negative-threshold " +
          "filter selected rows — fixture broken"))
      val baseZero = q(st_distance(col("geom"), polyLit) <= 0.0)
        .collect().map(_.toSeq).toSet
      assert(baseZero.nonEmpty, "<= 0.0 fixture selects nothing — vacuous")
      withRule(Some("8")) {
        negShapes.foreach { c =>
          val r = q(c)
          // the shape still rewrites (the buffer clamps to 0) — but the
          // interior-proof skip must NOT apply: before the r17 fix,
          // provably-interior cells bypassed the constant-false verbatim
          // predicate and the rewrite RETURNED rows here
          assert(planString(r).contains("__g_h3f_key"),
            s"negative-threshold distance filter did not rewrite")
          assert(r.collect().isEmpty,
            "rewritten negative-threshold filter returned rows — the " +
              "interior-proof fast path leaked past the constant-false " +
              "predicate")
        }
        val z = q(st_distance(col("geom"), polyLit) <= 0.0)
        assert(planString(z).contains("__g_h3f_key"))
        assert(z.collect().map(_.toSeq).toSet === baseZero,
          "<= 0.0 distance filter diverged from the unrewritten rows")
      }
    } finally idx.unpersist()
  }

  test("res=auto + column pruning: a select that strips BOTH the stored " +
      "parent and the cell column still rewrites — the key threads up " +
      "through the pruned Project to the relation's h3_parent_8, and " +
      "the sargable range prefilter reaches the parquet scan " +
      "(r17 ADVICE low)") {
    val dir = java.nio.file.Files.createTempDirectory("h3f_thread").toString
    try {
      cellIndex
        .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
        .write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      // the select keeps NEITHER h3_parent_8 nor h3_cell: column
      // pruning strips both from the Filter child's Project, which
      // made the pre-r18 rule infer res=8 and then silently fail to
      // key it (rewrite inert, no warning — a missed optimization)
      def q = stored.filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id")
      val base = q.collect().map(_.toSeq).toSet
      assert(base.nonEmpty, "pruned fixture selects nothing — vacuous")
      Seq("auto", "8").foreach { conf =>
        withRule(Some(conf)) {
          val plan = planString(q)
          assert(plan.contains("__g_h3f_key"),
            s"res=$conf did not rewrite the pruned-projection filter:\n$plan")
          assert("h3_parent_8#\\d+L AS __g_h3f_key".r
            .findFirstIn(plan).isDefined,
            s"res=$conf did not thread the STORED parent column:\n$plan")
          assert("GreaterThanOrEqual\\(h3_parent_8".r
            .findFirstIn(plan).isDefined,
            s"range prefilter did not reach the parquet scan as a " +
              s"pushed filter:\n$plan")
          assert(q.collect().map(_.toSeq).toSet === base,
            s"res=$conf threaded rewrite changed the rows")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("the ST_DWithin FILTER shape applies to STREAMING plans too: a " +
      "readStream radius filter becomes the stream-static broadcast " +
      "prefilter widened by the threshold, rows == batch (r17 Next #3)") {
    val dir = java.nio.file.Files.createTempDirectory("h3f_dw_stream").toString
    try {
      val pt = Geometry.toWkb(Pt(565500, 6451500))
      cellIndex.repartition(3).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      def cond = st_distance(col("geom"), lit(pt)) <= 1200.0
      val expected = stored.filter(cond).select("id", "h3_cell")
        .collect().map(_.toSeq).toSet
      assert(expected.nonEmpty, "streaming DWithin fixture selects nothing")
      // the buffer is load-bearing in the streaming arm too
      val touching = stored.filter(st_intersects(col("geom"), lit(pt)))
        .select("id", "h3_cell").collect().map(_.toSeq).toSet
      assert((expected -- touching).nonEmpty,
        "no within-distance non-intersecting rows — buffer untested")
      withRule(Some("8")) {
        val stream = spark.readStream.schema(stored.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .filter(cond)
          .select("id", "h3_cell")
        val q = stream.writeStream.outputMode("append").format("memory")
          .queryName("h3f_dw_stream").start()
        try q.processAllAvailable() finally q.stop()
        val explained = {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos))(q.explain())
          bos.toString
        }
        assert(explained.contains("__g_h3f_"),
          s"DWithin filter did not rewrite inside the streaming " +
            s"micro-batch:\n$explained")
        val got = spark.table("h3f_dw_stream").collect().map(_.toSeq).toSet
        assert(got === expected, "streamed DWithin filter != batch filter")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("warnOnce: one emission per (session, key); a new key or a new " +
      "session re-warns (r17 Next #4 — the rules' advisory warnings " +
      "fire per optimization pass without it)") {
    var emissions = 0
    val key = s"spec-warnonce-${System.nanoTime()}"
    assert(H3RuleSupport.warnOnce(spark, key) { emissions += 1 })
    assert(!H3RuleSupport.warnOnce(spark, key) { emissions += 1 })
    assert(!H3RuleSupport.warnOnce(spark, key) { emissions += 1 })
    assert(emissions == 1, s"warnOnce emitted $emissions times for one key")
    assert(H3RuleSupport.hasWarned(spark, key))
    assert(H3RuleSupport.warnOnce(spark, key + "-other") { emissions += 1 })
    assert(emissions == 2)
    val s2 = spark.newSession()
    assert(!H3RuleSupport.hasWarned(s2, key))
    assert(H3RuleSupport.warnOnce(s2, key) { emissions += 1 })
    assert(emissions == 3, "a fresh session must be allowed to re-warn")
  }

  test("broadcast-size guard COARSENS instead of going inert (r18): an " +
      "over-cap covering prefilters at the finest coarser res that " +
      "fits — rows identical, broadcast bounded — and only a cap below " +
      "even the res-0 covering leaves the filter unrewritten") {
    val idx = cellIndex.cache()
    try {
      def query = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id", "h3_cell")
      val baseline = query.collect().map(_.toSeq).toSet
      assert(baseline.nonEmpty)
      // fixture sanity: the res-8 covering of queryWkt is well over
      // 100 cells (the pre-r18 guard went inert here and the full
      // scan ran), and SOME coarser res fits 100 — the guard has
      // somewhere sound to land
      assert(graft.h3.H3Cover.coveringCellIds(
        Geometry.fromWkt(queryWkt), 8).length > 100,
        "fixture covering too small — the coarsening path is untested")
      assert((0 until 8).exists(q => graft.h3.H3Cover
        .coveringCellIds(Geometry.fromWkt(queryWkt), q).length <= 100),
        "no coarser res fits the cap — fixture broken")
      withRule(Some("8")) {
        withConf("spark.graft.h3Filter.maxCells" -> "100") {
          val plan = planString(query)
          assert(plan.contains("__g_h3f_"),
            s"over-cap covering went inert instead of coarsening:\n$plan")
          assert(query.collect().map(_.toSeq).toSet === baseline,
            "coarsened prefilter changed the rows")
          // the degradation warned (once per session), naming the res
          // it landed on — the landing res depends on the bbox
          // estimate, so accept any coarser res in the key
          val rule = H3IntersectsRewrite(spark)
          assert((0 until 8).exists(q => H3RuleSupport.hasWarned(spark,
            s"${rule.ConfKey}-coarsened-8-$q")),
            "coarsening did not warn")
        }
        // a cap below the ~20-cell corridor FLOOR (the 2.5-spacing
        // boundary corridor bounds every covering from below at any
        // res) is unreachable at every res — the guard stays inert,
        // bounding the broadcast absolutely
        withConf("spark.graft.h3Filter.maxCells" -> "10") {
          assert(!planString(query).contains("__g_h3f_"),
            "a cap below the corridor floor must leave the filter " +
              "unrewritten at every res")
        }
        assert(planString(query).contains("__g_h3f_"),
          "rule did not fire after the cap was lifted")
      }
    } finally idx.unpersist()
  }

  test("keyOf rank ordering (r18): an exact h3_cell key beats the " +
      "finer-parent fallback; the fallback keys a coarser res from the " +
      "COARSEST stored finer parent and never keys a finer res") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    val cell = AttributeReference("h3_cell", LongType)()
    val p9 = AttributeReference("h3_parent_9", LongType)()
    val p10 = AttributeReference("h3_parent_10", LongType)()
    // both present at res 7: exact h3_cell math (rank 1) wins over the
    // finer-parent fallback (rank 2, lossy on contract-violating rows)
    val k1 = H3RuleSupport.keyOf(Seq(cell, p9), 7)
    assert(k1.exists(_._2 == 1) &&
      k1.exists(_._1.references.head.name == "h3_cell"))
    // only a finer parent: rank-2 fallback keys res 7 from h3_parent_9
    val k2 = H3RuleSupport.keyOf(Seq(p9), 7)
    assert(k2.exists(_._2 == 2))
    // multiple finer parents: the COARSEST q wins (fewest NULL rows on
    // a mixed-res layout)
    val k3 = H3RuleSupport.keyOf(Seq(p10, p9), 7)
    assert(k3.exists(_._1.references.head.name == "h3_parent_9"))
    // a stored parent never keys a FINER res (no descendant math exists)
    assert(H3RuleSupport.keyOf(Seq(p9), 10).isEmpty)
    // exact stored match still rank 0
    assert(H3RuleSupport.keyOf(Seq(p9, cell), 9).exists(_._2 == 0))
  }

  test("a parent-only relation (no h3_cell) keys a COARSER pinned res " +
      "via the finer-parent fallback: rewrite fires, rows identical, " +
      "and the layout-contract warning is emitted (r18)") {
    val idx = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .drop("h3_cell")
      .localCheckpoint(true)
    def query = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
      .select("id")
    val base = query.collect().map(_.toSeq).toSet
    assert(base.nonEmpty)
    withRule(Some("6")) {
      val plan = planString(query)
      assert(plan.contains("__g_h3f_key"),
        s"parent-only relation did not key the coarser pinned res:\n$plan")
      assert(query.collect().map(_.toSeq).toSet === base,
        "finer-parent-keyed rewrite changed the rows")
      val rule = H3IntersectsRewrite(spark)
      assert(H3RuleSupport.hasWarned(spark, s"${rule.ConfKey}-finerparent-6"),
        "rank-2 fallback did not emit the layout-contract warning")
    }
  }

  test("the rewrite applies to STREAMING plans: a readStream spatial " +
      "filter becomes the stream-static broadcast prefilter, rows == batch") {
    val dir = java.nio.file.Files.createTempDirectory("h3f_stream").toString
    try {
      val batchIdx = cellIndex
      batchIdx.repartition(3).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val expected = stored
        .filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id", "h3_cell")
        .collect().map(_.toSeq).toSet
      assert(expected.nonEmpty)
      withRule(Some("8")) {
        val stream = spark.readStream.schema(stored.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .filter(st_intersects(col("geom"), lit(queryWkb)))
          .select("id", "h3_cell")
        val q = stream.writeStream.outputMode("append").format("memory")
          .queryName("h3f_stream").start()
        try q.processAllAvailable() finally q.stop()
        // the micro-batch plans went through the same optimizer: the
        // rewrite fired (explain of the last executed batch) and the
        // appended rows equal the batch filter's
        val explained = {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos))(q.explain())
          bos.toString
        }
        assert(explained.contains("__g_h3f_"),
          s"rule did not fire inside the streaming micro-batch:\n$explained")
        val got = spark.table("h3f_stream").collect().map(_.toSeq).toSet
        assert(got === expected, "streamed spatial filter != batch filter")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("SAME-RELATION guard: a filter above a join pairing table A's " +
      "geometry with table B's cell key stays UNREWRITTEN; a key and " +
      "geometry from ONE side still rewrite") {
    import spark.implicits._
    // the reported gap shape (r16 ADVICE, medium): geom from A,
    // h3_cell from B — the rule applied directly to the analyzed plan
    // (pushdown would move a one-sided filter below the join before
    // the rule runs in a full optimizer pass; the guard must hold
    // wherever the shape reaches it)
    val a = cellIndex.select(col("id"), col("geom"))
    val b = cellIndex.select(col("id").as("bid"), col("h3_cell"))
    val rule = H3IntersectsRewrite(spark)
    withConf(rule.ConfKey -> "8") {
      val cross = a.join(b, col("id") === col("bid"))
        .filter(st_intersects(col("geom"), lit(queryWkb)))
      val out = rule.apply(cross.queryExecution.analyzed)
      assert(!out.toString.contains("__g_h3f_"),
        s"rule paired table B's key with table A's geometry:\n$out")
      // positive control: key AND geometry both from the RIGHT side of
      // a join — lineage traces to one side, the rewrite still fires
      val meta = Seq((1L, "x")).toDF("mid", "tag")
      val sameSide = meta.join(cellIndex, col("mid") <= col("id"))
        .filter(st_intersects(col("geom"), lit(queryWkb)))
      val out2 = rule.apply(sameSide.queryExecution.analyzed)
      assert(out2.toString.contains("__g_h3f_"),
        s"guard over-blocked a same-relation filter above a join:\n$out2")
    }
  }

  test("res=auto infers from the single stored h3_parent_<res> column; " +
      "MULTIPLE stored parents key the FINEST with a warning (r19 — the " +
      "recommended coarse-ancestor layout must not be rule-disabling); " +
      "absent stays inert; a pinned res still overrides") {
    // cached so the parent columns are RELATION columns — auto infers
    // from the index's STORED layout; a derived withColumn alias is
    // (correctly) pruned away when unused and names nothing
    val idx1 = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .cache()
    val idx2 = idx1.withColumn("h3_parent_7",
      h3_cell_to_parent(col("h3_cell"), lit(7))).cache()
    try {
      def q1 = idx1.filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id", "h3_cell")
      val baseline = q1.collect().map(_.toSeq).toSet
      withRule(Some("auto")) {
        val plan = planString(q1)
        assert(plan.contains("__g_h3f_key"),
          s"auto did not infer res 8 from the stored parent column:\n$plan")
        assert(q1.collect().map(_.toSeq).toSet === baseline)
        // multiple stored parents (h3_parent_{7,8}): pre-r19 this was
        // "ambiguous, inert" — which turned the recommended multi-
        // ancestor layout into a rule-disabling one. Now the FINEST
        // (8, the tightest sound prefilter) keys, rank 0, warned once.
        def q2 = idx2.filter(st_intersects(col("geom"), lit(queryWkb)))
          .select("id", "h3_cell")
        val base2 = q2.collect().map(_.toSeq).toSet
        val plan2 = planString(q2)
        assert(plan2.contains("__g_h3f_key"),
          s"auto went inert on a multi-parent relation:\n$plan2")
        assert("h3_parent_8#\\d+L AS __g_h3f_key".r
          .findFirstIn(plan2).isDefined,
          s"auto did not key the FINEST stored parent:\n$plan2")
        assert(q2.collect().map(_.toSeq).toSet === base2,
          "finest-parent auto rewrite changed the rows")
        val rule = H3IntersectsRewrite(spark)
        assert(H3RuleSupport.hasWarned(spark,
          s"${rule.ConfKey}-multiparent-8,7"),
          "multi-parent auto did not warn naming the choice")
        // absent: bare h3_cell names no resolution — auto has nothing
        // to infer from (cells may be stored finer than the query res)
        val q3 = cellIndex.filter(st_intersects(col("geom"), lit(queryWkb)))
        assert(!planString(q3).contains("__g_h3f_"),
          "auto rewrote with no stored parent column to infer from")
      }
      // pinned res on the bare-cell index: the original contract
      withRule(Some("8")) {
        val q3 = cellIndex.filter(st_intersects(col("geom"), lit(queryWkb)))
        assert(planString(q3).contains("__g_h3f_"))
      }
    } finally { idx2.unpersist(); idx1.unpersist() }
  }

  test("LOSSLESS rank-2 fallback (r19 Next #1): a layout VIOLATING the " +
      "at-or-finer stored-parent contract — a row whose cell is coarser " +
      "than the stored column's res, NULL parent — routes through the " +
      "sentinel into the verbatim refine; row identity with the " +
      "unrewritten plan, violating row included") {
    import spark.implicits._
    // fine rows: stored h3_parent_9 from res-9 cells (contract-holding)
    val fine = cellIndex.drop("geom")
      .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
    // the VIOLATING row: its own cell is at res 5 — COARSER than the
    // stored column's res 9, so h3_cell_to_parent(cell, 9) is NULL —
    // and its (huge) cell geometry intersects the query polygon, so
    // the unrewritten filter KEEPS it; the pre-r19 equi-join dropped it
    val (clat, clng) = Crs.swerefToWgs84(565850, 6452150)
    val coarseCell = H3Core.latLngToCell(clat, clng, 5)
    val coarse = Seq((999L, coarseCell)).toDF("id", "h3_cell")
      .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
    // parent-only relation (no h3_cell): the pinned res 7 can only key
    // via the rank-2 finer-parent fallback from h3_parent_9
    val idx = fine.unionByName(coarse)
      .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
      .drop("h3_cell")
      .localCheckpoint(true)
    def q = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
      .select("id")
    val base = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(base.contains(999L),
      "fixture broken: the violating row's cell geometry does not " +
        "intersect the query polygon — the lossless claim is untested")
    // NULL parent really is NULL (h3_cell_to_parent of a coarser cell)
    assert(idx.filter(col("id") === 999L && col("h3_parent_9").isNull)
      .count() == 1, "fixture broken: violating row's parent is not NULL")
    withRule(Some("7")) {
      val plan = planString(q)
      assert(plan.contains("__g_h3f_key"),
        s"rank-2 fallback did not fire:\n$plan")
      val got = q.collect().map(_.getLong(0)).sorted.toSeq
      assert(got == base,
        s"rank-2 rewrite lost/added rows: got ${got.length}, " +
          s"expected ${base.length} (violating row kept: " +
          s"${got.contains(999L)})")
    }
  }

  test("LOSSLESS rank-2 fallback applies to STREAMING plans too: the " +
      "sentinel routing decides a contract-violating NULL-parent row " +
      "inside the stream-static broadcast prefilter, rows == batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("h3f_r2_stream").toString
    try {
      // same contract-violating layout as the batch arm: fine rows
      // store h3_parent_9; the violating row's own cell is res 5
      // (coarser), so its stored parent is NULL — and its huge cell
      // geometry intersects the query polygon
      val fine = cellIndex.drop("geom")
        .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
      val (clat, clng) = Crs.swerefToWgs84(565850, 6452150)
      val coarseCell = H3Core.latLngToCell(clat, clng, 5)
      val coarse = Seq((999L, coarseCell)).toDF("id", "h3_cell")
        .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
      fine.unionByName(coarse)
        .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
        .drop("h3_cell")
        .repartition(3).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      def cond = st_intersects(col("geom"), lit(queryWkb))
      val expected = stored.filter(cond).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(expected.contains(999L),
        "fixture broken: the violating row does not intersect — the " +
          "streaming lossless claim is untested")
      withRule(Some("7")) {
        val stream = spark.readStream.schema(stored.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .filter(cond)
          .select("id")
        val q = stream.writeStream.outputMode("append").format("memory")
          .queryName("h3f_r2_stream").start()
        try q.processAllAvailable() finally q.stop()
        val explained = {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos))(q.explain())
          bos.toString
        }
        assert(explained.contains("__g_h3f_key"),
          s"rank-2 fallback did not fire inside the streaming " +
            s"micro-batch:\n$explained")
        val got = spark.table("h3f_r2_stream").collect()
          .map(_.getLong(0)).sorted.toSeq
        assert(got == expected,
          s"streamed rank-2 rewrite lost/added rows: got ${got.length}, " +
            s"expected ${expected.length} (violating row kept: " +
            s"${got.contains(999L)})")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("the covering estimate tracks THIN shapes (r19, r18 ADVICE low): " +
      "area+perimeter, not bbox — a long diagonal no longer coarsens " +
      "on a phantom bbox size; compact shapes still lean high") {
    import graft.h3.H3Cover
    // a 20 km diagonal sliver, 40 m wide: its bbox is ~20x20 km
    // (~53k res-9 cells) while the true covering is a corridor of a
    // few hundred — the r18 bbox estimate overshot by orders and made
    // sizedCover skip the configured res
    val sliver = Geometry.fromWkt(
      "POLYGON ((560000 6440000, 580000 6460000, 580040 6460000, " +
        "560040 6440000, 560000 6440000))")
    Seq(8, 9).foreach { res =>
      val actual = H3Cover.coveringCellIds(sliver, res).length.toDouble
      val est = H3Cover.estimatedCoveringCells(sliver, res)
      assert(est <= 20.0 * actual,
        s"res $res: estimate $est still overshoots the measured " +
          s"$actual covering by >20x — thin shapes would coarsen " +
          "on a phantom size")
      assert(est >= actual / 5.0,
        s"res $res: estimate $est UNDERSHOOTS the measured $actual — " +
          "sizedCover could pay enumerations the gate should rule out")
    }
    // compact square: the estimate still bounds from above-ish
    val square = Geometry.fromWkt(queryWkt)
    Seq(7, 8).foreach { res =>
      val actual = H3Cover.coveringCellIds(square, res).length.toDouble
      val est = H3Cover.estimatedCoveringCells(square, res)
      assert(est >= actual / 5.0 && est <= 20.0 * actual,
        s"res $res: compact estimate $est vs measured $actual out of " +
          "the sane band")
    }
  }

  test("keyability gate probes REACHABLE keys (r19, r18 ADVICE low): a " +
      "site whose only parent column sits below an Aggregate stays " +
      "inert — keyedPlan threads Project/Filter only, so the subtree-" +
      "wide column can never key the rewrite") {
    val agg = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .groupBy("id")
      .agg(first(col("geom")).as("geom"))
    withRule(Some("8")) {
      def q = agg.filter(st_intersects(col("geom"), lit(queryWkb)))
      assert(!planString(q).contains("__g_h3f_"),
        "rule fired on a site whose key is unreachable below an Aggregate")
    }
  }

  test("a pinned res FINER than every reachable key lands on the finest " +
      "keyable res instead of going inert (r19): parent-only relation, " +
      "conf=10, keys rank-0 at the stored res 8") {
    val idx = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .drop("h3_cell")
      .localCheckpoint(true)
    def q = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
      .select("id")
    val base = q.collect().map(_.toSeq).toSet
    assert(base.nonEmpty)
    withRule(Some("10")) {
      val plan = planString(q)
      assert(plan.contains("__g_h3f_key"),
        s"pinned-finer-than-keyable res went inert:\n$plan")
      assert("h3_parent_8#\\d+L AS __g_h3f_key".r.findFirstIn(plan).isDefined,
        s"did not land rank-0 on the stored res 8:\n$plan")
      assert(q.collect().map(_.toSeq).toSet === base,
        "finest-keyable landing changed the rows")
    }
  }

  test("materialized h3_parent_8 relation column is preferred and range-prefiltered") {
    // cache so the parent column is part of the RELATION the pushed
    // filter lands on (a bare withColumn is a Project the filter is
    // pushed beneath, correctly falling back to per-row parent math)
    val idx = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .cache()
    try {
      def query = idx.filter(st_intersects(col("geom"), lit(queryWkb)))
        .select("id", "h3_cell")
      val baseline = query.collect().map(_.toSeq).toSet
      withRule(Some("8")) {
        val plan = planString(query)
        assert(plan.contains("__g_h3f_key"))
        // the join key aliases the STORED parent column (no per-row
        // parent math on the probe side; "h3celltoparent" may still
        // print inside the cached relation's displayed build lineage)
        assert("h3_parent_8#\\d+L AS __g_h3f_key".r.findFirstIn(plan).isDefined,
          s"stored parent key unused:\n$plan")
        // and the sargable range prefilter reaches the cached scan
        assert(plan.contains("InMemoryTableScan") &&
          "InMemoryTableScan [^\\n]*h3_parent_8#\\d+L >=".r
            .findFirstIn(plan.replaceAll("\\n\\s+", " ")).isDefined ||
          "\\[\\(h3_parent_8#\\d+L >=".r.findFirstIn(plan).isDefined,
          s"range prefilter did not reach the scan:\n$plan")
        assert(query.collect().map(_.toSeq).toSet === baseline)
      }
    } finally idx.unpersist()
  }
}
