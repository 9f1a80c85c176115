package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.GFunctions._
import graft.h3.{H3Core, H3Cover}
import graft.spatial.{Crs, Geometry, Line, Poly, Pt}

class H3JoinRewriteSpec extends SparkSuite {

  private def withRule[T](res: Option[String])(f: => T): T = {
    val rule = H3JoinRewrite(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ rule
    try withConf(res.map(rule.ConfKey -> _).toSeq: _*)(f)
    finally spark.experimental.extraOptimizations = prev
  }

  // mart-shaped index: rectangles polyfilled at res 9, exploded,
  // geom = the CELL's geometry (the exactness contract's layout)
  private def cellIndex: DataFrame = {
    import spark.implicits._
    val objs = (1L to 60L).map { i =>
      val x0 = (i % 10) * 1800 + 560000
      val y0 = (i / 10) * 1800 + 6448000
      (i, s"POLYGON (($x0 $y0, ${x0 + 1300} $y0, ${x0 + 1300} ${y0 + 1300}, " +
        s"$x0 ${y0 + 1300}, $x0 $y0))")
    }.toDF("id", "wkt")
    objs
      .withColumn("h3_cell",
        explode(g_h3_polygon_cells_l(st_geomfromtext(col("wkt")), lit(9))))
      .select(col("id"), col("h3_cell"),
        g_h3_cell_to_geom(col("h3_cell")).as("geom"))
  }

  // mixed-type geometry side: polygons, lines, points — some empty
  // coverage, some straddling the index field's edges, some NULL
  private def geomSide: DataFrame = {
    import spark.implicits._
    val rows: Seq[(Long, String)] = (1L to 25L).map { k =>
      val x0 = (k % 7) * 2500 + 559000
      val y0 = (k % 5) * 2600 + 6447500
      val wkt = (k % 3) match {
        case 0 => s"POLYGON (($x0 $y0, ${x0 + 900} $y0, ${x0 + 900} " +
          s"${y0 + 900}, $x0 ${y0 + 900}, $x0 $y0))"
        case 1 => s"LINESTRING ($x0 $y0, ${x0 + 2400} ${y0 + 1100})"
        case _ => s"POINT ($x0 $y0)"
      }
      (k, wkt)
    }
    rows.toDF("gid", "gwkt")
      .withColumn("ggeom",
        when(col("gid") % 11 === 0, lit(null).cast("binary"))
          .otherwise(st_geomfromtext(col("gwkt"))))
      .select("gid", "ggeom")
  }

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("covering catches every intersecting cell for LINE and POINT geometries too") {
    def cellPolySweref(c: Long): Poly = {
      val b = H3Core.cellToBoundary(c).map { case (lat, lng) =>
        val (e, n) = Crs.wgs84ToSweref(lat, lng)
        Pt(e, n)
      }
      Poly(Array(b :+ b(0)))
    }
    val bbox = "POLYGON ((558000 6446000, 570000 6446000, 570000 6456000, " +
      "558000 6456000, 558000 6446000))"
    val geoms: Seq[graft.spatial.Geom] = Seq(
      Line(Array(Pt(560000, 6448000), Pt(566400, 6450100))),
      Pt(561234, 6449321),
      Geometry.fromWkt("POLYGON ((561000 6449000, 563700 6449000, " +
        "563700 6451300, 561000 6451300, 561000 6449000))"))
    geoms.foreach { g =>
      val cover = H3Cover.coveringCellIds(g, 8).toSet
      var hits = 0
      graft.pipeline.PreparedPolygonQuery.cellIds(bbox, 9).foreach { c =>
        if (Geometry.intersects(cellPolySweref(c), g)) {
          hits += 1
          assert(cover.contains(H3Core.cellToParent(c, 8)),
            s"res-9 cell $c intersects ${g.typeName} but ancestor not covered")
        }
      }
      assert(hits > 0, s"no intersecting cells for ${g.typeName} — vacuous")
    }
  }

  test("large-buffer coverings stay coverings on BOTH lineToCells paths " +
      "(fast path: gnomonic window magnification; sampling fallback: " +
      "cos(lat)-scaled longitude window)") {
    // res-10 spacing is ~145 m. d = 5000 m (corridor ~37 spacings)
    // stays on the single-face FAST path, where the hex-plane
    // candidate window must absorb gnomonic magnification (~950 edge
    // cells were silently dropped before the sec^2 factor); d =
    // 12000 m (corridor ~83, win > 64) forces the SAMPLING fallback,
    // where the raw-longitude window must be cos(lat)-scaled (~2x at
    // Nordic latitudes) or east/west in-buffer cells are skipped.
    val p = Pt(562000, 6450000)
    def cellPoly(c: Long): Poly = {
      val b = H3Core.cellToBoundary(c).map { case (lat, lng) =>
        val (e, n) = Crs.wgs84ToSweref(lat, lng)
        Pt(e, n)
      }
      Poly(Array(b :+ b(0)))
    }
    val (pl, _) = { val (la, lo) = Crs.swerefToWgs84(p.x, p.y); (lo, la) }
    Seq(5000.0, 12000.0).foreach { d =>
      val cover = H3Cover.coveringCellIds(p, 10, d).toSet
      assert(cover.size > 3000, s"d=$d covering too small: ${cover.size}")
      val m = (d + 2000).toLong
      val bbox = s"POLYGON ((${562000 - m} ${6450000 - m}, " +
        s"${562000 + m} ${6450000 - m}, ${562000 + m} ${6450000 + m}, " +
        s"${562000 - m} ${6450000 + m}, ${562000 - m} ${6450000 - m}))"
      var hits = 0
      var eastWest = 0
      graft.pipeline.PreparedPolygonQuery.cellIds(bbox, 10).foreach { c =>
        if (Geometry.distance(cellPoly(c), p) <= d) {
          hits += 1
          val (_, lng) = H3Core.cellToLatLng(c)
          // count far-east/west in-buffer cells: the direction both
          // regressions under-covered
          if (math.abs(lng - pl) > 0.6 * d / 111320.0 / 0.53) eastWest += 1
          assert(cover.contains(c), s"cell $c within $d m but not covered")
        }
      }
      assert(hits > 2000, s"d=$d sweep found too few in-buffer cells: $hits")
      assert(eastWest > 100,
        s"d=$d: no far-east/west in-buffer cells swept — the window " +
          s"regressions would not be caught: $eastWest")
    }
  }

  test("spatial join replans from nested-loop to a cell equi-join; " +
      "rows and multiplicity identical across mixed geometry types") {
    val idx = cellIndex.cache()
    val gs = geomSide.cache()
    try {
      def q = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "h3_cell", "gid")
      val basePlan = planString(q)
      assert(basePlan.contains("NestedLoop") || basePlan.contains("Cartesian"),
        s"fixture no longer plans as a nested-loop join — vacuous:\n$basePlan")
      // toSeq (not toSet): multiplicity must be preserved too
      val baseline = q.collect().map(_.toSeq)
        .sortBy(_.mkString(","))
      assert(baseline.nonEmpty, "join selects nothing — vacuous")
      withRule(Some("8")) {
        val plan = planString(q)
        assert(plan.contains("__g_h3j_"), s"rule did not fire:\n$plan")
        assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
          s"nested loop survived:\n$plan")
        val got = q.collect().map(_.toSeq).sortBy(_.mkString(","))
        assert(got.length == baseline.length,
          s"row count changed: ${got.length} vs ${baseline.length}")
        assert(got.sameElements(baseline), "rows changed")
      }
    } finally { idx.unpersist(); gs.unpersist() }
  }

  test("non-inner joins rewrite only when the exploded geometry side is " +
      "non-preserved; full outer stays inert") {
    val idx = cellIndex
    val gs = geomSide
    withRule(Some("8")) {
      // left outer, index on the LEFT: geometry side non-preserved ✓
      val lo = idx.join(gs, st_intersects(col("geom"), col("ggeom")),
        "left_outer").select("id", "gid")
      assert(planString(lo).contains("__g_h3j_"))
      // left outer, geometry side on the LEFT: preserved — inert
      val loBad = gs.join(idx, st_intersects(col("geom"), col("ggeom")),
        "left_outer").select("id", "gid")
      assert(!planString(loBad).contains("__g_h3j_"))
      // right outer mirrored
      val ro = gs.join(idx, st_intersects(col("geom"), col("ggeom")),
        "right_outer").select("id", "gid")
      assert(planString(ro).contains("__g_h3j_"))
      // full outer never
      val fo = idx.join(gs, st_intersects(col("geom"), col("ggeom")),
        "full_outer").select("id", "gid")
      assert(!planString(fo).contains("__g_h3j_"))
      // semi/anti with the index preserved rewrite and match rows
      val semi = idx.join(gs, st_intersects(col("geom"), col("ggeom")),
        "left_semi").select("id")
      assert(planString(semi).contains("__g_h3j_"))
      val anti = idx.join(gs, st_intersects(col("geom"), col("ggeom")),
        "left_anti").select("id")
      assert(planString(anti).contains("__g_h3j_"))
      val semiRows = semi.collect().map(_.getLong(0)).sorted
      val antiRows = anti.collect().map(_.getLong(0)).sorted
      val all = idx.select("id").collect().map(_.getLong(0)).sorted
      assert((semiRows ++ antiRows).sorted.sameElements(all),
        "semi + anti must partition the index side")
    }
  }

  test("left-outer rewrite preserves unmatched index rows exactly once") {
    val idx = cellIndex
    // geometry far away: every index row unmatched
    val far = geomSide.filter(col("gid") === 1)
      .withColumn("ggeom", st_geomfromtext(
        lit("POLYGON ((900000 7400000, 900100 7400000, 900100 7400100, " +
          "900000 7400100, 900000 7400000))")))
    def q = idx.join(far, st_intersects(col("geom"), col("ggeom")),
      "left_outer").select("id", "h3_cell", "gid")
    val baseline = q.collect().map(_.toSeq).sortBy(_.mkString(","))
    withRule(Some("8")) {
      assert(planString(q).contains("__g_h3j_"))
      val got = q.collect().map(_.toSeq).sortBy(_.mkString(","))
      assert(got.sameElements(baseline),
        "left-outer null-extension changed under the rewrite")
      assert(got.forall(r => r(2) == null), "far polygon matched something")
    }
  }

  test("inert without the conf, without an H3 key on either side, and " +
      "on single-sided predicates") {
    import spark.implicits._
    val idx = cellIndex
    val gs = geomSide
    val q = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
    withRule(None) {
      assert(!planString(q).contains("__g_h3j_"))
    }
    withRule(Some("8")) {
      // neither side has an H3 key
      val noKey = Seq((1L, Geometry.toWkb(Pt(561000, 6449000))))
        .toDF("id", "geom")
        .join(gs, st_intersects(col("geom"), col("ggeom")))
      assert(!planString(noKey).contains("__g_h3j_"))
      // st_intersects referencing one side only is not a join predicate
      val oneSided = idx.crossJoin(gs.select(col("gid")))
        .filter(st_intersects(col("geom"), col("geom")))
      assert(!planString(oneSided).contains("__g_h3j_"))
    }
  }

  test("distance joins (st_distance <= d, the ST_DWithin shape) rewrite " +
      "with the threshold widening the covering; rows identical") {
    val idx = cellIndex.cache()
    val gs = geomSide.cache()
    try {
      // both operand orders, strict and non-strict
      val preds = Seq(
        st_distance(col("geom"), col("ggeom")) <= 900.0,
        st_distance(col("geom"), col("ggeom")) < 900.0,
        lit(900.0) >= st_distance(col("geom"), col("ggeom")))
      preds.foreach { p =>
        def q = idx.join(gs, p).select("id", "h3_cell", "gid")
        val baseline = q.collect().map(_.toSeq).sortBy(_.mkString(","))
        assert(baseline.nonEmpty, "distance join selects nothing — vacuous")
        withRule(Some("8")) {
          val plan = planString(q)
          assert(plan.contains("__g_h3j_"),
            s"distance join did not rewrite:\n$plan")
          assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
          val got = q.collect().map(_.toSeq).sortBy(_.mkString(","))
          assert(got.sameElements(baseline), "distance-join rows changed")
        }
      }
      // the widened covering is LOAD-BEARING: the distance join must
      // find pairs whose geometries do NOT intersect (pure-intersects
      // covering would drop them if the buffer were ignored)
      def dj = idx.join(gs,
        st_distance(col("geom"), col("ggeom")) <= 900.0 &&
          !st_intersects(col("geom"), col("ggeom")))
        .select("id", "gid")
      val nonTouching = dj.collect().length
      assert(nonTouching > 0,
        "no within-distance non-intersecting pairs — buffer untested")
      withRule(Some("8")) {
        assert(dj.collect().length == nonTouching,
          "buffered covering dropped within-distance pairs")
      }
      // a non-constant threshold stays inert
      withRule(Some("8")) {
        val varT = idx.join(gs,
          st_distance(col("geom"), col("ggeom")) <=
            col("gid").cast("double") * 10.0)
          .select("id", "gid")
        assert(!planString(varT).contains("__g_h3j_"),
          "non-constant distance threshold must not rewrite")
      }
    } finally { idx.unpersist(); gs.unpersist() }
  }

  test("fan-out cliff guard: an over-cap geometry covering fails FAST " +
      "with both conf keys named — never a silent row drop") {
    val idx = cellIndex
    val gs = geomSide.filter(col("ggeom").isNotNull)
    withRule(Some("8")) {
      withConf("spark.graft.h3Join.maxFanout" -> "2") {
        val q = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
          .select("id", "gid")
        assert(planString(q).contains("__g_h3j_"),
          "rule should still rewrite; the guard fires at EXECUTION")
        val e = intercept[Exception] { q.collect() }
        def chain(t: Throwable): String =
          if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
        val msg = chain(e)
        assert(msg.contains("maxFanout") && msg.contains("h3Join.res"),
          s"guard error must name both conf keys, got: $msg")
      }
      // under the cap everything still joins
      val ok = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "gid")
      assert(ok.collect().nonEmpty)
    }
  }

  test("both sides H3-keyed: the materialized-ancestor side is the index side") {
    val a = cellIndex // h3_cell only -> per-row parent math (rank 1)
    val b = cellIndex
      .withColumnRenamed("id", "id_b")
      .withColumnRenamed("geom", "geom_b")
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .withColumnRenamed("h3_cell", "h3_cell_b")
      .cache()
    try {
      def q = a.join(b, st_intersects(col("geom"), col("geom_b")))
        .select("id", "id_b")
      val baseline = q.collect().map(_.toSeq).sortBy(_.mkString(","))
      withRule(Some("8")) {
        val plan = planString(q)
        assert(plan.contains("__g_h3j_"))
        // the stored ancestor column keys the join; the OTHER side
        // (a) fans out through the covering expression
        assert("h3_parent_8#\\d+L AS __g_h3j_key".r.findFirstIn(plan).isDefined,
          s"stored ancestor side did not win the key:\n$plan")
        assert(q.collect().map(_.toSeq).sortBy(_.mkString(","))
          .sameElements(baseline))
      }
    } finally b.unpersist()
  }

  test("SAME-RELATION guard: an index side that is itself a join — key " +
      "from one sub-side, geometry from the other — stays UNREWRITTEN") {
    // left side = A (geometry, no key) ⋈ B (h3_cell, no geometry):
    // keyOf would pick B's cell by name while the spatial predicate
    // tests A's geometry — prefiltering A's rows by B's unrelated
    // cells would silently drop pairs; the lineage guard refuses
    val a = cellIndex.select(col("id"), col("geom"))
    val b = cellIndex.select(col("id").as("bid"), col("h3_cell"))
    val gs = geomSide
    val rule = H3JoinRewrite(spark)
    withConf(rule.ConfKey -> "8") {
      val q = a.join(b, col("id") === col("bid"))
        .join(gs, st_intersects(col("geom"), col("ggeom")))
      val out = rule.apply(q.queryExecution.analyzed)
      assert(!out.toString.contains("__g_h3j_"),
        s"rule paired sub-side B's key with sub-side A's geometry:\n$out")
      // positive control: key and geometry together on one sub-side
      // of the composite index side — lineage passes, the rule fires
      import spark.implicits._
      val meta = Seq((0L, "x")).toDF("mid", "tag")
      val q2 = meta.join(cellIndex, col("mid") <= col("id"))
        .join(gs, st_intersects(col("geom"), col("ggeom")))
      val out2 = rule.apply(q2.queryExecution.analyzed)
      assert(out2.toString.contains("__g_h3j_"),
        s"guard over-blocked a same-relation composite side:\n$out2")
    }
  }

  test("the JOIN rewrite applies to STREAMING plans: a readStream index " +
      "stratum joining a static geometry table becomes the covering-cell " +
      "equi-join per micro-batch, rows == the batch join") {
    val dir = java.nio.file.Files.createTempDirectory("h3j_stream").toString
    val gs = geomSide.cache()
    try {
      cellIndex.repartition(3).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val expected = stored
        .join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "h3_cell", "gid")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(expected.nonEmpty, "stream fixture joins nothing — vacuous")
      withRule(Some("8")) {
        val stream = spark.readStream.schema(stored.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .join(gs, st_intersects(col("geom"), col("ggeom")))
          .select("id", "h3_cell", "gid")
        val q = stream.writeStream.outputMode("append").format("memory")
          .queryName("h3j_stream").start()
        try q.processAllAvailable() finally q.stop()
        // the micro-batch plans went through the same optimizer: the
        // join rule fired (explain of the last executed batch shows
        // the reserved attributes, no nested loop) and the appended
        // rows equal the batch join's, multiset-exactly
        val explained = {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos))(q.explain())
          bos.toString
        }
        assert(explained.contains("__g_h3j_"),
          s"join rule did not fire inside the streaming micro-batch:\n$explained")
        assert(!explained.contains("NestedLoop") &&
          !explained.contains("Cartesian"),
          s"micro-batch still plans a nested loop:\n$explained")
        val got = spark.table("h3j_stream")
          .collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(got == expected, "streamed spatial join != batch join")
      }
    } finally {
      gs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a bucketBy(h3_parent_8) index joins under the rewrite with NO " +
      "index-side exchange: the threaded STORED key stays a bare " +
      "relation attribute, so alias-aware partitioning propagation " +
      "reuses the bucketing (the repeated-spatial-join layout story)") {
    import graft.functions.GFunctions.h3_cell_to_parent
    spark.sql("DROP TABLE IF EXISTS h3j_bucketed_spec")
    cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .write.bucketBy(4, "h3_parent_8").sortBy("h3_parent_8")
      .mode("overwrite").saveAsTable("h3j_bucketed_spec")
    val gs = geomSide.cache()
    try {
      val t = spark.table("h3j_bucketed_spec")
      // the pruned-projection shape: neither h3_parent_8 nor the
      // bucketing survive the user's select — the rule must thread
      // the STORED column up, not settle for per-row parent math
      def q = t.join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "h3_cell", "gid")
      val base = q.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(base.nonEmpty, "bucketed fixture joins nothing — vacuous")
      withRule(Some("8")) {
        // the autoBucketedScan SILENT-LOSS footgun (r17 Next #1): with
        // the conf at its DEFAULT (true), the heuristic cannot see the
        // bucket column through the rule's alias and the 156x
        // shuffle-free layout is silently lost — the rule must warn,
        // once per session, naming the conf. On a FRESH session (r18
        // ADVICE low): warnOnce state is session-global, so running
        // the !hasWarned precondition on the suite's shared session
        // fails spuriously if any earlier test analyzed a
        // bucketed-keyed join under the default conf.
        val s2 = spark.newSession()
        val rule2 = H3JoinRewrite(s2)
        val warnKey = s"${rule2.ConfKey}-autobucketedscan"
        val prev2 = s2.experimental.extraOptimizations
        s2.experimental.extraOptimizations = prev2 :+ rule2
        s2.conf.set(rule2.ConfKey, "8")
        try {
          assert(s2.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled") == "true",
            "precondition: the footgun conf is no longer default-true")
          assert(!H3RuleSupport.hasWarned(s2, warnKey),
            "fresh session has a stale warn key — warnOnce is broken")
          val q2 = s2.table("h3j_bucketed_spec")
            .join(s2.createDataFrame(gs.rdd, gs.schema),
              st_intersects(col("geom"), col("ggeom")))
            .select("id", "h3_cell", "gid")
          q2.queryExecution.executedPlan // analyze under DEFAULT conf
          assert(H3RuleSupport.hasWarned(s2, warnKey),
            "the rule keyed a bucketed scan under default " +
              "autoBucketedScan without warning about the silent loss")
        } finally {
          s2.experimental.extraOptimizations = prev2
          s2.conf.unset(rule2.ConfKey)
        }
        withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
          val ran = q
          val rows = ran.collect().map(_.toSeq.mkString("|")).sorted.toSeq
          val plan = ran.queryExecution.executedPlan.toString
          assert(plan.contains("__g_h3j_"), s"rule did not fire:\n$plan")
          // final adaptive section: bucketed scan in place, and the
          // ONLY exchange keys the exploded geometry side
          val finalSec = plan.split("== Final Plan ==").last
            .split("== Initial Plan ==").head
          assert(finalSec.contains("Bucketed: true"),
            s"bucketed scan unused (per-row key math?):\n$finalSec")
          assert(!finalSec.linesIterator.exists(
            _.contains("Exchange hashpartitioning(__g_h3j_key")),
            s"index side re-shuffled despite the bucketed layout:\n$finalSec")
          assert(rows == base, "bucketed rewrite changed the join rows")
        }
      }
    } finally {
      gs.unpersist()
      spark.sql("DROP TABLE IF EXISTS h3j_bucketed_spec")
    }
  }

  test("res=auto infers from the single stored parent column across " +
      "the join's sides; MULTIPLE stored parents key the FINEST with a " +
      "warning (r19); absent stays inert") {
    val idx = cellIndex
      .withColumn("h3_parent_8", h3_cell_to_parent(col("h3_cell"), lit(8)))
      .cache()
    val gs = geomSide.cache()
    try {
      def q = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "h3_cell", "gid")
      val baseline = q.collect().map(_.toSeq).sortBy(_.mkString(","))
      withRule(Some("auto")) {
        val plan = planString(q)
        assert(plan.contains("__g_h3j_"),
          s"auto did not infer res 8 from the stored parent column:\n$plan")
        assert(q.collect().map(_.toSeq).sortBy(_.mkString(","))
          .sameElements(baseline))
        // multiple stored resolutions across the sides: pre-r19 this
        // was "ambiguous, inert" — now the FINEST (8) keys, warned
        // once. Cached so BOTH parents are relation columns (a bare
        // withColumn alias is correctly pruned away when unused, and
        // auto then sees a single stored parent)
        val idx2 = idx.withColumn("h3_parent_7",
          h3_cell_to_parent(col("h3_cell"), lit(7))).cache()
        def q2 = idx2.join(gs, st_intersects(col("geom"), col("ggeom")))
          .select("id", "h3_cell", "gid")
        val base2 = q2.collect().map(_.toSeq).sortBy(_.mkString(","))
        val plan2 = planString(q2)
        assert(plan2.contains("__g_h3j_"),
          s"auto went inert on a multi-parent join:\n$plan2")
        assert("h3_parent_8#\\d+L AS __g_h3j_key".r
          .findFirstIn(plan2).isDefined,
          s"auto did not key the FINEST stored parent:\n$plan2")
        assert(q2.collect().map(_.toSeq).sortBy(_.mkString(","))
          .sameElements(base2), "finest-parent auto join changed rows")
        val rule = H3JoinRewrite(spark)
        assert(H3RuleSupport.hasWarned(spark,
          s"${rule.ConfKey}-multiparent-8,7"),
          "multi-parent auto did not warn naming the choice")
        idx2.unpersist()
        // absent: bare h3_cell names no res — nothing to infer
        val q3 = cellIndex.join(gs, st_intersects(col("geom"), col("ggeom")))
        assert(!planString(q3).contains("__g_h3j_"),
          "auto rewrote with no stored parent column to infer from")
      }
    } finally { idx.unpersist(); gs.unpersist() }
  }

  test("LOSSLESS rank-2 fallback (r19 Next #1): a contract-violating " +
      "NULL-parent index row pairs through the sentinel + verbatim " +
      "predicate — inner rows identical, and LeftAnti no longer keeps " +
      "the violating row spuriously") {
    import spark.implicits._
    // parent-only index (no h3_cell): pinned res 8 keys rank-2 from
    // the stored h3_parent_9. One row's own cell is at res 5 — coarser
    // than 9, NULL stored parent — and its huge cell geometry
    // intersects several geometry-side rows.
    val fine = cellIndex.drop("geom")
      .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
    val (clat, clng) = Crs.swerefToWgs84(562000, 6450000)
    val coarseCell = H3Core.latLngToCell(clat, clng, 5)
    val coarse = Seq((999L, coarseCell)).toDF("id", "h3_cell")
      .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
    val idx = fine.unionByName(coarse)
      .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
      .drop("h3_cell")
      .localCheckpoint(true)
    val gs = geomSide.cache()
    try {
      def inner = idx.join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "gid")
      val baseInner = inner.collect().map(_.toSeq).sortBy(_.mkString(","))
      assert(baseInner.exists(_.head == 999L),
        "fixture broken: the violating row matches no geometry — the " +
          "lossless claim is untested")
      // anti: the violating row DOES match, so the unrewritten anti
      // join EXCLUDES it — the pre-r19 rewrite (no exploded match for
      // a NULL key) kept it spuriously
      def anti = idx.join(gs, st_intersects(col("geom"), col("ggeom")),
        "left_anti").select("id")
      val baseAnti = anti.collect().map(_.getLong(0)).sorted.toSeq
      assert(!baseAnti.contains(999L), "fixture broken: violating row " +
        "unmatched — the anti-join spurious-keep path is untested")
      withRule(Some("8")) {
        val plan = planString(inner)
        assert(plan.contains("__g_h3j_"),
          s"rank-2 join fallback did not fire:\n$plan")
        val gotInner = inner.collect().map(_.toSeq).sortBy(_.mkString(","))
        assert(gotInner.sameElements(baseInner),
          s"rank-2 inner join changed rows (violating pairs kept: " +
            s"${gotInner.count(_.head == 999L)} of " +
            s"${baseInner.count(_.head == 999L)})")
        assert(planString(anti).contains("__g_h3j_"))
        val gotAnti = anti.collect().map(_.getLong(0)).sorted.toSeq
        assert(gotAnti == baseAnti,
          "rank-2 anti join diverged — the NULL-keyed row was kept/" +
            "dropped against the verbatim semantics")
      }
    } finally gs.unpersist()
  }

  test("LOSSLESS rank-2 fallback applies to STREAMING plans too: a " +
      "readStream contract-violating index stratum joins through the " +
      "sentinel inside the micro-batch, rows == the batch join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("h3j_r2_stream").toString
    val gs = geomSide.cache()
    try {
      // same contract-violating parent-only layout as the batch arm
      val fine = cellIndex.drop("geom")
        .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
      val (clat, clng) = Crs.swerefToWgs84(562000, 6450000)
      val coarseCell = H3Core.latLngToCell(clat, clng, 5)
      val coarse = Seq((999L, coarseCell)).toDF("id", "h3_cell")
        .withColumn("h3_parent_9", h3_cell_to_parent(col("h3_cell"), lit(9)))
      fine.unionByName(coarse)
        .withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
        .drop("h3_cell")
        .repartition(3).write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val expected = stored
        .join(gs, st_intersects(col("geom"), col("ggeom")))
        .select("id", "gid")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(expected.exists(_.startsWith("999|")),
        "fixture broken: the violating row matches no geometry — the " +
          "streaming lossless claim is untested")
      withRule(Some("8")) {
        val stream = spark.readStream.schema(stored.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
          .join(gs, st_intersects(col("geom"), col("ggeom")))
          .select("id", "gid")
        val q = stream.writeStream.outputMode("append").format("memory")
          .queryName("h3j_r2_stream").start()
        try q.processAllAvailable() finally q.stop()
        val explained = {
          val bos = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(bos))(q.explain())
          bos.toString
        }
        assert(explained.contains("__g_h3j_"),
          s"rank-2 join fallback did not fire inside the streaming " +
            s"micro-batch:\n$explained")
        val got = spark.table("h3j_r2_stream")
          .collect().map(_.toSeq.mkString("|")).sorted.toSeq
        assert(got == expected,
          s"streamed rank-2 join != batch join (violating pairs kept: " +
            s"${got.count(_.startsWith("999|"))} of " +
            s"${expected.count(_.startsWith("999|"))})")
      }
    } finally {
      gs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
