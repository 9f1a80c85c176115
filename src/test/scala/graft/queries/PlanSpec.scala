package graft.queries

import graft.{SparkEntry, SparkSuite}

/** Physical-plan shape assertions (builder brief: ".explain the plan
  * and iterate until it's the plan you'd want"). These lock in the
  * scale-critical properties: parquet filter pushdown + column pruning,
  * broadcast joins for small dims, TakeOrderedAndProject for top-k —
  * the plans that still work at 1000 executors.
  */
class PlanSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // whole plans: the lineage-wide assertions (q176, q179-q181, the LSH
  // exchange counts) read past the 16 KiB plan-string cap
  private def planOf(q: String): String = fullPlan(SparkEntry.queries(q)(spark, sfDir))

  private def formattedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("Inputs width probe: file-listing estimate matches the planner's partition count") {
    // r20 (r19 VERDICT Next #8): the probe no longer builds the
    // physical RDD; its FilePartition-math estimate must agree with
    // the planner on the layouts the decision actually sees — the
    // single-file fixtures (narrow) and a many-file write (wide).
    for (t <- Seq("documents", "embeddings", "lineitem", "orders")) {
      val path = s"$sfDir/$t.parquet"
      val est = Inputs.estimateScanPartitions(spark, path)
      val real = spark.read.parquet(path).rdd.getNumPartitions
      assert(est == real, s"$t: estimated $est planned $real")
    }
    val wide = java.nio.file.Files.createTempDirectory("inputs_wide").toString
    try {
      spark.range(0, 80000).selectExpr("id", "id * 2 as v")
        .repartition(8).write.mode("overwrite").parquet(wide)
      val est = Inputs.estimateScanPartitions(spark, wide)
      val real = spark.read.parquet(wide).rdd.getNumPartitions
      assert(est == real, s"multi-file dir: estimated $est planned $real")
      // and the adaptive decision: 8 files >= local[4] parallelism -> wide
      assert(Inputs.parquet(spark, wide).queryExecution.executedPlan
        .toString().startsWith("*(1) ColumnarToRow") ||
        !Inputs.parquet(spark, wide).queryExecution.logical.toString()
          .contains("Repartition"),
        "wide layout must not gain a repartition")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wide))
    }
  }

  test("q212 and q229 keep the caller's own rule confs") {
    val width = "spark.graft.rangeJoin.bucketWidth"
    val res = "spark.graft.h3Filter.res"
    withConf(width -> "5.0", res -> "7") {
      Seq("q212_rangejoin_rule", "q229_h3filter_rule").foreach { q =>
        assert(SparkEntry.queries(q)(spark, sfDir).count() > 0, q)
        assert(spark.conf.get(width) == "5.0", s"$q changed $width")
        assert(spark.conf.get(res) == "7", s"$q changed $res")
      }
    }
  }

  test("q02: filters are pushed to the parquet scan") {
    val plan = formattedPlan("q02_filter_pushdown")
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("l_shipdate"), "shipdate filter not pushed")
    // column pruning: only the needed columns are read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"scan reads more than needed: $readSchema")
  }

  test("q03: projection prunes dropped columns at the scan") {
    val plan = formattedPlan("q03_project_exclude")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("p_retailprice"),
      s"dropped column still read: $readSchema")
  }

  test("q09/q13: small dims use broadcast hash joins, not shuffles") {
    assert(planOf("q09_join_broadcast").contains("BroadcastHashJoin"))
    val multi = planOf("q13_join_multi")
    assert(multi.contains("BroadcastHashJoin"))
    assert(!multi.contains("SortMergeJoin"),
      "star join degenerated to sort-merge")
  }

  test("q16: top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q16_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("q11/q12: semi/anti joins plan as such") {
    assert(planOf("q11_semi_join").contains("LeftSemi"))
    assert(planOf("q12_anti_join").contains("LeftAnti"))
  }

  test("q01: aggregation has a partial (map-side) phase") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("HashAggregate"))
    // partial + final pair means map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(600))
  }

  test("whole-stage codegen covers the relational hot paths") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      "no WholeStageCodegen spans found:\n" + plan.take(800))
  }

  test("polygon query pushes a cell-range filter to a parquet-backed index") {
    // materialize a tiny index to parquet, query it, and assert the
    // sargable [min,max] prefilter reached the scan — at 100 TB this is
    // what lets footer stats skip row groups outside the polygon
    val dir = java.nio.file.Files.createTempDirectory("idxscan").toString
    GeoQueries.sharedIndex(spark, sfDir).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val df = graft.pipeline.H3Query.objects(spark, back,
      graft.pipeline.GeoFixture.queryPolygonWkt, res = 8)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(h3_parent_8") &&
      pushed.contains("LessThanOrEqual(h3_parent_8"),
      "cell-range prefilter not pushed to the scan: " + pushed)
    assert(df.count() > 0)
  }

  test("writeClustered layout: probe uses the MATERIALIZED ancestor and pushes its range to the scan") {
    // the shipped warehouse layout (H3Index.writeClustered — the call
    // Runner.run makes for every mart _h3 table): the query-res
    // ancestor is a stored column, so the probe must (a) push its
    // [min,max] range into the parquet scan over that column and
    // (b) do NO per-row cell->parent math on the index side
    val dir = java.nio.file.Files.createTempDirectory("idxclus").toString
    graft.pipeline.H3Index.writeClustered(
      GeoQueries.sharedIndex(spark, sfDir)
        .select("id", "dataset_id", "leverantor", "klass", "h3_cell", "geom")
        .withColumnRenamed("dataset_id", "dataset"), dir, res = 8)
    val back = spark.read.parquet(dir)
      .withColumnRenamed("dataset", "dataset_id")
    val df = graft.pipeline.H3Query.objects(spark, back,
      graft.pipeline.GeoFixture.queryPolygonWkt, res = 8)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(h3_parent_8") &&
      pushed.contains("LessThanOrEqual(h3_parent_8"),
      "clustered layout's range prefilter not pushed: " + pushed)
    assert(!plan.contains("h3_cell_to_parent"),
      "probe recomputed the ancestor instead of using the stored column")
    assert(df.count() > 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("coarsened prefilter lands on a STORED coarse ancestor (r19): the " +
      "shipped writeClustered layout carries h3_parent_{6,7,8}, so an " +
      "over-cap literal's coarser BETWEEN is pushed to the parquet scan " +
      "as a rank-0 stored-column range — not per-row parent math") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.GFunctions.{g_h3_cell_to_geom, st_intersects}
    val dir = java.nio.file.Files.createTempDirectory("idxcoarse").toString
    try {
      graft.pipeline.H3Index.writeClustered(
        GeoQueries.sharedIndex(spark, sfDir)
          .select("id", "dataset_id", "leverantor", "klass", "h3_cell"),
        dir, res = 8)
      val back = spark.read.parquet(dir)
      assert(Seq(6, 7, 8).forall(r => back.columns.contains(s"h3_parent_$r")),
        s"shipped layout lacks coarse ancestors: ${back.columns.mkString(",")}")
      val pq = back.withColumn("geom", g_h3_cell_to_geom(col("h3_cell")))
      val poly = graft.spatial.Geometry.fromWkt(
        graft.pipeline.GeoFixture.queryPolygonWkt)
      val wkb = graft.spatial.Geometry.toWkb(poly)
      val cover8 = graft.h3.H3Cover.coveringCellIds(poly, 8)
      val rule = graft.plans.H3IntersectsRewrite(spark)
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = prev :+ rule
      // cap just under the res-8 covering: the rule can only fire by
      // coarsening — pre-r19 the coarse key was per-row parent MATH
      // (PERF.md r18: refine-avoidance only, 1.4x); on this layout it
      // must be the bare stored column whose BETWEEN prunes row groups
      try withConf(rule.ConfKey -> "8",
          rule.MaxCellsKey -> (cover8.length - 1).toString) {
        def q = pq.filter(st_intersects(col("geom"), lit(wkb)))
          .select("id", "dataset_id").distinct()
        val simple = q.queryExecution.executedPlan.toString
        val landed = (6 to 7).find(r =>
          s"h3_parent_$r#\\d+L AS __g_h3f_key".r.findFirstIn(simple).isDefined)
        assert(landed.isDefined,
          s"coarsened key is not a stored ancestor column:\n$simple")
        val plan = q.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val pushed = plan.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("|")
        assert(pushed.contains(s"GreaterThanOrEqual(h3_parent_${landed.get}") &&
          pushed.contains(s"LessThanOrEqual(h3_parent_${landed.get}"),
          s"coarsened BETWEEN not pushed at the landing res:\n$pushed")
        assert(!simple.contains("h3_cell_to_parent"),
          "per-row parent math survived on the stored-ancestor layout")
        assert(q.count() > 0)
      } finally spark.experimental.extraOptimizations = prev
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("q67: exact-refine st_intersects stays ABOVE the broadcast join") {
    // the refine predicate must run on post-join candidates only; if
    // Catalyst pushes it below the join (it can when the predicate
    // references only index-side columns) the plan degenerates into
    // per-index-row cell-geometry math — a full-lake spatial scan at
    // 100 TB. The needs_refine flag on the broadcast side makes the
    // predicate reference both sides, which this test pins.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = graft.pipeline.H3Query.objectsExact(spark,
      GeoQueries.sharedIndex(spark, sfDir),
      graft.pipeline.GeoFixture.queryPolygonWkt, res = 8)
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, "no join in exact-refine plan:\n" + opt)
    // below any join, no Filter may evaluate StIntersects — that is the
    // degenerate pushed-down shape (post-join eval, including inside
    // the join condition itself, is the correct candidates-only shape)
    joins.foreach { j =>
      j.children.foreach { side =>
        val pushed = side.collect {
          case f: Filter if f.condition.find(
            _.isInstanceOf[graft.functions.StIntersects]).isDefined => f
        }
        assert(pushed.isEmpty,
          "st_intersects pushed below the join into a scan side:\n" + side)
      }
    }
    assert(df.queryExecution.executedPlan.toString.contains("Broadcast") ||
      df.queryExecution.toString.contains("Broadcast"),
      "query-cell side is not broadcast")
    assert(df.count() > 0)
  }

  test("q111: benchmark side broadcasts; q113: histogram has partial aggs") {
    // decontamination: the benchmark gram set must broadcast — a
    // shuffle join on the gram key would move the whole corpus's
    // n-grams at 100 TB
    val q111 = planOf("q111_decontaminate")
    assert(q111.contains("BroadcastHashJoin"), q111.take(600))
    assert(!q111.contains("SortMergeJoin"),
      "benchmark join degenerated to sort-merge")
    // repetition ratio: both hash aggregates must have a partial
    // (map-side combine) phase so the shuffle carries collapsed
    // (doc, gram) groups, not raw exploded grams
    val q113 = planOf("q113_repetition")
    assert("HashAggregate".r.findAllIn(q113).size >= 4, q113.take(800))
  }

  test("q150 edges / q155 quality gate: no cartesian products, partial aggs") {
    // rare-shingle candidate generation must be an equi-join on the
    // gram key (bounded by maxDf^2 per gram) — a cartesian product
    // here is the all-pairs scan the whole design exists to avoid
    val edges = graft.ops.TextDedup.rareShingleCandidates(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
      shingleN = 5, maxDf = 8, minShared = 3)
    val ep = edges.queryExecution.executedPlan.toString
    assert(!ep.contains("CartesianProduct") && !ep.contains("BroadcastNestedLoop"),
      ep.take(600))
    // the full-rule quality gate is three hash-aggregate pairs (word,
    // line, paragraph explodes) plus a map-only symbol projection,
    // joined on the doc id — every aggregate keeps its map-side phase
    // (the shuffle carries per-doc partial sums, not raw tokens) and
    // nothing is a cartesian
    val q155 = planOf("q155_quality_rules")
    assert("HashAggregate".r.findAllIn(q155).size >= 6, q155.take(800))
    assert(!q155.contains("CartesianProduct") &&
      !q155.contains("BroadcastNestedLoop"), q155.take(600))
  }

  test("q190 tokenize: lexicon joins BROADCAST (documents never shuffle); q188 plans TakeOrdered") {
    // the applyBpeMerges contract: the corpus side pays an explode +
    // broadcast probe + partial agg — a shuffle of exploded words
    // would be the 100 TB mistake the type-table design exists to avoid
    val p190 = planOf("q190_bpe_tokenize")
    assert(p190.contains("BroadcastHashJoin"), p190.take(500))
    assert(!p190.contains("SortMergeJoin"), "lexicon join shuffled the corpus")
    val p188 = planOf("q188_weighted_sample")
    assert(p188.contains("TakeOrdered"), p188.take(500))
  }

  test("q170 semDedup: seed assignment broadcasts; no cartesian prune join") {
    val plan = planOf("q170_semantic_dedup")
    // the k-seed cross join must be a broadcast nested loop over a
    // k-row side, and the within-cluster prune an equi-join on the
    // cluster key — never a cartesian product of the corpus
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "seed assignment did not broadcast:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"),
      "corpus-side cartesian in semDedup:\n" + plan.take(800))
  }

  test("q171 lmScore: vocab stats broadcast; count aggregates are partial") {
    val plan = planOf("q171_lm_quality_score")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "1-row vocab stats did not broadcast:\n" + plan.take(800))
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "bigram counts missing partial aggregation:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q172 spans: duplicated-digest filter is a semi-join, merge shuffles by doc") {
    val df = graft.ops.TextDedup.duplicateSpanList(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "dup-hash restriction is not a semi-join:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"))
    // the island merge must partition by the doc key (one doc-keyed shuffle)
    assert(plan.contains("Window"), plan.take(800))
  }

  test("q176 composed curation: no cartesian products anywhere in the lineage") {
    val plan = planOf("q176_curation_e2e")
    assert(!plan.contains("CartesianProduct"), plan.take(1000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "expected broadcast joins for the 1-row stats / seed sides:\n" +
        plan.take(1000))
  }

  test("q179/q180/q181 vector states: centroids broadcast, state scans anti-filtered, no cartesians") {
    Seq("q179_lloyd_semdedup", "q180_incremental_ivf").foreach { q =>
      val plan = planOf(q)
      // the k-centroid side must arrive as a BROADCAST nested-loop
      // (the intended k-row fan-out), never an unbroadcast cartesian
      assert(!plan.contains("CartesianProduct"), s"$q:\n" + plan.take(1000))
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"$q expected broadcast centroid/seed side:\n" + plan.take(1000))
    }
    // q181's returned members now sit BEHIND the append seam's
    // mandatory plan truncation (Materialize.stage with
    // requireTruncation — chained appends must not nest lineage), so
    // its final plan shows the staged scan, not the upstream joins;
    // the broadcast/cartesian shape of that upstream lineage is the
    // SAME assignToCentroids/prune machinery q179 asserts above. What
    // q181's plan must show is the truncation itself.
    val sem = planOf("q181_incremental_semdedup")
    assert(!sem.contains("CartesianProduct"), sem.take(1000))
    assert(sem.contains("ExistingRDD") || sem.contains("Scan ExistingRDD"),
      "q181 expected the staged (truncated) members plan:\n" +
        sem.take(1000))
    // the incremental ops' stored-state scans are broadcast-filtered
    // (anti for removals/appends), never a shuffled join of the state
    val ivf = planOf("q180_incremental_ivf")
    assert(ivf.contains("LeftAnti"), "q180 removal filter not an anti join")
  }

  test("r14 plans: byte-BPE lexicon broadcasts; jaccard positional " +
      "keeps one exchange per stage; srp cap reuses the bucket shuffle") {
    import org.apache.spark.sql.functions.col
    // byteBpeTokenSpans/byteBpeEncodeIds: the corpus side must pay an
    // explode + BROADCAST probe — a shuffle of exploded pre-tokens is
    // the 100 TB mistake the type-table design exists to avoid
    val p217 = planOf("q217_byte_bpe")
    assert(p217.contains("BroadcastHashJoin"), p217.take(600))
    assert(!p217.contains("SortMergeJoin"),
      "byte lexicon join shuffled the corpus:\n" + p217.take(600))
    // jaccardCandidates(positional): the first-match groupBy replaced
    // .distinct() — there must be no EXTRA exchange vs the prefix-only
    // path (one for df counts, one for the doc window, one for the
    // tok join, one for the pair groupBy; the count is identical)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = graft.ops.TextDedup.jaccardTokens(docs, "doc_id", "text")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val nPos = exchanges(graft.ops.TextDedup
      .jaccardCandidates(toks, 0.8, positional = true))
    val nOff = exchanges(graft.ops.TextDedup
      .jaccardCandidates(toks, 0.8, positional = false))
    assert(nPos <= nOff,
      s"positional filter added exchanges: $nPos vs $nOff")
    // srpCandidates' maxBucket sizes aggregation shuffles on the SAME
    // (band, bucket) key the self-join needs — the capped plan must
    // not gain more than the one aggregation exchange
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nCap = exchanges(graft.ops.VectorOps.srpCandidates(
      emb, "vec_id", "embedding", tau = 0.9, bands = 4,
      bandBits = 16, maxBucket = 100))
    val nNoCap = exchanges(graft.ops.VectorOps.srpCandidates(
      emb, "vec_id", "embedding", tau = 0.9, bands = 4,
      bandBits = 16))
    assert(nCap <= nNoCap + 1,
      s"maxBucket cap added more than one exchange: $nCap vs $nNoCap")
    val nMhCap = exchanges(graft.ops.TextDedup.minHashCandidates(
      docs, "doc_id", "text", maxBucket = 64))
    val nMhNoCap = exchanges(graft.ops.TextDedup.minHashCandidates(
      docs, "doc_id", "text"))
    assert(nMhCap <= nMhNoCap + 1,
      s"minhash maxBucket cap added more than one exchange: $nMhCap vs $nMhNoCap")
  }

  test("LSH candidate generators: no plan has more exchanges than " +
      "before the shared banding kernel (sf0.01)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.ops.{TextDedup => T, VectorOps => V}
    val sf = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // (generator, plan, Exchange counts measured before the kernel with
    // broadcast joins allowed / off — off is the shape a corpus too big
    // to broadcast gets)
    val cases: Seq[(String, () => DataFrame, (Int, Int))] = Seq(
      ("minHashCandidates", () => T.minHashCandidates(docs, "doc_id", "text"),
        (4, 7)),
      ("minHashCandidates maxBucket=64", () => T.minHashCandidates(docs,
        "doc_id", "text", maxBucket = 64), (4, 7)),
      ("minHashCandidatesMd5", () => T.minHashCandidatesMd5(docs, "doc_id",
        "text"), (4, 7)),
      ("simHashCandidates", () => T.simHashCandidates(docs, "doc_id", "text"),
        (2, 3)),
      ("simHashCandidatesMd5", () => T.simHashCandidatesMd5(docs, "doc_id",
        "text"), (2, 3)),
      ("srpCandidates", () => V.srpCandidates(emb, "vec_id", "embedding",
        tau = 0.9, bands = 4, bandBits = 16), (4, 7)),
      ("srpCandidates maxBucket=100", () => V.srpCandidates(emb, "vec_id",
        "embedding", tau = 0.9, bands = 4, bandBits = 16, maxBucket = 100),
        (4, 7)),
      ("srpMultiProbeCandidates", () => V.srpMultiProbeCandidates(emb,
        "vec_id", "embedding", tau = 0.9, bands = 4, bandBits = 16), (4, 7)),
      ("srpMultiProbeCandidates maxBucket=100", () =>
        V.srpMultiProbeCandidates(emb, "vec_id", "embedding", tau = 0.9,
          bands = 4, bandBits = 16, maxBucket = 100), (4, 7)))
    def exchanges(broadcast: Boolean, plan: () => DataFrame): Int =
      withConf("spark.sql.autoBroadcastJoinThreshold" ->
          (if (broadcast) "10485760" else "-1")) {
        "Exchange".r.findAllIn(fullPlan(plan())).size
      }
    val worse = for {
      (name, plan, (bcast, shuffled)) <- cases
      (broadcast, before) <- Seq((true, bcast), (false, shuffled))
      n = exchanges(broadcast, plan)
      if n > before
    } yield (name, if (broadcast) "broadcast" else "shuffled", n, before)
    assert(worse.isEmpty,
      s"plans gained exchanges (name, joins, now, before): $worse")
  }

  test("geo expressions do not break whole-stage codegen (not CodegenFallback)") {
    // the index build's hottest stage: parquet scan -> fixture geometry
    // -> polyfill projection. With CodegenFallback H3 expressions the
    // whole Project falls out of Tungsten fusion; the GeoExpr doGenCode
    // keeps it inside a generated loop ("*(n) Project ... h3...").
    import org.apache.spark.sql.functions.{col, lit}
    val df = GeoQueries.sharedNormalized(spark, sfDir)
      .select(col("source_id"),
        graft.functions.GFunctions.g_h3_polygon_cells(col("geom"), lit(11)).as("cells"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val geoProject = plan.linesIterator
      .find(l => l.contains("Project") && l.toLowerCase.contains("h3"))
    assert(geoProject.nonEmpty, "no geo projection in plan:\n" + plan.take(1200))
    assert(geoProject.get.contains("*("),
      "geo projection runs OUTSIDE whole-stage codegen:\n" + geoProject.get)
  }
}
