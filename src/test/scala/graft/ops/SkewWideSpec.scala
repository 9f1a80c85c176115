package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.pipeline.{FieldMapping, GeoFixture, H3Index, H3Wide, Stages, TemplateEngine}
import graft.config.DatasetConfig

class SkewWideSpec extends SparkSuite {

  graft.functions.GFunctions.registerAll(spark)

  test("salted join equals the plain join result") {
    import spark.implicits._
    // heavily skewed left side: 90% of rows share key 1
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 1L, i))
      .toDF("k", "v")
    val right = (1L to 2000L).map(k => (k, s"meta_$k")).toDF("k", "meta")
    val plain = left.join(right, "k").select("k", "v", "meta")
    val salted = Skew.saltedJoin(left, right, "k", 8).select("k", "v", "meta")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (if (i % 20 == 0) i.toLong else 7L, i.toLong))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val salted = Skew.saltedAgg(df, "k", 8,
      partialAggs = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      finalAggs = Seq(sum("ps").as("s"), sum("pn").as("n")))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
    val hot = Skew.hotKeys(df, "k", 1).head()
    assert(hot.getLong(0) == 7L)
  }

  test("salt routing is partition-count invariant (value-derived, not RNG)") {
    import spark.implicits._
    val rows = (1 to 3000).map(i => (if (i % 10 == 0) i.toLong else 1L, i))
    def saltsOf(nPart: Int) = {
      val left = rows.toDF("k", "v").repartition(nPart)
      val right = (1L to 3000L).map(k => (k, s"m_$k")).toDF("k", "meta")
      // re-derive the salt exactly as saltedJoin assigns it: a row's
      // bucket must depend only on its VALUES (64-bit hash of all cols)
      Skew.saltedJoin(left, right, "k", 8)
        .select(col("v"),
          pmod(xxhash64(col("k"), col("v")), lit(8L)).cast("int").as("salt"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    }
    val a = saltsOf(1)
    val b = saltsOf(13)
    assert(a == b, "per-row salt assignment changed with input partitioning")
    // and the hot key genuinely spreads across buckets
    assert(a.collect { case (v, s) if v % 10 != 0 => s }.toSet.size > 4)
  }

  test("single-column frame is rejected loudly, not silently degenerate") {
    import spark.implicits._
    val onlyKey = Seq(1L, 1L, 2L).toDF("k")
    val right = Seq((1L, "m")).toDF("k", "meta")
    val e = intercept[IllegalArgumentException] {
      Skew.saltedJoin(onlyKey, right, "k", 8)
    }
    assert(e.getMessage.contains("non-key column"))
  }

  private lazy val index = {
    val fm = FieldMapping(Map(
      "source_id" -> "$source_id", "klass" -> "$klass_raw",
      "grupp" -> "f", "typ" -> "s", "leverantor" -> "$lev_raw"))
    val staged = Stages.stage004(GeoFixture(spark, "/root/testdata/sf0.001").limit(120))
    H3Index.build(spark, Map("ds" ->
      Stages.martH3Cells(Stages.normalizeExtRestr(staged, fm, "ds"), "ds")))
  }

  test("wide H3 layout: per-cell presence/count columns match the long index") {
    val klasses = H3Wide.klassValuesOf(index)
    assert(klasses.nonEmpty && klasses.size <= 5)
    val wide = H3Wide.build(index, klasses)
    assert(wide.count() == index.select("h3_cell").distinct().count())
    // cross-check one klass column against the long layout
    val k = klasses.head
    val kcol = "k_" + k.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    val fromWide = wide.filter(col(kcol) === 1).count()
    val fromLong = index.filter(col("klass") === k)
      .select("h3_cell").distinct().count()
    assert(fromWide == fromLong)
    // counts sum matches long row count for that klass
    val sumWide = wide.agg(sum(col(kcol + "_n"))).head().getLong(0)
    assert(sumWide == index.filter(col("klass") === k).count())
  }

  test("hybrid layout: split + reassemble equals the direct wide pivot") {
    val klasses = H3Wide.klassValuesOf(index)
    val groups = H3Wide.defaultGroups(klasses, n = 2)
    assert(groups.values.flatten.toSeq.sorted == klasses.sorted)
    val tables = H3Wide.hybrid(index, groups)
    assert(tables.size == groups.size)
    // each category table carries only cells with >=1 row of it
    groups.foreach { case (cat, ks) =>
      val expect = index.filter(col("klass").isin(ks: _*))
        .select("h3_cell").distinct().count()
      assert(tables(cat).count() == expect, s"category $cat cell count")
    }
    val direct = H3Wide.build(index, klasses)
    val back = H3Wide.assemble(tables, groups)
    assert(back.columns.sameElements(direct.columns))
    assert(back.exceptAll(direct).isEmpty && direct.exceptAll(back).isEmpty)
  }

  // the cell lemma q169's trimmed identity rests on: every H3Wide
  // stage (build, hybrid, assemble, routed) is keyed by h3_cell with
  // no cross-cell term, so running the whole identity on a cell
  // stratum equals restricting the full results to that stratum
  test("wide/hybrid layouts decompose by h3_cell stratum") {
    val klasses = H3Wide.klassValuesOf(index)
    val groups = H3Wide.defaultGroups(klasses, n = 2)
    val strat = pmod(xxhash64(col("h3_cell")), lit(3)) === 0
    val idxS = index.filter(strat)
    val b = H3Wide.build(index, klasses).filter(strat)
    val bS = H3Wide.build(idxS, klasses)
    assert(bS.exceptAll(b).isEmpty && b.exceptAll(bS).isEmpty,
      "build diverged on the cell stratum")
    val back = H3Wide.assemble(H3Wide.hybrid(idxS, groups), groups)
    val backF = H3Wide.assemble(H3Wide.hybrid(index, groups), groups)
      .filter(strat)
    assert(back.exceptAll(backF).isEmpty && backF.exceptAll(back).isEmpty,
      "hybrid + assemble diverged on the cell stratum")
    val span = groups.values.map(_.head).toSeq.sorted
    val r = H3Wide.routed(idxS, H3Wide.hybrid(idxS, groups), groups, span)
    val rF = H3Wide.routed(index, H3Wide.hybrid(index, groups), groups,
      span).filter(strat)
    assert(r.exceptAll(rF).isEmpty && rF.exceptAll(r).isEmpty,
      "routed diverged on the cell stratum")
  }

  test("hybrid router: single scan, spanning join, long fallback") {
    val klasses = H3Wide.klassValuesOf(index)
    val groups = H3Wide.defaultGroups(klasses, n = 2)
    val tables = H3Wide.hybrid(index, groups)
    // all-in-one-category -> exactly that table
    val cat = groups.keys.min
    assert(H3Wide.route(groups, groups(cat).toSet) == Some(Seq(cat)))
    // spanning request -> both tables, sorted
    val span = groups.values.map(_.head).toSeq
    if (groups.size > 1)
      assert(H3Wide.route(groups, span.toSet) == Some(groups.keys.toSeq.sorted))
    // unmaterialized klass -> long fallback
    assert(H3Wide.route(groups, Set("no_such_klass")).isEmpty)
    val fb = H3Wide.routed(index, tables, groups, Seq(klasses.head, "no_such_klass"))
    val truth = H3Wide.build(
      index.filter(col("klass").isin(klasses.head, "no_such_klass")),
      Seq(klasses.head, "no_such_klass"))
    assert(fb.exceptAll(truth).isEmpty && truth.exceptAll(fb).isEmpty)
    // routed spanning request matches the long-layout ground truth
    val routed = H3Wide.routed(index, tables, groups, span)
    val truthSpan = H3Wide.build(
      index.filter(col("klass").isin(span: _*)), span)
    assert(routed.columns.sameElements(truthSpan.columns))
    assert(routed.exceptAll(truthSpan).isEmpty &&
      truthSpan.exceptAll(routed).isEmpty)
  }

  test("template engine renders executable SQL against the layered views") {
    // a user-authored template in the reference's {{ var }} style,
    // executed through spark.sql with the registered g_* functions
    index.createOrReplaceTempView("staging_004_tmpl_ds")
    val template =
      """SELECT s.dataset_id, {{ grupp_expr }} AS grupp, COUNT(*) AS n,
        |  COUNT(DISTINCT s.h3_cell) AS n_cells
        |FROM {{ prev_schema }}_tmpl_ds s
        |GROUP BY s.dataset_id, grupp ORDER BY n DESC""".stripMargin
    val cfg = DatasetConfig(datasetId = "tmpl_ds", pipeline = "ext_restr",
      grupp = "$klass")
    val sql = TemplateEngine.render(template, cfg,
      "005_staging_report.sql", None)
    assert(sql.contains("FROM staging_004_tmpl_ds"))
    assert(sql.contains("COALESCE(s.klass::VARCHAR, '')"))
    // DuckDB-dialect constructs rewrite via the engine's shim
    val sparkSql = TemplateEngine.toSparkSql(sql)
    assert(sparkSql.contains("CAST(s.klass AS STRING)"))
    val out = spark.sql(sparkSql).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(2)).sum == index.count())
  }
}
