package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.h3.H3Core
import graft.spatial.{Crs, Geometry, Pt}

class PipelineSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private val fm = FieldMapping(Map(
    "source_id" -> "$source_id", "klass" -> "$klass_raw",
    "grupp" -> "fixture", "typ" -> "synthetic",
    "leverantor" -> "$lev_raw", "data_1" -> "$name"))

  private lazy val staged = Stages.stage004(GeoFixture(spark, sfDir)).cache()
  private lazy val normalized = Stages.normalizeExtRestr(staged, fm, "geo_cust").cache()

  test("stage004 enriches every row with hashes, centroid and cells") {
    val rows = staged.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("_geom_md5").length == 32)
      assert(r.getAs[String]("_attr_md5").length == 32)
      val lat = r.getAs[Double]("_centroid_lat")
      val lng = r.getAs[Double]("_centroid_lng")
      assert(lat > 55 && lat < 62, s"lat $lat outside Sweden box")
      assert(lng > 11 && lng < 22, s"lng $lng outside Sweden box")
      val cells = r.getAs[scala.collection.Seq[Long]]("_h3_cells")
      assert(cells != null && cells.nonEmpty, "no h3 cells")
      val center = r.getAs[String]("_h3_index")
      assert(H3Core.resolution(H3Core.fromHexString(center)) == 13)
    }
  }

  test("stage004 golden: point rows carry exactly their centroid cell") {
    // fid % 3 == 0 -> POINT (x0 y0); centroid == the point itself
    val r = staged.filter(col("fid") === 3).head()
    val fid = 3L
    val x0 = (fid % 31) * 2000 + 560000
    val y0 = ((fid * 7) % 23) * 3000 + 6440000
    val (lat, lng) = Crs.swerefToWgs84(x0.toDouble, y0.toDouble)
    assert(math.abs(r.getAs[Double]("_centroid_lat") - lat) < 1e-9)
    val expect13 = H3Core.latLngToCell(lat, lng, 13)
    assert(r.getAs[String]("_h3_index") == H3Core.toHexString(expect13))
    assert(r.getAs[scala.collection.Seq[Long]]("_h3_cells").toSeq == Seq(expect13))
  }

  test("normalization maps config fields with $col/literal semantics") {
    val r = normalized.filter(col("source_id") === "1").head()
    assert(r.getAs[String]("grupp") == "fixture") // literal
    assert(r.getAs[String]("typ") == "synthetic")
    assert(r.getAs[String]("klass").nonEmpty) // $klass_raw
    assert(r.getAs[String]("leverantor").startsWith("nation_"))
    assert(r.getAs[String]("id").length == 32)
    assert(r.getAs[String]("data_2") == "") // unmapped -> ''
  }

  test("mart explode: one row per cell, latlng/geom derived from cell") {
    val m = Stages.martH3Cells(normalized, "geo_cust")
    val sample = m.limit(20).collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val cell = r.getAs[Long]("h3_cell")
      val latlng = r.getAs[scala.collection.Seq[Double]]("latlng")
      val (elat, elng) = H3Core.cellToLatLng(cell)
      assert(math.abs(latlng(0) - elat) < 1e-12)
      assert(math.abs(latlng(1) - elng) < 1e-12)
      assert(r.getAs[String]("classification") == "fixture.synthetic")
      // geom is the cell polygon in SWEREF99: centroid close to cell center
      val g = Geometry.fromWkb(r.getAs[Array[Byte]]("geom"))
      val c = Geometry.centroid(g)
      val (glat, glng) = Crs.swerefToWgs84(c.x, c.y)
      assert(math.abs(glat - elat) < 1e-4 && math.abs(glng - elng) < 1e-4)
    }
    // row count == total cells
    val totalCells = normalized.select(explode(col("h3_cells"))).count()
    assert(m.count() == totalCells)
  }

  test("h3_index union + empty fallback; stats aggregates per cell") {
    val empty = H3Index.build(spark, Map.empty)
    assert(empty.count() == 0)
    assert(empty.schema == H3Index.indexSchema)

    val m = Stages.martH3Cells(normalized, "geo_cust")
    val idx = H3Index.build(spark, Map("a" -> m, "b" -> m))
    assert(idx.count() == 2 * m.count())
    val st = H3Index.stats(idx)
    val top = st.orderBy(desc("object_count")).head()
    assert(top.getAs[Long]("object_count") >= 1)
    assert(top.getAs[scala.collection.Seq[String]]("datasets").nonEmpty)

    // sketch variant agrees with the exact pre-aggregate: identical
    // object_count (it's exact in both), HLL cardinalities within rsd
    // slack of the true distinct counts (tiny sets -> exact here)
    val exact = st.select("h3_cell", "object_count", "dataset_count")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    H3Index.statsApprox(idx).collect().foreach { r =>
      val (n, d) = exact(r.getLong(0))
      assert(r.getAs[Long]("object_count") == n)
      assert(math.abs(r.getAs[Long]("dataset_count") - d) <= math.max(1, d / 10))
    }
  }

  /** h3_stats as it was computed before it became one aggregate: per
    * (cell, dataset) partials, then a roll-up per cell. */
  private def twoPhaseStats(index: DataFrame): DataFrame =
    index
      .groupBy("h3_cell", "dataset_id")
      .agg(
        count(lit(1)).as("n"),
        collect_set(col("klass")).as("ks"),
        collect_set(col("leverantor")).as("ls"))
      .groupBy("h3_cell")
      .agg(
        sum(col("n")).as("object_count"),
        count(lit(1)).as("dataset_count"),
        sort_array(collect_set(col("dataset_id"))).as("datasets"),
        sort_array(array_distinct(flatten(collect_list(col("ks"))))).as("klasser"),
        sort_array(array_distinct(flatten(collect_list(col("ls"))))).as("leverantorer"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("h3_stats in one aggregate equals the two-phase reference exactly") {
    val m = Stages.martH3Cells(normalized, "geo_cust")
    // every cell shared by two datasets, with different klass values
    val idx = H3Index.build(spark, Map("a" -> m, "b" -> m
      .withColumn("dataset", lit("geo_cust_b"))
      .withColumn("klass", concat(col("klass"), lit("_b")))))
    val got = H3Index.stats(idx)
    val want = twoPhaseStats(idx)
    assert(got.schema == want.schema)
    assert(sameRows(got, want))
    assert(got.filter(col("dataset_count") === 2 && size(col("klasser")) >= 2)
      .count() == got.count(), "fixture precondition: shared cells")
    // the whole plan: this one outgrows the 16 KiB plan-string cap
    assert(!fullPlan(got).contains("Expand"))
    val order = Seq(desc("object_count"), asc("h3_cell"))
    assert(H3Index.statsTop(idx, 25).collect().toSeq ==
      want.orderBy(order: _*).limit(25).collect().toSeq)
  }

  test("h3_stats plan: one exchange on h3_cell into defaultParallelism " +
      "partitions, and the aggregate runs in that many tasks under AQE") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val cores = spark.sparkContext.defaultParallelism
    val idx = H3Index.build(spark,
      Map("geo_cust" -> Stages.martH3Cells(normalized, "geo_cust")))
    assert(idx.select("h3_cell").distinct().count() > cores,
      "fixture precondition: more cells than cores")
    val st = H3Index.stats(idx)
    // (stage id, task count) of every stage the collect submits
    val stages = recording(st.collect()).stages
      .map(s => s.stageId -> s.numTasks)
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(st.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, st.queryExecution.executedPlan.toString)
    exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), n) =>
        assert(a.name == "h3_cell" && n == cores, exchanges.head.toString)
      case p => fail(s"not hash-partitioned on h3_cell: $p")
    }
    val finalStage = stages.maxBy(_._1)
    assert(finalStage._2 == cores,
      s"final stage ran ${finalStage._2} tasks, not one per core ($cores)")
  }

  test("writeClustered returns the written mart, read back with its " +
      "written schema: martH3Cells plus its parent columns") {
    val dir = java.nio.file.Files.createTempDirectory("clustered").toString
    try {
      val mart = Stages.martH3Cells(normalized, "geo_cust")
      val (back, rows) = H3Index.writeClustered(mart, dir)
      val fresh = spark.read.parquet(dir)
      assert(back.columns.toSeq ==
        mart.columns.toSeq ++ (6 to 8).map(r => s"h3_parent_$r"))
      assert(back.schema == fresh.schema)
      assert(sameRows(back, H3Index.withParentsAt(mart, 6 to 8)))
      // the written files' footer count
      assert(rows == fresh.count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("polygon query golden: objects mode matches a brute-force filter") {
    val m = Stages.martH3Cells(normalized, "geo_cust")
    val idx = H3Index.build(spark, Map("geo_cust" -> m))
    val res = 8
    val got = H3Query.objects(spark, idx, GeoFixture.queryPolygonWkt, res)
      .select("id").collect().map(_.getString(0)).toSet

    // brute force: objects whose any cell's res-8 parent is in the set
    val wgs = Geometry.mapCoords(Geometry.fromWkt(GeoFixture.queryPolygonWkt), p => {
      val (lat, lng) = Crs.swerefToWgs84(p.x, p.y)
      Pt(lng, lat)
    })
    val qset = H3Core.polygonToCells(wgs, res).toSet
    val expected = m.select(col("id"), col("h3_cell")).collect()
      .filter(r => qset.contains(H3Core.cellToParent(r.getLong(1), res)))
      .map(_.getString(0)).toSet
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
    assert(got.nonEmpty, "query polygon matched nothing — fixture drifted?")
  }

  test("query plan: query side is broadcast, no index-side pre-shuffle") {
    val m = Stages.martH3Cells(normalized, "geo_cust")
    val idx = H3Index.build(spark, Map("geo_cust" -> m))
    val plan = H3Query.objects(spark, idx, GeoFixture.queryPolygonWkt, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in:\n$plan")
  }

  test("stats/heatmap modes return sane aggregates") {
    val m = Stages.martH3Cells(normalized, "geo_cust")
    val idx = H3Index.build(spark, Map("geo_cust" -> m))
    val st = H3Query.stats(spark, idx, GeoFixture.queryPolygonWkt, 8).collect()
    assert(st.nonEmpty)
    val hm = H3Query.heatmap(spark, idx, GeoFixture.queryPolygonWkt, 8).collect()
    assert(hm.nonEmpty)
    hm.foreach { r =>
      assert(H3Core.resolution(H3Core.fromHexString(r.getAs[String]("h3_cell"))) == 8)
    }
    // exact refine returns a subset of the coarse objects
    val coarse = H3Query.objects(spark, idx, GeoFixture.queryPolygonWkt, 8)
      .select("id").collect().map(_.getString(0)).toSet
    val exact = H3Query.objectsExact(spark, idx, GeoFixture.queryPolygonWkt, 8)
      .select("id").collect().map(_.getString(0)).toSet
    assert(exact.subsetOf(coarse))
  }

  test("avdelning variant adds rounded area/volym") {
    val av = Stages.normalizeAvdelning(staged, fm, "geo_av")
    val polyRow = av.filter(col("source_id") === "1").head() // fid 1 -> polygon
    val area = polyRow.getAs[Float]("area")
    assert(math.abs(area - 64.0f) < 0.01f, s"800x800m = 64 ha, got $area")
  }
}
