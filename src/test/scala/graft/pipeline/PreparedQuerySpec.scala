package graft.pipeline

import graft.SparkSuite

/** The prepared parameterized polygon query must return exactly what
  * the per-polygon Dataset path returns — for several polygons through
  * the SAME handle, proving the re-serialized parameter actually lands
  * (no stale plan/broadcast reuse). */
class PreparedQuerySpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val index = {
    val fm = FieldMapping(Map(
      "source_id" -> "$source_id", "klass" -> "$klass_raw",
      "grupp" -> "f", "typ" -> "s", "leverantor" -> "$lev_raw"))
    val mart = Stages.martH3Cells(
      Stages.normalizeExtRestr(
        Stages.stage004(GeoFixture(spark, sfDir)), fm, "geo_cust"), "geo_cust")
    H3Index.withParentAt(
      H3Index.build(spark, Map("geo_cust" -> mart)), 8).persist()
  }

  private val polys = Seq(
    GeoFixture.queryPolygonWkt,
    "POLYGON ((560000 6440000, 570000 6440000, 570000 6452000, 560000 6452000, 560000 6440000))",
    "POLYGON ((575000 6455000, 577000 6455000, 577000 6457000, 575000 6457000, 575000 6455000))",
    // far outside the fixture box -> must return 0 rows, not stale ones
    "POLYGON ((100000 6000000, 101000 6000000, 101000 6001000, 100000 6001000, 100000 6000000))")

  test("prepared handle matches the per-polygon Dataset path, per polygon") {
    val prepared = PreparedPolygonQuery(index, res = 8)
    polys.foreach { wkt =>
      val expect = H3Query.objects(spark, index, wkt, res = 8)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val got = prepared.objects(wkt).map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq == expect.toSeq, s"mismatch for $wkt")
    }
    // and again with the FIRST polygon: switching back must not replay
    // the last parameter
    val expect0 = H3Query.objects(spark, index, polys.head, res = 8).count()
    assert(prepared.objects(polys.head).length.toLong == expect0)
  }

  test("handle over a bare LocalRelation index matches H3Query.objects") {
    import spark.implicits._
    // the same rows as local data (Seq(...).toDF), neither cached nor
    // backed by files: ConvertToLocalRelation folds filters over it
    val local = index.select("id", "dataset_id", "leverantor", "klass", "h3_cell")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .toDF("id", "dataset_id", "leverantor", "klass", "h3_cell")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "fixture precondition: a bare local relation")
    Seq(1, 4).foreach { buckets =>
      val prepared = PreparedPolygonQuery(local, res = 8, buckets = buckets)
      polys.foreach { wkt =>
        val expect = H3Query.objects(spark, local, wkt, res = 8)
          .collect().map(r => (r.getString(0), r.getString(1)))
        val got = prepared.objects(wkt).map(r => (r.getString(0), r.getString(1)))
        assert(got.toSeq == expect.toSeq, s"mismatch for $wkt at $buckets buckets")
      }
      assert(prepared.objects(polys.head).nonEmpty)
    }
  }

  test("auto-layout: a cached index past the crossover is probed via clustered parquet, results identical") {
    // force the crossover below this fixture's size via the test seam;
    // the handle must rewrite the CACHED index to clustered parquet
    // (observable: its probe frame gains a parquet-backed scan) and
    // return exactly what the cached-path handle returns
    val cachedHandle = PreparedPolygonQuery(index, res = 8) // under crossover: cached path
    val autoHandle = new PreparedPolygonQuery(index, res = 8,
      bucketsRequested = 0, crossoverRows = 1L)             // over crossover: parquet path
    polys.foreach { wkt =>
      val exp = cachedHandle.objects(wkt).map(r => (r.getString(0), r.getString(1)))
      val got = autoHandle.objects(wkt).map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq == exp.toSeq, s"auto-layout diverged for $wkt")
    }
  }

  test("concurrent objects() on ONE handle: serialized probes, no cross-parameter bleed") {
    // the handle parameterizes a single shared CellSetHolder, so
    // objects() is synchronized — N threads hammering one handle with
    // DIFFERENT polygons must each get exactly their own polygon's
    // answer (before the fix, thread A's holder.set could be observed
    // by thread B's in-flight bucket collects)
    val h = PreparedPolygonQuery(index, res = 8, buckets = 3)
    val expected = polys.map(wkt =>
      H3Query.objects(spark, index, wkt, res = 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val runs = scala.util.Random.shuffle(
        (0 until 6).flatMap(_ => polys.indices))
      val futs = runs.map { i =>
        Future(i -> h.objects(polys(i))
          .map(r => (r.getString(0), r.getString(1))).toSeq)
      }
      Await.result(Future.sequence(futs), 5.minutes).foreach {
        case (i, got) =>
          assert(got == expected(i), s"concurrent probe bled for poly $i")
      }
    } finally pool.shutdown()
  }

  test("bucket-count invariance: pruning is a strict superset filter at any bucket count") {
    val expected = polys.map(wkt =>
      H3Query.objects(spark, index, wkt, res = 8)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    // 1 = the unbucketed r9 shape; 3 exercises multi-bucket probes;
    // 64 >> distinct keys forces collapsed/degenerate split points
    Seq(1, 3, 64).foreach { b =>
      val h = PreparedPolygonQuery(index, res = 8, buckets = b)
      polys.zip(expected).foreach { case (wkt, exp) =>
        val got = h.objects(wkt).map(r => (r.getString(0), r.getString(1)))
        assert(got.toSeq == exp, s"buckets=$b mismatch for $wkt")
      }
    }
  }
}
