package graft.pipeline

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, udf}

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
    // far outside the fixture box -> must return 0 rows, not stale ones;
    // its one cell id lies inside the fixture's key range
    "POLYGON ((100000 6000000, 101000 6000000, 101000 6001000, 100000 6001000, 100000 6000000))",
    // north of the fixture box, its cell ids above every fixture key
    "POLYGON ((600000 6900000, 601000 6900000, 601000 6901000, 600000 6901000, 600000 6900000))")

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
    val prepared = PreparedPolygonQuery(local, res = 8)
    polys.foreach { wkt =>
      val expect = H3Query.objects(spark, local, wkt, res = 8)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val got = prepared.objects(wkt).map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq == expect.toSeq, s"mismatch for $wkt")
    }
    assert(prepared.objects(polys.head).nonEmpty)
  }

  test("auto-layout: a cached index past the crossover is probed via clustered parquet, results identical") {
    // force the crossover below this fixture's size via the test seam;
    // the handle must rewrite the CACHED index to clustered parquet
    // (observable: its probe frame gains a parquet-backed scan) and
    // return exactly what the cached-path handle returns
    val cachedHandle = PreparedPolygonQuery(index, res = 8) // under crossover: cached path
    val autoHandle = new PreparedPolygonQuery(index, res = 8,
      crossoverRows = 1L)                                   // over crossover: parquet path
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
    // by thread B's in-flight job)
    val h = PreparedPolygonQuery(index, res = 8)
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

  private def expected(idx: DataFrame): Seq[Seq[(String, String)]] =
    polys.map(wkt => H3Query.objects(spark, idx, wkt, res = 8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq)

  /** The same rows in `n` partitions: range-clustered and sorted on the
    * probe key (disjoint partition ranges), or round-robin (overlapping
    * ranges). */
  private def laidOut(n: Int, clustered: Boolean): DataFrame =
    if (clustered) index.repartitionByRange(n, col("h3_parent_8"))
      .sortWithinPartitions("h3_parent_8")
    else index.repartition(n)

  test("partition-layout invariance: pruning returns H3Query.objects " +
      "on clustered and overlapping layouts at any partition count") {
    val exp = expected(index)
    // 64 partitions leave some empty; round-robin ranges overlap
    for (n <- Seq(1, 3, 64); clustered <- Seq(true, false)) {
      val h = PreparedPolygonQuery(laidOut(n, clustered), res = 8)
      polys.zip(exp).foreach { case (wkt, e) =>
        val got = h.objects(wkt).map(r => (r.getString(0), r.getString(1)))
        assert(got.toSeq == e, s"n=$n clustered=$clustered mismatch for $wkt")
      }
    }
  }

  test("a probe runs only the partitions its polygon reaches; an " +
      "outside polygon starts no job") {
    val n = 8
    val clustered = laidOut(n, clustered = true)
    val h = PreparedPolygonQuery(clustered, res = 8)
    val small = polys(1)
    val rec = recording(h.objects(small))
    assert(rec.result.nonEmpty, "fixture precondition: the polygon selects rows")
    assert(rec.result.map(r => (r.getString(0), r.getString(1))).toSeq ==
      expected(clustered)(1))
    assert(rec.jobs.size == 1, s"jobs: ${rec.jobs.size}")
    val tasks = rec.stages.map(_.numTasks).sum
    assert(tasks < n, s"small polygon ran $tasks tasks on $n partitions")
    val maxKey = clustered.agg(max("h3_parent_8")).head().getLong(0)
    assert(PreparedPolygonQuery.cellIds(polys.last, 8).min > maxKey,
      "fixture precondition: the last polygon's cells lie past every key")
    val outside = recording(h.objects(polys.last))
    assert(outside.result.isEmpty)
    assert(outside.jobs.isEmpty, s"outside polygon ran ${outside.jobs.size} jobs")
  }

  test("a probe past spark.graft.probe.timeoutSec fails naming the key " +
      "and cancels its job") {
    import PreparedQuerySpec.slow
    // the key column sleeps per row once `slow` is on, after the handle
    // has read its partition ranges
    val slowKey = udf { (c: Long) => if (slow.get) Thread.sleep(50); c }
    val slowIndex = index.withColumn("h3_parent_8", slowKey(col("h3_parent_8")))
    val h = PreparedPolygonQuery(slowIndex, res = 8)
    slow.set(true)
    try withConf("spark.graft.probe.timeoutSec" -> "1") {
      val t0 = System.nanoTime()
      val e = intercept[TimeoutException](h.objects(polys.head))
      val s = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("spark.graft.probe.timeoutSec"), e.getMessage)
      assert(s < 30, s"timed-out probe took $s s")
    } finally slow.set(false)
    ListenerDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "the timed-out probe's job is still running")
    // the handle stays usable
    assert(h.objects(polys.head).map(r => (r.getString(0), r.getString(1))).toSeq ==
      expected(index).head)
  }
}

object PreparedQuerySpec {
  private val slow = new AtomicBoolean(false)
}
