package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.config.DatasetConfig
import graft.sources.Sources

/** `Runner.run` writes each layer once and reads it back once, with the
  * schema it was written with: no layer it wrote pays a parquet
  * schema-inference job, and every view it registers holds exactly what
  * a fresh read of the layer's files gives. */
class RunnerSpec extends SparkSuite {

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.count() == b.count(), s"$what: row counts differ")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what: the multisets of rows differ")
  }

  /** Write the 150-row customer table GeoFixture reads under `src`,
    * and one geoparquet dataset per (id, pipeline, east offset). */
  private def fixture(src: String,
      specs: Seq[(String, String, Long)]): Seq[DatasetConfig] = {
    spark.range(1, 151).select(col("id").as("c_custkey"),
      concat(lit("segment_"), (col("id") % 5).cast("string")).as("c_mktsegment"),
      (col("id") % 25).as("c_nationkey"),
      concat(lit("customer_"), col("id").cast("string")).as("c_name"))
      .write.mode("overwrite").parquet(s"$src/base/customer.parquet")
    specs.map { case (id, pipeline, east) =>
      GeoFixture(spark, s"$src/base", east, east).drop("wkt")
        .write.mode("overwrite").parquet(s"$src/$id.parquet")
      DatasetConfig(datasetId = id, pipeline = pipeline,
        plugin = "geoparquet", url = s"$src/$id.parquet",
        sourceIdColumn = "$source_id", klass = "$klass_raw",
        grupp = "fixture", typField = "synthetic", leverantor = "$lev_raw",
        dataMappings = Map("name" -> "$name"))
    }
  }

  /** Every view the run registered equals a fresh read of its layer,
    * `h3_index` equals the union of freshly read marts, and the run's
    * counts are those of the views. Drops the views afterwards: later
    * suites share the session, and the files are deleted. */
  private def checkViews(datasets: Seq[DatasetConfig], out: String,
      result: Runner.RunResult): Unit = {
    val layers = datasets.flatMap { d =>
      val id = d.datasetId
      Seq(
        s"raw_$id" -> s"$out/raw/$id.parquet",
        s"staging_004_$id" -> s"$out/staging_004/$id.parquet",
        s"staging_${d.pipeline}_001_$id" ->
          s"$out/staging_${d.pipeline}_001/$id.parquet",
        s"mart_${id}_h3" -> s"$out/mart/${id}_h3.parquet")
    } :+ ("h3_stats" -> s"$out/mart/h3_stats.parquet")
    try {
      layers.foreach { case (view, path) =>
        val fresh = spark.read.parquet(path)
        assert(spark.table(view).schema == fresh.schema, view)
        sameRows(spark.table(view), fresh, view)
      }
      // the footer counts are those of a fresh read
      datasets.foreach { d =>
        val id = d.datasetId
        assert(result.extracted(id).get ==
          spark.read.parquet(s"$out/raw/$id.parquet").count(), s"extracted($id)")
        assert(result.transformed(id).get ==
          spark.read.parquet(s"$out/mart/${id}_h3.parquet").count(), s"transformed($id)")
      }
      val freshIndex = H3Index.build(spark, datasets.map(d => d.datasetId ->
        spark.read.parquet(s"$out/mart/${d.datasetId}_h3.parquet")).toMap)
      val index = spark.table("h3_index")
      assert(index.schema == freshIndex.schema)
      sameRows(index, freshIndex, "h3_index")
      assert(result.indexRows == index.count())
      assert(result.statsRows == spark.table("h3_stats").count())
      assert(result.statsRows == index.select("h3_cell").distinct().count())
    } finally (layers.map(_._1) :+ "h3_index").foreach(spark.catalog.dropTempView)
  }

  private def deleteAll(dirs: String*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  test("Runner.run: only the source reads infer a schema; every view " +
      "equals a fresh read of its layer; indexRows counts h3_index") {
    val src = Files.createTempDirectory("runner_spec_src").toString
    val out = Files.createTempDirectory("runner_spec_out").toString
    // one dataset per pipeline, in disjoint east-west bands
    val datasets = fixture(src,
      Seq(("ds_ext", "ext_restr", 0L), ("ds_avd", "avdelning", 62000L)))

    val run = recording(Runner.run(spark, datasets, Sources.defaultRegistry(), out))
    val result = run.result
    // jobs of this run outside any SQL execution: schema inference (the
    // Runner's pool threads inherit the job group)
    val inferJobs =
      run.jobs.count(_.properties.getProperty("spark.sql.execution.id") == null)
    // actions of this run: the row counts come from the written files'
    // footers, so a fresh (non-ledger) run has no count() action
    val actions = run.actions
    datasets.foreach { d =>
      assert(result.extracted(d.datasetId).isSuccess)
      assert(result.transformed(d.datasetId).isSuccess)
    }
    assert(inferJobs <= datasets.size,
      s"$inferJobs schema-inference jobs for ${datasets.size} sources")
    assert(!actions.isEmpty, "the listener saw none of the run's writes")
    assert(!actions.contains("count"),
      s"count actions in a fresh run: ${actions.mkString(", ")}")
    checkViews(datasets, out, result)
    deleteAll(src, out)
  }

  test("Runner.run: four chains over both pipelines at once; every view " +
      "equals a fresh read, statsRows counts the distinct cells") {
    val src = Files.createTempDirectory("runner_spec_src4").toString
    val out = Files.createTempDirectory("runner_spec_out4").toString
    // two datasets share the first band, so some cells hold two datasets
    val datasets = fixture(src, Seq(
      ("ds_ext_a", "ext_restr", 0L), ("ds_avd_a", "avdelning", 62000L),
      ("ds_ext_b", "ext_restr", 0L), ("ds_avd_b", "avdelning", 124000L)))
    val result = Runner.run(spark, datasets, Sources.defaultRegistry(), out)
    datasets.foreach { d =>
      assert(result.extracted(d.datasetId).isSuccess, d.datasetId)
      assert(result.transformed(d.datasetId).isSuccess, d.datasetId)
    }
    assert(spark.table("h3_stats").filter(col("dataset_count") === 2).count() > 0,
      "fixture precondition: cells shared by two datasets")
    checkViews(datasets, out, result)
    deleteAll(src, out)
  }

  test("Runner.run leaves no listener that logs an ERROR when a later " +
      "query fails analysis") {
    val src = Files.createTempDirectory("runner_spec_src_log").toString
    val out = Files.createTempDirectory("runner_spec_out_log").toString
    val datasets = fixture(src, Seq(("ds_log", "ext_restr", 0L)))
    val errors = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("runner-spec-errors", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val bus = LogManager.getLogger(
      "org.apache.spark.sql.util.ExecutionListenerBus").asInstanceOf[CoreLogger]
    bus.addAppender(appender)
    try {
      Runner.run(spark, datasets, Sources.defaultRegistry(), out)
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT no_such_column FROM raw_ds_log").collect()
      }
      ListenerDrain(spark.sparkContext)
      assert(errors.isEmpty, s"ERROR events: ${errors.asScala.mkString("; ")}")
    } finally {
      bus.removeAppender(appender)
      appender.stop()
      Seq("raw_ds_log", "staging_004_ds_log", "staging_ext_restr_001_ds_log",
        "mart_ds_log_h3", "h3_index", "h3_stats").foreach(spark.catalog.dropTempView)
      deleteAll(src, out)
    }
  }

  test("Runner.run refuses duplicate dataset ids before writing anything") {
    val src = Files.createTempDirectory("runner_spec_src_dup").toString
    val out = Files.createTempDirectory("runner_spec_out_dup").toString
    val Seq(a, b) = fixture(src,
      Seq(("ds_a", "ext_restr", 0L), ("ds_b", "avdelning", 62000L)))
    try {
      val e = intercept[IllegalArgumentException](Runner.run(spark,
        Seq(a, b, b.copy(pipeline = "ext_restr")), Sources.defaultRegistry(), out))
      assert(e.getMessage.contains("ds_b"), e.getMessage)
      assert(!e.getMessage.contains("ds_a"), e.getMessage)
      assert(new java.io.File(out).list().isEmpty, "the run wrote before refusing")
    } finally deleteAll(src, out)
  }

  test("Runner.run: a failed extract or transform does not sink the other " +
      "chains, and registers no view") {
    val src = Files.createTempDirectory("runner_spec_src_bad").toString
    val out = Files.createTempDirectory("runner_spec_out_bad").toString
    val Seq(good) = fixture(src, Seq(("ds_good", "ext_restr", 0L)))
    val noPlugin = good.copy(datasetId = "ds_no_plugin", plugin = "no_such_plugin")
    val badMapping = good.copy(datasetId = "ds_bad_mapping",
      sourceIdColumn = "$no_such_column")
    try {
      val result = Runner.run(spark, Seq(noPlugin, good, badMapping),
        Sources.defaultRegistry(), out)
      assert(result.extracted.keySet == Set("ds_good", "ds_no_plugin", "ds_bad_mapping"))
      assert(result.extracted("ds_no_plugin").failed.get.getMessage
        .contains("unknown plugin: no_such_plugin"))
      assert(!result.transformed.contains("ds_no_plugin"))
      assert(result.extracted("ds_bad_mapping").isSuccess)
      val badErr = result.transformed("ds_bad_mapping").failed.get
      assert(badErr.isInstanceOf[IllegalArgumentException], badErr)
      assert(badErr.getMessage == "dataset ds_bad_mapping: field mapping " +
        "names missing columns: no_such_column", badErr.getMessage)
      assert(result.extracted("ds_good").isSuccess && result.transformed("ds_good").isSuccess)
      for (id <- Seq("ds_no_plugin", "ds_bad_mapping");
           view <- Seq(s"raw_$id", s"staging_004_$id", s"staging_ext_restr_001_$id",
             s"mart_${id}_h3"))
        assert(!spark.catalog.tableExists(view), s"view $view registered")
      // h3_index is the good mart alone; indexRows and statsRows count it
      checkViews(Seq(good), out, result)
    } finally deleteAll(src, out)
  }

  test("Runner.run: a layer with no rows reports 0 and leaves h3_index " +
      "and h3_stats to the other datasets") {
    val src = Files.createTempDirectory("runner_spec_src_empty").toString
    val out = Files.createTempDirectory("runner_spec_out_empty").toString
    val Seq(good) = fixture(src, Seq(("ds_full", "ext_restr", 0L)))
    // every geometry NULL: stage004 drops every row
    spark.read.parquet(good.url).withColumn("geom", lit(null).cast("binary"))
      .write.mode("overwrite").parquet(s"$src/ds_no_geom.parquet")
    val empty = good.copy(datasetId = "ds_no_geom", url = s"$src/ds_no_geom.parquet")
    try {
      val result = Runner.run(spark, Seq(good, empty), Sources.defaultRegistry(), out)
      assert(result.extracted("ds_no_geom").get == 150)
      assert(result.transformed("ds_no_geom").get == 0)
      assert(result.indexRows == result.transformed("ds_full").get)
      assert(spark.table("h3_index").filter(col("dataset_id") === "ds_no_geom").isEmpty)
      assert(result.statsRows ==
        spark.table("mart_ds_full_h3").select("h3_cell").distinct().count())
      checkViews(Seq(good, empty), out, result)
    } finally deleteAll(src, out)
  }
}
