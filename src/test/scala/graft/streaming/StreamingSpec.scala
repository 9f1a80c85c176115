package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

import graft.SparkSuite
import graft.pipeline.{FieldMapping, GeoFixture, H3Index, H3Query}

class StreamingSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** events.parquet re-staged with micro-second timestamps so the
    * streaming reader accepts the schema. Schema-aware: the fixture has
    * shipped as both TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS). */
  private def stagedEvents(): String =
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val dir = Files.createTempDirectory("sev").toString
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val normalized = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      normalized.write.mode("overwrite").parquet(dir)
      dir
    }

  test("windowed counts over a file stream match the batch equivalent") {
    val dir = stagedEvents()
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = StreamingOps.windowedEventCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wincounts").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wincounts")
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val batch = spark.read.parquet(dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("incremental mart refresh feeds the batch query layer") {
    val fm = FieldMapping(Map(
      "source_id" -> "$source_id", "klass" -> "$klass_raw",
      "grupp" -> "fixture", "typ" -> "synthetic", "leverantor" -> "$lev_raw"))
    val rawDir = Files.createTempDirectory("rawstream").toString
    val martPath = Files.createTempDirectory("mart").toString + "/inc_h3.parquet"
    val ckpt = Files.createTempDirectory("ckpt").toString

    // first micro-batch of raw features
    GeoFixture(spark, sfDir).limit(60).write.mode("append").parquet(rawDir)
    val schema = spark.read.parquet(rawDir).schema
    val stream = spark.readStream.schema(schema).parquet(rawDir)
    val q1 = StreamingOps.incrementalMart(stream, fm, "inc_ds", martPath, ckpt)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(martPath).count()
    assert(afterFirst > 0)

    // late-arriving second batch appends incrementally (no reprocess)
    GeoFixture(spark, sfDir).limit(90).exceptAll(GeoFixture(spark, sfDir).limit(60))
      .write.mode("append").parquet(rawDir)
    val q2 = StreamingOps.incrementalMart(
      spark.readStream.schema(schema).parquet(rawDir), fm, "inc_ds", martPath, ckpt)
    q2.awaitTermination()
    val afterSecond = spark.read.parquet(martPath).count()
    assert(afterSecond > afterFirst)

    // the refreshed mart is immediately queryable by the batch layer
    val idx = H3Index.build(spark,
      Map("inc_ds" -> spark.read.parquet(martPath)))
    val res = H3Query.stats(spark, idx, GeoFixture.queryPolygonWkt, 8)
    assert(res.count() >= 0) // runs end-to-end over the streamed mart
    assert(H3Index.stats(idx).count() > 0)
  }

  test("stateful sessionization matches the batch q43 logic") {
    val dir = stagedEvents()
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val sess = StreamingOps.sessionize(spark, stream)
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions")
      assert(streamed.count() > 0)
      // single batch -> state sees each user once; compare to batch q43
      val batch = graft.SparkEntry.queries("q43_sessions")(spark, sfDir)
        .select("user_id", "n_sessions")
      val joined = streamed.select(col("user_id"),
        col("n_sessions").as("stream_sessions"))
        .join(batch, "user_id")
      val mismatches = joined
        .filter(col("stream_sessions") =!= col("n_sessions")).count()
      assert(mismatches == 0, s"$mismatches users disagree with batch sessionizer")
    } finally q.stop()
  }

  test("streaming dedup admits each fingerprint once, bounded state") {
    import spark.implicits._
    // corpus with every text ingested twice at different times
    val dir = Files.createTempDirectory("dedupstream").toString
    val docs = (1 to 50).map(i =>
      (i.toLong, s"document body number ${i % 20}", // only 20 distinct texts
        java.sql.Timestamp.valueOf(s"2026-01-01 10:${i % 60}:00")))
      .toDF("doc_id", "text", "ingest_ts")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamingOps.streamingDedup(stream, "ingest_ts", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedupout").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedupout")
      assert(out.count() == 20, "expected one row per distinct text")
      assert(out.select("fingerprint").distinct().count() == 20)
    } finally q.stop()
  }

  test("streamingSemDedup: member cap refuses loudly; under the cap, output matches batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // one centroid -> every vector lands in one cluster (worst case)
    val cents = Array((0L, Array.fill(4)(1.0)))
    val vecs = (1L to 8L).map(i =>
      (i, Seq.fill(4)(rnd.nextFloat() + 0.5f))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("semcap").toString
    vecs.coalesce(1).write.mode("overwrite").parquet(dir)
    def run(cap: Int, name: String) = {
      val stream = spark.readStream.schema(vecs.schema).parquet(dir)
      val q = StreamingOps.streamingSemDedup(spark, stream, cents,
          tau = 0.999, maxMembersPerCluster = cap)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    // 8 members into a cap of 5: the stream FAILS with the contract
    // message — state never balloons silently
    val e = intercept[Exception] { run(5, "semcap_fail") }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxMembersPerCluster")),
      s"expected the cap contract in the failure chain: ${messages(e)}")
    // at the cap boundary (8 == cap) the stream completes and matches
    // the batch prune
    run(8, "semcap_ok")
    val streamed = spark.table("semcap_ok")
      .select("vec_id", "cluster", "kept")
    val centsDf = Seq((0L, Seq.fill(4)(1.0))).toDF("__c_id", "__c_vec")
    val batch = graft.ops.VectorOps.semState(vecs, "vec_id", "embedding",
        centsDf, tau = 0.999)
      .members.select("vec_id", "cluster", "kept")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
