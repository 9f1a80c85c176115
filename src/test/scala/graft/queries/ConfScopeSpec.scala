package graft.queries

import java.nio.file.Files
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.{SparkEntry, SparkSuite}

/** The events read sets `nanosAsLong` only around `read.parquet`: the
  * scans that run after it put the conf back still read a
  * TIMESTAMP(NANOS) `ts`, and the caller's conf map is unchanged. */
class ConfScopeSpec extends SparkSuite {

  private val nanos = Seq(
    1700000000123456789L, // 2023-11-14T22:13:20.123456789Z
    1700086400000000999L, // the next day, 999 ns past the second
    1600000000000000000L)

  /** An events.parquet whose `ts` is INT64 TIMESTAMP(NANOS), the type
    * Spark reads only under `spark.sql.legacy.parquet.nanosAsLong`. */
  private def nanosEvents(): String = {
    val dir = Files.createTempDirectory("ev_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup()
        .append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 1L).append("event_type", "click")
        .append("value", i + 0.5).append("props", s"""{"k":$i}"""))
    } finally writer.close()
    dir
  }

  test("events with a TIMESTAMP(NANOS) ts read as timestamps, conf map unchanged") {
    val dir = nanosEvents()
    try {
      val before = spark.conf.getAll
      val ev = EventQueries.ev(spark, dir)
      val q40 = SparkEntry.queries("q40_time_buckets")(spark, dir)
      assert(spark.conf.getAll == before)
      // the scans run after ev has put the conf back
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val ts = ev.orderBy("event_id").collect()
        .map(_.getAs[java.sql.Timestamp]("ts").toInstant).toSeq
      assert(ts == nanos.map(ns => Instant.ofEpochSecond(0, ns / 1000 * 1000)))
      assert(q40.collect().map(r => (r.get(0).toString, r.getLong(2))).toSeq ==
        Seq(("2020-09-13", 1L), ("2023-11-14", 1L), ("2023-11-15", 1L)))
      assert(spark.conf.getAll == before)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
