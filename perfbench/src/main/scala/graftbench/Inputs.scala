package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.DatasetConfig
import graft.pipeline.GeoFixture
import graft.sources.{SourceConnector, Sources}

/** One source dataset: a disjoint GeoFixture replica in its own
  * 62 km east-west band, the first `features` objects of the base table. */
final case class Replica(datasetId: String, slot: Int, pipeline: String,
    features: Int, band: Int) {
  def eastOffset: Long = band * Inputs.BandWidthM
  def fidOffset: Long = band * 1000000L
}

/** Seeded inputs. The seed picks which band each dataset lands in, the
  * query polygons and the join-geometry sample; sizes are fixed. */
object Inputs {

  /** Rows of the customer-shaped base table every replica is cut from. */
  val BaseRows = 4000

  /** GeoFixture spans E 560-621.5 km; one band per replica keeps them disjoint. */
  val BandWidthM = 62000L
  val Bands = 8

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The `customer` columns GeoFixture reads, generated deterministically. */
  def writeBase(spark: SparkSession, dir: String): Unit =
    spark.range(1, BaseRows + 1).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(col("id") * 13, lit(25)).as("c_nationkey"),
      element_at(array(Segments.map(lit): _*),
        (pmod(xxhash64(col("id")), lit(5)) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

  /** Datasets of unequal size over both pipelines, placed in seeded bands. */
  def replicas(seed: Long, sizes: Seq[(String, Int)], prefix: String): Seq[Replica] =
    placed(sizes, prefix, new scala.util.Random(seed).shuffle((0 until Bands).toList))

  /** Dataset slot i in band `bands(i)`. */
  def placed(sizes: Seq[(String, Int)], prefix: String, bands: Seq[Int]): Seq[Replica] =
    sizes.zip(bands).zipWithIndex.map { case (((pipeline, n), band), i) =>
      Replica(s"${prefix}_$i", i, pipeline, n, band)
    }

  /** Write each replica as a geoparquet file (WKB `geom`) under `dir`. */
  def writeReplicas(spark: SparkSession, baseDir: String, dir: String,
      rs: Seq[Replica]): Unit =
    rs.foreach { r =>
      GeoFixture(spark, baseDir, r.eastOffset, r.fidOffset)
        .filter(col("fid") <= r.fidOffset + r.features)
        .drop("wkt")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/${r.datasetId}.parquet")
    }

  def configs(dir: String, rs: Seq[Replica]): Seq[DatasetConfig] = rs.map { r =>
    DatasetConfig(
      datasetId = r.datasetId, pipeline = r.pipeline, plugin = "geoparquet",
      url = s"$dir/${r.datasetId}.parquet", sourceIdColumn = "$source_id",
      klass = "$klass_raw", grupp = "fixture", typField = "synthetic",
      leverantor = "$lev_raw", dataMappings = Map("name" -> "$name"))
  }

  val registry: Map[String, SourceConnector] =
    Map("geoparquet" -> Sources.ParquetSource)

  /** Axis-aligned square (SWEREF99 TM) of side `sideM` at a seeded offset
    * around a seeded object's position on GeoFixture's grid, so queries
    * land where the data is. */
  def square(rnd: scala.util.Random, rs: Seq[Replica], sideM: Int): String = {
    val r = rs(rnd.nextInt(rs.length))
    val k = 1L + rnd.nextInt(r.features)
    val px = (k % 31) * 2000 + 560000 + r.eastOffset + 400
    val py = (k * 7 % 23) * 3000 + 6440000 + 400
    val x = px - rnd.nextInt(sideM)
    val y = py - rnd.nextInt(sideM)
    s"POLYGON (($x $y, ${x + sideM} $y, ${x + sideM} ${y + sideM}, $x ${y + sideM}, $x $y))"
  }
}
