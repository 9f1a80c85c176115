package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Serializable fake Arrow-WFS endpoint: 47 typed features paged by
  * startIndex/count as REAL Arrow IPC stream bytes; resultType=hits
  * reports numberMatched as JSON. Top level so executor tasks can
  * deserialize it (the fan-out path decodes pages inside tasks). */
object FakeArrowWfsFetch extends (String => Array[Byte]) with Serializable {
  val schema: StructType = StructType(Seq(
    StructField("fid", LongType), StructField("ratio", DoubleType),
    StructField("namn", StringType), StructField("payload", BinaryType),
    StructField("flag", BooleanType)))

  def rowAt(i: Int): Row = Row(
    i.toLong,
    if (i % 7 == 3) null else i / 10.0,
    if (i % 5 == 4) null else s"f$i",
    Array.tabulate(4)(b => (i * 31 + b).toByte),
    i % 2 == 0)

  def apply(url: String): Array[Byte] =
    if (url.contains("resultType=hits"))
      """{"numberMatched":47}""".getBytes("UTF-8")
    else {
      val start = "startIndex=(\\d+)".r.findFirstMatchIn(url)
        .map(_.group(1).toInt).getOrElse(0)
      val count = "count=(\\d+)".r.findFirstMatchIn(url)
        .map(_.group(1).toInt).getOrElse(47)
      val rows = (start until math.min(start + count, 47)).map(rowAt)
      ArrowWire.write(schema, rows, batchRows = 8)
    }
}

/** Arrow IPC wire codec + WFS-Arrow reader laws. The codec uses the
  * Arrow Java library from Spark's own jars, so these tests pin the
  * REAL stream format (schema message + record batches + EOS), not a
  * private serialization. */
class ArrowWireSpec extends SparkSuite {

  private val schema = FakeArrowWfsFetch.schema

  private def assertRowsEqual(a: Seq[Row], b: Seq[Row]): Unit = {
    assert(a.length == b.length)
    a.zip(b).foreach { case (ra, rb) =>
      (0 until schema.length).foreach { c =>
        (ra.get(c), rb.get(c)) match {
          case (x: Array[Byte], y: Array[Byte]) => assert(x.sameElements(y))
          case (x, y) => assert(x == y, s"col $c: $x != $y")
        }
      }
    }
  }

  test("arrow wire: write/read round-trip is identity (nulls, all 5 types)") {
    val rows = (0 until 47).map(FakeArrowWfsFetch.rowAt)
    val bytes = ArrowWire.write(schema, rows, batchRows = 8)
    val (schemaBack, back) = ArrowWire.read(bytes)
    assert(schemaBack == schema)
    assertRowsEqual(back, rows)
  }

  test("arrow wire: stream carries the Arrow IPC continuation marker") {
    // stream format: every message is prefixed 0xFFFFFFFF then a
    // little-endian length (Arrow columnar format spec, IPC section)
    val bytes = ArrowWire.write(schema, Seq(FakeArrowWfsFetch.rowAt(0)))
    assert(bytes.length > 8)
    assert((0 until 4).forall(i => bytes(i) == 0xFF.toByte))
  }

  test("arrow wire: empty stream preserves schema, yields zero rows") {
    val bytes = ArrowWire.write(schema, Nil)
    val (schemaBack, back) = ArrowWire.read(bytes)
    assert(schemaBack == schema)
    assert(back.isEmpty)
  }

  test("arrow wire: int32/float32 columns map to Spark Integer/Float") {
    val s32 = StructType(Seq(
      StructField("i", IntegerType), StructField("f", FloatType)))
    val rows = Seq(Row(1, 1.5f), Row(null, null), Row(-7, -0.25f))
    val (schemaBack, back) = ArrowWire.read(ArrowWire.write(s32, rows))
    assert(schemaBack == s32)
    assert(back == rows)
  }

  test("wfs_arrow: distributed fan-out decodes pages in tasks, all rows once") {
    val src = Sources.wfsArrow(FakeArrowWfsFetch)
    val df = src.read(spark, Map("url" -> "http://fake/wfs", "count" -> "10"))
    assert(df.schema == schema)
    val got = df.collect().sortBy(_.getLong(0))
    assertRowsEqual(got.toSeq, (0 until 47).map(FakeArrowWfsFetch.rowAt))
  }

  test("wfs_arrow: sequential walk (no hits endpoint) agrees with fan-out") {
    val noHits: String => Array[Byte] = u =>
      if (u.contains("resultType=hits")) throw new java.io.IOException("404")
      else FakeArrowWfsFetch(u)
    val src = Sources.wfsArrow(noHits)
    val df = src.read(spark, Map("url" -> "http://fake/wfs", "count" -> "9"))
    val got = df.collect().sortBy(_.getLong(0))
    assertRowsEqual(got.toSeq, (0 until 47).map(FakeArrowWfsFetch.rowAt))
  }

  test("wfs_arrow: single-shot read (no count) returns the full layer") {
    val src = Sources.wfsArrow(FakeArrowWfsFetch)
    val df = src.read(spark, Map("url" -> "http://fake/wfs"))
    assert(df.count() == 47)
  }

  test("wfs_arrow: geometry column name normalizes to geom") {
    val gschema = StructType(Seq(
      StructField("fid", LongType), StructField("wkb_geometry", BinaryType)))
    val fetch: String => Array[Byte] =
      _ => ArrowWire.write(gschema, Seq(Row(1L, Array[Byte](1, 2, 3))))
    val df = Sources.wfsArrow(fetch).read(spark, Map("url" -> "http://fake/x"))
    assert(df.columns.toSeq == Seq("fid", "geom"))
  }
}
