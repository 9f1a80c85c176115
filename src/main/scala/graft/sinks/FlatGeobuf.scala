package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.google.flatbuffers.{Constants, FlatBufferBuilder, Table}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.spatial.{Geom, Geometry, GeomColl, Line, MultiLine, MultiPoly,
  MultiPt, Poly, Pt}

/** FlatGeobuf writer + reader implementing the published format
  * (flatgeobuf.org: magic bytes, size-prefixed Header flatbuffer,
  * size-prefixed Feature records; `ends` in coordinate-pair units;
  * properties as [u16 column index][LE value] bytes). No spatial index
  * (index_node_size = 0) — FGB readers treat the index as optional.
  * The flatbuffers go through the flatbuffers-java runtime Spark ships:
  * `FlatBufferBuilder` writes them, and [[Fb]], a `Table` addressed by
  * the schema's field ids, reads them.
  *
  * The reference exports FlatGeobuf through GDAL (`src/g_etl/
  * export.py:344-521`); this is a native implementation like the
  * GeoPackage pair, validated by write->read round-trip specs.
  */
object FlatGeobuf {

  val Magic: Array[Byte] =
    Array(0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x01).map(_.toByte)

  // GeometryType enum (geometry.fbs)
  private val GtUnknown = 0
  private val GtPoint = 1
  private val GtLine = 2
  private val GtPolygon = 3
  private val GtMultiPoint = 4
  private val GtMultiLine = 5
  private val GtMultiPolygon = 6
  private val GtCollection = 7

  // ColumnType enum (header.fbs)
  private val CtBool = 2
  private val CtLong = 7
  private val CtDouble = 10
  private val CtString = 11
  private val CtBinary = 14

  // ------------------------------------------------------------ write

  def write(df: DataFrame, path: String, layerName: String,
      geomCol: String = "geom", srsCode: Int = GeopackageWriter.DefaultSrsId,
      limit: Int = 1000000): Unit = {
    val schema = df.schema
    val gIdx = schema.fieldNames.indexOf(geomCol)
    require(gIdx >= 0, s"geometry column $geomCol not in schema")
    val attrs = schema.fields.zipWithIndex.filter(_._2 != gIdx)
    val rows = df.limit(limit).collect()

    val geoms = rows.map { r =>
      r.get(gIdx) match {
        case wkb: Array[Byte] => Geometry.fromWkb(wkb)
        case _ => null
      }
    }
    val gtypes = geoms.filter(_ != null).map(g => fgbType(g)).distinct
    val headerGt = if (gtypes.length == 1) gtypes(0) else GtUnknown
    var (minX, minY, maxX, maxY) =
      (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    geoms.filter(_ != null)
      .flatMap(g => GeopackageWriter.envelope(g)).foreach {
        case (x0, y0, x1, y1) =>
          minX = math.min(minX, x0); minY = math.min(minY, y0)
          maxX = math.max(maxX, x1); maxY = math.max(maxY, y1)
      }

    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    val b = new FlatBufferBuilder(1024)
    // Header table (header.fbs field ids: 0 name, 1 envelope,
    // 2 geometry_type, 7 columns, 8 features_count, 9 index_node_size,
    // 10 crs); Column: 0 name, 1 type; Crs: 0 org, 1 code
    val name = b.createString(layerName)
    val envelope = doubles(b,
      if (minX == Double.MaxValue) Array.empty else Array(minX, minY, maxX, maxY))
    val columns = b.createVectorOfTables(attrs.map { case (f, _) =>
      val colName = b.createString(f.name)
      b.startTable(2)
      b.addOffset(0, colName, 0)
      b.addByte(1, colType(f.dataType).toByte, 0)
      b.endTable()
    })
    val org = b.createString("EPSG")
    b.startTable(2)
    b.addOffset(0, org, 0)
    b.addInt(1, srsCode, 0)
    val crs = b.endTable()
    b.startTable(11)
    b.addOffset(0, name, 0)
    b.addOffset(1, envelope, 0)
    b.addByte(2, headerGt.toByte, 0)
    b.addOffset(7, columns, 0)
    b.addLong(8, rows.length.toLong, 0)
    b.addShort(9, 0, 16) // no spatial index
    b.addOffset(10, crs, 0)
    b.finishSizePrefixed(b.endTable())
    out.write(b.sizedByteArray())

    // Feature tables (feature.fbs: 0 geometry, 1 properties)
    rows.zip(geoms).foreach { case (r, g) =>
      b.clear()
      val geometry = if (g == null) 0 else geomTable(b, g)
      val props = properties(r, attrs)
      val propsVec = if (props.isEmpty) 0 else b.createByteVector(props)
      b.startTable(2)
      b.addOffset(0, geometry, 0)
      b.addOffset(1, propsVec, 0)
      b.finishSizePrefixed(b.endTable())
      out.write(b.sizedByteArray())
    }
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, out.toByteArray)
  }

  private def colType(dt: DataType): Int = dt match {
    case BooleanType => CtBool
    case LongType | IntegerType | ShortType | ByteType => CtLong
    case DoubleType | FloatType => CtDouble
    case BinaryType => CtBinary
    case _ => CtString
  }

  /** A feature's property bytes: for each non-null value its u16
    * column index, then the little-endian value; strings and binaries
    * carry a u32 length first. */
  private def properties(r: Row, attrs: Array[(StructField, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le(n: Int)(put: ByteBuffer => ByteBuffer): Unit =
      out.write(put(ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)).array)
    attrs.zipWithIndex.foreach { case ((f, srcIdx), colIdx) =>
      if (!r.isNullAt(srcIdx)) {
        le(2)(_.putShort(colIdx.toShort))
        colType(f.dataType) match {
          case CtBool => out.write(if (r.getBoolean(srcIdx)) 1 else 0)
          case CtLong => le(8)(_.putLong(r.getAs[Number](srcIdx).longValue))
          case CtDouble => le(8)(_.putDouble(r.getAs[Number](srcIdx).doubleValue))
          case ct =>
            val bytes =
              if (ct == CtBinary) r.getAs[Array[Byte]](srcIdx)
              else String.valueOf(r.get(srcIdx)).getBytes(UTF_8)
            le(4)(_.putInt(bytes.length))
            out.write(bytes)
        }
      }
    }
    out.toByteArray
  }

  private def fgbType(g: Geom): Int = g match {
    case _: Pt => GtPoint
    case _: Line => GtLine
    case _: Poly => GtPolygon
    case _: MultiPt => GtMultiPoint
    case _: MultiLine => GtMultiLine
    case _: MultiPoly => GtMultiPolygon
    case _ => GtUnknown
  }

  private def doubles(b: FlatBufferBuilder, xs: Array[Double]): Int = {
    b.startVector(8, xs.length, 8)
    xs.reverseIterator.foreach(b.addDouble)
    b.endVector()
  }

  private def uints(b: FlatBufferBuilder, xs: Array[Int]): Int = {
    b.startVector(4, xs.length, 4)
    xs.reverseIterator.foreach(b.addInt)
    b.endVector()
  }

  /** Geometry table (geometry.fbs: 0 ends, 1 xy, 6 type, 7 parts).
    * Multi-polygons and collections nest their members as `parts`; the
    * other types flatten their chains into `xy`, with `ends` only when
    * there is more than one chain. */
  private def geomTable(b: FlatBufferBuilder, g: Geom): Int = {
    val noChains = Array.empty[Array[Pt]]
    val noParts = Array.empty[Geom]
    val (gt, chains, parts) = g match {
      case p: Pt => (GtPoint, Array(Array(p)), noParts)
      case Line(pts) => (GtLine, Array(pts), noParts)
      case Poly(rings) => (GtPolygon, rings, noParts)
      case MultiPt(pts) => (GtMultiPoint, Array(pts), noParts)
      case MultiLine(lines) => (GtMultiLine, lines.map(_.pts), noParts)
      case MultiPoly(polys) => (GtMultiPolygon, noChains, polys.map(p => p: Geom))
      case GeomColl(gs) => (GtCollection, noChains, gs)
    }
    val partsVec =
      if (parts.isEmpty) 0 else b.createVectorOfTables(parts.map(geomTable(b, _)))
    val xy =
      if (chains.isEmpty) 0 else doubles(b, chains.flatten.flatMap(p => Array(p.x, p.y)))
    val ends =
      if (chains.length < 2) 0 else uints(b, chains.map(_.length).scanLeft(0)(_ + _).tail)
    b.startTable(8)
    b.addOffset(0, ends, 0)
    b.addOffset(1, xy, 0)
    b.addByte(6, gt.toByte, 0)
    b.addOffset(7, partsVec, 0)
    b.endTable()
  }

  // ------------------------------------------------------------- read

  final case class FgbColumn(name: String, colType: Int)
  final case class FgbLayer(name: String, envelope: Array[Double],
      geometryType: Int, columns: Seq[FgbColumn], featuresCount: Long,
      crsOrg: String, crsCode: Int)

  /** A table of a FlatGeobuf flatbuffer whose fields are read by their
    * id in the `.fbs` schema, the way generated accessors read them. */
  private final class Fb(buf: ByteBuffer, pos: Int) extends Table {
    __reset(pos, buf)
    private def field(id: Int): Int = __offset(4 + 2 * id)
    private def scalar[T](id: Int, default: T)(get: Int => T): T = {
      val o = field(id)
      if (o == 0) default else get(bb_pos + o)
    }
    private def vector[T: scala.reflect.ClassTag](id: Int, width: Int)(
        get: Int => T): Array[T] = {
      val o = field(id)
      if (o == 0) Array.empty[T]
      else {
        val v = __vector(o)
        Array.tabulate(__vector_len(o))(j => get(v + width * j))
      }
    }
    def u8(id: Int): Int = scalar(id, 0)(p => bb.get(p) & 0xFF)
    def i32(id: Int): Int = scalar(id, 0)(p => bb.getInt(p))
    def u64(id: Int): Long = scalar(id, 0L)(p => bb.getLong(p))
    def str(id: Int): String = scalar[String](id, null)(p => __string(p))
    def table(id: Int): Option[Fb] =
      scalar(id, Option.empty[Fb])(p => Some(new Fb(bb, __indirect(p))))
    def tables(id: Int): Array[Fb] = vector(id, 4)(p => new Fb(bb, __indirect(p)))
    def doubles(id: Int): Array[Double] = vector(id, 8)(p => bb.getDouble(p))
    def uints(id: Int): Array[Int] = vector(id, 4)(p => bb.getInt(p))
    def bytes(id: Int): Array[Byte] = vector(id, 1)(p => bb.get(p))
  }

  def read(path: String): (FgbLayer, Seq[(Geom, Map[String, Any])]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    // full magic check: both 'fgb' triplets AND the spec major version
    // byte (offset 3) == 3 — incompatible future-version or corrupted
    // files must not be parsed as if valid (byte 7, the patch version,
    // is allowed to differ per spec)
    require(bytes.length > 8 &&
      Seq(0, 1, 2, 4, 5, 6).forall(i => bytes(i) == Magic(i)),
      "not a FlatGeobuf file")
    require(bytes(3) == Magic(3),
      s"unsupported FlatGeobuf spec version ${bytes(3)} (expected 3)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // a size-prefixed flatbuffer at `at`: its root table, as the
    // generated getSizePrefixedRootAs… accessors find it, and the
    // position after it
    def record(at: Int): (Fb, Int) = {
      val start = at + Constants.SIZE_PREFIX_LENGTH
      (new Fb(bb, start + bb.getInt(start)), start + bb.getInt(at))
    }
    val (header, afterHeader) = record(Magic.length)
    val cols = header.tables(7).toSeq.map(c => FgbColumn(c.str(0), c.u8(1)))
    val crs = header.table(10)
    val layer = FgbLayer(header.str(0), header.doubles(1), header.u8(2), cols,
      header.u64(8), crs.map(_.str(0)).orNull, crs.fold(0)(_.i32(1)))
    val feats = Iterator.iterate(afterHeader)(at => record(at)._2)
      .takeWhile(_ < bytes.length)
      .map { at =>
        val ft = record(at)._1
        (ft.table(0).map(readGeom).orNull, parseProps(ft.bytes(1), cols))
      }.toVector
    (layer, feats)
  }

  private def readGeom(t: Fb): Geom = {
    val gt = t.u8(6)
    gt match {
      case GtMultiPolygon =>
        MultiPoly(t.tables(7).map(p => readGeom(p).asInstanceOf[Poly]))
      case GtCollection =>
        GeomColl(t.tables(7).map(readGeom))
      case _ =>
        val xy = t.doubles(1)
        val pts = Array.tabulate(xy.length / 2)(i => Pt(xy(2 * i), xy(2 * i + 1)))
        val ends0 = t.uints(0)
        val ends = if (ends0.isEmpty) Array(pts.length) else ends0
        def chains: Array[Array[Pt]] = {
          var from = 0
          ends.map { e => val c = pts.slice(from, e); from = e; c }
        }
        gt match {
          case GtPoint => pts(0)
          case GtLine => Line(pts)
          case GtPolygon => Poly(chains)
          case GtMultiPoint => MultiPt(pts)
          case GtMultiLine => MultiLine(chains.map(Line))
          case other => throw new IllegalArgumentException(s"geometry type $other")
        }
    }
  }

  private def parseProps(bytes: Array[Byte],
      cols: Seq[FgbColumn]): Map[String, Any] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.Map[String, Any]()
    while (bb.remaining() >= 2) {
      val idx = bb.getShort & 0xFFFF
      val c = cols(idx)
      c.colType match {
        case CtBool => out(c.name) = bb.get() != 0
        case CtLong => out(c.name) = bb.getLong
        case CtDouble => out(c.name) = bb.getDouble
        case CtBinary =>
          val n = bb.getInt
          val b = new Array[Byte](n); bb.get(b); out(c.name) = b
        case _ =>
          val n = bb.getInt
          val b = new Array[Byte](n); bb.get(b)
          out(c.name) = new String(b, "UTF-8")
      }
    }
    out.toMap
  }
}
