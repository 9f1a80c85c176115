package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset

import scala.collection.mutable.ArrayBuffer

import graft.spatial._

/** ESRI Shapefile (.shp) + dBase (.dbf) reader — replaces the
  * reference's pyshp/GDAL path for zipped shapefiles
  * (`src/g_etl/plugins/zip_shapefile.py:125-299`), including the DBF
  * `encoding` override defaulting to LATIN1 and the companion-file
  * check. Parses the published ESRI whitepaper format: XY coordinates
  * of Point/PolyLine/Polygon/MultiPoint (+ their Z/M variants with the
  * extra ordinates skipped). The archive reader calls [[readBytes]]
  * inside its scan tasks, one zip image at a time.
  */
object Shapefile {

  final case class DbfField(name: String, fieldType: Char, length: Int, decimals: Int)
  final case class ShpData(fields: Seq[DbfField], rows: Seq[(Seq[Any], Option[Geom])])

  /** Parse from in-memory byte images — the executor-side entry point
    * for distributed archive ingest, where the bytes come from a
    * `binaryFile` scan row (HDFS/S3-portable) rather than a local
    * filesystem path. */
  def readBytes(shpBytes: Array[Byte], dbfBytes: Array[Byte],
      encoding: String = "ISO-8859-1"): ShpData = {
    val geoms = readShp(shpBytes)
    val (fields, attrs) = readDbf(dbfBytes, Charset.forName(encoding))
    require(geoms.length == attrs.length,
      s"shp/dbf record count mismatch: ${geoms.length} vs ${attrs.length}")
    ShpData(fields, attrs.zip(geoms))
  }

  // ------------------------------------------------------------- .shp

  private def readShp(bytes: Array[Byte]): Seq[Option[Geom]] = {
    val bb = ByteBuffer.wrap(bytes)
    bb.order(ByteOrder.BIG_ENDIAN)
    val fileCode = bb.getInt(0)
    require(fileCode == 9994, s"not a shapefile (code $fileCode)")
    val fileLen = bb.getInt(24) * 2 // 16-bit words
    var pos = 100
    val out = ArrayBuffer[Option[Geom]]()
    while (pos < fileLen && pos + 8 <= bytes.length) {
      bb.order(ByteOrder.BIG_ENDIAN)
      val contentLen = bb.getInt(pos + 4) * 2
      val rec = ByteBuffer.wrap(bytes, pos + 8, contentLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      out += parseRecord(rec)
      pos += 8 + contentLen
    }
    out.toSeq
  }

  private def parseRecord(rec: ByteBuffer): Option[Geom] = {
    val shapeType = rec.getInt()
    shapeType match {
      case 0 => None // null shape
      case 1 | 11 | 21 => // Point / PointZ / PointM
        Some(Pt(rec.getDouble(), rec.getDouble()))
      case 8 | 18 | 28 => // MultiPoint variants
        rec.position(rec.position() + 32) // bbox
        val n = rec.getInt()
        Some(MultiPt(Array.fill(n)(Pt(rec.getDouble(), rec.getDouble()))))
      case 3 | 13 | 23 => // PolyLine variants
        val parts = readParts(rec)
        Some(
          if (parts.length == 1) Line(parts(0))
          else MultiLine(parts.map(Line(_))))
      case 5 | 15 | 25 => // Polygon variants
        val rings = readParts(rec).map(closeRing)
        Some(assemblePolygons(rings))
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  private def readParts(rec: ByteBuffer): Array[Array[Pt]] = {
    rec.position(rec.position() + 32) // bbox
    val numParts = rec.getInt()
    val numPoints = rec.getInt()
    val partIdx = Array.fill(numParts)(rec.getInt())
    val pts = Array.fill(numPoints)(Pt(rec.getDouble(), rec.getDouble()))
    (0 until numParts).map { i =>
      val from = partIdx(i)
      val to = if (i + 1 < numParts) partIdx(i + 1) else numPoints
      pts.slice(from, to)
    }.toArray
  }

  private def closeRing(r: Array[Pt]): Array[Pt] =
    if (r.length >= 3 && r.head != r.last) r :+ r.head else r

  /** Shapefile rings: clockwise = shell, counter-clockwise = hole.
    * Consecutive holes attach to the preceding shell. */
  private def assemblePolygons(rings: Array[Array[Pt]]): Geom = {
    val polys = ArrayBuffer[ArrayBuffer[Array[Pt]]]()
    rings.foreach { r =>
      val isShell = Geometry.signedRingArea(r) < 0 // CW in shapefile spec
      if (isShell || polys.isEmpty) polys += ArrayBuffer(r)
      else polys.last += r
    }
    if (polys.length == 1) Poly(polys.head.toArray)
    else MultiPoly(polys.map(p => Poly(p.toArray)).toArray)
  }

  // ------------------------------------------------------------- .dbf

  private def readDbf(bytes: Array[Byte], cs: Charset): (Seq[DbfField], Seq[Seq[Any]]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = bb.getInt(4)
    val headerSize = bb.getShort(8) & 0xFFFF
    val recordSize = bb.getShort(10) & 0xFFFF
    // field descriptors: 32 bytes each, from offset 32 until 0x0D
    val fields = ArrayBuffer[DbfField]()
    var off = 32
    while (off < headerSize - 1 && bytes(off) != 0x0D) {
      val name = new String(bytes, off, 11, cs).takeWhile(_ != '\u0000').trim
      val ftype = bytes(off + 11).toChar
      val len = bytes(off + 16) & 0xFF
      val dec = bytes(off + 17) & 0xFF
      fields += DbfField(name, ftype, len, dec)
      off += 32
    }
    val rows = ArrayBuffer[Seq[Any]]()
    var rpos = headerSize
    var rec = 0
    while (rec < numRecords && rpos + recordSize <= bytes.length) {
      if (bytes(rpos) != '*') { // deleted-record flag
        var fpos = rpos + 1
        val vals = fields.map { f =>
          val raw = new String(bytes, fpos, f.length, cs)
          fpos += f.length
          decodeValue(f, raw)
        }
        rows += vals.toSeq
      }
      rpos += recordSize
      rec += 1
    }
    (fields.toSeq, rows.toSeq)
  }

  private def decodeValue(f: DbfField, raw: String): Any = {
    val t = raw.trim
    f.fieldType match {
      case 'N' | 'F' =>
        if (t.isEmpty) null
        else if (f.decimals == 0 && !t.contains('.'))
          t.toLongOption.orNull
        else t.toDoubleOption.orNull
      case 'L' =>
        t.headOption match {
          case Some(c) if "YyTt".indexOf(c.toInt) >= 0 => java.lang.Boolean.TRUE
          case Some(c) if "NnFf".indexOf(c.toInt) >= 0 => java.lang.Boolean.FALSE
          case _ => null
        }
      case 'D' =>
        if (t.length == 8) s"${t.substring(0, 4)}-${t.substring(4, 6)}-${t.substring(6, 8)}"
        else null
      case _ => if (t.isEmpty) null else t
    }
  }
}
