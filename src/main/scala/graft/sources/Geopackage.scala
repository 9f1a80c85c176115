package graft.sources

import graft.spatial.{Geom, Geometry}

/** GeoPackage layer reader on top of [[SQLiteFile]]
  * (`src/g_etl/plugins/geopackage.py:49-167`: layer listing, named
  * layer selection, geometry to the engine's WKB convention). */
object Geopackage {

  final case class Layer(table: String, geometryColumn: String,
      geometryType: String, srsId: Int)

  /** st_layers parity (geopackage.py:97-115). */
  def layers(db: SQLiteFile): Seq[Layer] = {
    val geomCols = db.readTable("gpkg_geometry_columns").map(_._2)
    val cols = db.columnsOf("gpkg_geometry_columns")
    val ti = cols.indexOf("table_name")
    val ci = cols.indexOf("column_name")
    val gi = cols.indexOf("geometry_type_name")
    val si = cols.indexOf("srs_id")
    geomCols.map { v =>
      Layer(v(ti).toString, v(ci).toString, v(gi).toString,
        v(si) match { case l: Long => l.toInt; case _ => 0 })
    }
  }

  /** Read one layer as (columnNames, rows) with the geometry parsed
    * from the GPKG binary header into the engine's Geom. */
  def readLayer(db: SQLiteFile, layerName: Option[String] = None)
      : (Seq[String], Seq[Seq[Any]], Layer) = {
    val all = layers(db)
    require(all.nonEmpty, "no feature layers in GeoPackage")
    val layer = layerName match {
      case Some(n) => all.find(_.table == n).getOrElse(
        throw new IllegalArgumentException(
          s"layer $n not found; available: ${all.map(_.table).mkString(", ")}"))
      case None => all.head
    }
    val cols = db.columnsOf(layer.table)
    val gIdx = cols.indexOf(layer.geometryColumn)
    require(gIdx >= 0, s"geometry column ${layer.geometryColumn} missing")
    val rows = db.readTable(layer.table).map { case (_, vals) =>
      vals.zipWithIndex.map { case (v, i) =>
        if (i == gIdx) v match {
          case b: Array[Byte] => parseGpkgGeometry(b).map(Geometry.toWkb).orNull
          case _ => null
        } else v
      }
    }
    (cols, rows, layer)
  }

  /** GPKG geometry blob: "GP" magic, version, flags (bit 0 endianness,
    * bits 1-3 envelope size, bit 4 empty), srs_id, envelope, WKB. */
  def parseGpkgGeometry(blob: Array[Byte]): Option[Geom] = {
    if (blob.length < 8 || blob(0) != 'G' || blob(1) != 'P') {
      // some writers store raw WKB
      return Some(Geometry.fromWkb(blob))
    }
    val flags = blob(3) & 0xFF
    if ((flags & 0x10) != 0) return None // empty-geometry flag
    val envelopeSize = ((flags >> 1) & 0x7) match {
      case 0 => 0
      case 1 => 32
      case 2 | 3 => 48
      case 4 => 64
      case other => throw new IllegalArgumentException(s"bad envelope code $other")
    }
    val wkbStart = 8 + envelopeSize
    Some(Geometry.fromWkb(
      java.util.Arrays.copyOfRange(blob, wkbStart, blob.length)))
  }
}
