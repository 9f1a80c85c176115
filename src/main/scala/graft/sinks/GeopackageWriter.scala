package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.SQLiteWriter
import graft.sources.SQLiteWriter.Table
import graft.spatial.{Geom, Geometry, GeomColl, Line, MultiLine, MultiPoly,
  MultiPt, Poly, Pt}

/** Native GeoPackage WRITER (the reference exports .gpkg through GDAL,
  * `src/g_etl/export.py:344-521` / `docs/architecture.md`; this writes
  * the file directly via [[SQLiteWriter]] — no GDAL, no JDBC).
  *
  * Produces a spec-conformant features GeoPackage: required
  * `gpkg_spatial_ref_sys` (-1, 0, 4326 + the data SRS),
  * `gpkg_contents`, `gpkg_geometry_columns`, and one feature table
  * with `fid INTEGER PRIMARY KEY` (rowid alias) and GPKG-header
  * geometry blobs (version 0, little-endian, XY envelope).
  *
  * Export edge: rows are collected to the driver — a .gpkg is a single
  * SQLite file and inherently single-writer (GDAL serializes the same
  * way). Cap with `limit` for interactive use; use parquet/GeoJSON-seq
  * for distributed exports.
  */
object GeopackageWriter {

  /** SWEREF99 TM — the reference's storage CRS (config/config.yml). */
  val DefaultSrsId = 3006

  /** `srsDef` supplies (srs_name, WKT definition) for srsIds other than
    * the built-in 3006/4326 — without it, an unknown srsId is rejected
    * rather than silently stamped with the SWEREF99 definition (which
    * would mis-georeference the layer in any consumer). */
  def write(df: DataFrame, path: String, layerName: String,
      geomCol: String = "geom", srsId: Int = DefaultSrsId,
      limit: Int = 1000000, srsDef: Option[(String, String)] = None): Unit = {
    val schema = df.schema
    val gIdx = schema.fieldNames.indexOf(geomCol)
    require(gIdx >= 0, s"geometry column $geomCol not in schema")
    val rows = df.limit(limit).collect()

    // feature table DDL: fid + attributes (geometry stays BLOB)
    val attrFields = schema.fields.zipWithIndex.filter(_._2 != gIdx)
    def sqlType(dt: DataType): String = dt match {
      case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
      case DoubleType | FloatType => "REAL"
      case BinaryType => "BLOB"
      case _ => "TEXT"
    }
    val colDefs = Seq("\"fid\" INTEGER PRIMARY KEY") ++
      Seq(s""""$geomCol" BLOB""") ++
      attrFields.map { case (f, _) => s""""${f.name}" ${sqlType(f.dataType)}""" }
    val ddl = s"""CREATE TABLE "$layerName" (${colDefs.mkString(", ")})"""

    var geomType = "GEOMETRY"
    val geomTypes = scala.collection.mutable.Set[String]()
    var (minX, minY, maxX, maxY) =
      (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)

    val featureRows: Seq[Seq[Any]] = rows.zipWithIndex.map { case (r, i) =>
      val geomBlob: Any = r.get(gIdx) match {
        case wkb: Array[Byte] =>
          val g = Geometry.fromWkb(wkb)
          geomTypes += g.typeName
          envelope(g).foreach { case (x0, y0, x1, y1) =>
            minX = math.min(minX, x0); minY = math.min(minY, y0)
            maxX = math.max(maxX, x1); maxY = math.max(maxY, y1)
          }
          gpkgBlob(g, srsId)
        case _ => null
      }
      Seq[Any](i.toLong + 1, geomBlob) ++ attrFields.map { case (_, idx) =>
        normalize(r.get(idx))
      }
    }.toSeq
    if (geomTypes.size == 1) geomType = geomTypes.head

    val srsRows = Seq(
      Seq[Any]("Undefined Cartesian SRS", -1L, "NONE", -1L, "undefined", "undefined"),
      Seq[Any]("Undefined Geographic SRS", 0L, "NONE", 0L, "undefined", "undefined"),
      Seq[Any]("WGS 84", 4326L, "EPSG", 4326L,
        """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]""",
        "WGS 84 geodetic")) ++
      (if (srsId != 4326 && srsId > 0) {
        val (srsName, srsWkt) = srsDef.getOrElse {
          require(srsId == DefaultSrsId,
            s"srsId $srsId has no built-in definition - pass srsDef=(name, wkt)")
          ("SWEREF99 TM",
            """PROJCS["SWEREF99 TM",GEOGCS["SWEREF99",DATUM["SWEREF99",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",0],UNIT["metre",1]]""")
        }
        Seq(Seq[Any](srsName, srsId.toLong, "EPSG", srsId.toLong, srsWkt,
          s"$srsName projected"))
       } else Nil)

    val haveEnv = minX != Double.MaxValue
    val contentsRows = Seq(Seq[Any](layerName, "features", layerName,
      s"$layerName features", "2026-01-01T00:00:00.000Z",
      if (haveEnv) minX else null, if (haveEnv) minY else null,
      if (haveEnv) maxX else null, if (haveEnv) maxY else null,
      srsId.toLong))

    val geomColRows = Seq(Seq[Any](layerName, geomCol, geomType,
      srsId.toLong, 0L, 0L))

    val tables = Seq(
      Table("gpkg_spatial_ref_sys",
        """CREATE TABLE gpkg_spatial_ref_sys ("srs_name" TEXT NOT NULL, "srs_id" INTEGER PRIMARY KEY, "organization" TEXT NOT NULL, "organization_coordsys_id" INTEGER NOT NULL, "definition" TEXT NOT NULL, "description" TEXT)""",
        srsRows, rowidAliasIdx = 1),
      // NB: non-INTEGER PRIMARY KEY/UNIQUE constraints would make real
      // SQLite expect an autoindex b-tree (we write none), so the meta
      // tables declare plain columns — readers never depend on the
      // constraint text
      Table("gpkg_contents",
        """CREATE TABLE gpkg_contents ("table_name" TEXT NOT NULL, "data_type" TEXT NOT NULL, "identifier" TEXT, "description" TEXT, "last_change" TEXT NOT NULL, "min_x" REAL, "min_y" REAL, "max_x" REAL, "max_y" REAL, "srs_id" INTEGER)""",
        contentsRows),
      Table("gpkg_geometry_columns",
        """CREATE TABLE gpkg_geometry_columns ("table_name" TEXT NOT NULL, "column_name" TEXT NOT NULL, "geometry_type_name" TEXT NOT NULL, "srs_id" INTEGER NOT NULL, "z" TINYINT NOT NULL, "m" TINYINT NOT NULL)""",
        geomColRows),
      Table(layerName, ddl, featureRows, rowidAliasIdx = 0))

    val out = Paths.get(path)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    writeWithAppId(out, tables)
  }

  /** SQLite build + the GPKG application_id/user_version stamp. */
  private def writeWithAppId(path: Path, tables: Seq[Table]): Unit = {
    val bytes = SQLiteWriter.build(tables)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    bb.putInt(68, 0x47504B47) // "GPKG"
    bb.putInt(60, 10301) // user_version: GeoPackage 1.3.1
    Files.write(path, bytes)
  }

  /** GPKG geometry blob: GP magic, version 0, flags = envelope-code 1
    * (32-byte XY) | little-endian bit, srs_id, envelope, WKB. */
  def gpkgBlob(g: Geom, srsId: Int): Array[Byte] = {
    val wkb = Geometry.toWkb(g)
    val env = envelope(g)
    val headerLen = if (env.isDefined) 40 else 8
    val bb = ByteBuffer.allocate(headerLen + wkb.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('P'.toByte).put(0.toByte)
    bb.put((if (env.isDefined) 0x03 else 0x01).toByte) // envelope code<<1 | LE
    bb.putInt(srsId)
    env.foreach { case (x0, y0, x1, y1) =>
      bb.putDouble(x0).putDouble(x1) // min_x, max_x
      bb.putDouble(y0).putDouble(y1) // min_y, max_y
    }
    bb.put(wkb)
    bb.array()
  }

  /** (min_x, min_y, max_x, max_y) over every coordinate. */
  def envelope(g: Geom): Option[(Double, Double, Double, Double)] = {
    def pts(g: Geom): Iterator[Pt] = g match {
      case p: Pt => if (p.isEmpty) Iterator.empty else Iterator(p)
      case Line(ps) => ps.iterator
      case Poly(rings) => rings.iterator.flatten
      case MultiPt(ps) => ps.iterator
      case MultiLine(ls) => ls.iterator.flatMap(_.pts)
      case MultiPoly(polys) => polys.iterator.flatMap(_.rings.iterator.flatten)
      case GeomColl(gs) => gs.iterator.flatMap(pts)
    }
    val it = pts(g)
    if (!it.hasNext) return None
    var (x0, y0, x1, y1) =
      (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    it.foreach { p =>
      x0 = math.min(x0, p.x); y0 = math.min(y0, p.y)
      x1 = math.max(x1, p.x); y1 = math.max(y1, p.y)
    }
    Some((x0, y0, x1, y1))
  }

  private def normalize(v: Any): Any = v match {
    case null => null
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 0L
    case d: Double => d
    case f: Float => f.toDouble
    case s: String => s
    case b: Array[Byte] => b
    case other => String.valueOf(other)
  }
}
