package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.spatial.{GeoJson, Geom, Geometry}

/** Source connector registry (`src/g_etl/plugins/__init__.py:23-47`):
  * name -> connector, covering the reference's plugin surface. Every
  * connector lands data as a DataFrame with geometry (when present)
  * normalized to a WKB `geom` column — the engine's storage convention
  * (SURVEY §1.1) — ready for `Stages.stage004`.
  */
trait SourceConnector {
  def name: String

  /** Read using string options (url/path, plus connector specifics). */
  def read(spark: SparkSession, options: Map[String, String]): DataFrame
}

object Sources {

  /** Normalize alternative geometry column names to `geom`
    * (`src/g_etl/services/pipeline_runner.py:445-496`). */
  def normalizeGeometryColumn(df: DataFrame): DataFrame = {
    val alts = Seq("geometry", "shape", "geometri", "wkb_geometry", "the_geom")
    df.columns.find(c => alts.contains(c.toLowerCase)) match {
      case Some(c) if !df.columns.contains("geom") => df.withColumnRenamed(c, "geom")
      case _ => df
    }
  }

  /** (Geo)Parquet scan (`src/g_etl/plugins/geoparquet.py:18-79`). */
  object ParquetSource extends SourceConnector {
    val name = "geoparquet"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame =
      normalizeGeometryColumn(spark.read.parquet(options("url")))
  }

  object CsvSource extends SourceConnector {
    val name = "csv"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame =
      normalizeGeometryColumn(
        spark.read
          .option("header", options.getOrElse("header", "true"))
          .option("inferSchema", options.getOrElse("inferSchema", "true"))
          .csv(options("url")))
  }

  object JsonSource extends SourceConnector {
    val name = "json"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame =
      normalizeGeometryColumn(spark.read.json(options("url")))
  }

  /** JDBC reader replacing the reference's hand-rolled pyodbc MSSQL
    * plugin (`src/g_etl/plugins/mssql.py:18-217`): Spark's JDBC source
    * gives type mapping and partitioned parallel reads for free. */
  object JdbcSource extends SourceConnector {
    val name = "mssql"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      var r = spark.read.format("jdbc")
        .option("url", options("url"))
        .option("dbtable", options.getOrElse("dbtable",
          options.getOrElse("query", "")))
      Seq("user", "password", "driver", "partitionColumn", "lowerBound",
        "upperBound", "numPartitions", "fetchsize").foreach { k =>
        options.get(k).foreach(v => r = r.option(k, v))
      }
      normalizeGeometryColumn(r.load())
    }
  }

  /** GeoJSON FeatureCollection file -> rows
    * (`src/g_etl/plugins/lantmateriet.py:34-110` endpoint shape). */
  object GeoJsonSource extends SourceConnector {
    val name = "geojson"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val path = Paths.get(java.net.URI.create(
        if (options("url").contains(":")) options("url")
        else "file://" + options("url")))
      localFrame(spark, GeoJsonPages, Seq(GeoJsonPages.decode(
        Files.readString(path))))
    }
  }

  /** How a WFS reader pages (`src/g_etl/plugins/wfs.py:110-201` and
    * `wfs_geopandas.py:28-173`, whose reason to exist is large layers
    * that choke the sequential reader):
    *  - `Walk` fetches `startIndex`/`count` pages in order until the
    *    first empty one, or the bare URL once when no `count` is given;
    *  - `FanOut` fetches ceil(total/count) pages in parallel tasks, so
    *    no feature crosses the driver; the total comes from the `total`
    *    option or a WFS 2.0 `resultType=hits` probe;
    *  - `Auto` fans out when `count` is given and the total is known,
    *    and walks otherwise. */
  private[sources] sealed trait WfsPaging
  private[sources] object WfsPaging {
    case object Walk extends WfsPaging
    case object FanOut extends WfsPaging
    case object Auto extends WfsPaging
  }

  /** A WFS page decoder from response bodies `B` to decoded pages `P`.
    * `schema` gets every page a walk fetched, or page 0 alone for the
    * fan-out; `rows` decodes one page under that schema. Serializable:
    * the fan-out decodes inside tasks. */
  private[sources] sealed trait WfsPages[B, P] extends Serializable {
    def text(body: B): String
    def decode(body: B): P
    def isEmpty(page: P): Boolean
    def schema(pages: Seq[P]): StructType
    def rows(page: P, schema: StructType): Seq[Row]
  }

  /** A GeoJSON FeatureCollection: (string properties, geometry) per feature. */
  private[sources] type Features = Seq[(Map[String, String], Option[Geom])]

  /** GeoJSON FeatureCollection pages: sorted string properties plus the
    * geometry as WKB `geom`; the schema is the union of the keys on the
    * pages it is given. */
  private[sources] object GeoJsonPages extends WfsPages[String, Features] {
    def text(body: String): String = body
    def decode(body: String): Features = GeoJson.parseFeatureCollection(body)
    def isEmpty(page: Features): Boolean = page.isEmpty
    def schema(pages: Seq[Features]): StructType =
      StructType(pages.flatten.flatMap(_._1.keys).distinct.sorted
        .map(k => StructField(k, StringType)) :+ StructField("geom", BinaryType))
    def rows(page: Features, schema: StructType): Seq[Row] = {
      val keys = schema.fieldNames.toSeq.init
      page.map { case (props, geom) =>
        Row.fromSeq(keys.map(k => props.getOrElse(k, null)) :+
          geom.map(Geometry.toWkb).orNull)
      }
    }
  }

  /** Arrow IPC stream pages ([[ArrowWire]]): typed columns, the schema
    * of page 0. */
  private[sources] object ArrowPages extends WfsPages[Array[Byte], (StructType, Seq[Row])] {
    def text(body: Array[Byte]): String = new String(body, StandardCharsets.UTF_8)
    def decode(body: Array[Byte]): (StructType, Seq[Row]) = ArrowWire.read(body)
    def isEmpty(page: (StructType, Seq[Row])): Boolean = page._2.isEmpty
    def schema(pages: Seq[(StructType, Seq[Row])]): StructType = pages.head._1
    def rows(page: (StructType, Seq[Row]), schema: StructType): Seq[Row] = page._2
  }

  /** The WFS GetFeature reader: one paging loop for every WFS plugin
    * name, with the page format plugged in. The fetcher is pluggable so
    * offline tests can serve canned pages; production uses
    * Downloader-backed HTTP. For the fan-out, `fetch` must be
    * serializable (a plain url => body function is). */
  private[sources] final class WfsSource[B, P](val name: String, paging: WfsPaging,
      pages: WfsPages[B, P], fetch: String => B) extends SourceConnector {
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val base = options("url")
      val count = options.get("count").map(_.toInt)
      def hits(): Option[Int] =
        "\"?numberMatched\"?\\s*[=:]\\s*\"?(\\d+)".r
          .findFirstMatchIn(pages.text(fetch(withQuery(base, "resultType=hits"))))
          .map(_.group(1).toInt)
      val total = options.get("total").map(_.toInt)
      val fanOut: Option[(Int, Int)] = paging match {
        case WfsPaging.Walk => None
        case WfsPaging.FanOut =>
          val n = count.getOrElse(
            throw new IllegalArgumentException(s"$name requires count"))
          Some((n, total.orElse(hits()).getOrElse(
            throw new IllegalArgumentException(
              "endpoint did not report numberMatched; pass total=N"))))
        case WfsPaging.Auto =>
          count.flatMap { n =>
            total.orElse(try hits() catch { case _: Exception => None })
              .map(t => (n, t))
          }
      }
      fanOut match {
        case Some((n, t)) =>
          val schema = pages.schema(Seq(pages.decode(fetch(pageUrl(base, 0, n)))))
          val nPages = math.max(1, (t + n - 1) / n)
          // locals, so the task closure does not capture `this`
          val (pagesF, fetchF) = (pages, fetch)
          val rows = spark.sparkContext
            .parallelize(0 until nPages, math.min(nPages, 64))
            .flatMap(p => pagesF.rows(pagesF.decode(fetchF(pageUrl(base, p, n))), schema))
          normalizeGeometryColumn(spark.createDataFrame(rows, schema))
        case None =>
          val walked = count match {
            case None => Seq(pages.decode(fetch(base)))
            case Some(n) =>
              // every page up to and including the first empty one: an
              // empty page 0 still carries the Arrow schema
              val (full, rest) = Iterator.from(0)
                .map(p => pages.decode(fetch(pageUrl(base, p, n))))
                .span(p => !pages.isEmpty(p))
              val fetched = full.toList
              fetched :+ rest.next()
          }
          localFrame(spark, pages, walked)
      }
    }
  }

  private def withQuery(base: String, params: String): String =
    base + (if (base.contains("?")) "&" else "?") + params

  private def pageUrl(base: String, page: Int, n: Int): String =
    withQuery(base, s"startIndex=${page * n}&count=$n")

  def wfs(fetch: String => String): SourceConnector =
    new WfsSource("wfs", WfsPaging.Walk, GeoJsonPages, fetch)
  def wfsDist(fetch: String => String): SourceConnector =
    new WfsSource("wfs_dist", WfsPaging.FanOut, GeoJsonPages, fetch)
  def wfsGeopandas(fetch: String => String): SourceConnector =
    new WfsSource("wfs_geopandas", WfsPaging.Auto, GeoJsonPages, fetch)
  def wfsArrow(fetch: String => Array[Byte]): SourceConnector =
    new WfsSource("wfs_arrow", WfsPaging.Auto, ArrowPages, fetch)

  /** Bearer-authenticated REST endpoint returning GeoJSON
    * (`src/g_etl/plugins/lantmateriet.py:34-110`). */
  final class LantmaterietSource(fetch: (String, Map[String, String]) => String)
      extends SourceConnector {
    val name = "lantmateriet"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val headers = options.get("token")
        .map(t => Map("Authorization" -> s"Bearer $t"))
        .getOrElse(Map.empty[String, String])
      localFrame(spark, GeoJsonPages,
        Seq(GeoJsonPages.decode(fetch(options("url"), headers))))
    }
  }

  /** Archive reader (`src/g_etl/plugins/geopackage.py:49-167`,
    * `zip_geopackage.py:67-343`, `zip_shapefile.py:125-299`): the url
    * is one file, a directory or a glob, read as one binaryFile scan
    * whose tasks each parse their own files, so a lake of archives
    * parallelizes per file and no rows are materialized on the driver.
    * An `http(s)` url is first fetched into `cache_dir` by
    * [[Downloader.fetch]]; any other url goes to binaryFile as is
    * (file:, hdfs:, s3a: or a plain path). The schema comes from a
    * driver-side parse of the lexicographically first file; `format`
    * turns that file's image into the schema and the decoder every
    * file (the first included) goes through inside the tasks. */
  private[sources] final class ArchiveSource(val name: String,
      format: (Map[String, String], Array[Byte]) => (StructType, FileDecoder))
      extends SourceConnector {
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val url = options("url")
      val files =
        if (url.matches("(?i)https?://.*"))
          Downloader.fetch(url, options.getOrElse("cache_dir",
            Files.createTempDirectory("graft_dl").toString)).toUri.toString
        else url
      val scan = spark.read.format("binaryFile").load(files)
      val (schema, decode) = format(options, firstFile(spark, scan, files))
      val rows = scan.select("path", "content").rdd
        .flatMap(r => decode(r.getString(0), r.getAs[Array[Byte]](1)))
      normalizeGeometryColumn(spark.createDataFrame(rows, schema))
    }
  }

  /** (file path, file image) => the file's rows under the probe's schema. */
  private[sources] type FileDecoder = (String, Array[Byte]) => Seq[Row]

  /** GeoPackage layer (`layer`, default the first in
    * `gpkg_geometry_columns`) read from each file image as `unpack`
    * yields it. Pure-JVM SQLite b-tree parser and GPKG geometry header
    * decode, no GDAL or JDBC driver. Column types come from the probe
    * file; every other file must have its columns and is coerced to
    * its types. */
  private def gpkgFormat(unpack: Array[Byte] => Array[Byte])(
      options: Map[String, String], first: Array[Byte]): (StructType, FileDecoder) = {
    val layer = options.get("layer")
    val (cols, rows0, gIdx) = gpkgLayerRaw(unpack(first), layer)
    val types = gpkgInferTypes(cols, rows0, gIdx)
    (gpkgStruct(cols, types, gIdx), (path, bytes) => {
      val (c, rows, g) = gpkgLayerRaw(unpack(bytes), layer)
      require(c == cols, s"layer schema mismatch in $path: $c vs $cols")
      gpkgCoerce(rows, types, g)
    })
  }

  /** Zipped shapefile, parsed in memory: `shp_filename` selects the
    * .shp (default the smallest file name), `encoding` overrides the
    * DBF charset (default LATIN1). Every archive must have the probe's
    * DBF fields. */
  private def shpFormat(options: Map[String, String],
      first: Array[Byte]): (StructType, FileDecoder) = {
    val wanted = options.get("shp_filename")
    val enc = options.getOrElse("encoding", "ISO-8859-1")
    val fields = parseZipShp(first, wanted, enc).fields
    (shpStruct(fields), (path, bytes) => {
      val d = parseZipShp(bytes, wanted, enc)
      require(d.fields == fields, s"dbf schema mismatch in $path")
      d.rows.map { case (attrs, geom) =>
        Row.fromSeq(attrs :+ geom.map(Geometry.toWkb).orNull)
      }
    })
  }

  val GeopackageDistSource: SourceConnector =
    new ArchiveSource("geopackage_dist", gpkgFormat(identity))
  val ZipGeopackageSource: SourceConnector =
    new ArchiveSource("zip_geopackage", gpkgFormat(gpkgInZip))
  val ZipShapefileSource: SourceConnector =
    new ArchiveSource("zip_shapefile", shpFormat)
  val ZipShapefileDistSource: SourceConnector =
    new ArchiveSource("zip_shapefile_dist", shpFormat)

  /** Parse one GPKG byte image: (columns, raw rows, geometry index). */
  private[sources] def gpkgLayerRaw(bytes: Array[Byte],
      layer: Option[String]): (Seq[String], Seq[Seq[Any]], Int) = {
    val db = new SQLiteFile(bytes)
    val (cols, rows, lyr) = Geopackage.readLayer(db, layer)
    (cols, rows, cols.indexOf(lyr.geometryColumn))
  }

  /** Infer a column type from the first non-null value (SQLite is
    * dynamically typed; GPKG tables are homogeneous in practice —
    * same inference the reference's MSSQL plugin does from row 1). */
  private[sources] def gpkgInferTypes(cols: Seq[String],
      rows: Seq[Seq[Any]], gIdx: Int): Seq[DataType] =
    cols.indices.map { i =>
      if (i == gIdx) BinaryType
      else rows.iterator.map(_(i)).find(_ != null) match {
        case Some(_: Long) => LongType
        case Some(_: Double) => DoubleType
        case Some(_: String) => StringType
        case Some(_: Array[Byte]) => BinaryType
        case _ => StringType
      }
    }

  /** Coerce raw SQLite values to the target schema types. */
  private[sources] def gpkgCoerce(rows: Seq[Seq[Any]], types: Seq[DataType],
      gIdx: Int): Seq[Row] =
    rows.map { r =>
      Row.fromSeq(r.zipWithIndex.map {
        case (v, i) if i == gIdx => v
        case (null, _) => null
        case (v: Long, i) => types(i) match {
          case DoubleType => v.toDouble
          case StringType => v.toString
          case _ => v
        }
        case (v: Double, i) => types(i) match {
          case StringType => v.toString
          case _ => v
        }
        case (v, _) => v
      })
    }

  private[sources] def gpkgStruct(cols: Seq[String], types: Seq[DataType],
      gIdx: Int): StructType =
    StructType(cols.zip(types).zipWithIndex.map { case ((n, t), i) =>
      StructField(if (i == gIdx) "geom" else n, t)
    })

  /** The lexicographically first file of a binaryFile scan, read
    * through Hadoop's FileSystem: identical behavior on file:, hdfs:
    * and s3a: (java.nio would only resolve local paths). The paths come
    * from the scan's file index, so the probe runs no Spark job. */
  private def firstFile(spark: SparkSession, scan: DataFrame,
      url: String): Array[Byte] = {
    val p = scan.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(java.net.URI.create(f)))
      .minByOption(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"no files match $url"))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Unzip an archive image fully in memory — per-task archive parsing
    * must not churn executor temp disks (one temp file per task × 10^5
    * tasks at 100 TB). Entry names keep their archive-relative paths. */
  private[sources] def unzipToMap(zipBytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(zipBytes))
    val out = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
      zin.closeEntry()
      e = zin.getNextEntry
    }
    out.toMap
  }

  private def fileName(entry: String): String =
    entry.substring(entry.lastIndexOf('/') + 1)

  /** The .gpkg a zip archive holds: the one with the smallest file name. */
  private def gpkgInZip(zipBytes: Array[Byte]): Array[Byte] = {
    val gpkgs = unzipToMap(zipBytes).filter(_._1.toLowerCase.endsWith(".gpkg"))
    require(gpkgs.nonEmpty, "no .gpkg in archive")
    gpkgs.minBy(e => fileName(e._1))._2
  }

  private[sources] def parseZipShp(zipBytes: Array[Byte],
      wanted: Option[String], encoding: String): Shapefile.ShpData = {
    val entries = unzipToMap(zipBytes)
    val shps = entries.keys.filter(_.toLowerCase.endsWith(".shp")).toSeq
    val selected = wanted match {
      case Some(w) => shps.find(fileName(_) == w)
        .getOrElse(throw new IllegalArgumentException(
          s"shp_filename $w not in archive: ${shps.map(fileName)}"))
      case None =>
        require(shps.nonEmpty, "no .shp in archive")
        shps.minBy(fileName)
    }
    val dbfName = selected.substring(0, selected.lastIndexOf('.')) + ".dbf"
    val dbf = entries.getOrElse(dbfName,
      throw new IllegalArgumentException(s"missing companion .dbf for $selected"))
    Shapefile.readBytes(entries(selected), dbf, encoding)
  }

  // --------------------------------------------------------- registry

  /** Default registry; WFS/REST connectors wired to the Downloader. */
  def defaultRegistry(cacheDir: String = Files.createTempDirectory("graft_dl").toString)
      : Map[String, SourceConnector] = {
    def httpFetch(url: String): String =
      Files.readString(Downloader.fetch(url, cacheDir))
    def httpFetchH(url: String, headers: Map[String, String]): String =
      Files.readString(Downloader.fetch(url, cacheDir, headers))
    def httpFetchBytes(url: String): Array[Byte] =
      Files.readAllBytes(Downloader.fetch(url, cacheDir))
    registryWith(Seq(wfs(httpFetch), wfsDist(httpFetch),
      wfsGeopandas(httpFetch), wfsArrow(httpFetchBytes),
      new LantmaterietSource(httpFetchH)))
  }

  /** The path readers plus `remote`, the connectors that take a fetcher. */
  def registryWith(remote: Seq[SourceConnector]): Map[String, SourceConnector] =
    (Seq(ParquetSource, CsvSource, JsonSource, JdbcSource, GeoJsonSource,
      new ArchiveSource("geopackage", gpkgFormat(identity)),
      GeopackageDistSource, ZipGeopackageSource, ZipShapefileSource,
      ZipShapefileDistSource) ++ remote).map(c => c.name -> c).toMap +
      ("geoparquet_http" -> ParquetSource)

  // ---------------------------------------------------------- helpers

  /** Decoded pages as a driver-side frame under their schema. */
  private def localFrame[P](spark: SparkSession, pages: WfsPages[_, P],
      decoded: Seq[P]): DataFrame = {
    val schema = pages.schema(decoded)
    normalizeGeometryColumn(spark.createDataFrame(
      decoded.flatMap(pages.rows(_, schema)).asJava, schema))
  }

  private[sources] def shpStruct(fields: Seq[Shapefile.DbfField]): StructType = {
    val fieldType: Shapefile.DbfField => DataType = f => f.fieldType match {
      case 'N' | 'F' => if (f.decimals == 0) LongType else DoubleType
      case 'L' => BooleanType
      case _ => StringType
    }
    StructType(fields.map(f => StructField(f.name, fieldType(f))) :+
      StructField("geom", BinaryType))
  }
}
