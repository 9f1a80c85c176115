package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.spatial.{GeoJson, Geometry}

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
      featuresToDf(spark, GeoJson.parseFeatureCollection(
        Files.readString(path)))
    }
  }

  /** WFS GetFeature reader with startIndex/count pagination
    * (`src/g_etl/plugins/wfs.py:110-201`). The fetcher is pluggable so
    * offline tests can serve canned pages; production uses
    * Downloader-backed HTTP. */
  final class WfsSource(fetch: String => String) extends SourceConnector {
    val name = "wfs"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val base = options("url")
      val pageSize = options.get("count").map(_.toInt)
      val pages = pageSize match {
        case None => Seq(GeoJson.parseFeatureCollection(fetch(base)))
        case Some(n) =>
          Iterator.from(0)
            .map { page =>
              val sep = if (base.contains("?")) "&" else "?"
              GeoJson.parseFeatureCollection(
                fetch(s"$base${sep}startIndex=${page * n}&count=$n"))
            }
            .takeWhile(_.nonEmpty)
            .toSeq
      }
      val all = pages.flatten
      featuresToDf(spark, all)
    }
  }

  /** Distributed WFS ingest — the large-pull shape for WFS 2.0
    * endpoints (the reference's Arrow/pyogrio path,
    * `src/g_etl/plugins/wfs_geopandas.py:28-173`, exists because big
    * WFS layers choke the sequential JSON reader; on Spark the
    * equivalent lever is fanning the GetFeature pages out across
    * tasks). The total feature count comes from the `total` option or
    * a `resultType=hits` probe (WFS 2.0 `numberMatched`); the column
    * set comes from a driver-side probe of page 0; then each task
    * fetches its own page range — no driver-side row buffering, and a
    * multi-million-feature layer becomes ceil(total/count) parallel
    * page fetches. `fetch` must be serializable (a plain
    * url=>body function is).
    */
  final class WfsDistSource(fetch: String => String) extends SourceConnector {
    val name = "wfs_dist"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val base = options("url")
      val n = options.getOrElse("count",
        throw new IllegalArgumentException("wfs_dist requires count")).toInt
      val sep = if (base.contains("?")) "&" else "?"
      val total = options.get("total").map(_.toInt).getOrElse {
        val hits = fetch(s"$base${sep}resultType=hits")
        "\"?numberMatched\"?\\s*[=:]\\s*\"?(\\d+)".r.findFirstMatchIn(hits)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalArgumentException(
            "endpoint did not report numberMatched; pass total=N"))
      }
      val nPages = math.max(1, (total + n - 1) / n)
      // schema from a driver-side probe of the first page (property
      // keys vary per feature; WFS layers are homogeneous in practice)
      val probe = GeoJson.parseFeatureCollection(
        fetch(s"$base${sep}startIndex=0&count=$n"))
      val keys = probe.flatMap(_._1.keys).distinct.sorted
      val schema = StructType(
        keys.map(k => StructField(k, StringType)) :+
          StructField("geom", BinaryType))
      val fetchF = fetch // avoid capturing `this` in the task closure
      val rows = spark.sparkContext
        .parallelize(0 until nPages, math.min(nPages, 64))
        .flatMap { page =>
          GeoJson.parseFeatureCollection(
            fetchF(s"$base${sep}startIndex=${page * n}&count=$n"))
            .map { case (props, geom) =>
              Row.fromSeq(keys.map(k => props.getOrElse(k, null)) :+
                geom.map(Geometry.toWkb).orNull)
            }
        }
      spark.createDataFrame(rows, schema)
    }
  }

  /** The reference ships a second WFS plugin
    * (`src/g_etl/plugins/wfs_geopandas.py:28-173`, pyogrio/Arrow-backed)
    * whose whole reason to exist is large layers that choke the
    * sequential requests-based reader. The Spark-native equivalent of
    * that lever is the page fan-out, so this connector picks the path
    * by the same criterion the reference user does: when a page size is
    * given and the endpoint (or the caller) can state the total, pages
    * fan out across tasks; otherwise it degrades to the sequential
    * reader. Both paths produce the identical (sorted string props +
    * geom WKB) schema, so the dispatch is invisible to consumers. */
  final class WfsAutoSource(fetch: String => String) extends SourceConnector {
    val name = "wfs_geopandas"
    private val seq = new WfsSource(fetch)
    private val dist = new WfsDistSource(fetch)
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      // pass the probed total through so the dist reader does not issue
      // a second hits request (which could transiently fail AFTER the
      // dispatcher already proved the total knowable)
      val total = if (!options.contains("count")) None
        else options.get("total").orElse(probeTotal(options).map(_.toString))
      total match {
        case Some(t) => dist.read(spark, options + ("total" -> t))
        case None => seq.read(spark, options)
      }
    }
    private def probeTotal(options: Map[String, String]): Option[Int] = {
      val base = options("url")
      val sep = if (base.contains("?")) "&" else "?"
      try {
        val hits = fetch(s"$base${sep}resultType=hits")
        "\"?numberMatched\"?\\s*[=:]\\s*\"?(\\d+)".r.findFirstMatchIn(hits)
          .map(_.group(1).toInt)
      } catch { case _: Exception => None }
    }
  }

  /** Bearer-authenticated REST endpoint returning GeoJSON
    * (`src/g_etl/plugins/lantmateriet.py:34-110`). */
  final class LantmaterietSource(fetch: (String, Map[String, String]) => String)
      extends SourceConnector {
    val name = "lantmateriet"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val headers = options.get("token")
        .map(t => Map("Authorization" -> s"Bearer $t"))
        .getOrElse(Map.empty[String, String])
      featuresToDf(spark,
        GeoJson.parseFeatureCollection(fetch(options("url"), headers)))
    }
  }

  /** Zipped shapefile: download -> unzip -> parse .shp/.dbf
    * (`src/g_etl/plugins/zip_shapefile.py:125-299`), honoring
    * `shp_filename` selection and the DBF `encoding` override
    * (default LATIN1). */
  object ZipShapefileSource extends SourceConnector {
    val name = "zip_shapefile"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val cacheDir = options.getOrElse("cache_dir",
        Files.createTempDirectory("graft_dl").toString)
      val archive = Downloader.fetch(options("url"), cacheDir)
      val dir = Downloader.unzip(archive)
      val shps = Files.walk(dir).iterator().asScala
        .filter(p => p.toString.toLowerCase.endsWith(".shp")).toSeq
      val selected = options.get("shp_filename") match {
        case Some(wanted) =>
          shps.find(_.getFileName.toString == wanted)
            .getOrElse(throw new IllegalArgumentException(
              s"shp_filename $wanted not in archive: ${shps.map(_.getFileName)}"))
        case None =>
          require(shps.nonEmpty, s"no .shp in $archive")
          shps.minBy(_.getFileName.toString)
      }
      val data = Shapefile.read(selected,
        options.getOrElse("encoding", "ISO-8859-1"))
      shpToDf(spark, data)
    }
  }

  /** GeoPackage reader (`src/g_etl/plugins/geopackage.py:49-167`):
    * pure-JVM SQLite b-tree parser + GPKG geometry header decode, layer
    * listing and named-layer selection — no GDAL, no JDBC driver.
    * Geometry fixing mirrors the reference's buffer(0) fallback
    * (`zip_geopackage.py:327-343`) via makeValid on unparseable rings. */
  object GeopackageSource extends SourceConnector {
    val name = "geopackage"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val p = options("url")
      val path = Paths.get(
        if (p.startsWith("file:")) java.net.URI.create(p).getPath else p)
      gpkgToDf(spark, path, options.get("layer"))
    }
  }

  /** Zipped GeoPackage: download -> unzip -> read layer
    * (`src/g_etl/plugins/zip_geopackage.py:67-343`). */
  object ZipGeopackageSource extends SourceConnector {
    val name = "zip_geopackage"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val cacheDir = options.getOrElse("cache_dir",
        Files.createTempDirectory("graft_dl").toString)
      val archive = Downloader.fetch(options("url"), cacheDir)
      val dir = Downloader.unzip(archive)
      val gpkgs = Files.walk(dir).iterator().asScala
        .filter(p => p.toString.toLowerCase.endsWith(".gpkg")).toSeq
      require(gpkgs.nonEmpty, s"no .gpkg in $archive")
      gpkgToDf(spark, gpkgs.minBy(_.getFileName.toString), options.get("layer"))
    }
  }

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

  private def gpkgToDf(spark: SparkSession, path: java.nio.file.Path,
      layer: Option[String]): DataFrame = {
    val (cols, rows, gIdx) = gpkgLayerRaw(Files.readAllBytes(path), layer)
    val types = gpkgInferTypes(cols, rows, gIdx)
    val schema = gpkgStruct(cols, types, gIdx)
    normalizeGeometryColumn(
      spark.createDataFrame(gpkgCoerce(rows, types, gIdx).asJava, schema))
  }

  /** Distributed GPKG ingest — the 100 TB shape: a directory/glob of
    * .gpkg files becomes one binaryFile scan, each file parsed INSIDE
    * its task by the same pure-JVM SQLite parser (one archive is not
    * splittable, but a lake of archives parallelizes per file; no
    * driver-side row materialization, no OOM on big directories).
    * Schema is inferred from the lexicographically first file; the
    * other files must share its layout and are coerced to it. */
  object GeopackageDistSource extends SourceConnector {
    val name = "geopackage_dist"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val url = options("url")
      val layer = options.get("layer")
      val bin = spark.read.format("binaryFile").load(url)
        .select("path", "content")
      val firstBytes = probeFirstFile(spark, url)
      val (cols, rows0, gIdx) = gpkgLayerRaw(firstBytes, layer)
      val types = gpkgInferTypes(cols, rows0, gIdx)
      val schema = gpkgStruct(cols, types, gIdx)
      val colsB = cols
      val typesB = types
      val rowsRdd = bin.rdd.flatMap { r =>
        val (c, rows, g) = gpkgLayerRaw(r.getAs[Array[Byte]]("content"), layer)
        require(c == colsB,
          s"layer schema mismatch in ${r.getString(0)}: $c vs $colsB")
        gpkgCoerce(rows, typesB, g)
      }
      normalizeGeometryColumn(spark.createDataFrame(rowsRdd, schema))
    }
  }

  /** Distributed zipped-shapefile ingest: *.zip via binaryFile, each
    * archive unzipped and parsed in its task (same parsers as the
    * single-archive source). */
  object ZipShapefileDistSource extends SourceConnector {
    val name = "zip_shapefile_dist"
    def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
      val url = options("url")
      val enc = options.getOrElse("encoding", "ISO-8859-1")
      val wanted = options.get("shp_filename")
      val bin = spark.read.format("binaryFile").load(url)
        .select("path", "content")
      val first = parseZipShp(probeFirstFile(spark, url), wanted, enc)
      val schema = shpStruct(first.fields)
      val fieldsB = first.fields
      val rowsRdd = bin.rdd.flatMap { r =>
        val d = parseZipShp(r.getAs[Array[Byte]]("content"), wanted, enc)
        require(d.fields == fieldsB,
          s"dbf schema mismatch in ${r.getString(0)}")
        d.rows.map { case (attrs, geom) =>
          Row.fromSeq(attrs :+ geom.map(Geometry.toWkb).orNull)
        }
      }
      spark.createDataFrame(rowsRdd, schema)
    }
  }

  /** Schema-probe bytes for the distributed archive sources: list the
    * matching paths WITHOUT materializing content (binaryFile prunes the
    * content column, so the probe costs a listing, not a full-lake
    * read), then fetch exactly the lexicographically first file through
    * Hadoop's FileSystem — identical behavior on file:, hdfs: and s3a:
    * (java.nio would only resolve local paths). */
  private[sources] def probeFirstFile(spark: SparkSession, url: String): Array[Byte] = {
    val first = spark.read.format("binaryFile").load(url)
      .select("path").orderBy("path").limit(1)
      .collect().headOption.getOrElse(throw new IllegalArgumentException(
        s"no files match $url")).getString(0)
    val p = new org.apache.hadoop.fs.Path(first)
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

  private[sources] def parseZipShp(zipBytes: Array[Byte],
      wanted: Option[String], encoding: String): Shapefile.ShpData = {
    val entries = unzipToMap(zipBytes)
    def fileName(entry: String): String =
      entry.substring(entry.lastIndexOf('/') + 1)
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
    registryWith(new WfsSource(httpFetch), new LantmaterietSource(httpFetchH),
      extras = Seq(new WfsDistSource(httpFetch), new WfsAutoSource(httpFetch),
        new WfsArrowSource(httpFetchBytes)))
  }

  def registryWith(wfs: SourceConnector, lm: SourceConnector,
      extras: Seq[SourceConnector] = Nil)
      : Map[String, SourceConnector] = {
    val base = (Seq(ParquetSource, CsvSource, JsonSource, JdbcSource,
      GeoJsonSource, wfs, lm, ZipShapefileSource, GeopackageSource,
      ZipGeopackageSource, GeopackageDistSource, ZipShapefileDistSource) ++
      extras).map(c => c.name -> c).toMap
    // the reference's second WFS plugin (pyogrio/Arrow-backed
    // wfs_geopandas.py) targets large pulls; when no WfsAutoSource was
    // injected (test registries), the name falls back to the plain reader
    base ++ Map(
      "wfs_geopandas" -> base.getOrElse("wfs_geopandas", wfs),
      "geoparquet_http" -> ParquetSource)
  }

  // ---------------------------------------------------------- helpers

  private def featuresToDf(spark: SparkSession,
      features: Seq[(Map[String, String], Option[graft.spatial.Geom])]): DataFrame = {
    val keys = features.flatMap(_._1.keys).distinct.sorted
    val schema = StructType(
      keys.map(k => StructField(k, StringType)) :+ StructField("geom", BinaryType))
    val rows = features.map { case (props, geom) =>
      Row.fromSeq(keys.map(k => props.getOrElse(k, null)) :+
        geom.map(Geometry.toWkb).orNull)
    }
    spark.createDataFrame(rows.asJava, schema)
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

  private def shpToDf(spark: SparkSession, data: Shapefile.ShpData): DataFrame = {
    val rows = data.rows.map { case (attrs, geom) =>
      Row.fromSeq(attrs :+ geom.map(Geometry.toWkb).orNull)
    }
    spark.createDataFrame(rows.asJava, shpStruct(data.fields))
  }
}
