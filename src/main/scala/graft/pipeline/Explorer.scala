package graft.pipeline

import java.io.PrintStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Exporters
import graft.spatial.{Geom, GeomColl, Geometry, Line, MultiLine, MultiPoly,
  MultiPt, Poly, Pt}

/** Warehouse explorer — the reference's interactive admin surface
  * (`src/g_etl/admin/screens/explorer.py`: table list grouped by
  * schema with geometry-first ordering, per-table info, data preview,
  * braille ASCII map of geometries, mart export; `h3_query.py`:
  * polygon query in objects/stats/heatmap modes) re-expressed as a
  * scripted command session over Spark temp views.
  *
  * A TUI framework is out of scope for an engine library; the command
  * loop gives the same capability set in a form that is scriptable,
  * testable, and usable over ssh: feed commands on stdin (or a script
  * file via `graft.Main explorer --script`), read plain text back.
  */
object Explorer {

  /** Register every parquet table of Runner's layers in a warehouse
    * (`<wh>/raw|staging_004|staging_*_001|mart/<name>.parquet`) as a
    * temp view named exactly as Runner names its live views, plus the
    * dynamic `h3_index` union over the `mart_*_h3` tables. Other
    * directories, such as an `export/` written into the warehouse, are
    * not layers and get no views. Returns the registered view names. */
  def openWarehouse(spark: SparkSession, warehouse: String): Seq[String] = {
    val root = Paths.get(warehouse)
    require(Files.isDirectory(root), s"no warehouse at $warehouse")
    val names = scala.collection.mutable.ArrayBuffer[String]()
    Files.list(root).iterator().asScala
      .filter { d =>
        val layer = d.getFileName.toString
        Files.isDirectory(d) &&
          (layer == "raw" || layer == "mart" || layer.startsWith("staging_"))
      }.toSeq.sortBy(_.toString)
      .foreach { layerDir =>
        val layer = layerDir.getFileName.toString
        Files.list(layerDir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.toString)
          .foreach { p =>
            val stem = p.getFileName.toString.stripSuffix(".parquet")
            val view =
              if (layer == "mart" && (stem == "h3_stats" || stem == "h3_index"))
                stem
              else s"${layer}_$stem"
            spark.read.parquet(p.toString).createOrReplaceTempView(view)
            names += view
          }
      }
    val marts = names.toSeq
      .filter(n => n.startsWith("mart_") && n.endsWith("_h3"))
      .map(n => n -> spark.table(n)).toMap
    H3Index.build(spark, marts).createOrReplaceTempView("h3_index")
    names += "h3_index"
    names.toSeq
  }

  /** Export the mart tables among `views` to `outDir`, each under its
    * file name in `mart/`: every `mart_<name>` view and `h3_stats`,
    * as the reference's exporter walks the whole mart schema. The
    * dynamic `h3_index` union is not a mart table. Returns the files
    * written per table. */
  def exportMarts(spark: SparkSession, views: Seq[String],
      outDir: String): Map[String, Seq[String]] = {
    val marts = views.filter(n => n.startsWith("mart_") || n == "h3_stats")
      .map(n => n.stripPrefix("mart_") -> spark.table(n)).toMap
    require(marts.nonEmpty, "no mart tables selected")
    Exporters.exportMartTables(marts, outDir)
  }

  /** Run a command session: one command per line, output to `out`.
    * Returns the number of commands executed. Unknown commands and
    * command errors print a message and keep the session alive — an
    * explorer must not die on a typo. */
  def session(spark: SparkSession, commands: Iterator[String],
      out: PrintStream): Int = {
    var n = 0
    var open = true
    while (open && commands.hasNext) {
      val line = commands.next().trim
      if (line.nonEmpty && !line.startsWith("#")) {
        n += 1
        try {
          val parts = line.split("\\s+", 2)
          (parts(0), parts.lift(1).getOrElse("")) match {
            case ("quit" | "exit", _) => open = false
            case ("help", _) => out.println(help)
            case ("tables", _) => cmdTables(spark, out)
            case ("info", t) => cmdInfo(spark, t, out)
            case ("head", rest) =>
              val a = rest.split("\\s+")
              cmdHead(spark, a(0), a.lift(1).map(_.toInt).getOrElse(10), out)
            case ("map", rest) =>
              val a = rest.split("\\s+")
              out.println(brailleMap(spark.table(a(0)),
                width = a.lift(1).map(_.toInt).getOrElse(60),
                height = a.lift(2).map(_.toInt).getOrElse(18)))
            case ("query", rest) => cmdQuery(spark, rest, out)
            case ("export", rest) => cmdExport(spark, rest, out)
            case (cmd, _) =>
              out.println(s"unknown command: $cmd (try 'help')")
          }
        } catch {
          case e: Exception => out.println(s"error: ${e.getMessage}")
        }
      }
    }
    n
  }

  private val help: String =
    """commands:
      |  tables                          list views (mart first, geometry first)
      |  info <view>                     rows, columns, geometry flag
      |  head <view> [n]                 preview first n rows (default 10)
      |  map <view> [w] [h]              braille map of the geometry column
      |  query <objects|stats|heatmap> <res> <WKT>   polygon query over h3_index
      |  export <outDir> [view,view]     export mart tables (default: all)
      |  help / quit""".stripMargin

  /** explorer.py:291-316 ordering: mart > staging > raw, geometry
    * tables first within a layer. */
  private def cmdTables(spark: SparkSession, out: PrintStream): Unit = {
    val infos = Catalog.listTables(spark)
      .sortBy(t => (t.schemaLayer match {
        case "mart" => 0
        case "staging" => 1
        case "raw" => 2
        case _ => 3
      }, if (t.geometryColumns.nonEmpty) 0 else 1, t.name))
    infos.foreach { t =>
      val geo = if (t.geometryColumns.nonEmpty) "geo" else "   "
      out.println(f"${t.schemaLayer}%-8s $geo  ${t.name}")
    }
    out.println(s"${infos.length} tables")
  }

  /** TableInfo.render parity (explorer.py:63-78). */
  private def cmdInfo(spark: SparkSession, table: String,
      out: PrintStream): Unit = {
    val t = Catalog.describe(spark, table)
    val rows = spark.table(table).count()
    out.println(s"${t.schemaLayer}.${t.name}")
    out.println(s"rows: $rows")
    out.println(s"geometry: ${if (t.geometryColumns.nonEmpty)
      t.geometryColumns.mkString(", ") else "no"}")
    out.println("columns:")
    t.columns.foreach { case (n, tp) => out.println(s"  - $n ($tp)") }
  }

  private def cmdHead(spark: SparkSession, table: String, n: Int,
      out: PrintStream): Unit = {
    val df = spark.table(table)
    // geometry blobs render as WKT previews, not byte noise
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.BinaryType)
        substring(graft.functions.GFunctions.st_astext(col(f.name)), 1, 40)
          .as(f.name)
      else col(f.name)
    }
    out.println(renderTable(df.select(cols.toIndexedSeq: _*), n))
  }

  /** Plain-text table preview (the TUI DataTable's job,
    * explorer.py:433-456). */
  private[pipeline] def renderTable(df: DataFrame, n: Int): String = {
    val names = df.columns
    val rows = df.limit(n).collect().map(_.toSeq.map {
      case null => "NULL"
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => v.toString
    })
    val widths = names.indices.map { i =>
      math.min(40, (names(i).length +: rows.map(_(i).length)).max)
    }
    def fmt(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) =>
        val t = if (c.length > w) c.take(w - 1) + "…" else c
        t.padTo(w, ' ')
      }.mkString("| ", " | ", " |")
    (Seq(fmt(names.toIndexedSeq),
      widths.map("-" * _).mkString("|-", "-|-", "-|")) ++
      rows.map(r => fmt(r.map(_.toString)))).mkString("\n")
  }

  private def cmdQuery(spark: SparkSession, rest: String,
      out: PrintStream): Unit = {
    val a = rest.split("\\s+", 3)
    require(a.length == 3, "usage: query <objects|stats|heatmap> <res> <WKT>")
    val res = a(1).toInt
    val index = spark.table("h3_index")
    val df = a(0) match {
      case "objects" => H3Query.objects(spark, index, a(2), res)
      case "stats" => H3Query.stats(spark, index, a(2), res)
      case "heatmap" => H3Query.heatmap(spark, index, a(2), res)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    out.println(renderTable(df, 50))
  }

  private def cmdExport(spark: SparkSession, rest: String,
      out: PrintStream): Unit = {
    val a = rest.split("\\s+")
    require(a.nonEmpty && a(0).nonEmpty, "usage: export <outDir> [view,view]")
    val wanted: Option[Set[String]] =
      a.lift(1).map(_.split(',').toSet)
    val views = spark.catalog.listTables().collect().toSeq.map(_.name)
      .filter(n => wanted.forall(_.contains(n)))
    exportMarts(spark, views, a(0)).toSeq.sortBy(_._1).foreach { case (t, fs) =>
      out.println(s"export $t: ${fs.map(f => Paths.get(f).getFileName).mkString(", ")}")
    }
  }

  // ------------------------------------------------------- braille map

  /** ASCII geometry preview on a braille raster — 2×4 dots per char
    * cell, like the reference's BrailleMapWidget
    * (`admin/widgets/ascii_map.py`). Samples up to `sample` rows,
    * densifies segments so outlines read as lines, and frames the
    * drawing with its extent. */
  def brailleMap(df: DataFrame, geomCol: String = "geom",
      width: Int = 60, height: Int = 18, sample: Int = 2000): String = {
    val gc = if (df.columns.contains(geomCol)) geomCol
      else df.schema.fields.find(_.dataType ==
        org.apache.spark.sql.types.BinaryType).map(_.name)
        .getOrElse(throw new IllegalArgumentException("no geometry column"))
    val wkbs = df.select(gc).filter(col(gc).isNotNull)
      .limit(sample).collect().map(_.getAs[Array[Byte]](0))
    if (wkbs.isEmpty) return "(no geometries)"
    val geoms = wkbs.map(Geometry.fromWkb)

    var (minX, minY) = (Double.MaxValue, Double.MaxValue)
    var (maxX, maxY) = (Double.MinValue, Double.MinValue)
    geoms.foreach(g => vertices(g).foreach { p =>
      minX = math.min(minX, p.x); minY = math.min(minY, p.y)
      maxX = math.max(maxX, p.x); maxY = math.max(maxY, p.y)
    })
    val spanX = math.max(maxX - minX, 1e-9)
    val spanY = math.max(maxY - minY, 1e-9)

    val dotsW = width * 2
    val dotsH = height * 4
    val grid = Array.ofDim[Int](height, width)
    def plot(x: Double, y: Double): Unit = {
      val dx = math.min(dotsW - 1, ((x - minX) / spanX * (dotsW - 1)).round.toInt)
      // screen y grows downward
      val dy = math.min(dotsH - 1,
        ((maxY - y) / spanY * (dotsH - 1)).round.toInt)
      grid(dy / 4)(dx / 2) |= brailleBit(dx % 2, dy % 4)
    }
    def segment(a: Pt, b: Pt): Unit = {
      val steps = math.max(1, math.max(
        math.abs(b.x - a.x) / spanX * dotsW,
        math.abs(b.y - a.y) / spanY * dotsH).ceil.toInt)
      var i = 0
      while (i <= steps) {
        val t = i.toDouble / steps
        plot(a.x + (b.x - a.x) * t, a.y + (b.y - a.y) * t)
        i += 1
      }
    }
    def draw(g: Geom): Unit = g match {
      case p: Pt => plot(p.x, p.y)
      case Line(pts) => pts.sliding(2).foreach {
        case Array(a, b) => segment(a, b); case _ => }
      case Poly(rings) => rings.foreach(r => r.sliding(2).foreach {
        case Array(a, b) => segment(a, b); case _ => })
      case MultiPt(pts) => pts.foreach(draw)
      case MultiLine(ls) => ls.foreach(draw)
      case MultiPoly(ps) => ps.foreach(draw)
      case GeomColl(gs) => gs.foreach(draw)
    }
    geoms.foreach(draw)

    val sb = new StringBuilder
    sb.append(f"extent: ($minX%.0f, $minY%.0f) - ($maxX%.0f, $maxY%.0f)  " +
      s"${geoms.length} geometries\n")
    var r = 0
    while (r < height) {
      var c = 0
      while (c < width) {
        sb.append((0x2800 + grid(r)(c)).toChar)
        c += 1
      }
      sb.append('\n')
      r += 1
    }
    sb.result()
  }

  /** Braille dot bit for (column 0-1, row 0-3) — U+2800 block layout. */
  private def brailleBit(x: Int, y: Int): Int = (x, y) match {
    case (0, 0) => 0x01; case (0, 1) => 0x02; case (0, 2) => 0x04
    case (1, 0) => 0x08; case (1, 1) => 0x10; case (1, 2) => 0x20
    case (0, 3) => 0x40; case _ => 0x80
  }

  private def vertices(g: Geom): Iterator[Pt] = g match {
    case p: Pt => Iterator(p)
    case Line(pts) => pts.iterator
    case Poly(rings) => rings.iterator.flatten
    case MultiPt(pts) => pts.iterator
    case MultiLine(ls) => ls.iterator.flatMap(_.pts)
    case MultiPoly(ps) => ps.iterator.flatMap(_.rings.iterator.flatten)
    case GeomColl(gs) => gs.iterator.flatMap(vertices)
  }
}
