package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.config.ConfigLoader
import graft.pipeline.{Explorer, Ledger, Runner, H3Query}
import graft.sources.Sources

/** CLI entry points mirroring the reference's module mains
  * (`python -m g_etl.pipeline` / `g_etl.export` / `g_etl.h3_query`,
  * docs/architecture.md:326-357):
  *
  *   graft.Main pipeline --config datasets.yml --out /data/warehouse
  *       [--id ds1,ds2] [--typ wfs] [--include-disabled] [--export]
  *   graft.Main export --warehouse /data/warehouse --out /data/export
  *   graft.Main query --warehouse /data/warehouse --wkt "POLYGON (...)"
  *       [--res 8] [--mode objects|stats|heatmap] [--datasets a,b]
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println(usage); sys.exit(2) }
    val opts = parseOpts(args.drop(1))
    val spark = session(args(0), opts)
    try {
      args(0) match {
        case "pipeline" => runPipeline(spark, opts)
        case "export" => runExport(spark, opts)
        case "query" => runQuery(spark, opts)
        case "explorer" => runExplorer(spark, opts)
        case other =>
          System.err.println(s"unknown command: $other\n$usage")
          sys.exit(2)
      }
    } finally spark.stop()
  }

  /** The CLI's session: the shared [[Sessions.localBuilder]] contract
    * at `$SPARK_GRAFT_CPUS` (default: every core), with `--master` and
    * `--shuffle-partitions` applied as overrides, and the graft SQL
    * functions registered. */
  private[graft] def session(command: String,
      opts: Map[String, String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = Sessions.localBuilder(s"graft-$command", cpus)
    opts.get("master").foreach(builder.master)
    opts.get("shuffle-partitions")
      .foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GFunctions.registerAll(spark)
    spark
  }

  private def runPipeline(spark: SparkSession, opts: Map[String, String]): Unit = {
    val yaml = Files.readString(Paths.get(required(opts, "config")))
    val out = required(opts, "out")
    val datasets = ConfigLoader.filtered(
      ConfigLoader.loadDatasets(yaml),
      onlyEnabled = !opts.contains("include-disabled"),
      typ = opts.get("typ"),
      ids = opts.get("id").map(_.split(',').toSeq).getOrElse(Nil))
    require(datasets.nonEmpty, "no datasets selected")
    val result = Runner.run(spark, datasets, Sources.defaultRegistry(),
      out, ledger = Some(Ledger.at(out)))
    result.extracted.toSeq.sortBy(_._1).foreach { case (id, r) =>
      println(s"extract  $id: ${r.map(n => s"$n rows").recover { case e => s"FAILED ${e.getMessage}" }.get}")
    }
    result.transformed.toSeq.sortBy(_._1).foreach { case (id, r) =>
      println(s"transform $id: ${r.map(n => s"$n mart rows").recover { case e => s"FAILED ${e.getMessage}" }.get}")
    }
    println(s"h3_index: ${result.indexRows} rows; h3_stats: ${result.statsRows} cells")
    if (opts.contains("export")) {
      val exportDir = opts.getOrElse("export-dir", s"$out/export")
      runExportOf(spark, out, exportDir)
    }
    val failed = (result.extracted.values ++ result.transformed.values)
      .count(_.isFailure)
    if (failed > 0) sys.exit(1)
  }

  /** Interactive/scripted warehouse explorer (the reference's admin
    * TUI capability set, `admin/screens/explorer.py`): commands from
    * --script FILE or stdin. */
  private def runExplorer(spark: SparkSession, opts: Map[String, String]): Unit = {
    val views = Explorer.openWarehouse(spark, required(opts, "warehouse"))
    println(s"opened ${views.length} views; 'help' lists commands")
    val commands = opts.get("script") match {
      case Some(f) => Files.readAllLines(Paths.get(f)).iterator().asScala
      case None => scala.io.Source.stdin.getLines()
    }
    Explorer.session(spark, commands, System.out)
  }

  private def runExport(spark: SparkSession, opts: Map[String, String]): Unit =
    runExportOf(spark, required(opts, "warehouse"),
      required(opts, "out"))

  /** Export every mart table of `warehouse` to `out`, the same set the
    * explorer's `export` command writes. */
  private[graft] def runExportOf(spark: SparkSession, warehouse: String,
      out: String): Unit = {
    val results = Explorer.exportMarts(spark,
      Explorer.openWarehouse(spark, warehouse), out)
    results.toSeq.sortBy(_._1).foreach { case (t, fs) =>
      println(s"export $t: ${fs.mkString(", ")}")
    }
  }

  private def runQuery(spark: SparkSession, opts: Map[String, String]): Unit = {
    val warehouse = required(opts, "warehouse")
    val wkt = required(opts, "wkt")
    val res = opts.getOrElse("res", "8").toInt
    val datasets = opts.get("datasets").map(_.split(',').toSeq).getOrElse(Nil)
    Explorer.openWarehouse(spark, warehouse)
    val index = spark.table("h3_index")
    val out = opts.getOrElse("mode", "objects") match {
      case "objects" => H3Query.objects(spark, index, wkt, res, datasets)
      case "stats" => H3Query.stats(spark, index, wkt, res, datasets)
      case "heatmap" => H3Query.heatmap(spark, index, wkt, res, datasets)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    out.show(opts.getOrElse("limit", "50").toInt, truncate = false)
  }

  private def parseOpts(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --option, got $a")
      val key = a.drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(key) = args(i + 1); i += 2
      } else { out(key) = "true"; i += 1 }
    }
    out.toMap
  }

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key,
      throw new IllegalArgumentException(s"missing required --$key\n$usage"))

  private val usage: String =
    """usage:
      |  graft.Main pipeline --config datasets.yml --out DIR [--id a,b] [--typ T] [--include-disabled] [--export]
      |  graft.Main export --warehouse DIR --out DIR
      |  graft.Main query --warehouse DIR --wkt WKT [--res N] [--mode objects|stats|heatmap] [--datasets a,b]
      |  graft.Main explorer --warehouse DIR [--script FILE]""".stripMargin
}
