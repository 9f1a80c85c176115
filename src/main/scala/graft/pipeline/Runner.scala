package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Success, Try}

import graft.config.DatasetConfig
import graft.sources.{SourceConnector, Sources}

/** Batch pipeline runner (`src/g_etl/pipeline.py` + `services/
  * pipeline_runner.py`, SURVEY §3.1): per-dataset Extract -> Transform
  * chain -> merge-by-union -> post-merge h3_index/h3_stats views.
  *
  * Parallelism mapping: the reference's per-dataset temp-DuckDB files +
  * thread semaphores (ncpu extract, then ncpu/2 transform once every
  * extract is done; `settings.py:89-90`) become one driver pool, a
  * thread per core, with one future per dataset running its whole
  * chain (extract -> stage004 -> normalize -> mart_h3 -> mart_compact).
  * The pool only submits jobs; Spark's scheduler decides how many tasks
  * run, and no chain waits for another's extract. Dataset ids must be
  * unique: two chains with one id would write the same directories.
  * "Merge" (ATTACH + copy, pipeline_runner.py:968-1065) dissolves into
  * unioning the per-dataset marts lazily.
  *
  * Every layer is written once and read back once, with the schema it
  * was written with ([[writeBack]]): the views, the next stage and the
  * `h3_index` union reuse that one frame, and no layer the Runner wrote
  * pays a schema-inference job. Row counts come from the written
  * files' parquet footers ([[rowsWritten]]), so no layer pays a count
  * job either. Only the source read infers, and a ledger skip (nothing
  * written) infers its raw layer.
  * After the chains the driver waits on one more write, the `h3_stats`
  * aggregate ([[H3Index.stats]] runs it in `defaultParallelism` tasks).
  */
object Runner {

  final case class RunResult(
      extracted: Map[String, Try[Long]],
      transformed: Map[String, Try[Long]],
      indexRows: Long,
      statsRows: Long)

  /** One dataset's chain output: each layer as read back from its
    * parquet directory, and the mart's row count. */
  private final case class Layers(raw: DataFrame, staged: DataFrame,
      normalized: DataFrame, mart: DataFrame, martRows: Long)

  def run(spark: SparkSession, datasets: Seq[DatasetConfig],
      registry: Map[String, SourceConnector], outDir: String,
      ledger: Option[Ledger] = None): RunResult = {
    val dupes = datasets.groupBy(_.datasetId).collect {
      case (id, ds) if ds.size > 1 => id
    }
    require(dupes.isEmpty,
      s"duplicate datasetId: ${dupes.toSeq.sorted.mkString(", ")}")

    def extract(cfg: DatasetConfig): (DataFrame, Long) = {
      val rawPath = s"$outDir/raw/${cfg.datasetId}.parquet"
      val version = s"extract:${cfg.datasetId}"
      val stamp = s"${cfg.plugin}|${cfg.url}"
      val raw = if (ledger.exists(_.isApplied(version, stamp))) {
        spark.read.parquet(rawPath)
      } else {
        val connector = registry.getOrElse(cfg.plugin,
          throw new IllegalArgumentException(s"unknown plugin: ${cfg.plugin}"))
        val written = writeBack(connector.read(spark, Map("url" -> cfg.url)),
          rawPath, compression = Some("zstd"))
        ledger.foreach(_.record(version, stamp))
        written
      }
      (raw, rowsWritten(spark, rawPath))
    }

    def transform(cfg: DatasetConfig, raw: DataFrame): Layers = {
      val id = cfg.datasetId
      val staged = writeBack(
        Stages.stage004(Sources.normalizeGeometryColumn(raw), cfg.h3),
        s"$outDir/staging_004/$id.parquet")
      // checked before the projection is built, so the failure names
      // the dataset and the columns rather than an analysis error
      val missing = cfg.fieldMapping.missingColumns(staged)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"dataset $id: field mapping names missing columns: ${missing.mkString(", ")}")
      val normalized = writeBack(cfg.pipeline match {
          case "avdelning" => Stages.normalizeAvdelning(staged, cfg.fieldMapping, id)
          case _ => Stages.normalizeExtRestr(staged, cfg.fieldMapping, id)
        },
        s"$outDir/staging_${cfg.pipeline}_001/$id.parquet")
      // the measured probe-optimal layout IS the default (PERF.md r10:
      // clustered parquet probes flat at 116M rows; a cached
      // unclustered index goes linear past ~40M): materialized
      // query-res ancestor + range-clustered rows
      val (mart, martRows) = H3Index.writeClustered(
        Stages.martH3Cells(normalized, id), s"$outDir/mart/${id}_h3.parquet")
      Stages.martH3Compact(normalized).write.mode("overwrite")
        .parquet(s"$outDir/mart/${id}_h3_compact.parquet")
      Layers(raw, staged, normalized, mart, martRows)
    }

    // ---- one chain per dataset: Extract, then its Transform. A failed
    // extract leaves no transform entry.
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val chains = try {
      datasets.map { cfg =>
        cfg.datasetId -> Future(Try(extract(cfg)).map { case (raw, rawRows) =>
          rawRows -> Try(transform(cfg, raw))
        })
      }.map { case (id, chain) => id -> Await.result(chain, 30.minutes) }.toMap
    } finally pool.shutdown()
    val extracted = chains.map { case (id, c) => id -> c.map(_._1) }
    val layers = chains.collect { case (id, Success((_, t))) => id -> t }
    val built = datasets.flatMap(d => layers.get(d.datasetId).flatMap(_.toOption).map(d -> _))

    // ---- layered-schema catalog: one temp view per (schema, dataset)
    // (`raw` -> `staging_004` -> `staging_{pipeline}_001` -> `mart`,
    // docs/architecture.md:233-275)
    built.foreach { case (d, l) =>
      l.raw.createOrReplaceTempView(s"raw_${d.datasetId}")
      l.staged.createOrReplaceTempView(s"staging_004_${d.datasetId}")
      l.normalized.createOrReplaceTempView(s"staging_${d.pipeline}_001_${d.datasetId}")
      l.mart.createOrReplaceTempView(s"mart_${d.datasetId}_h3")
    }

    // ---- Merge + post-merge: dynamic union view + stats pre-aggregate.
    // The index is a UNION ALL of the marts, so its row count is the
    // sum of theirs.
    val index = H3Index.build(spark, built.map { case (d, l) => d.datasetId -> l.mart }.toMap)
    index.createOrReplaceTempView("h3_index")
    val statsPath = s"$outDir/mart/h3_stats.parquet"
    writeBack(H3Index.stats(index), statsPath).createOrReplaceTempView("h3_stats")

    RunResult(extracted, layers.map { case (id, t) => id -> t.map(_.martRows) },
      built.map(_._2.martRows).sum, rowsWritten(spark, statsPath))
  }

  /** Write `df` as parquet at `path` (overwriting) and return it read
    * back with the schema it was written with. A declared schema skips
    * the job that parquet schema inference runs on every read. */
  private[pipeline] def writeBack(df: DataFrame, path: String,
      compression: Option[String] = None): DataFrame = {
    val w = df.write.mode("overwrite")
    compression.fold(w)(c => w.option("compression", c)).parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** The number of rows in the parquet part files at `path`, summed from
    * their footers. The driver reads each footer through the path's
    * Hadoop `FileSystem` (the directory need not be local) and starts
    * no Spark job. An `Observation` on the write would count the rows
    * too, but its listener stays registered for the session and logs an
    * ERROR stack for every later query that fails. */
  private[pipeline] def rowsWritten(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.startsWith("part-"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }
}
