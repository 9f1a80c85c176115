package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.config.DatasetConfig
import graft.sources.{SourceConnector, Sources}

/** Batch pipeline runner (`src/g_etl/pipeline.py` + `services/
  * pipeline_runner.py`, SURVEY §3.1): Extract (parallel) -> per-dataset
  * Transform chain (parallel) -> merge-by-union -> post-merge
  * h3_index/h3_stats views.
  *
  * Parallelism mapping: the reference's per-dataset temp-DuckDB files +
  * thread semaphores (ncpu extract, ncpu/2 transform;
  * `settings.py:89-90`) become concurrent Spark job submission from a
  * driver thread pool. Both pools default to the core count, so every
  * dataset's chain is submitted at once and Spark's scheduler, not the
  * pool, decides how many tasks run: most transform jobs are a single
  * task, and a pool smaller than the core count leaves cores idle. The
  * reference's ncpu/2 rationed multithreaded DuckDB transforms; a Spark
  * job holds no cores while it waits for a slot. Dataset ids must be
  * unique: two chains with one id would write the same directories.
  * "Merge" (ATTACH + copy, pipeline_runner.py:968-1065) dissolves into
  * unioning the per-dataset marts lazily.
  *
  * Every layer is written once and read back once, with the schema it
  * was written with ([[writeBack]]): the layered temp views, the next
  * stage and the `h3_index` union all reuse that one frame, so no
  * layer the Runner wrote pays a parquet schema-inference job. Only
  * the source read, and the raw layer on a ledger skip (no frame in
  * hand), infer. After the parallel phases the driver waits on one
  * more write, the `h3_stats` aggregate ([[H3Index.stats]] runs it in
  * `defaultParallelism` tasks), and its row count.
  */
object Runner {

  final case class RunResult(
      extracted: Map[String, Try[Long]],
      transformed: Map[String, Try[Long]],
      indexRows: Long,
      statsRows: Long)

  /** One dataset's transform output: each layer as read back from its
    * parquet directory, and the mart's row count. */
  private final case class Layers(staged: DataFrame, normalized: DataFrame,
      mart: DataFrame, martRows: Long)

  def run(spark: SparkSession, datasets: Seq[DatasetConfig],
      registry: Map[String, SourceConnector], outDir: String,
      extractParallelism: Int = Runtime.getRuntime.availableProcessors(),
      transformParallelism: Int = Runtime.getRuntime.availableProcessors(),
      ledger: Option[Ledger] = None): RunResult = {
    val dupes = datasets.groupBy(_.datasetId).collect {
      case (id, ds) if ds.size > 1 => id
    }
    require(dupes.isEmpty,
      s"duplicate datasetId: ${dupes.toSeq.sorted.mkString(", ")}")

    // ---- Extract (parallel, semaphore = ncpu)
    val raws = parallel(datasets, extractParallelism) { cfg =>
      val rawPath = s"$outDir/raw/${cfg.datasetId}.parquet"
      val version = s"extract:${cfg.datasetId}"
      val stamp = s"${cfg.plugin}|${cfg.url}"
      val raw =
        if (ledger.exists(_.isApplied(version, stamp))) spark.read.parquet(rawPath)
        else {
          val connector = registry.getOrElse(cfg.plugin,
            throw new IllegalArgumentException(s"unknown plugin: ${cfg.plugin}"))
          val back = writeBack(connector.read(spark, Map("url" -> cfg.url)),
            rawPath, compression = Some("zstd"))
          ledger.foreach(_.record(version, stamp))
          back
        }
      (raw, raw.count())
    }
    val extracted = raws.map { case (id, t) => id -> t.map(_._2) }

    // ---- Transform (parallel, semaphore = ncpu)
    val okDatasets = datasets.filter(d => raws(d.datasetId).isSuccess)
    val transformedLayers = parallel(okDatasets, transformParallelism) { cfg =>
      val id = cfg.datasetId
      val staged = writeBack(
        Stages.stage004(Sources.normalizeGeometryColumn(raws(id).get._1), cfg.h3),
        s"$outDir/staging_004/$id.parquet")
      val normalized = writeBack(cfg.pipeline match {
          case "avdelning" => Stages.normalizeAvdelning(staged, cfg.fieldMapping, id)
          case _ => Stages.normalizeExtRestr(staged, cfg.fieldMapping, id)
        },
        s"$outDir/staging_${cfg.pipeline}_001/$id.parquet")
      // the measured probe-optimal layout IS the default (PERF.md r10:
      // clustered parquet probes flat at 116M rows; a cached
      // unclustered index goes linear past ~40M): materialized
      // query-res ancestor + range-clustered rows
      val mart = H3Index.writeClustered(Stages.martH3Cells(normalized, id),
        s"$outDir/mart/${id}_h3.parquet")
      Stages.martH3Compact(normalized).write.mode("overwrite")
        .parquet(s"$outDir/mart/${id}_h3_compact.parquet")
      Layers(staged, normalized, mart, mart.count())
    }
    val transformed = transformedLayers.map { case (id, t) => id -> t.map(_.martRows) }
    val built = okDatasets.flatMap(d =>
      transformedLayers(d.datasetId).toOption.map(d -> _))

    // ---- layered-schema catalog: one temp view per (schema, dataset)
    // (`raw` -> `staging_004` -> `staging_{pipeline}_001` -> `mart`,
    // docs/architecture.md:233-275)
    built.foreach { case (d, l) =>
      raws(d.datasetId).get._1.createOrReplaceTempView(s"raw_${d.datasetId}")
      l.staged.createOrReplaceTempView(s"staging_004_${d.datasetId}")
      l.normalized.createOrReplaceTempView(s"staging_${d.pipeline}_001_${d.datasetId}")
      l.mart.createOrReplaceTempView(s"mart_${d.datasetId}_h3")
    }

    // ---- Merge + post-merge: dynamic union view + stats pre-aggregate.
    // The index is a UNION ALL of the marts, so its row count is the
    // sum of theirs.
    val marts = built.map { case (d, l) => d.datasetId -> l }.toMap
    val index = H3Index.build(spark, marts.map { case (id, l) => id -> l.mart })
    index.createOrReplaceTempView("h3_index")
    val stats = writeBack(H3Index.stats(index), s"$outDir/mart/h3_stats.parquet")
    stats.createOrReplaceTempView("h3_stats")

    RunResult(extracted, transformed, marts.values.map(_.martRows).sum, stats.count())
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

  private def parallel[A](items: Seq[DatasetConfig], parallelism: Int)(
      f: DatasetConfig => A): Map[String, Try[A]] = {
    val pool = Executors.newFixedThreadPool(math.max(parallelism, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = items.map(cfg => cfg.datasetId -> Future(Try(f(cfg))))
      futures.map { case (id, fut) =>
        id -> Await.result(fut, 30.minutes)
      }.toMap
    } finally pool.shutdown()
  }
}
