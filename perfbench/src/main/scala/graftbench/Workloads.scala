package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import scala.collection.mutable

import graft.functions.GFunctions.st_intersects
import graft.pipeline.{H3Query, PreparedPolygonQuery, Runner}
import graft.spatial.Geometry

/** Everything a workload needs: the session, its scratch directory, the
  * seed, the measuring budget and the metric sink. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val traced: Boolean) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  /** Epoch ms of the first timed operation. */
  var firstTimedMs: Long = -1L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one checked operation; a false check is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED: $what")
    }
  }

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def markTimed(): Unit = if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()

  val meter = new Meter
  if (traced) spark.sparkContext.addSparkListener(meter)

  val tracers = mutable.ArrayBuffer[Tracer]()

  /** A new tracer; untraced, it times calls only. */
  def tracer(withMeter: Boolean): Tracer = {
    val t = new Tracer(spark.sparkContext, if (withMeter) Some(meter) else None,
      s"${System.currentTimeMillis()}-$seed")
    tracers += t
    t
  }
}

/** Latency samples (ms) of one measured phase by call kind ("op" is the
  * workload's unit of work), and median-reported layer samples. */
final class Samples {
  val latency = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val layer = mutable.LinkedHashMap[String, (mutable.ArrayBuffer[Double], String)]()
  def time(kind: String, ms: Double): Unit =
    latency.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
  def add(name: String, v: Double, unit: String): Unit =
    layer.getOrElseUpdate(name, (mutable.ArrayBuffer(), unit))._1 += v
  /** Share of ops for which `hit` held. */
  val ratio = mutable.LinkedHashMap[String, (Int, Int)]()
  def hit(name: String, hit: Boolean): Unit = {
    val (h, n) = ratio.getOrElse(name, (0, 0))
    ratio(name) = (h + (if (hit) 1 else 0), n + 1)
  }
  def op: Seq[Double] = latency.get("op").map(_.toSeq).getOrElse(Nil)
}

object Workloads {

  /** Dataset slots of the ETL build: unequal sizes, both pipelines. The
    * build's cost is mostly per-dataset driver work, not per feature. */
  val EtlSizes: Seq[(String, Int)] = Seq(
    "ext_restr" -> 160, "avdelning" -> 110, "ext_restr" -> 70,
    "avdelning" -> 40)

  /** Dataset slots of the query warehouse. */
  val WarehouseSizes: Seq[(String, Int)] = Seq(
    "ext_restr" -> 300, "avdelning" -> 200)

  val IndexCols = Seq("id", "dataset_id", "klass", "leverantor", "h3_cell")

  /** CPU time of the whole process (driver, executor threads, JIT, GC). */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Repeat `op` within `seconds`: at least `minOps` times, then again
    * only while one more op of the median length so far still ends
    * inside the budget. */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lengths = mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < minOps || System.nanoTime() + Stats.median(lengths.toSeq) < deadline) {
      val t0 = System.nanoTime()
      op(i)
      lengths += (System.nanoTime() - t0).toDouble
      i += 1
    }
  }

  /** Median and tail of a latency sample, with its size. */
  def putLatency(ctx: Ctx, name: String, xs: Seq[Double]): Unit = {
    ctx.put(s"${name}_p50_ms", Stats.median(xs), "ms")
    val tail = Stats.tailPct(xs.length)
    ctx.put(s"$name.tail_pct", tail.getOrElse(0.0), "pct")
    ctx.put(s"${name}_tail_ms", tail.map(Stats.percentile(xs, _)).getOrElse(0.0), "ms")
    ctx.put(s"$name.samples", xs.length.toDouble, "count")
  }

  // ------------------------------------------------------------- shared

  /** What one `Runner.run` produced, and its span. */
  final case class Warehouse(out: String, features: Int, runner: Runner.RunResult,
      runSpan: Span)

  def writeInputs(ctx: Ctx, rs: Seq[Replica], src: String): Unit = {
    val base = s"${ctx.work}/base"
    if (!new File(s"$base/customer.parquet").exists) Inputs.writeBase(ctx.spark, base)
    Inputs.writeReplicas(ctx.spark, base, src, rs)
  }

  /** Run the pipeline over `rs` into `out`; a failed dataset fails the check. */
  def runPipeline(ctx: Ctx, tr: Tracer, rs: Seq[Replica], src: String,
      out: String): Warehouse = {
    val (res, span) = tr.span("Runner.run") {
      Runner.run(ctx.spark, Inputs.configs(src, rs), Inputs.registry, out)
    }
    ctx.log(f"Runner.run into $out: ${span.seconds}%.2f s")
    val ok = (res.extracted.values ++ res.transformed.values).forall(_.isSuccess)
    ctx.check(ok && res.transformed.size == rs.size,
      s"Runner.run failed: ${res.extracted} ${res.transformed}")
    Warehouse(out, rs.map(_.features).sum, res, span)
  }

  /** Layer metrics of Runner.run windows; each job goes to the phase its
    * SQL execution's output (or read-back) path names. */
  def putRunnerLayers(ctx: Ctx, runs: Seq[Span]): Unit = {
    val meter = ctx.meter
    val perPhase = mutable.Map[String, mutable.ArrayBuffer[JobRec]]()
    runs.foreach { s =>
      meter.jobsBetween(s.startMs, s.endMs + 1).foreach { j =>
        val phase = meter.pathOf(j.execId).flatMap(Stats.phaseOf).getOrElse("other")
        perPhase.getOrElseUpdate(phase, mutable.ArrayBuffer()) += j
      }
    }
    def wall(js: Seq[JobRec]) =
      Stats.unionLength(js.map(j => (j.start, math.max(j.end, j.start)))) / 1e3
    val n = runs.length.toDouble
    Stats.Phases.foreach { p =>
      val js = perPhase.getOrElse(p, mutable.ArrayBuffer()).toSeq
      ctx.put(s"runner.$p.wall_s", wall(js) / n, "s")
      ctx.put(s"runner.$p.tasks", js.map(_.tasks).sum / n, "count")
      ctx.put(s"runner.$p.cpu_s", js.map(_.cpuNs).sum / 1e9 / n, "s")
      ctx.put(s"runner.$p.max_task_s",
        if (js.isEmpty) 0.0 else js.map(_.maxTaskMs).max / 1e3, "s")
    }
    // jobs outside any SQL execution: parquet schema inference when the
    // Runner reads a layer back
    val other = perPhase.getOrElse("other", mutable.ArrayBuffer()).toSeq
    ctx.put("runner.unattributed.jobs", other.size / n, "count")
    ctx.put("runner.unattributed.wall_s", wall(other) / n, "s")
  }

  def putWarehouse(ctx: Ctx, wh: Warehouse, bytes: Long): Unit = {
    ctx.put("warehouse_mb", bytes / 1e6, "MB")
    ctx.put("h3.cells_per_feature", wh.runner.indexRows.toDouble / wh.features, "ratio")
    ctx.put("runner.bytes_per_feature", bytes.toDouble / wh.features, "B")
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Run `op(tracer, samples)` in a closed loop for the budget. Untraced,
    * every op is only timed, in wall time and in process CPU time. Traced, ops alternate: even ones run without
    * the listener (their latencies are the reported ones), odd ones with
    * it (their counters are the layer metrics). The tracing overhead is
    * the traced ops' time spent draining the listener bus and reading
    * counters, as a share of their wall time; `trace.op_p50_ms` is their
    * op median, to set against `op_p50_ms` of an untraced run. */
  def measure(ctx: Ctx)(op: (Tracer, Samples) => Unit): Unit = {
    val sc = ctx.spark.sparkContext
    val plainTr = ctx.tracer(withMeter = false)
    val plain = new Samples
    val plainCpu = mutable.ArrayBuffer[Double]()
    def plainOp(): Unit = {
      val c0 = processCpuNs()
      op(plainTr, plain)
      plainCpu += (processCpuNs() - c0) / 1e9
    }
    ctx.markTimed()
    if (!ctx.traced) loop(ctx.seconds, 1)(_ => plainOp())
    else {
      val tr = ctx.tracer(withMeter = true)
      val traced = new Samples
      var total = Counters()
      var wallMs = 0.0
      var gapMs = 0L
      sc.removeSparkListener(ctx.meter)
      loop(ctx.seconds, 2) { i =>
        if (i % 2 == 0) plainOp()
        else {
          sc.addSparkListener(ctx.meter)
          val before = tr.counters()
          val t0 = System.currentTimeMillis()
          val w0 = System.nanoTime()
          op(tr, traced)
          wallMs += (System.nanoTime() - w0) / 1e6
          val t1 = System.currentTimeMillis()
          total = total + (tr.counters() - before)
          gapMs += Stats.driverGap(t0, t1, ctx.meter.jobsBetween(t0, t1 + 1)
            .map(j => (j.start, math.max(j.end, j.start))))
          sc.removeSparkListener(ctx.meter)
        }
      }
      putSpark(ctx, total, wallMs, gapMs)
      ctx.put("trace.overhead_frac", tr.overheadNs / 1e6 / wallMs, "ratio")
      ctx.put("trace.op_p50_ms", Stats.median(traced.op), "ms")
      traced.layer.foreach { case (k, (v, unit)) => ctx.put(k, Stats.median(v.toSeq), unit) }
      traced.ratio.foreach { case (k, (h, n)) => ctx.put(k, h.toDouble / n, "ratio") }
    }
    plain.latency.foreach { case (kind, xs) => putLatency(ctx, kind, xs.toSeq) }
    ctx.put("op_cpu_s", Stats.median(plainCpu.toSeq), "s")
  }

  /** Engine totals of the traced ops. */
  def putSpark(ctx: Ctx, c: Counters, wallMs: Double, gapMs: Long): Unit = {
    val cores = ctx.spark.sparkContext.defaultParallelism
    ctx.put("spark.jobs", c.jobs.toDouble, "count")
    ctx.put("spark.stages", c.stages.toDouble, "count")
    ctx.put("spark.tasks", c.tasks.toDouble, "count")
    ctx.put("spark.task_failures", c.taskFailures.toDouble, "count")
    ctx.put("spark.executor_run_s", c.runMs / 1e3, "s")
    ctx.put("spark.executor_cpu_s", c.cpuNs / 1e9, "s")
    ctx.put("spark.gc_s", c.gcMs / 1e3, "s")
    ctx.put("spark.input_mb", c.inputBytes / 1e6, "MB")
    ctx.put("spark.shuffle_write_mb", c.shuffleWriteBytes / 1e6, "MB")
    ctx.put("spark.spill_mb", c.spillBytes / 1e6, "MB")
    ctx.put("spark.output_mb", c.outputBytes / 1e6, "MB")
    ctx.put("spark.task_util", c.runMs / (wallMs * cores), "ratio")
    ctx.put("spark.driver_gap_s", gapMs / 1e3, "s")
  }

  // ---------------------------------------------------------- etl_build

  /** Cold builds (fresh output directory each) of four datasets over both
    * pipelines and all geometry types. The first build, untimed, warms
    * the JVM on the same code paths. */
  def etlBuild(ctx: Ctx): Unit = {
    val rs = Inputs.replicas(ctx.seed, EtlSizes, "etl")
    val src = s"${ctx.work}/src_etl"
    writeInputs(ctx, rs, src)
    runPipeline(ctx, ctx.tracer(withMeter = false), rs, src, s"${ctx.work}/etl_warm")
    val expected = Expected.etl(rs)
    ctx.check(expected.isDefined, s"etl_build: no recorded output for $rs")
    var runNo = 0
    var last: Option[(Warehouse, Long)] = None
    val tracedRuns = mutable.ArrayBuffer[Span]()
    measure(ctx) { (tr, smp) =>
      val out = s"${ctx.work}/etl_run_$runNo"
      runNo += 1
      val wh = runPipeline(ctx, tr, rs, src, out)
      smp.time("op", wh.runSpan.millis)
      if (tr.traced) tracedRuns += wh.runSpan
      // output checks, outside the timed call
      val got = Expected.Etl(wh.runner.indexRows, wh.runner.statsRows,
        Stats.digest(ctx.spark.table("h3_index"), IndexCols)._2)
      ctx.check(expected.contains(got),
        s"etl_build: (index rows, stats rows, digest) $got != recorded $expected")
      last = Some((wh, dirBytes(new File(out))))
      rmrf(new File(out))
    }
    if (ctx.traced) putRunnerLayers(ctx, tracedRuns.toSeq)
    last.foreach { case (wh, bytes) => putWarehouse(ctx, wh, bytes) }
    val features = rs.map(_.features).sum
    ctx.put("etl_features_per_s", features / (ctx.metrics("op_p50_ms")._1 / 1e3), "1/s")
    ctx.put("cached_mb", cachedMb(ctx.spark), "MB")
  }

  // -------------------------------------------------------- query_stream

  /** Probes per round, each sent to both prepared handles. */
  val ProbesPerRound = 8
  val ProbeSide = 2000
  val RegionSide = 20000
  val FilterSide = 5000
  val JoinSample = 21
  val WarmRounds = 2

  /** The confs that switch on H3IntersectsRewrite and H3JoinRewrite. */
  val RuleConfs = Seq("spark.graft.h3Filter.res", "spark.graft.h3Join.res")

  /** Warehouse built by Runner.run, then a closed loop of rounds: fresh
    * 2x2 km polygons to PreparedPolygonQuery on the parquet index and on
    * the same index cached, one H3Query stats+heatmap region, one
    * declarative st_intersects filter and one st_intersects join. */
  def queryStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    RuleConfs.foreach(spark.conf.set(_, "8"))
    val setupTr = ctx.tracer(withMeter = ctx.traced)
    val rs = Inputs.replicas(ctx.seed, WarehouseSizes, "wh")
    val src = s"${ctx.work}/src_wh"
    writeInputs(ctx, rs, src)
    ctx.log("inputs written")
    val wh = runPipeline(ctx, setupTr, rs, src, s"${ctx.work}/wh")
    def index: DataFrame = spark.table("h3_index")

    // the cache holds a projection of every column, so it never stands in
    // for the plain index in the other queries' plans
    val (pq, pqSpan) = setupTr.span("PreparedPolygonQuery.parquet") {
      PreparedPolygonQuery(index)
    }
    val cached = index.select(index.columns.map(col).toIndexedSeq: _*)
      .persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    val (pc, pcSpan) = setupTr.span("PreparedPolygonQuery.cached") {
      PreparedPolygonQuery(cached)
    }
    val rnd = new scala.util.Random(ctx.seed)

    def regionQueries(idx: DataFrame, wkt: String): Seq[DataFrame] = Seq(
      H3Query.stats(spark, idx, wkt)
        .withColumn("leverantorer", concat_ws("|", col("leverantorer"))),
      H3Query.heatmap(spark, idx, wkt)
        .withColumn("datasets", concat_ws("|", col("datasets"))))
    def filterQuery(idx: DataFrame, wkt: String): DataFrame = {
      val wkb = Geometry.toWkb(Geometry.fromWkt(wkt))
      idx.filter(st_intersects(col("geom"), lit(wkb)))
        .select("id", "dataset_id", "leverantor", "klass").distinct()
    }
    // the join side: a seeded sample of fixture geometries from one source,
    // the same number of each type (GeoFixture: custkey % 3 is point,
    // polygon, line), so every round's join does the same amount of work
    def joinSample(): DataFrame = {
      val r = rs(rnd.nextInt(rs.length))
      val perType = JoinSample / 3
      val fids = (0 until 3).flatMap { t =>
        rnd.shuffle((t until r.features by 3).filter(_ >= 1).toList).take(perType)
      }.map(k => r.fidOffset + k)
      spark.read.parquet(s"$src/${r.datasetId}.parquet")
        .filter(col("fid").isin(fids: _*))
        .select(col("fid").cast("long").as("gid"), col("geom").as("qgeom"))
    }
    def joinQuery(idx: DataFrame, gs: DataFrame): DataFrame =
      idx.join(gs, st_intersects(col("geom"), col("qgeom")))
        .groupBy("gid")
        .agg(countDistinct(col("id")).as("n_objects"), count(lit(1)).as("n_pairs"))

    val probes = mutable.ArrayBuffer[(String, Array[Row], Array[Row])]()
    var firstRound: Option[(String, String, DataFrame)] = None
    def gap(s: Span): Double = Stats.driverGap(s.startMs, s.endMs,
      ctx.meter.jobsBetween(s.startMs, s.endMs + 1)
        .map(j => (j.start, math.max(j.end, j.start)))).toDouble
    /** One round: probes on both handles, a region, a filter and a join. */
    def round(tr: Tracer, smp: Samples): Unit = {
      var roundMs = 0.0
      (0 until ProbesPerRound).foreach { _ =>
        val wkt = Inputs.square(rnd, rs, ProbeSide)
        val (a, sa) = tr.span("PreparedPolygonQuery.objects.parquet")(pq.objects(wkt))
        val (b, sb) = tr.span("PreparedPolygonQuery.objects.cached")(pc.objects(wkt))
        smp.time("probe", sa.millis)
        smp.time("probe_cached", sb.millis)
        roundMs += sa.millis + sb.millis
        probes += ((wkt, a, b))
        if (tr.traced) {
          for ((suffix, s, rows) <- Seq(("parquet", sa, a), ("cached", sb, b))) {
            val d = s.delta
            smp.add(s"probe.jobs.$suffix", d.jobs.toDouble, "count")
            smp.add(s"probe.tasks.$suffix", d.tasks.toDouble, "count")
            smp.add(s"probe.driver_gap_ms.$suffix", gap(s), "ms")
            smp.add(s"probe.rows_scanned.$suffix", d.recordsRead.toDouble, "count")
            smp.add(s"probe.rows_returned.$suffix", rows.length.toDouble, "count")
            smp.add(s"probe.input_kb.$suffix", d.inputBytes / 1e3, "kB")
            smp.add(s"probe.useful_ratio.$suffix",
              if (d.recordsRead == 0) 0.0 else rows.length.toDouble / d.recordsRead, "ratio")
          }
          val (cells, sp) = tr.span("PreparedPolygonQuery.cellIds") {
            PreparedPolygonQuery.cellIds(wkt, H3Query.DefaultQueryRes)
          }
          smp.add("h3.polyfill_ms", sp.millis, "ms")
          smp.add("probe.cells", cells.length.toDouble, "count")
        }
      }
      val rw = Inputs.square(rnd, rs, RegionSide)
      val fw = Inputs.square(rnd, rs, FilterSide)
      val gs = joinSample()
      if (firstRound.isEmpty) firstRound = Some((rw, fw, gs))

      // region: H3Query stats + heatmap, each a fresh Dataset
      val (_, rsp) = tr.span("H3Query.stats+heatmap") {
        val qs = regionQueries(index, rw)
        val (_, ps) = tr.span("plan")(qs.foreach(_.queryExecution.executedPlan))
        val (_, es) = tr.span("collect")(qs.foreach(_.collect()))
        if (tr.traced) {
          smp.add("region.plan_ms", ps.millis, "ms")
          smp.add("region.exec_ms", es.millis, "ms")
          smp.add("region.shuffle_mb", es.delta.shuffleWriteBytes / 1e6, "MB")
          smp.add("region.rows_scanned", es.delta.recordsRead.toDouble, "count")
        }
      }
      smp.time("region", rsp.millis)

      // declarative filter, replanned by H3IntersectsRewrite
      val (_, fsp) = tr.span("st_intersects.filter") {
        val q = filterQuery(index, fw)
        val (plan, ps) = tr.span("plan")(q.queryExecution.executedPlan.toString)
        val (_, es) = tr.span("collect")(q.collect())
        smp.hit("plans.h3filter_fired", plan.contains("__g_h3f_"))
        if (tr.traced) {
          smp.add("filter.plan_ms", ps.millis, "ms")
          smp.add("filter.exec_ms", es.millis, "ms")
        }
      }
      smp.time("filter", fsp.millis)

      // spatial join, replanned by H3JoinRewrite when it applies
      val (_, jsp) = tr.span("st_intersects.join") {
        val q = joinQuery(index, gs)
        val (plan, ps) = tr.span("plan")(q.queryExecution.executedPlan.toString)
        val (rows, es) = tr.span("collect")(q.collect())
        smp.hit("plans.h3join_fired",
          plan.contains("__g_h3j_") && !plan.contains("NestedLoop"))
        if (tr.traced) {
          smp.add("join.plan_ms", ps.millis, "ms")
          smp.add("join.exec_s", es.seconds, "s")
          smp.add("join.cpu_s", es.delta.cpuNs / 1e9, "s")
          smp.add("join.result_pairs", rows.map(_.getLong(2)).sum.toDouble, "count")
        }
      }
      smp.time("join", jsp.millis)
      smp.time("op", roundMs + rsp.millis + fsp.millis + jsp.millis)
      ctx.log(f"round: probes ${roundMs}%.0f ms, region ${rsp.millis}%.0f ms, " +
        f"filter ${fsp.millis}%.0f ms, join ${jsp.millis}%.0f ms")
    }

    // warm-up rounds: first-touch codegen and JIT of every call, not measured
    (0 until WarmRounds).foreach(_ => round(ctx.tracer(withMeter = false), new Samples))
    ctx.log("warm-up done")
    measure(ctx)(round)

    // output checks, after the measured loop
    ctx.log("measured; checking outputs")
    probes.zipWithIndex.foreach { case ((wkt, a, b), i) =>
      ctx.check(a.toSeq == b.toSeq, s"query_stream: parquet and cached probes differ on $wkt")
      if (i % 10 == 0) ctx.check(H3Query.objects(spark, index, wkt).collect().toSeq == a.toSeq,
        s"query_stream: probe differs from H3Query.objects on $wkt")
    }
    // each spatial kind against the same query with the rules off, on a
    // 1-in-8 stratum of the index, compared as multisets
    val stratum = index.filter(pmod(xxhash64(col("h3_cell")), lit(8)) === 0)
    def ruleIdentity(what: String)(q: => DataFrame): Unit = {
      val on = q.collect().map(_.toSeq).toSeq
      RuleConfs.foreach(spark.conf.unset)
      val off = try q.collect().map(_.toSeq).toSeq finally RuleConfs.foreach(spark.conf.set(_, "8"))
      ctx.check(Stats.multisetDiff(on, off) == 0,
        s"query_stream: $what differs with the rules off (${on.size} vs ${off.size} rows)")
    }
    firstRound.foreach { case (rw, fw, gs) =>
      Seq("stats", "heatmap").zipWithIndex.foreach { case (k, i) =>
        ruleIdentity(s"region $k")(regionQueries(stratum, rw)(i))
      }
      ruleIdentity("filter")(filterQuery(stratum, fw))
      ruleIdentity("join")(joinQuery(stratum, gs))
    }
    if (ctx.traced) {
      ctx.put("probe.prepare_s.parquet", pqSpan.seconds, "s")
      ctx.put("probe.prepare_s.cached", pcSpan.seconds, "s")
      putRunnerLayers(ctx, Seq(wh.runSpan))
    }
    putWarehouse(ctx, wh, dirBytes(new File(wh.out)))
    ctx.put("cached_mb", cachedMb(spark), "MB")
  }

  val all: Map[String, Ctx => Unit] = Map(
    "etl_build" -> etlBuild, "query_stream" -> queryStream)
}
