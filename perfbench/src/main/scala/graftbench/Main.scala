package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

/** `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: runs one workload and prints every metric as
  * `name value unit`, then one JSON line with all of them. With
  * `--record <file>` it instead rewrites the ETL build's recorded outputs
  * (see [[Expected.record]]). */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; " +
        s"known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    println(s"workload $workload seed $seed seconds $seconds trace ${if (traced) 1 else 0}")

    val cpus = Runtime.getRuntime.availableProcessors()
    // the rewrite rules are wired the way users wire them: as the session
    // extension (each rule stays inert until its conf is set)
    val spark = graft.Sessions.localBuilder(s"graftbench-$workload", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (opts.contains("record")) {
      try Expected.record(spark, work, opts("record")) finally spark.stop()
      return
    }
    val ctx = new Ctx(spark, work, seed, seconds, traced)
    ctx.log("session started")
    try run(ctx)
    finally {
      ctx.log("workload done")
      spark.stop()
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.put("setup_s", (ctx.firstTimedMs - jvmStart) / 1e3, "s")
    ctx.put("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    if (traced) writeTrace(ctx, s"$work/trace_${workload}_$seed.json")

    ctx.metrics.foreach { case (k, (v, u)) => println(f"$k%-36s $v%.6f $u") }
    val ms = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$ms}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Spans (with self time and counters at both ends) and every Spark job
    * with the Runner phase its SQL execution's path names. */
  private def writeTrace(ctx: Ctx, path: String): Unit = {
    val spans = ctx.tracers.flatMap(t => t.spans.map(s => (t, s)))
    val spanJson = spans.map { case (t, s) =>
      val counters = s.delta.fields.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
      s"""{"run": ${q(t.runId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": ${q(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""seconds": ${num(s.seconds)}, "self_seconds": ${num(t.selfSeconds(s))}, """ +
        s""""counters": {$counters}}"""
    }
    val jobJson = ctx.meter.jobs.map { j =>
      val p = ctx.meter.pathOf(j.execId)
      s"""{"job": ${j.id}, "execution": ${j.execId}, "start_ms": ${j.start}, """ +
        s""""end_ms": ${j.end}, "tasks": ${j.tasks}, "cpu_ns": ${j.cpuNs}, """ +
        s""""path": ${p.map(q).getOrElse("null")}, """ +
        s""""phase": ${p.flatMap(Stats.phaseOf).map(q).getOrElse("null")}}"""
    }
    val w = new PrintWriter(path)
    try w.println(s"""{"spans": [${spanJson.mkString(",\n")}],\n"jobs": [${jobJson.mkString(",\n")}]}""")
    finally w.close()
    println(s"trace written to $path")
  }
}
