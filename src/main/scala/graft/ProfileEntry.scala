package graft

import org.apache.spark.scheduler._

/** Scratch profiler (r19 optimization round): runs named battery
  * entries with a job listener and prints every Spark job's wall time,
  * task count and shuffle bytes, so optimization effort lands on the
  * actual hot actions inside a query body. Not part of the driver
  * contract.
  *
  * Usage: ProfileEntry q228 [q230 ...]  (env SPARK_GRAFT_SF_DIR)
  */
object ProfileEntry {

  final class JobMeter extends SparkListener {
    case class J(id: Int, desc: String, t0: Long,
        var tasks: Int = 0, var shuffleRead: Long = 0L,
        var shuffleWrite: Long = 0L, var wall: Double = -1.0)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, J]()
    private val stageToJob = scala.collection.mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = J(e.jobId, desc.take(90), e.time)
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => j.wall = (e.time - j.t0) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    def drainPrint(tag: String): Unit = synchronized {
      val js = jobs.values.toSeq
      val tot = js.map(_.wall.max(0)).sum
      println(f"---- $tag: ${js.size} jobs, sum job wall ${tot}%.2f s")
      js.sortBy(-_.wall).take(28).foreach { j =>
        println(f"  job ${j.id}%4d ${j.wall}%8.2f s tasks=${j.tasks}%5d " +
          f"sRead=${j.shuffleRead / 1e6}%9.2f MB sWrite=${j.shuffleWrite / 1e6}%9.2f MB  ${j.desc}")
      }
      jobs.clear()
    }
  }

  /** Sums Catalyst phase durations (analysis/optimization/planning)
    * across every execution, so driver-side plan work — invisible to
    * the job meter — is attributed. */
  final class PhaseMeter
      extends org.apache.spark.sql.util.QueryExecutionListener {
    val phases = scala.collection.mutable.LinkedHashMap[String, Long]()
    private def record(
        qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      synchronized {
        qe.tracker.phases.foreach { case (p, s) =>
          phases(p) = phases.getOrElse(p, 0L) + (s.endTimeMs - s.startTimeMs)
        }
      }
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = record(qe)
    def drainPrint(tag: String): Unit = synchronized {
      println(s"  catalyst phases ($tag): " + phases.map { case (p, ms) =>
        f"$p=${ms / 1e3}%.2f s" }.mkString(", "))
      phases.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Sessions.localBuilder: measure under the engine's session contract
    // (incl. the plan-string cap) so profiles match what Bench/Verify run.
    val spark = Sessions.localBuilder("graft-profile-entry", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new JobMeter
    spark.sparkContext.addSparkListener(meter)
    val phaseMeter = new PhaseMeter
    spark.listenerManager.register(phaseMeter)

    val prefixes = args.toSeq
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    // one warm pass of the first entry to absorb classloading —
    // timed + job-metered too, so the first-execution one-time costs
    // are visible
    names.headOption.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"==== $n WARM PASS total ${dt}%.2f s")
      phaseMeter.drainPrint(s"$n warm pass")
      meter.drainPrint(s"$n warm pass")
    }
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"==== $n total ${dt}%.2f s")
      phaseMeter.drainPrint(n)
      meter.drainPrint(n)
    }
    graft.queries.LiveSourceQueries.stopServers()
    spark.stop()
  }
}
