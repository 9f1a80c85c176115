package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** The Spark session every suite runs on: one per test JVM, built by
  * [[Sessions.localBuilder]], the contract the engine's mains share
  * (UTC, AQE on, the 16 KiB plan-string cap), at `local[4]` with 4
  * shuffle partitions whatever `SPARK_GRAFT_CPUS` says, since the
  * suites pin task and partition counts. No other file under src/test
  * calls `SparkSession.builder()`; `SessionInventorySpec` checks that.
  *
  * The suites share the session, so a conf one suite leaves behind
  * changes the plans of the next. A suite changes a conf only inside
  * [[withConf]]: the conf map is read before each suite and again after
  * it, and a suite that leaves a key changed fails, naming the key. */
trait SparkSuite extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSuite.session

  override def run(testName: Option[String], args: Args): Status = {
    val before = spark.conf.getAll
    val status = super.run(testName, args)
    status.waitUntilCompleted()
    val changed = SparkSuite.changedConfs(before, spark.conf.getAll)
    if (changed.nonEmpty) throw new IllegalStateException(
      s"$suiteName left session confs changed: ${changed.mkString(", ")}")
    status
  }

  /** Runs `f` with `confs` set, then puts each key back: its prior
    * value, or unset if it was unset ([[Sessions.withConf]]). */
  def withConf[T](confs: (String, String)*)(f: => T): T =
    Sessions.withConf(spark, confs: _*)(f)

  /** `df`'s whole physical plan, past the session's plan-string cap,
    * for an assertion that reads a long plan. */
  def fullPlan(df: DataFrame): String =
    withConf("spark.sql.maxPlanStringLength" ->
        ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString) {
      df.queryExecution.executedPlan.toString
    }

  /** Runs `f` under a fresh job group and returns its result with the
    * jobs and stages submitted under that group and the SQL actions
    * that finished meanwhile, read after the listener bus drained. */
  def recording[T](f: => T): SparkSuite.Recorded[T] = {
    val sc = spark.sparkContext
    val group = s"graft-test-${java.util.UUID.randomUUID()}"
    def ours(p: Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo)
    }
    val actionListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(actionListener)
    sc.setJobGroup(group, suiteName)
    val result =
      try f
      finally {
        sc.clearJobGroup()
        ListenerDrain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(actionListener)
      }
    SparkSuite.Recorded(result, jobs.asScala.toSeq, stages.asScala.toSeq,
      actions.asScala.toSeq)
  }
}

object SparkSuite {

  private lazy val session: SparkSession = {
    val s = Sessions.localBuilder("graft-test", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Recorded[T](result: T, jobs: Seq[SparkListenerJobStart],
      stages: Seq[StageInfo], actions: Seq[String])

  /** Every key whose value differs, as `key (before -> after)`. */
  private def changedConfs(before: Map[String, String],
      after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k (${before.getOrElse(k, "unset")} -> " +
        s"${after.getOrElse(k, "unset")})")
}
