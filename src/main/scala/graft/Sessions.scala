package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Shared local-session builder for every engine main — r19 VERDICT
  * What's-wrong #1 / Next #4. Its users: the driver-contract mains
  * Bench and Verify, the `graft.Main` CLI (with `--master` and
  * `--shuffle-partitions` as overrides), the ProfileEntry,
  * ProfileOpScaling and PlanDump diagnostics (PlanDump lifts the
  * plan-string cap, since the plan is its output), the
  * `perfbench/` harness, and the test suites' shared session
  * (`graft.SparkSuite` in src/test, fixed at `local[4]`).
  *
  * The one ENGINE-LEVEL setting that lived only in Bench's session is
  * `spark.sql.maxPlanStringLength`: every action renders its physical
  * plan into the SQLExecutionStart/AQE plan-update listener events even
  * with the UI disabled (r20 jstack: the driver main thread sits in
  * `AdaptiveSparkPlanExec.onUpdatePlan -> QueryExecution.explainString
  * -> generateTreeString` between jobs), and the incremental-state
  * entries' plans (persisted segment unions, InMemoryRelations with
  * statistics) render MEGABYTES, ~48 times per query. The cost is
  * scale-INDEPENDENT — it tracks plan size, not data size — so a
  * production service pays it exactly like the bench did. Capping at
  * 16 KiB bounds the pathological renders while keeping every
  * in-battery plan REQUIRE (H3/range-join pin patterns sit in the first
  * few KiB) intact —
  * the full battery validates them under this cap since r19.
  *
  * Everything else here is the common local-mode contract the mains
  * already shared: master from $SPARK_GRAFT_CPUS (the driver re-runs
  * the bench at a lower core count to measure scaling — never hardcode
  * the master), shuffle partitions = cores (AQE coalesces upward at
  * real scale), UTC, UI off.
  */
object Sessions {

  /** The shared builder: local[cpus] with the engine-wide confs. The
    * caller appends app-specific settings (appName, extra confs) and
    * calls getOrCreate(). */
  def localBuilder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "16384")

  /** Runs `body` with `confs` set on `spark`, then puts back each key
    * it set: its prior value, or unset if it was unset, also when
    * `body` or a later `set` throws. The one place under src/main that
    * sets or unsets a session conf (`ConfInventorySpec` checks that). */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = spark.conf.getAll
    val set = scala.collection.mutable.ArrayBuffer[String]()
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v); set += k }
      body
    } finally set.reverseIterator.foreach { k =>
      prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Runs `body` with `rule` appended to `spark`'s extra optimizer rules
    * and `confs` set ([[withConf]]); both are put back after. */
  def withRule[T](spark: SparkSession, rule: Rule[LogicalPlan],
      confs: (String, String)*)(body: => T): T = {
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ rule
      withConf(spark, confs: _*)(body)
    } finally spark.experimental.extraOptimizations = prev
  }
}
