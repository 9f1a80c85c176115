package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine as a `spark.sql.extensions` plugin — the zero-driver-code
  * wiring for spark-submit / Thrift / notebook users:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects
  *
  *  - the full `g_*` / `ST_` / `h3_` / sketch SQL-function surface
  *    (the same builder list [[graft.functions.GFunctions.registerAll]]
  *    installs on a live session — one list, the two paths cannot
  *    drift), and
  *  - the [[graft.plans.RangeJoinRewrite]] optimizer rule (opt-in via
  *    `spark.graft.rangeJoin.bucketWidth`): pure interval joins
  *    replan from BroadcastNestedLoopJoin / cartesian product to the
  *    bucketized equi-join, and
  *  - the [[graft.plans.H3IntersectsRewrite]] optimizer rule (opt-in
  *    via `spark.graft.h3Filter.res`): full-scan
  *    `st_intersects(geom, <literal polygon>)` filters over an
  *    H3-keyed relation replan to the broadcast cell prefilter +
  *    exact refine (the reference's measured ~100× two-step), and
  *  - the [[graft.plans.H3JoinRewrite]] optimizer rule (opt-in via
  *    `spark.graft.h3Join.res`): spatial JOINs on `st_intersects`
  *    replan from BroadcastNestedLoopJoin (O(n·m) geometry tests) to
  *    a covering-cell equi-join with the exact predicate kept as the
  *    refine.
  *
  * The three rules share one contract through
  * [[graft.plans.H3RuleSupport]]: conf parsing (`resConfOrAuto`,
  * `positiveConf`), the spatial conjunct matcher (`spatialConjunct`),
  * the join-shape checks (`sided`, `orientationOk`), H3 key selection
  * (`parentRes`, `keyedPlan`, `sentinelKey`), site resolution
  * (`siteRes`, `warnWrongRes`, `warnFinerParent`) and the
  * once-per-session warning gate (`warnOnce`).
  *
  * On a session that already exists, `GFunctions.registerAll(spark)`
  * and `spark.experimental.extraOptimizations` remain the equivalent
  * runtime wiring.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GFunctions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    ext.injectOptimizerRule(session =>
      graft.plans.RangeJoinRewrite(session))
    ext.injectOptimizerRule(session =>
      graft.plans.H3IntersectsRewrite(session))
    ext.injectOptimizerRule(session =>
      graft.plans.H3JoinRewrite(session))
  }
}
