package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, LongType, NumericType, TimestampNTZType, TimestampType}

/** Catalyst optimizer rule: rewrite a pure range join — a join whose
  * predicates include `pt >= lo AND pt <= hi` with the point
  * expression from one side and both bounds from the other — into
  * the bucketized equi-join [[graft.ops.RangeJoin]] spells by hand.
  * Spark plans the bare inequality join as BroadcastNestedLoopJoin
  * or a cartesian product (O(n·m) comparisons); after the rewrite it
  * hash-partitions on a bucket key: the bound side explodes to the
  * buckets its interval covers, the point side keys by its single
  * bucket, and the ORIGINAL predicates filter the survivors —
  * identical rows, shuffle-join cost.
  *
  * JOIN TYPES: INNER in either orientation; LEFT OUTER / LEFT SEMI /
  * LEFT ANTI when the point is on the LEFT; RIGHT OUTER when the
  * point is on the RIGHT — i.e. whenever the exploded bound side is
  * NON-preserved (see [[H3RuleSupport.orientationOk]] for why
  * preserved-side explosion is unsound). The left-outer form is the as-of
  * enrichment shape: every point row survives, matched or not.
  *
  * Soundness: bucketing B(x) = floor(cast(x as double) / w) is
  * MONOTONE non-decreasing (division by a positive constant and
  * floor both are, and IEEE double rounding preserves order), so
  * lo <= pt <= hi implies B(lo) <= B(pt) <= B(hi) — every qualifying
  * pair meets in the point's bucket, no false negatives regardless
  * of floating-point boundary rounding. False positives are removed
  * by the original predicates, kept verbatim in the new join
  * condition. An empty interval (lo > hi) generates NO buckets (the
  * guarded sequence), exactly matching the inner join's empty
  * result. NULL point/bounds produce NULL buckets / NULL sequences,
  * which the equi-join and Explode drop — the same rows the original
  * NULL comparisons dropped.
  *
  * OPT-IN: active only when `spark.graft.rangeJoin.bucketWidth` is a
  * positive number — width is a data-dependent choice (pick it near
  * the typical interval width: per-row fan-out is interval/width + 2,
  * the [[graft.ops.RangeJoin]] guidance). A width far below the data's
  * interval span makes the per-row bucket fan-out explode — in the
  * extreme past Spark's max array length, where Sequence dies with an
  * opaque allocation error deep inside a query the user never asked
  * to rewrite. `spark.graft.rangeJoin.maxFanout` (default 1,000,000
  * buckets per row) guards that cliff: a row whose interval covers
  * more buckets fails FAST with an actionable message naming both
  * conf keys, instead of an executor OOM/negative-array throw.
  *
  * MULTI-INTERVAL conditions rewrite exactly ONE interval: the first
  * lower-bound comparison, in the condition's conjunct order, whose
  * point expression also has a matching upper bound and a sound
  * orientation wins the bucket key; every other comparison — the
  * second interval included — is kept VERBATIM in the new join
  * condition, where it acts as a post-join filter on the bucketized
  * join. Rows are identical either way (the kept predicates decide
  * membership; the bucket only routes pairing), the second interval
  * just contributes no second bucket key — spec-pinned both for two
  * same-side intervals and for one interval per orientation. A second
  * Generate fan-out would multiply per-row copies (fanout_1 x
  * fanout_2) for pruning that the first interval's time-locality
  * usually already provides, so one bucket key is the deliberate
  * choice, not a limitation of the matcher.
  *
  * COMPOSITE joins rewrite too: `key_a = key_b AND ts BETWEEN lo AND
  * hi` — the as-of/sessionization shape, the commonest real interval
  * join — keeps its equi predicates verbatim and gains the bucket
  * equality as one MORE hash key. Spark does hash-join a keyed
  * interval join without help, but evaluates the interval as a
  * POST-JOIN filter: every same-key pair materializes first, so one
  * hot key (one chatty device, one boilerplate user) degrades the
  * join to quadratic-in-the-key. With the bucket appended, pairing
  * happens per (key, bucket) — time-locality bounds the blowup
  * exactly like the unkeyed case. Idempotency is STRUCTURAL: the
  * rule skips any join whose CONDITION already references a
  * `__g_rj_b_` bucket attribute — its own rewritten output at the
  * optimizer's fixed point. The prefix is reserved in that narrow
  * sense only: a user column named `__g_rj_b_*` appearing cross-side
  * in a join condition conservatively disables that join's rewrite
  * (single-side predicates are pushed below the join before this
  * rule sees it and don't trigger the skip); actual name capture
  * cannot occur either way, since Catalyst binds attributes by
  * exprId, not name.
  *
  * Wire it via `spark.sql.extensions=graft.GraftExtensions`, or on a
  * live session via
  * `spark.experimental.extraOptimizations ++= Seq(RangeJoinRewrite(spark))`.
  */
case class RangeJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  val ConfKey = "spark.graft.rangeJoin.bucketWidth"
  val FanoutKey = "spark.graft.rangeJoin.maxFanout"

  private def width: Option[Double] =
    H3RuleSupport.positiveConf(spark, ConfKey)(_.toDouble)

  private def maxFanout: Long =
    H3RuleSupport.positiveConf(spark, FanoutKey)(_.toLong).getOrElse(1000000L)

  override def apply(plan: LogicalPlan): LogicalPlan = width match {
    case None => plan
    case Some(w) => plan.transformUp {
      case j @ Join(left, right,
          Inner | LeftOuter | LeftSemi | LeftAnti | RightOuter,
          Some(cond), _) =>
        rewrite(j, left, right, cond, w).getOrElse(j)
    }
  }

  /** (point, lower, upper, lowerInclusive?, upperInclusive?) — not
    * needed beyond sides/types: the original comparisons are kept
    * verbatim, only the bucket equality is ADDED. */
  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, w: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // Some(true) = references only the left side (and at least one)
    def sided(e: Expression): Option[Boolean] = H3RuleSupport.sided(e, j)
    // structural idempotency: a join this rule already rewrote (this
    // pass or a previous fixed-point iteration) carries the reserved
    // __g_rj_b_ bucket attributes in its condition — never re-bucket
    if (cond.references.exists(_.name.startsWith("__g_rj_b_")))
      return None

    // numeric AND temporal points/bounds bucketize: timestamps
    // normalize to epoch MICROS, dates to epoch DAYS (see bucketOf) —
    // post-analysis comparison operands share a type, so a conjunct's
    // pt and bound always land in the same bucket space
    def numeric(e: Expression) = e.dataType match {
      case _: NumericType => true
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }
    // normalize each comparison to (pt, bound, isLower)
    def asBound(c: Expression): Option[(Expression, Expression, Boolean)] =
      c match {
        case GreaterThanOrEqual(a, b) => Some((a, b, true))
        case GreaterThan(a, b) => Some((a, b, true))
        case LessThanOrEqual(a, b) => Some((a, b, false))
        case LessThan(a, b) => Some((a, b, false))
        case _ => None
      }
    // a candidate lower/upper pair: same pt expression (semantic
    // equality), bounds on the opposite side of pt. EVERY comparison
    // yields BOTH operand-role interpretations (pt >= lo is also
    // lo <= pt with the roles swapped — which operand is "the point"
    // only becomes clear when a lower and an upper interpretation
    // share a pt); the pairing step below disambiguates.
    val bounds = conjuncts.flatMap { c =>
      asBound(c).toSeq.flatMap { case (a, b, aIsPt) =>
        Seq((a, b, aIsPt), (b, a, !aIsPt)).collect {
          case (pt, bound, isLower)
              if numeric(pt) && numeric(bound) &&
                sided(pt).isDefined && sided(bound).isDefined &&
                sided(pt) != sided(bound) =>
            (pt, bound, isLower)
        }
      }
    }
    // orientation is part of CANDIDATE SELECTION, not a post-filter: a
    // condition can carry range constraints in BOTH orientations
    // (a.x in b's interval AND b.y in a's interval) — picking the
    // first triple and then rejecting it would abandon a join whose
    // other triple rewrites soundly
    val pair = bounds.collectFirst {
      case lower @ (pt, _, true)
          if H3RuleSupport.orientationOk(j.joinType,
              explodedOnLeft = !sided(pt).get) &&
            bounds.exists(u => !u._3 && u._1.semanticEquals(pt)) =>
        (pt, lower._2, bounds.find(u => !u._3 && u._1.semanticEquals(pt)).get._2)
    }
    pair.flatMap { case (pt, lo, hi) =>
      val ptOnLeft = sided(pt).get
      val (ptPlan, boundPlan) = if (ptOnLeft) (left, right) else (right, left)
      val wLit = Literal(w, DoubleType)
      // Cast and Sequence are TimeZoneAwareExpressions: the analyzer's
      // ResolveTimeZone normally fills timeZoneId, but an optimizer
      // rule constructs POST-analysis nodes — without an explicit zone
      // they report unresolved and plan validation rejects the rewrite
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      // temporal normalization BEFORE the double divide: timestamps
      // to epoch micros (UnixMicros reads the internal value — no
      // zone), dates to epoch days; TIMESTAMP_NTZ goes through a
      // session-zone Cast to timestamp (explicit timeZoneId — the
      // post-analysis-node lesson). bucketWidth is therefore in the
      // point's bucket units: the numeric value itself, MICROSECONDS
      // for timestamps, DAYS for dates. long -> double is monotone
      // non-decreasing even where it rounds (ties only ever COLLAPSE
      // buckets), so the no-false-negative argument is unchanged.
      def bucketOf(e: Expression): Expression = {
        val norm = e.dataType match {
          case TimestampType => UnixMicros(e)
          case TimestampNTZType => UnixMicros(Cast(e, TimestampType, tz))
          case DateType => UnixDate(e)
          case _ => e
        }
        Floor(Divide(Cast(norm, DoubleType, tz), wLit))
      }
      val ptBucket = Alias(bucketOf(pt), "__g_rj_b_pt")()
      val ptSide = Project(ptPlan.output :+ ptBucket, ptPlan)
      val bLo = bucketOf(lo)
      val bHi = bucketOf(hi)
      // fan-out cliff guard: a row covering more than maxFanout
      // buckets raises an ACTIONABLE error (naming both conf keys)
      // instead of Sequence's opaque max-array-length / allocation
      // failure. RaiseError is non-foldable, so constant folding
      // cannot fire it at plan time; the Cast aligns the If branch
      // types (NullType casts to any array type).
      val cap = maxFanout
      val overCap = Cast(new RaiseError(Literal(
        s"graft RangeJoinRewrite: a row's interval spans more than " +
          s"$cap buckets at $ConfKey=$w — raise bucketWidth toward " +
          s"the typical interval width, or raise $FanoutKey")),
        ArrayType(LongType, false), tz)
      // guarded sequence: an empty interval yields an empty array
      // (Sequence would ERROR on start > stop with a +1 step).
      // Inside the bLo <= bHi branch the true difference is >= 0, so
      // a NEGATIVE Subtract(bHi, bLo) means the long arithmetic
      // wrapped (bLo hugely negative, bHi hugely positive) — by
      // definition over any sane cap; raise rather than skip the
      // guard and hit Sequence's opaque failure.
      val diff = Subtract(bHi, bLo)
      val seq = If(LessThanOrEqual(bLo, bHi),
        If(Or(GreaterThanOrEqual(diff, Literal(cap)),
            LessThan(diff, Literal(0L))),
          overCap,
          Sequence(bLo, bHi, Some(Literal(1L)), tz)),
        Literal.create(Seq.empty[Long], ArrayType(LongType, false)))
      val bucketAttr =
        AttributeReference("__g_rj_b_rng", LongType, nullable = false)()
      val boundSide = Generate(Explode(seq), Nil, outer = false, None,
        Seq(bucketAttr), boundPlan)
      val newCond = (EqualTo(ptBucket.toAttribute, bucketAttr) +: conjuncts)
        .reduce(And)
      val (nl, nr) = if (ptOnLeft) (ptSide, boundSide) else (boundSide, ptSide)
      Some(Project(j.output, Join(nl, nr, j.joinType, Some(newCond), j.hint)))
    }
  }
}
