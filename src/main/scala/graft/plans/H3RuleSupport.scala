package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{Decimal, LongType, NumericType}

import graft.functions.{StDistance, StIntersects}

/** The decisions the optimizer rules share, one definition each, so
  * the rules keep only what differs between them and cannot drift:
  *
  *  - conf parsing: [[resConfOrAuto]] (the opt-in H3 resolution) and
  *    [[positiveConf]] (every numeric cap and width, plus the prepared
  *    probe's timeout), both failing with the key and the value named;
  *  - the spatial conjunct: [[spatialConjunct]] (`st_intersects` and
  *    the four `st_distance` threshold spellings) over [[constDouble]];
  *  - join shape, shared with [[RangeJoinRewrite]]: [[sided]] (which
  *    join side an expression references) and [[orientationOk]] (the
  *    exploded side must be the non-preserved one);
  *  - the H3 key: [[parentRes]] (the one `h3_parent_<r>` parser),
  *    [[reachableKeys]], [[keyOf]], [[keyedPlan]], and the lossless
  *    NULL-key routing ([[NullKeySentinel]], [[sentinelKey]]);
  *  - site resolution: [[siteRes]] (pinned res, or `auto` keying the
  *    finest reachable stored parent), and the once-per-session
  *    [[warnWrongRes]] / [[warnFinerParent]] advisories through
  *    [[warnOnce]];
  *  - the prefilter and the guard: [[coverRanges]] and
  *    [[sameRelationLineage]]. */
private[graft] object H3RuleSupport extends Logging {

  /** The auto-aware opt-in conf: None = conf absent, rule inert.
    * Some(None) = the literal value `auto` — the rule infers the res
    * PER SITE from the scanned relations' REACHABLE stored
    * `h3_parent_<res>` columns (see [[siteRes]]). Some(Some(r)) =
    * pinned res, warned about when a spatial-shaped site carries parent
    * columns at OTHER resolutions only (see [[warnWrongRes]]). Present
    * but neither `auto` nor 0..15 is loud: a typo'd conf silently
    * disabling a rewrite the user asked for is worse than an error. */
  def resConfOrAuto(spark: SparkSession, key: String): Option[Option[Int]] =
    spark.conf.getOption(key).map {
      case s if s.trim.equalsIgnoreCase("auto") => None
      case s =>
        val r = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be an H3 resolution 0..15 or 'auto', got '$s'")
        }
        require(r >= 0 && r <= 15,
          s"$key must be an H3 resolution 0..15 or 'auto', got '$s'")
        Some(r)
    }

  /** A positive numeric conf, None when unset. A value that does not
    * parse, or is not positive and finite, fails with the key and the
    * value named — a malformed cap must never surface as a bare
    * `NumberFormatException`, nor silently mis-size a rewrite. */
  def positiveConf[T](spark: SparkSession, key: String)(parse: String => T)
      (implicit num: Numeric[T]): Option[T] =
    spark.conf.getOption(key).map { s =>
      val want = num match {
        case _: Integral[_] => "an integer >= 1"
        case _ => "a positive finite number"
      }
      def bad = new IllegalArgumentException(s"$key must be $want, got '$s'")
      val v = try parse(s) catch { case _: NumberFormatException => throw bad }
      val d = num.toDouble(v)
      if (!(d > 0) || d.isInfinite) throw bad
      v
    }

  /** A plan-time numeric constant's FINITE double value — the
    * threshold contract of the ST_DWithin shapes (deterministic, no
    * column references, numeric type; None otherwise or on eval
    * failure, leaving the site inert). NaN and the infinities are
    * rejected here rather than downstream: a non-finite buffer reaching
    * the covering enumeration would hang or explode the cell corridor,
    * where the UNREWRITTEN predicate would simply evaluate to a
    * constant — inert is the only sound answer. */
  def constDouble(e: Expression): Option[Double] =
    if (e.deterministic && e.references.isEmpty &&
        e.dataType.isInstanceOf[NumericType])
      try Option(e.eval(null)).map {
        case n: java.lang.Number => n.doubleValue
        case d: Decimal => d.toDouble
      }.filter(d => !d.isNaN && !d.isInfinite)
      catch { case scala.util.control.NonFatal(_) => None }
    else None

  /** The spatial conjunct both H3 rules rewrite, as (a, b, bufferM):
    * `st_intersects(a, b)` with buffer 0, or the ST_DWithin shape —
    * `st_distance(a, b)` compared against a plan-time [[constDouble]]
    * threshold d in any of its four spellings (`<= d`, `< d`, `d >=`,
    * `d >`). The distance widens the covering by exactly d: a pair
    * within d has a point of one geometry within d of the other, so
    * the ancestor-center bound gains exactly d. A negative threshold
    * clamps to buffer 0; the verbatim predicate still decides. */
  def spatialConjunct(c: Expression): Option[(Expression, Expression, Double)] = {
    def within(a: Expression, b: Expression, lim: Expression) =
      constDouble(lim).map(d => (a, b, math.max(d, 0.0)))
    c match {
      case StIntersects(a, b) => Some((a, b, 0.0))
      case LessThanOrEqual(StDistance(a, b), lim) => within(a, b, lim)
      case LessThan(StDistance(a, b), lim) => within(a, b, lim)
      case GreaterThanOrEqual(lim, StDistance(a, b)) => within(a, b, lim)
      case GreaterThan(lim, StDistance(a, b)) => within(a, b, lim)
      case _ => None
    }
  }

  /** Which side of `j` a join-condition operand lives on: Some(true)
    * when it references only (and at least one of) the left side's
    * output, Some(false) for the right, None when nondeterministic,
    * constant or split across both. */
  def sided(e: Expression, j: Join): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty || !e.deterministic) None
    else if (refs.subsetOf(j.left.outputSet)) Some(true)
    else if (refs.subsetOf(j.right.outputSet)) Some(false)
    else None
  }

  /** Whether a join may EXPLODE its `explodedOnLeft` side: only when
    * that side is the join's NON-PRESERVED one. The exploded side fans
    * out to one row per covered bucket or cell, which is invisible to
    * matched pairs (each original pair matches exactly the one copy
    * whose key equals the other side's) but would multiply UNMATCHED
    * preserved rows: an unmatched outer row must surface exactly once,
    * and an exploded anti-side copy matching under one key but not
    * another would leak through the anti. So LEFT outer/semi/anti need
    * the exploded side on the right, RIGHT outer needs it on the left,
    * and FULL outer (both preserved) never rewrites. */
  def orientationOk(jt: JoinType, explodedOnLeft: Boolean): Boolean =
    jt match {
      case Inner => true
      case LeftOuter | LeftSemi | LeftAnti => !explodedOnLeft
      case RightOuter => explodedOnLeft
      case _ => false
    }

  /** The impossible-cell-id join key for NULL-keyed rows: every id
    * [[graft.h3.H3Core]] encodes keeps bit 63 clear (ids sort as
    * positive longs — H3Core.scala's bit layout), so no stored parent
    * column value produced by the engine and no
    * [[graft.functions.H3CellToParent]] output can ever equal a
    * negative long. Rows whose key expression is NULL coalesce to this
    * value and meet a matching sentinel entry on the other side, where
    * the VERBATIM predicate decides them — a layout violating the
    * at-or-finer stored-parent contract degrades to the exact path
    * instead of silently losing rows. */
  val NullKeySentinel: Long = -1L

  /** The equi-join key for a [[keyOf]] key of rank `rank`: a rank-2
    * (finer stored parent) key routes its NULLs — rows whose cell is
    * coarser than the stored column's res, the at-or-finer contract
    * violation — to [[NullKeySentinel]], which each rule pairs with a
    * sentinel entry on its other side. Rank 0/1 keys stay bare: their
    * NULL means a NULL or too-coarse `h3_cell`, where the cell-geometry
    * invariant makes the geometry NULL too (the documented contract). */
  def sentinelKey(key: Expression, rank: Int): Expression =
    if (rank == 2) Coalesce(Seq(key, Literal(NullKeySentinel))) else key

  /** The resolution `a` stores when it is a LongType `h3_parent_<r>`
    * column with r in 0..15. */
  def parentRes(a: Attribute): Option[Int] =
    if (a.dataType == LongType && a.name.startsWith("h3_parent_"))
      scala.util.Try(a.name.stripPrefix("h3_parent_").toInt).toOption
        .filter(r => r >= 0 && r <= 15)
    else None

  /** Distinct resolutions of stored `h3_parent_<r>` columns anywhere in
    * `plan`'s subtree — subtree-wide, not output-only, because column
    * pruning routinely strips the key from the visible Project while
    * the relation below still carries it. Only the wrong-res warning
    * reads it; the rewrite itself gates on [[reachableKeys]]. */
  def parentResolutions(plan: LogicalPlan): Seq[Int] =
    plan.collect { case n => n.output }.flatten.flatMap(parentRes).distinct

  /** Cap on the disjuncts of the multi-range prefilter ([[coverRanges]]):
    * enough to capture a compact covering's contiguous id runs nearly
    * exactly, few enough that the pushed Or-tree stays trivial for
    * row-group stat evaluation. */
  val MaxPrefilterRanges = 16

  /** Covering ids → at most `maxRanges` inclusive [lo, hi] ranges
    * jointly containing every id, split at the LARGEST id gaps. In
    * H3Core's bit layout axial i is the major sort axis, so a compact
    * region's covering at any one res is a handful of contiguous id
    * runs — a few ranges capture it nearly exactly, where the single
    * [min, max] envelope of a coarse-res or multi-part covering spans
    * most of the key band and prunes NO parquet row groups (measured:
    * 1.2x on a stored coarse ancestor, because the one BETWEEN
    * admitted every row group). Strictly a SUPERSET of the id set, so
    * layering it under the covering equi-join never changes results. */
  def coverRanges(cover: Array[Long], maxRanges: Int): Seq[(Long, Long)] = {
    if (cover.isEmpty) return Nil
    var sorted = cover
    var i = 1
    while (i < sorted.length && sorted(i - 1) <= sorted(i)) i += 1
    if (i < sorted.length) sorted = cover.sorted // defensive: callers sort
    if (maxRanges <= 1) return Seq((sorted.head, sorted.last))
    val splits = (1 until sorted.length).iterator
      .map(j => (sorted(j) - sorted(j - 1), j))
      .filter(_._1 > 1L)
      .toArray.sortBy(-_._1)
      .take(maxRanges - 1).map(_._2).sorted
    (0 +: splits.toSeq :+ sorted.length).sliding(2).map {
      case Seq(a, b) => (sorted(a), sorted(b - 1))
    }.toSeq
  }

  /** What [[keyedPlan]] can actually REACH: `h3_cell` availability and
    * the stored-parent resolutions along the Project/Filter chain it
    * threads — nothing below an Aggregate/Generate/Join counts (the
    * subtree-wide [[parentResolutions]] admits columns the threading
    * can never surface, so a gate built on it would let a
    * never-rewritable site pay the driver-side covering enumeration on
    * every compile). A res `rr` is keyable iff the cell is reachable
    * (per-row parent math, rank 1) or some stored parent at q >= rr is
    * (rank 0 when q == rr, the rank-2 fallback when q > rr). */
  def reachableKeys(plan: LogicalPlan): (Boolean, Seq[Int]) = {
    def attrs(p: LogicalPlan): Seq[Attribute] = p match {
      case Project(_, ch) => p.output ++ attrs(ch)
      case Filter(_, ch) => p.output ++ attrs(ch)
      case _ => p.output
    }
    val as = attrs(plan)
    val cell = as.exists(a => a.name == "h3_cell" && a.dataType == LongType)
    (cell, as.flatMap(parentRes).distinct)
  }

  /** The H3 key expression over `output`, with a preference rank:
    * Some((expr, 0)) for a stored `h3_parent_<res>` ancestor column
    * (zero per-row math; its sargable range prefilter reaches scans),
    * Some((expr, 1)) for per-row parent math over a long-keyed
    * `h3_cell`, or Some((expr, 2)) over the COARSEST stored
    * `h3_parent_<q>` with q > r — a stored ancestor is itself a cell,
    * so its ancestor at a coarser r is the row's ancestor at r
    * (relations that store only a parent column, no `h3_cell`, can
    * still key any coarser res). Contract note for the rank-2
    * fallback: a row whose cell is COARSER than the USED stored
    * column's res q has h3_parent_q NULL — both rules route such rows
    * through [[sentinelKey]] into the VERBATIM refine (lossless for
    * every layout), at the cost of exact predicate evaluation for
    * exactly the contract-violating slice. The engine's own
    * `H3Index.withParentAt` layout is at-or-finer by construction (the
    * slice is empty there), the coarsest qualifying q minimizes the
    * slice on foreign layouts, rank 2 means ANY reachable exact
    * `h3_cell` key wins over it, and [[warnFinerParent]] says once per
    * session when the fallback is used — advisory performance
    * guidance, not a soundness caveat. */
  def keyOf(output: Seq[Attribute], r: Int): Option[(Expression, Int)] =
    output.collectFirst {
      case a if a.name == s"h3_parent_$r" && a.dataType == LongType =>
        (a: Expression, 0)
    }.orElse(output.collectFirst {
      case a if a.name == "h3_cell" && a.dataType == LongType =>
        (graft.functions.H3CellToParent(a, Literal(r)): Expression, 1)
    }).orElse {
      val finer = output.flatMap(a => parentRes(a).filter(_ > r).map((a, _)))
      finer.sortBy(_._2).headOption.map { case (a, _) =>
        (graft.functions.H3CellToParent(a, Literal(r)): Expression, 2)
      }
    }

  /** `side` rewritten to expose the H3 key as an `aliasName` attribute
    * appended to its output, with its preference rank and the key
    * expression's RAW references (for the same-relation lineage
    * check). By the time an optimizer rule sees the site, COLUMN
    * PRUNING has usually stripped the STORED `h3_parent_<res>` column
    * (and sometimes the cell column too) from any Project the user's
    * select produced — reading only the visible output would let
    * `res=auto` infer a resolution and then silently fail to key it.
    * So the search threads through Project/Filter chains and prefers
    * a DEEPER rank-0 stored-ancestor column over a shallower rank-1
    * per-row-math key: the stored column costs zero per-row math AND
    * keeps the key a bare relation attribute, which lets alias-aware
    * partitioning propagation reuse a `bucketBy(h3_parent_<res>)`
    * layout's bucketing instead of re-shuffling the index side (the
    * repeated-spatial-join layout story). Threading an attribute past
    * a pruned Project only ADDS a column to it — never changes rows. */
  def keyedPlan(side: LogicalPlan, r: Int, aliasName: String)
      : Option[(LogicalPlan, Attribute, Int, AttributeSet)] = {
    val local = keyOf(side.output, r).map { case (expr, rank) =>
      val al = Alias(expr, aliasName)()
      (Project(side.output :+ al, side): LogicalPlan, al.toAttribute, rank,
        expr.references)
    }
    if (local.exists(_._3 == 0)) local
    else {
      val below = side match {
        case Project(list, ch) =>
          keyedPlan(ch, r, aliasName).map { case (newCh, attr, rank, refs) =>
            (Project(list :+ attr, newCh): LogicalPlan, attr, rank, refs)
          }
        case Filter(c, ch) =>
          keyedPlan(ch, r, aliasName).map { case (newCh, attr, rank, refs) =>
            (Filter(c, newCh): LogicalPlan, attr, rank, refs)
          }
        case _ => None
      }
      // lowest rank wins wherever it sits (deeper stored column beats
      // local per-row math; ANY exact h3_cell key beats the rank-2
      // finer-parent fallback); at equal rank the LOCAL key wins
      // (fewer plan nodes touched) — sortBy is stable and local sorts
      // first
      (local.toSeq ++ below.toSeq).sortBy(_._3).headOption
    }
  }

  /** The res a spatial site keys: the pinned conf value, or under
    * `auto` (`resOrAuto` = None) the one stored parent `reachable`
    * across the site's sides. MULTIPLE stored parents — the
    * recommended coarse-ancestor layout — key the FINEST: it is always
    * the tightest sound prefilter, and refusing the layout the engine
    * itself recommends would make it rule-disabling; the choice warns
    * once per session. None when no stored parent is reachable: a
    * bare `h3_cell` names no res (cells may be stored at any res at or
    * finer than the query res). `site` names the site in the warning. */
  def siteRes(spark: SparkSession, confKey: String, resOrAuto: Option[Int],
      reachable: => Seq[Int], site: String): Option[Int] =
    resOrAuto.orElse {
      reachable.distinct.sorted(Ordering[Int].reverse) match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many =>
          warnOnce(spark, s"$confKey-multiparent-${many.mkString(",")}") {
            logWarning(s"$confKey=auto found stored h3_parent columns at " +
              s"resolutions {${many.sorted.mkString(",")}} on $site — " +
              s"keying the FINEST (${many.head}), the tightest sound " +
              s"prefilter; pin $confKey to choose another")
          }
          Some(many.head)
      }
    }

  /** The wrong-res-conf footgun: call when a PINNED res `r` keys none
    * of a spatial-shaped site's `sides`. If those sides carry stored
    * parents at OTHER resolutions only, the user most likely pinned
    * the wrong res — warn once per session, naming the stored
    * resolutions and what the rule does instead (`consequence`). */
  def warnWrongRes(spark: SparkSession, confKey: String, r: Int,
      sides: Seq[LogicalPlan], site: String, consequence: String): Unit = {
    val stored = sides.flatMap(parentResolutions).distinct
    if (stored.nonEmpty && !stored.contains(r))
      warnOnce(spark, s"$confKey-wrongres-$r-${stored.mkString(",")}") {
        logWarning(s"$confKey=$r matches no h3_parent_$r/h3_cell column " +
          s"on $site, which DOES carry h3_parent_{${stored.mkString(",")}}" +
          s" — $consequence; fix the conf (or set it to 'auto')")
      }
  }

  /** The rank-2 advisory, once per session: `rule` keys res `r` from a
    * FINER stored parent, so rows whose cell is coarser than that
    * column's res take the sentinel route into the verbatim predicate
    * — lossless, but `consequence` instead of the prefilter. */
  def warnFinerParent(spark: SparkSession, confKey: String, rule: String,
      r: Int, consequence: String): Unit =
    warnOnce(spark, s"$confKey-finerparent-$r") {
      logWarning(s"$rule keys res $r from a FINER stored h3_parent column " +
        s"(no h3_cell/h3_parent_$r reachable): rows whose cell is COARSER " +
        s"than that stored column's res have a NULL key and $consequence" +
        " — lossless, but store the query-res ancestor for full prefilter " +
        "coverage")
    }

  /** Once-per-session warning gate: the rules' advisory logWarning
    * paths (ambiguous `auto`, wrong-res conf, the autoBucketedScan
    * footgun) fire inside the optimizer, i.e. on EVERY analyzed query
    * — a BI dashboard issuing thousands of short queries would get a
    * log storm from a conf problem worth saying once. `emit` runs only
    * the first time (session, key) is seen; returns whether it ran
    * (specs pin single emission). Sessions key a WeakHashMap, so a
    * closed session's entries are collectable and the per-session key
    * sets are bounded by the handful of distinct warning shapes a rule
    * can emit. */
  private val warnedOnce = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap.KeySetView[String,
        java.lang.Boolean]]())

  def warnOnce(spark: SparkSession, key: String)(emit: => Unit): Boolean = {
    val keys = warnedOnce.synchronized {
      var s = warnedOnce.get(spark)
      if (s == null) {
        s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        warnedOnce.put(spark, s)
      }
      s
    }
    val added = keys.add(key)
    if (added) emit
    added
  }

  /** Test hook: whether `warnOnce(spark, key)` has already emitted. */
  private[graft] def hasWarned(spark: SparkSession, key: String): Boolean = {
    val s = warnedOnce.get(spark)
    s != null && s.contains(key)
  }

  /** True when every attribute in `attrs` provably originates from ONE
    * side at every multi-child node (Join, Union, ...) under `plan` —
    * the SAME-RELATION guard both H3 rules need before pairing an H3
    * key with a geometry column (r16 ADVICE, medium): the key is
    * picked BY NAME, and above a join a `h3_cell` from table B paired
    * with a geometry from table A would prefilter A's rows by B's
    * unrelated cells — silently dropping rows. Attributes are traced
    * through Project/Aggregate/Window alias lists and Generate
    * generator outputs down to where they are produced; a set that
    * splits across the children of any multi-child node fails. Nodes
    * that produce an attribute themselves (an Aggregate's own
    * aggregate, a Window function) terminate that attribute's trace AT
    * that node — a single unary node is one row-source, so stopping
    * there is same-relation by construction. The check is
    * conservative in the SOUND direction only at multi-child nodes:
    * unknown unary shapes pass through untraced, exactly like the
    * pre-guard behavior, while any split across join/union children
    * (the reported gap) now refuses the rewrite. */
  def sameRelationLineage(plan: LogicalPlan, attrs0: AttributeSet): Boolean = {
    def mapNamed(list: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
        attrs: AttributeSet): AttributeSet =
      AttributeSet(attrs.flatMap { at =>
        list.collectFirst {
          case al: Alias if al.exprId == at.exprId => al.child.references.toSeq
          case ar: Attribute if ar.exprId == at.exprId => Seq(ar)
        }.getOrElse(Seq(at))
      })
    def walk(p: LogicalPlan, attrs: AttributeSet): Boolean =
      if (attrs.size <= 1) true
      else p match {
        case pr: Project => walk(pr.child, mapNamed(pr.projectList, attrs))
        case ag: Aggregate =>
          walk(ag.child, mapNamed(ag.aggregateExpressions, attrs))
        case w: Window =>
          walk(w.child, mapNamed(w.windowExpressions, attrs))
        case g: Generate =>
          val mapped = AttributeSet(attrs.flatMap { at =>
            if (g.generatorOutput.exists(_.exprId == at.exprId))
              g.generator.references.toSeq
            else Seq(at)
          })
          walk(g.child, mapped)
        case ex: Expand =>
          // Expand (grouping sets / count-distinct plans) re-mints
          // EVERY output exprId; stopping here would bless whatever
          // sits below — map each attr to the union of its column's
          // source references across the projections instead
          val mapped = AttributeSet(attrs.flatMap { at =>
            val i = ex.output.indexWhere(_.exprId == at.exprId)
            if (i >= 0) ex.projections.flatMap(p => p(i).references)
            else Seq(at)
          })
          walk(ex.child, mapped)
        case _: LeafNode => true
        case u: UnaryNode if attrs.subsetOf(u.child.outputSet) =>
          walk(u.child, attrs)
        case _: UnaryNode => true
        case m =>
          m.children.find(c => attrs.subsetOf(c.outputSet)) match {
            case Some(c) => walk(c, attrs)
            case None => false
          }
      }
    walk(plan, attrs0)
  }
}
