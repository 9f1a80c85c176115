package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.{H3CoveringCells, StDistance, StIntersects}

/** Catalyst optimizer rule: rewrite a SPATIAL JOIN —
  * `indexSide JOIN geomSide ON st_intersects(indexSide.geom,
  * geomSide.geom)` where one side carries an H3 cell key — into a
  * cell EQUI-join. Spark plans the bare geometry-predicate join as
  * BroadcastNestedLoopJoin or a cartesian product: O(n·m) exact
  * geometry tests, the shape that cannot survive any scale-up. After
  * the rewrite, the geometry side EXPLODES to the covering cells of
  * its per-row geometry ([[graft.functions.H3CoveringCells]] — any
  * geometry type), the index side keys by its query-res ancestor, and
  * they hash/sort-merge join on the cell with the ORIGINAL
  * st_intersects kept verbatim as the refine — exact geometry math
  * runs only on cell-colocated candidate pairs. This is the
  * distributed spatial join the reference's H3 design implies but
  * never ships ("a spatial join reduced to an H3 equi-join",
  * docs/H3_POLYGON_ANALYSIS.md:301-321, realized there only for ONE
  * literal polygon at a time); [[H3IntersectsRewrite]] is the
  * literal-polygon special case of the same idea.
  *
  * NO DUPLICATION, structurally: the index side contributes exactly
  * ONE key per row (its single cell's ancestor), and the covering
  * array is DISTINCT per geometry row — so an original qualifying
  * pair meets in exactly one exploded copy (the one whose cell equals
  * the index row's ancestor), and row multiplicity is preserved
  * without any dedup step.
  *
  * EXACTNESS CONTRACT (the [[H3IntersectsRewrite]] contract, join
  * form): byte-identical rows to the unrewritten join when the index
  * side's filtered geometry is its row's own H3 CELL GEOMETRY (the
  * mart h3_index layout, `geom = g_h3_cell_to_geom(h3_cell)`):
  * st_intersects(cellGeom(c), g) implies ancestor(c) ∈ covering(g)
  * ([[graft.h3.H3Cover]]'s drift+circumradius bound), so the
  * equi-join keeps every qualifying pair and the verbatim original
  * predicate decides each candidate exactly. NULL/empty geometries
  * drop on both plans (NULL st_intersects vs an empty covering array
  * under a non-outer Generate).
  *
  * JOIN TYPES: INNER in either orientation; LEFT OUTER / LEFT SEMI /
  * LEFT ANTI when the GEOMETRY side is on the RIGHT; RIGHT OUTER when
  * it is on the LEFT — i.e. whenever the EXPLODED side is the join's
  * non-preserved side (matched pairs meet exactly once either way,
  * but an unmatched PRESERVED row must surface exactly once, which an
  * exploded side cannot guarantee — the RangeJoinRewrite orientation
  * argument verbatim). FULL OUTER never rewrites. A geometry-side row
  * whose covering is EMPTY (empty geometry) vanishes under the inner
  * Generate — for non-preserved geometry sides that equals the
  * original semantics (an empty geometry intersects nothing).
  *
  * SIDE SELECTION: the index side is the one carrying a LongType
  * `h3_parent_<res>` column (preferred — zero per-row math) or a
  * LongType `h3_cell` column; when BOTH sides qualify, the
  * materialized-ancestor side wins, then the LEFT side (documented
  * tiebreak — either choice is correct, they differ only in which
  * side fans out). Orientation participates in candidate selection:
  * when the preferred side would put the exploded geometry side on
  * the preserved side of an outer join, the OTHER side's key (if
  * present) is used instead of giving up.
  *
  * OPT-IN via `spark.graft.h3Join.res` (0..15, or `auto` to infer
  * from the reachable stored `h3_parent_<res>` columns across both
  * sides: one column names the res; multiple key the FINEST with a
  * once-per-session warning, r19 — the recommended coarse-ancestor
  * layout must not be rule-disabling. A pinned res that keys neither
  * side while other parent columns exist warns about the
  * wrong-res-conf footgun): the prefilter resolution is an
  * index-layout choice (cells must be AT or FINER than it — the
  * H3Query contract; a too-coarse row's NULL ancestor drops exactly
  * where the cell-geometry invariant would have made its geom NULL
  * too; the rank-2 finer-parent fallback instead routes its NULL
  * keys through the sentinel into the verbatim predicate — lossless
  * on every layout, r19). SAME-RELATION guard: the chosen index side's key must trace
  * to the same relation as that side's own geometry argument (a side
  * that is itself a join could carry them on different sub-sides);
  * lineage participates in candidate selection like orientation, so
  * an incompatible preferred side falls back to the other key.
  * Idempotency is structural: the rewritten join condition references
  * `__g_h3j_` attributes, never re-matched.
  *
  * BUCKETED LAYOUT at scale (the repeated-spatial-join story): store
  * the index `bucketBy(N, h3_parent_<res>)` and the rewritten
  * equi-join reuses the layout's bucketing — ZERO index-side
  * exchanges, measured 31.3 → 0.2 MB shuffled (156×) at sf0.1
  * (PERF.md r17); only the small exploded geometry side shuffles. The
  * rule threads the stored ancestor up through pruned projections
  * precisely so the key stays a bare relation attribute the
  * partitioning propagation can match. CAVEAT, warned once per
  * session at rewrite time:
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled` must be
  * FALSE for this — the default-true heuristic looks for the bucket
  * column among the original join keys, cannot see through the
  * rewrite's `__g_h3j_key` alias, and silently disables bucketed
  * scanning (the index side re-shuffles with nothing telling the user
  * why). See README's configuration table.
  *
  * CELL SKEW at scale (r16 Next #1): the covering-cell equi-join
  * inherits the index's cell distribution — a dense urban cell whose
  * ancestor matches a large fraction of the index is a straggler
  * partition under a shuffled (sort-merge / shuffled-hash) join. The
  * rewrite itself stays agnostic: at interactive geometry counts the
  * exploded side broadcasts (no shuffle by cell, so no straggler);
  * when the exploded side outgrows the broadcast threshold Spark
  * plans a sort-merge join, and AQE's skew-join
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default) splits the
  * hot cell's partition at runtime — the skewed arm of PERF.md's
  * full-index-scale H3JoinRewrite curve
  * (>=50% of index rows under ONE covering cell) measures the split
  * firing (`skew=true` in-plan) and the rewrite still beating the
  * nested loop. For the residual shape AQE cannot split (a broadcast
  * the user forces, or a hot cell inside one task for OTHER reasons),
  * [[graft.ops.Skew.saltedJoin]] composes manually: salt the index
  * side, replicate the exploded side — at the cost of giving up this
  * rule's transparency (a salted join is an explicit operator
  * choice).
  *
  * Wire via `spark.sql.extensions=graft.GraftExtensions`, or
  * `spark.experimental.extraOptimizations ++= Seq(H3JoinRewrite(spark))`.
  */
case class H3JoinRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  val ConfKey = "spark.graft.h3Join.res"
  val FanoutKey = "spark.graft.h3Join.maxFanout"

  /** None = conf absent (inert); Some(None) = `auto` (infer per join
    * from the single stored `h3_parent_<res>` column across both
    * sides); Some(Some(r)) = pinned res. */
  private def res: Option[Option[Int]] =
    H3RuleSupport.resConfOrAuto(spark, ConfKey)

  /** Fan-out cliff guard (the RangeJoinRewrite maxFanout precedent):
    * a geometry whose covering spans more cells than this fails FAST
    * inside [[graft.functions.H3CoveringCells]] with a message naming
    * both conf keys, instead of building multi-MB per-row arrays deep
    * inside a query the user never asked to rewrite. */
  private def maxFanout: Int =
    spark.conf.getOption(FanoutKey).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$FanoutKey must be a positive integer, got '$v'")
      }
      require(n >= 1, s"$FanoutKey must be >= 1, got '$v'")
      n
    }.getOrElse(1000000)

  override def apply(plan: LogicalPlan): LogicalPlan = res match {
    case None => plan
    case Some(resOrAuto) => plan.transformUp {
      case j @ Join(_, _,
          Inner | LeftOuter | LeftSemi | LeftAnti | RightOuter,
          Some(_), _) =>
        rewrite(j, resOrAuto).getOrElse(j)
    }
  }

  /** The exploded (geometry) side must be NON-preserved. */
  private def orientationOk(jt: JoinType, geomOnLeft: Boolean): Boolean =
    jt match {
      case Inner => true
      case LeftOuter | LeftSemi | LeftAnti => !geomOnLeft
      case RightOuter => geomOnLeft
      case _ => false
    }

  /** Shared with the filter rule: [[H3RuleSupport.keyedPlan]] —
    * threads a column-pruned stored `h3_parent_<res>` ancestor up
    * through Project/Filter chains so the join key stays a bare
    * relation attribute (the bucketed-layout story). */
  private def keyedPlan(side: LogicalPlan,
      r: Int): Option[(LogicalPlan, Attribute, Int, AttributeSet)] =
    H3RuleSupport.keyedPlan(side, r, "__g_h3j_key")

  /** The autoBucketedScan SILENT-LOSS footgun (r17 Next #1): when the
    * chosen rank-0 key is a BUCKET column of a scanned bucketed table,
    * the rewritten equi-join can reuse the layout's bucketing and run
    * with ZERO index-side exchanges (PERF.md r17: 31.3 → 0.2 MB
    * shuffled, 156×) — but Spark's
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled` heuristic
    * (default TRUE) looks for the bucket column among the ORIGINAL
    * join keys and cannot see through this rule's `__g_h3j_key` alias,
    * so it silently disables bucketing on the scan and the index side
    * re-shuffles with nothing telling the user why. The rule knows at
    * rewrite time that it is keying on a stored bucket column — warn
    * once per session naming the conf to set. */
  private def warnAutoBucketedScanFootgun(side: LogicalPlan,
      keyRefs: AttributeSet, rank: Int): Unit = {
    if (rank != 0) return
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoOn =
      try spark.conf.get(confKey, "true").toBoolean
      catch { case scala.util.control.NonFatal(_) => true }
    if (!autoOn) return
    val keyNames = keyRefs.map(_.name).toSet
    val bucketedOnKey = side.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.bucketSpec.exists(_.bucketColumnNames.exists(keyNames))
          case _ => false
        }
      case _ => false
    }
    if (bucketedOnKey) H3RuleSupport.warnOnce(spark,
      s"$ConfKey-autobucketedscan") {
      logWarning(
        s"H3JoinRewrite is keying a spatial join on a stored BUCKET " +
          s"column (${keyNames.mkString(",")}) of a bucketed table, but " +
          s"$confKey=true (the default) will disable bucketed scanning — " +
          "the heuristic looks for the bucket column among the original " +
          "join keys and cannot see through the rewrite's __g_h3j_key " +
          s"alias, so the index side re-shuffles. Set $confKey=false to " +
          "keep the shuffle-free bucketed join (see README's " +
          "configuration table)")
    }
  }

  private def rewrite(j: Join, resOrAuto: Option[Int]): Option[LogicalPlan] = {
    val cond = j.condition.get
    if (cond.references.exists(_.name.startsWith("__g_h3j_")))
      return None
    val conjuncts = splitConjunctivePredicates(cond)
    def sided(e: Expression): Option[Boolean] = {
      val refs = e.references
      if (refs.isEmpty || !e.deterministic) None
      else if (refs.subsetOf(j.left.outputSet)) Some(true)
      else if (refs.subsetOf(j.right.outputSet)) Some(false)
      else None
    }
    // the spatial conjunct: st_intersects (buffer 0), or a
    // distance-threshold comparison — `st_distance(a, b) <= d` in any
    // operand order, the ST_DWithin shape — whose threshold is a
    // plan-time numeric constant (the distance widens the covering;
    // soundness: a pair within d has a geometry point within d of the
    // other side, so the ancestor-center bound gains exactly d)
    def constDouble(e: Expression): Option[Double] =
      H3RuleSupport.constDouble(e)
    def spatial(c: Expression): Option[(Expression, Expression, Double)] =
      c match {
        case StIntersects(a, b) => Some((a, b, 0.0))
        case LessThanOrEqual(StDistance(a, b), lim) =>
          constDouble(lim).map(d => (a, b, math.max(d, 0.0)))
        case LessThan(StDistance(a, b), lim) =>
          constDouble(lim).map(d => (a, b, math.max(d, 0.0)))
        case GreaterThanOrEqual(lim, StDistance(a, b)) =>
          constDouble(lim).map(d => (a, b, math.max(d, 0.0)))
        case GreaterThan(lim, StDistance(a, b)) =>
          constDouble(lim).map(d => (a, b, math.max(d, 0.0)))
        case _ => None
      }
    val hit = conjuncts.collectFirst(Function.unlift { c =>
      spatial(c).flatMap { case (a, b, buf) =>
        (sided(a), sided(b)) match {
          case (Some(sa), Some(sb)) if sa != sb =>
            // (conjunct, left-side arg, right-side arg, buffer meters)
            Some((c, if (sa) a else b, if (sa) b else a, buf))
          case _ => None
        }
      }
    })
    hit.flatMap { case (si, leftGeom, rightGeom, bufferM) =>
      // res: pinned by the conf, or (auto) inferred from the REACHABLE
      // stored h3_parent_<res> columns across both sides — multiple
      // stored parents (the recommended coarse-ancestor layout, r19)
      // key the FINEST: always the tightest sound prefilter, and
      // refusing the layout the engine itself recommends would turn it
      // rule-disabling. The choice warns once; pin to override.
      val rOpt: Option[Int] = resOrAuto match {
        case Some(pinned) => Some(pinned)
        case None =>
          (H3RuleSupport.reachableKeys(j.left)._2 ++
            H3RuleSupport.reachableKeys(j.right)._2)
            .distinct.sorted(Ordering[Int].reverse) match {
            case Seq(one) => Some(one)
            case Seq() => None
            case many =>
              val finest = many.head
              H3RuleSupport.warnOnce(spark,
                s"$ConfKey-multiparent-${many.mkString(",")}") {
                logWarning(s"$ConfKey=auto found stored h3_parent " +
                  s"columns at resolutions {${many.sorted.mkString(",")}} " +
                  s"across a spatial join's sides — keying the FINEST " +
                  s"($finest), the tightest sound prefilter; pin " +
                  s"$ConfKey to choose another")
              }
              Some(finest)
          }
      }
      rOpt.flatMap { r =>
      val (kl, kr) = (keyedPlan(j.left, r), keyedPlan(j.right, r))
      // wrong-res-conf footgun (r16 Next #6): a pinned res that keys
      // NEITHER side of a spatial-shaped join is silently inert —
      // warn when stored parents at other resolutions exist
      if (kl.isEmpty && kr.isEmpty && resOrAuto.isDefined) {
        val stored = (H3RuleSupport.parentResolutions(j.left) ++
          H3RuleSupport.parentResolutions(j.right)).distinct
        if (stored.nonEmpty && !stored.contains(r))
          H3RuleSupport.warnOnce(spark,
            s"$ConfKey-wrongres-$r-${stored.mkString(",")}") {
            logWarning(
              s"$ConfKey=$r matches no h3_parent_$r/h3_cell column on " +
                s"either side of a spatial join, which DOES carry " +
                s"h3_parent_{${stored.mkString(",")}} — the rewrite stays " +
                "inert; fix the conf (or set it to 'auto')")
          }
      }
      // SAME-RELATION guard (r16 ADVICE, medium): the chosen side's
      // key must trace to the same relation as that side's own
      // geometry argument — a side that is itself a join could carry
      // the key on one sub-side and the geometry on the other, and
      // prefiltering by the unrelated key would silently drop rows
      def lineageOk(idxLeft: Boolean): Boolean = {
        val refs = (if (idxLeft) kl else kr).get._4 ++
          (if (idxLeft) leftGeom else rightGeom).references
        H3RuleSupport.sameRelationLineage(if (idxLeft) j.left else j.right,
          refs)
      }
      // index side: best key rank first, ties break LEFT (documented),
      // but orientation AND lineage are part of CANDIDATE SELECTION,
      // not a post-filter — when the better-ranked key sits on an
      // incompatible side, the other side's key (if any) still
      // rewrites soundly (the RangeJoinRewrite lesson)
      val preference: Seq[Boolean] = (kl, kr) match {
        case (Some((_, _, rl, _)), Some((_, _, rr, _))) =>
          if (rl <= rr) Seq(true, false) else Seq(false, true)
        case (Some(_), None) => Seq(true)
        case (None, Some(_)) => Seq(false)
        case (None, None) => Seq.empty
      }
      val indexOnLeft = preference.find(idxLeft =>
        orientationOk(j.joinType, geomOnLeft = !idxLeft) &&
          lineageOk(idxLeft))
      indexOnLeft.flatMap { idxLeft =>
        {
          val (idxKeyed, keyAttr, keyRank, keyRefs0) =
            (if (idxLeft) kl else kr).get
          warnAutoBucketedScanFootgun(if (idxLeft) j.left else j.right,
            keyRefs0, keyRank)
          // rank-2 finer-parent fallback: a row whose cell is COARSER
          // than the stored column's res (the at-or-finer layout
          // contract a foreign table may violate) has a NULL key —
          // since r19 it routes through the sentinel into the verbatim
          // predicate (lossless); the warning is advisory perf guidance
          if (keyRank == 2) H3RuleSupport.warnOnce(spark,
            s"$ConfKey-finerparent-$r") {
            logWarning(s"H3JoinRewrite keys res $r from a FINER stored " +
              "h3_parent column (no h3_cell/h3_parent_" + r +
              " reachable): rows whose cell is COARSER than that stored " +
              "column's res have a NULL key and pair through the exact " +
              "predicate against EVERY geometry row instead of the " +
              "cell prefilter — lossless, but store the query-res " +
              "ancestor for full prefilter coverage")
          }
          val geomPlan = if (idxLeft) j.right else j.left
          val geomExpr = if (idxLeft) rightGeom else leftGeom
          val cellAttr =
            AttributeReference("__g_h3j_cell", LongType, nullable = false)()
          // LOSSLESS rank-2 routing (r19): every geometry row's
          // covering array gains the impossible-cell-id sentinel, and
          // a NULL-keyed index row coalesces to it — so each
          // contract-violating index row meets each geometry row
          // exactly once (the sentinel appears once per covering) and
          // the VERBATIM conjuncts decide the pair, where the pre-r19
          // equi-join silently dropped it (and LeftAnti kept it
          // spuriously). Matched non-NULL pairs are untouched: a real
          // key can never equal the sentinel (bit 63 is clear on every
          // engine cell id). Rank 0/1 keys keep the r18 plan
          // byte-identical.
          val coverExpr: Expression = {
            val base = H3CoveringCells(geomExpr, Literal(r),
              Literal(bufferM), asLong = true, maxCells = maxFanout)
            if (keyRank == 2)
              Concat(Seq(base,
                CreateArray(Seq(Literal(H3RuleSupport.NullKeySentinel)))))
            else base
          }
          val joinKey: Expression =
            if (keyRank == 2)
              Coalesce(Seq(keyAttr, Literal(H3RuleSupport.NullKeySentinel)))
            else keyAttr
          val geomExploded = Generate(
            Explode(coverExpr),
            Nil, outer = false, None, Seq(cellAttr), geomPlan)
          val newCond = (EqualTo(joinKey, cellAttr) +: conjuncts)
            .reduce(And)
          val (nl, nr) =
            if (idxLeft) (idxKeyed, geomExploded)
            else (geomExploded, idxKeyed)
          Some(Project(j.output,
            Join(nl, nr, j.joinType, Some(newCond), j.hint)))
        }
      }
      }
    }
  }
}
