package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, BooleanType, LongType}

import graft.functions.StIntersects
import graft.h3.H3Cover
import graft.pipeline.H3Query
import graft.spatial.{Geom, Geometry, MultiPoly, Poly}

/** Catalyst optimizer rule: rewrite a full-scan spatial filter —
  * `Filter(st_intersects(geom, <literal geometry>))`, or the
  * ST_DWithin shape `st_distance(geom, <literal>) <= d` with a
  * plan-time numeric threshold (any operand order; the filter twin of
  * [[H3JoinRewrite]]'s q233 distance join) — over a relation carrying
  * an H3 cell key into the H3 equi-join prefilter + exact refine —
  * the reference's documented two-step
  * (docs/H3_POLYGON_ANALYSIS.md:337-355, measured there at ~100×:
  * ~50 ms vs ~5000 ms) made transparent to declarative SQL/DataFrame
  * users, who no longer need to know the index exists or call
  * [[graft.pipeline.H3Query.objectsExact]] by hand. Literal geometry
  * of ANY type rewrites: the zero-buffer POLYGON literal keeps the
  * interior-proof fast path (needs_refine=false where provably
  * inside); points/lines/multis and every distance form go through
  * [[graft.h3.H3Cover]]'s any-geometry covering (widened by exactly
  * the distance) with every candidate refined by the verbatim
  * predicate.
  *
  * Rewrite shape (mirrors H3Query.objectsExact, H3Query.scala:165):
  *
  *  1. driver-side, at optimization time: decode the literal polygon,
  *     compute the COVERING cell set at the configured query res
  *     ([[graft.h3.H3Cover.coveringCellIds]] — center polyfill ∪
  *     boundary-ring corridor, a strict superset of every cell whose
  *     geometry can touch the polygon) and per-cell `needs_refine`
  *     flags ([[H3Query.needsRefineFlags]] — false only where a cell
  *     is PROVABLY interior, so the area-dominant majority of
  *     candidates skip the exact test entirely);
  *  2. key the relation by its query-res ancestor — a materialized
  *     `h3_parent_<res>` column when present (zero per-row math, and
  *     the added sargable `BETWEEN min(cover) AND max(cover)` range
  *     prefilter reaches a parquet scan as a pushed row-group
  *     predicate), else `h3_cell_to_parent(h3_cell, res)`;
  *  3. broadcast-hash-join against the (cell, needs_refine) local
  *     relation (each row has ONE ancestor and the cover set is
  *     distinct, so the inner join never duplicates rows);
  *  4. keep the ORIGINAL st_intersects conjunct verbatim, guarded:
  *     `NOT needs_refine OR st_intersects(...)` — referencing both
  *     join sides, so pushdown can never migrate it back below the
  *     join into the full scan it replaces (the objectsExact defense).
  *
  * EXACTNESS CONTRACT (why this is lossless, and when): the rewrite
  * returns byte-identical rows to the unrewritten filter when the
  * filtered geometry column is the row's own H3 CELL GEOMETRY — the
  * mart h3_index layout, where `geom = g_h3_cell_to_geom(h3_cell)`
  * (Stages.martH3Derived; the reference's mart.h3_index carries cell
  * geometry the same way, src/g_etl/services/pipeline_runner.py:
  * 1118-1137). Both directions:
  *
  *  - no false negatives: cellGeom(h3_cell) ∩ P ≠ ∅ implies the
  *    cell's res-ancestor is in the covering set (coveringCellIds
  *    soundness) — the join keeps the row, and the verbatim original
  *    predicate decides it exactly;
  *  - no false positives from the interior skip: needs_refine=false
  *    proves every descendant cell of that query cell lies ENTIRELY
  *    inside P (needsRefineFlags' 2.5×circumradius disk proof), so
  *    st_intersects(cellGeom, P) is provably true unevaluated.
  *
  * For relations keyed by ORIGINAL geometry (not cell geometry) the
  * same plan is exact per DISTINCT OBJECT only when each object's
  * exploded cell set COVERS its geometry and each cell INTERSECTS its
  * geometry. Neither holds for the reference's stock conventions:
  * center polyfill does NOT cover a polygon (a boundary sliver lying
  * in cells whose centers are outside gets no cell at all), point
  * cells satisfy both, and line-corridor cells fail the intersects
  * half (the buffer admits cells the line never touches). An index
  * built with `g_h3_covering_cells` satisfies the covers half by
  * construction. Per-row equality is only guaranteed in the
  * cell-geometry layout, so the conf documents that as THE contract.
  *
  * NULL semantics are unchanged: a NULL geom makes st_intersects NULL
  * (row dropped) in both plans; a NULL/too-coarse h3_cell yields a
  * NULL join key (row dropped) exactly where the cell-geometry
  * invariant would have made geom NULL too.
  *
  * OPT-IN: active only when `spark.graft.h3Filter.res` is set — to
  * the query resolution (0..15), or to `auto`, which infers the res
  * per site from the relation's reachable stored `h3_parent_<res>`
  * columns ([[H3RuleSupport.siteRes]]). A pinned res FINER than every
  * reachable key lands on the finest keyable res instead of going
  * inert, and a pinned res that keys nothing while OTHER
  * `h3_parent_*` columns exist warns
  * ([[H3RuleSupport.warnWrongRes]]). Non-matching shapes stay untouched: no
  * LongType `h3_cell` / `h3_parent_<res>` column, a non-foldable
  * polygon argument, a non-polygon literal, or a malformed literal
  * (left for execution to surface as the same runtime error the
  * unrewritten plan gives). SAME-RELATION guard: the key attribute
  * and the filtered geometry's references must trace (through
  * Project/Aggregate/Generate lineage) to one side of every
  * join/union below the Filter — a filter above a join pairing table
  * A's geometry with table B's cell column stays unrewritten rather
  * than prefiltering by unrelated cells.
  * Idempotency is structural, the RangeJoinRewrite discipline: the
  * rewritten refine Filter references `__g_h3f_` attributes, which
  * this rule never re-rewrites at the optimizer's fixed point.
  *
  * Wire it via `spark.sql.extensions=graft.GraftExtensions`, or on a
  * live session via
  * `spark.experimental.extraOptimizations ++= Seq(H3IntersectsRewrite(spark))`.
  */
case class H3IntersectsRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  val ConfKey = "spark.graft.h3Filter.res"
  val MaxCellsKey = "spark.graft.h3Filter.maxCells"

  /** Broadcast-size guard: a literal geometry whose covering exceeds
    * this many cells at the configured res PREFILTERS AT A COARSER RES
    * instead (see [[sizedCover]]: the finest res whose covering fits;
    * a coarser covering is still a covering, the verbatim predicate
    * refines more candidates, and a warning names the degradation once
    * per session). Only when even the res-0 covering exceeds the cap
    * does the filter stay UNREWRITTEN (inert is sound — the full scan
    * the user wrote still runs), so the cap bounds the broadcast
    * absolutely. Tune per cluster. */
  private def maxCells: Int =
    H3RuleSupport.positiveConf(spark, MaxCellsKey)(_.toInt).getOrElse(2000000)

  override def apply(plan: LogicalPlan): LogicalPlan =
    H3RuleSupport.resConfOrAuto(spark, ConfKey) match {
      case None => plan
      case Some(resOrAuto) => plan.transformUp {
        case f @ Filter(cond, child) =>
          rewrite(f, cond, child, resOrAuto).getOrElse(f)
      }
    }

  /** The literal geometry (ANY type — point/line/polygon/multi),
    * when `e` is a plan-time-constant WKB expression — deterministic
    * with no column references (NOT `foldable`: GeoExpr nodes like
    * `st_geomfromtext(<literal>)` keep the default foldable=false,
    * yet evaluate fine over the empty row). A malformed literal
    * returns None (rule inert — the unrewritten plan surfaces the
    * same runtime behavior); an EMPTY geometry too (its covering is
    * the empty set, but the unrewritten predicate semantics on empty
    * geometries are not worth re-deriving here — inert is sound). */
  private def geomOf(e: Expression): Option[Geom] =
    if (!e.deterministic || e.references.nonEmpty || e.dataType != BinaryType)
      None
    else try {
      Option(e.eval(null))
        .map(v => Geometry.fromWkb(v.asInstanceOf[Array[Byte]]))
        .filter(!_.isEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The covering at the finest KEYABLE res <= `r` that fits
    * `maxCells`, with the res it landed on. Only resolutions the site
    * can actually key are probed: a res [[H3RuleSupport.keyedPlan]]
    * cannot reach would pay the O(area/cellArea) driver-side
    * enumeration for a rewrite that can never fire. The cheap
    * shape-aware estimate ([[H3Cover.estimatedCoveringCells]] over
    * area+perimeter) gates which resolutions are worth ENUMERATING,
    * with a 20× fudge so the decision stays with the actual count (40×
    * at the configured res itself: one bounded extra probe so a
    * borderline estimate cannot skip a covering that actually fits).
    * The attempts step coarser until the enumerated covering fits;
    * None when no keyable res fits: the guard still bounds the
    * broadcast absolutely. The coarsening warning says whether the
    * configured res was MEASURED over the cap or skipped on the
    * estimate. */
  private def sizedCover(poly: Geom, buffer: Double, r: Int,
      keyable: Int => Boolean): Option[(Int, Array[Long])] = {
    val cap = maxCells
    // area/perimeter once — resolution-independent, and a giant
    // literal's coordinate scan should not repeat per probed res
    val ap = H3Cover.areaPerimeterOf(poly)
    var rMeasuredOver = false
    var q = r
    while (q >= 0) {
      if (keyable(q)) {
        val est = H3Cover.estimatedCoveringCells(ap, q, buffer)
        val gate = if (q == r) 40.0 * cap else 20.0 * cap
        if (est <= gate) {
          val cover = H3Cover.coveringCellIds(poly, q, buffer)
          if (cover.length <= cap) {
            if (q < r && keyable(r)) {
              val why =
                if (rMeasuredOver) s"covering exceeds $MaxCellsKey=$cap"
                else "covering is ESTIMATED (area+perimeter bound) to " +
                  s"exceed $MaxCellsKey=$cap"
              H3RuleSupport.warnOnce(spark, s"$ConfKey-coarsened-$r-$q") {
                logWarning("H3IntersectsRewrite: a literal geometry's " +
                  s"$why at the configured res $r — prefiltering at the " +
                  s"coarser res $q instead (sound: a coarser covering is " +
                  "still a covering; the verbatim predicate refines more " +
                  "candidates). Raise the cap or pick a coarser " +
                  s"$ConfKey to tune this tradeoff")
              }
            }
            return Some((q, cover))
          } else if (q == r) rMeasuredOver = true
        }
      }
      q -= 1
    }
    None
  }

  private def rewrite(f: Filter, cond: Expression, child: LogicalPlan,
      resOrAuto: Option[Int]): Option[LogicalPlan] = {
    // structural idempotency: the refine Filter this rule emits
    // references the reserved __g_h3f_ attributes — never re-rewrite
    if (cond.references.exists(_.name.startsWith("__g_h3f_")))
      return None
    val conjuncts = splitConjunctivePredicates(cond)
    // the spatial conjunct (H3RuleSupport.spatialConjunct) with one
    // operand a plan-time-constant geometry literal and the other a
    // deterministic geometry over this relation only
    val hit: Option[(Expression, Geom, Double)] =
      conjuncts.collectFirst(Function.unlift { c =>
        H3RuleSupport.spatialConjunct(c).flatMap { case (a, b, buf) =>
          Seq((a, b), (b, a)).collectFirst(Function.unlift {
            case (g, l) =>
              if (g.deterministic && g.references.nonEmpty &&
                  g.references.subsetOf(child.outputSet))
                geomOf(l).map(p => (c, p, buf))
              else None
          })
        }
      })
    if (hit.isEmpty) return None
    val (cellReachable, reachableParents) = H3RuleSupport.reachableKeys(child)
    def keyable(q: Int): Boolean =
      cellReachable || reachableParents.exists(_ >= q)
    val r = H3RuleSupport.siteRes(spark, ConfKey, resOrAuto,
      reachableParents, "a spatial filter's relation") match {
      case Some(r) => r
      case None => return None
    }
    // the H3 key at the CONFIGURED res, computed ONCE: reused for the
    // wrong-res warning AND (in the common rr == r case) the rewrite
    // itself — no duplicate plan walks per compile
    val keyedAtR = H3RuleSupport.keyedPlan(child, r, "__g_h3f_key")
    if (keyedAtR.isEmpty && resOrAuto.isDefined)
      H3RuleSupport.warnWrongRes(spark, ConfKey, r, Seq(child),
        "a spatial filter's relation", "the rewrite keys the finest " +
          "REACHABLE stored resolution below the conf instead (none " +
          "reachable = inert)")
    // keyability gate BEFORE any covering enumeration: a site keyable
    // at NO res — neither at r nor via a reachable stored parent a
    // coarser res could fall back to — must not pay the
    // O(area/cellArea) driver-side polyfill on every compile for a
    // rewrite that can never fire
    if (!cellReachable && reachableParents.isEmpty) return None
    for {
      (si, poly, buffer) <- hit
      // the interior-proof path (needs_refine=false where provably
      // inside — the area-dominant fast path) exists ONLY for the
      // st_intersects conjunct against a POLYGON literal. A distance
      // conjunct NEVER takes it: a non-positive threshold clamps to
      // buffer 0.0, and skipping the verbatim predicate there would
      // RETURN interior rows where `st_distance(g, P) < 0` is
      // constant-false — silent wrong results. Distance shapes (and
      // non-polygon literals) refine every candidate with the verbatim
      // predicate — soundness is H3Cover's corridor bound either way
      isProvedPoly = si.isInstanceOf[StIntersects] &&
        (poly.isInstanceOf[Poly] || poly.isInstanceOf[MultiPoly])
      // broadcast-size guard with GRACEFUL COARSENING: a literal whose
      // covering would exceed maxCells at the configured res
      // prefilters at the finest COARSER res whose covering fits (every
      // rr-ancestor of a qualifying cell is inside it — the identical
      // soundness argument at rr, just a looser prefilter with more
      // candidates for the verbatim refine)
      (rr, cover) <- sizedCover(poly, buffer, r, keyable)
      (keyedChild, keyAttr, keyRank, keyRefs) <-
        if (rr == r) keyedAtR
        else H3RuleSupport.keyedPlan(child, rr, "__g_h3f_key")
      _ = if (keyRank == 2) H3RuleSupport.warnFinerParent(spark, ConfKey,
        "H3IntersectsRewrite", rr,
        "take the verbatim exact predicate instead of the prefilter")
      // SAME-RELATION guard: the key is picked by NAME from the Filter
      // child's subtree — above a join, a key from table B paired with
      // a geometry from table A would prefilter by unrelated cells and
      // silently drop rows
      if H3RuleSupport.sameRelationLineage(child, keyRefs ++ si.references)
    } yield {
      val flags0: Seq[(Long, Boolean)] =
        if (isProvedPoly) H3Query.needsRefineFlags(cover, poly)
        else cover.toSeq.map(c => (c, true))
      // lossless rank-2 routing: NULL keys coalesce to the sentinel
      // (H3RuleSupport.sentinelKey) and meet a (sentinel,
      // needs_refine=true) entry here, so the VERBATIM predicate
      // decides them
      val flags =
        if (keyRank == 2) flags0 :+ ((H3RuleSupport.NullKeySentinel, true))
        else flags0
      val qAttr =
        AttributeReference("__g_h3f_cell", LongType, nullable = false)()
      val refAttr =
        AttributeReference("__g_h3f_refine", BooleanType, nullable = false)()
      val rel = LocalRelation(Seq(qAttr, refAttr),
        flags.map { case (c, nr) => InternalRow(c, nr) })
      // sargable MULTI-RANGE prefilter below the join: the covering
      // split at its largest id gaps (H3RuleSupport.coverRanges) —
      // single-side long comparisons over the key attribute, which
      // PhysicalOperation's alias-substituting Project/Filter
      // collection carries to a parquet scan's row-group stats (a
      // strict superset of the equi-join — results unchanged). The
      // rank-2 variant keeps its NULL-keyed slice: IS NULL is equally
      // pushable, and row-group null counts prune it the same way.
      val pre =
        if (cover.isEmpty) keyedChild
        else {
          val ranges = H3RuleSupport
            .coverRanges(cover, H3RuleSupport.MaxPrefilterRanges)
            .map { case (lo, hi) =>
              And(GreaterThanOrEqual(keyAttr, Literal(lo)),
                LessThanOrEqual(keyAttr, Literal(hi))): Expression
            }.reduce(Or)
          val cond =
            if (keyRank == 2) Or(IsNull(keyAttr), ranges) else ranges
          Filter(cond, keyedChild)
        }
      val join = Join(pre, rel, Inner,
        Some(EqualTo(H3RuleSupport.sentinelKey(keyAttr, keyRank), qAttr)),
        JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
      // the refine predicate references BOTH sides, so pushdown can
      // never migrate it below the join (the objectsExact defense);
      // every other original conjunct is kept verbatim for the
      // optimizer to place as it would have
      val newCond = (Or(Not(refAttr), si) +:
        conjuncts.filterNot(_ eq si)).reduce(And)
      Project(f.output, Filter(newCond, join))
    }
  }
}
