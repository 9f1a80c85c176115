package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.H3CoveringCells

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
  * exploded side cannot guarantee — [[H3RuleSupport.orientationOk]],
  * shared with RangeJoinRewrite). FULL OUTER never rewrites. A geometry-side row
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
  * sides, [[H3RuleSupport.siteRes]]; a pinned res that keys neither
  * side while other parent columns exist warns about the
  * wrong-res-conf footgun): the prefilter resolution is an
  * index-layout choice (cells must be AT or FINER than it — the
  * H3Query contract; a too-coarse row's NULL ancestor drops exactly
  * where the cell-geometry invariant would have made its geom NULL
  * too; the rank-2 finer-parent fallback instead routes its NULL
  * keys through the sentinel into the verbatim predicate — lossless
  * on every layout). SAME-RELATION guard: the chosen index side's key must trace
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

  /** Fan-out cliff guard (the RangeJoinRewrite maxFanout precedent):
    * a geometry whose covering spans more cells than this fails FAST
    * inside [[graft.functions.H3CoveringCells]] with a message naming
    * both conf keys, instead of building multi-MB per-row arrays deep
    * inside a query the user never asked to rewrite. */
  private def maxFanout: Int =
    H3RuleSupport.positiveConf(spark, FanoutKey)(_.toInt).getOrElse(1000000)

  override def apply(plan: LogicalPlan): LogicalPlan =
    H3RuleSupport.resConfOrAuto(spark, ConfKey) match {
      case None => plan
      case Some(resOrAuto) => plan.transformUp {
        case j @ Join(_, _,
            Inner | LeftOuter | LeftSemi | LeftAnti | RightOuter,
            Some(_), _) =>
          rewrite(j, resOrAuto).getOrElse(j)
      }
    }

  /** The autoBucketedScan SILENT-LOSS footgun: when the chosen rank-0
    * key is a BUCKET column of a scanned bucketed table, the rewritten
    * equi-join can reuse the layout's bucketing and run with ZERO
    * index-side exchanges (PERF.md r17: 31.3 → 0.2 MB shuffled, 156×)
    * — but Spark's `spark.sql.sources.bucketing.autoBucketedScan.enabled`
    * heuristic (default TRUE) looks for the bucket column among the
    * ORIGINAL join keys and cannot see through this rule's
    * `__g_h3j_key` alias, so it silently disables bucketing on the scan
    * and the index side re-shuffles with nothing telling the user why.
    * The rule knows at rewrite time that it is keying on a stored
    * bucket column — warn once per session naming the conf to set. */
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
    // the spatial conjunct (H3RuleSupport.spatialConjunct) with its two
    // geometries on opposite sides: (left-side arg, right-side arg,
    // buffer meters)
    val hit = conjuncts.collectFirst(Function.unlift { c =>
      H3RuleSupport.spatialConjunct(c).flatMap { case (a, b, buf) =>
        (H3RuleSupport.sided(a, j), H3RuleSupport.sided(b, j)) match {
          case (Some(sa), Some(sb)) if sa != sb =>
            Some((if (sa) a else b, if (sa) b else a, buf))
          case _ => None
        }
      }
    })
    for {
      (leftGeom, rightGeom, bufferM) <- hit
      r <- H3RuleSupport.siteRes(spark, ConfKey, resOrAuto,
        H3RuleSupport.reachableKeys(j.left)._2 ++
          H3RuleSupport.reachableKeys(j.right)._2,
        "a spatial join's sides")
      // (index on the left?, index side, its geometry, its key)
      candidates = Seq((true, j.left, leftGeom), (false, j.right, rightGeom))
        .flatMap { case (l, side, geom) =>
          H3RuleSupport.keyedPlan(side, r, "__g_h3j_key")
            .map(k => (l, side, geom, k))
        }
      _ = if (candidates.isEmpty && resOrAuto.isDefined)
        H3RuleSupport.warnWrongRes(spark, ConfKey, r, Seq(j.left, j.right),
          "either side of a spatial join", "the rewrite stays inert")
      // index side: best key rank first, ties break LEFT (documented;
      // sortBy is stable), but orientation AND lineage are part of
      // CANDIDATE SELECTION, not a post-filter — when the better-ranked
      // key sits on an incompatible side, the other side's key (if any)
      // still rewrites soundly. SAME-RELATION guard: the chosen side's
      // key must trace to the same relation as that side's own geometry
      // argument — a side that is itself a join could carry the key on
      // one sub-side and the geometry on the other, and prefiltering by
      // the unrelated key would silently drop rows.
      (idxLeft, idxSide, _, (idxKeyed, keyAttr, keyRank, keyRefs)) <-
        candidates.sortBy(_._4._3).find { case (l, side, geom, k) =>
          H3RuleSupport.orientationOk(j.joinType, explodedOnLeft = !l) &&
            H3RuleSupport.sameRelationLineage(side, k._4 ++ geom.references)
        }
    } yield {
      warnAutoBucketedScanFootgun(idxSide, keyRefs, keyRank)
      if (keyRank == 2) H3RuleSupport.warnFinerParent(spark, ConfKey,
        "H3JoinRewrite", r, "pair through the exact predicate against " +
          "EVERY geometry row instead of the cell prefilter")
      val geomPlan = if (idxLeft) j.right else j.left
      val geomExpr = if (idxLeft) rightGeom else leftGeom
      val cellAttr =
        AttributeReference("__g_h3j_cell", LongType, nullable = false)()
      // lossless rank-2 routing: every geometry row's covering array
      // gains the sentinel, and a NULL-keyed index row coalesces to it
      // (H3RuleSupport.sentinelKey) — so each contract-violating index
      // row meets each geometry row exactly once (the sentinel appears
      // once per covering) and the VERBATIM conjuncts decide the pair,
      // where a bare equi-join would silently drop it (and LeftAnti
      // would keep it spuriously). Matched non-NULL pairs are
      // untouched: a real key never equals the sentinel.
      val coverExpr: Expression = {
        val base = H3CoveringCells(geomExpr, Literal(r),
          Literal(bufferM), asLong = true, maxCells = maxFanout)
        if (keyRank == 2)
          Concat(Seq(base,
            CreateArray(Seq(Literal(H3RuleSupport.NullKeySentinel)))))
        else base
      }
      val geomExploded = Generate(
        Explode(coverExpr),
        Nil, outer = false, None, Seq(cellAttr), geomPlan)
      val newCond = (EqualTo(H3RuleSupport.sentinelKey(keyAttr, keyRank),
        cellAttr) +: conjuncts).reduce(And)
      val (nl, nr) =
        if (idxLeft) (idxKeyed, geomExploded)
        else (geomExploded, idxKeyed)
      Project(j.output, Join(nl, nr, j.joinType, Some(newCond), j.hint))
    }
  }
}
