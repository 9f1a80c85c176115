package graft.h3

import graft.spatial.{Crs, Geom, GeomColl, Line, MultiLine, MultiPoly, MultiPt, Poly, Pt}

/** COVERING cell sets: for a SWEREF geometry g and a resolution R, a
  * SUPERSET of every res-R cell that is the R-ancestor of ANY cell (at
  * R or finer) whose own H3 boundary geometry intersects g. The plain
  * polyfill ([[H3Core.polygonToCells]]) is CENTER-in-polygon — the
  * libh3 convention, correct for the reference's candidate semantics —
  * but a boundary-straddling cell whose center lies just outside is
  * missed, which is fatal for the LOSSLESS optimizer rewrites
  * ([[graft.plans.H3IntersectsRewrite]], [[graft.plans.H3JoinRewrite]]):
  * they must keep every row the plain `st_intersects` keeps.
  *
  * Soundness bound (shared by every branch): a cell at res' >= R
  * intersecting g has a point p of g inside it; its R-ancestor's
  * center is within drift(< 0.61·circum(R)) + circum(res') <=
  * ~1.0·circum(R) (< 0.6 mean center spacings) of p, hence of g. So
  * every such ancestor's center is within BUFFER = 2.5 center
  * spacings of g — the extra margin absorbs per-cell circumradius
  * variation and the corridor's equirectangular metric. Per geometry
  * type:
  *
  *  - POLYGON/MULTIPOLYGON: center polyfill ∪ a BUFFER corridor
  *    around every boundary ring (holes included — a center inside a
  *    hole is near the HOLE's own ring, not the outer one);
  *  - LINESTRING/MULTILINESTRING: the BUFFER corridor around the
  *    line ([[H3Core.lineToCells]] — buffer membership IS the
  *    distance predicate);
  *  - POINT/MULTIPOINT: the corridor around a degenerate
  *    single-vertex segment (distance-to-point);
  *  - GEOMETRYCOLLECTION: the union over members.
  *
  * Strictly an OVER-approximation everywhere: extra cells only ever
  * fail the exact refine the rewrites keep verbatim. */
object H3Cover {

  /** Covering cells of a SWEREF99 TM geometry at `res`, distinct and
    * sorted. Empty geometries cover nothing. `extraBufferM` widens the
    * covering to every cell whose geometry can come within that many
    * meters of g — the ST_DWithin / distance-join form: the same
    * drift+circumradius bound applies with the distance added, so the
    * corridor is (extra + 2.5 spacings) wide and a center inside g is
    * still caught by the polyfill. */
  def coveringCellIds(geomSweref: Geom, res: Int,
      extraBufferM: Double = 0.0): Array[Long] = {
    val wgs = Crs.swerefGeomToWgs84(geomSweref)
    val bufferM = math.max(extraBufferM, 0.0) +
      2.5 * H3Core.cellAngularSize(res) * 6371008.8
    coveringWgs(wgs, res, bufferM).distinct.sorted
  }

  /** Cheap driver-side size estimate of `coveringCellIds(g, res,
    * extra).length` WITHOUT enumerating — see [[areaPerimeterOf]] and
    * the shape-aware overload below. The caller
    * ([[graft.plans.H3IntersectsRewrite]]'s size-capped res selection)
    * uses it only to pick a starting resolution cheaply; the
    * post-enumeration length check decides. The point is cost: the
    * real enumeration is O(area/cellArea) driver-side sampling, which
    * is exactly what must not be paid at a res whose covering cannot
    * fit the caller's cap anyway. */
  def estimatedCoveringCells(geomSweref: Geom, res: Int,
      extraBufferM: Double = 0.0): Double =
    estimatedCoveringCells(areaPerimeterOf(geomSweref), res, extraBufferM)

  /** (ring AREA in m², boundary/line PERIMETER in m, part count) of a
    * SWEREF geometry — the resolution-independent inputs to the
    * covering estimate. Area is the outer-ring shoelace sum (holes not
    * subtracted: their rings still get corridors, and the estimate
    * only leans high); perimeter sums every ring and line; each
    * point, line and ring counts one part (corridor end/round caps). */
  def areaPerimeterOf(geomSweref: Geom): (Double, Double, Int) = {
    def length(pts: Array[Pt]): Double = {
      var l = 0.0; var i = 0
      while (i < pts.length - 1) {
        l += math.hypot(pts(i + 1).x - pts(i).x, pts(i + 1).y - pts(i).y)
        i += 1
      }
      l
    }
    def ringArea(pts: Array[Pt]): Double = {
      var a = 0.0; var i = 0
      while (i < pts.length - 1) {
        a += pts(i).x * pts(i + 1).y - pts(i + 1).x * pts(i).y
        i += 1
      }
      math.abs(a) / 2.0
    }
    def walk(g: Geom): (Double, Double, Int) = g match {
      case g if g.isEmpty => (0.0, 0.0, 0)
      case _: Pt => (0.0, 0.0, 1)
      case MultiPt(ps) => (0.0, 0.0, ps.length)
      case Line(pts) => (0.0, length(pts), 1)
      case MultiLine(ls) =>
        (0.0, ls.iterator.map(l => length(l.pts)).sum, ls.length)
      case p: Poly =>
        (ringArea(p.rings.head), p.rings.iterator.map(length).sum,
          p.rings.length)
      case mp: MultiPoly =>
        mp.polys.foldLeft((0.0, 0.0, 0)) { case ((a, l, n), p) =>
          val (pa, pl, pn) = walk(p); (a + pa, l + pl, n + pn)
        }
      case GeomColl(gs) =>
        gs.foldLeft((0.0, 0.0, 0)) { case ((a, l, n), g) =>
          val (ga, gl, gn) = walk(g); (a + ga, l + gl, n + gn)
        }
    }
    walk(geomSweref)
  }

  /** The estimate over precomputed [[areaPerimeterOf]] inputs:
    * interior polyfill ≈ area/hexArea, boundary/line corridors ≈
    * perimeter·2w (width w = extra + 2.5 spacings + one spacing of
    * discretization slack, both sides), plus a cap disk per part.
    * Unlike a bounding-box estimate this tracks THIN shapes — a
    * diagonal's bbox is orders of magnitude over its corridor, and the
    * overshoot would make the size-capped res selection skip the
    * configured res on a phantom size — while still leaning high for
    * compact shapes. */
  def estimatedCoveringCells(areaPerim: (Double, Double, Int), res: Int,
      extraBufferM: Double): Double = {
    val (area, perim, parts) = areaPerim
    val s = H3Core.cellAngularSize(res) * 6371008.8 // center spacing, m
    val w = math.max(extraBufferM, 0.0) + 2.5 * s + s
    (area + perim * 2.0 * w + parts * math.Pi * w * w) /
      (0.8660254037844386 * s * s)
  }

  private def corridor(pts: Array[Pt], bufferM: Double,
      res: Int): Array[Long] = {
    // lineToCells needs >= 2 vertices; a repeated vertex makes a
    // zero-length segment whose distance predicate IS the point's
    H3Core.lineToCells(Line(if (pts.length == 1) Array(pts(0), pts(0)) else pts),
      bufferM, res)
  }

  private def coveringWgs(wgs: Geom, res: Int,
      bufferM: Double): Array[Long] = wgs match {
    case g if g.isEmpty => Array.empty
    case p: Pt => corridor(Array(p), bufferM, res)
    case MultiPt(ps) => ps.flatMap(p => corridor(Array(p), bufferM, res))
    case Line(pts) => corridor(pts, bufferM, res)
    case MultiLine(ls) => ls.flatMap(l => corridor(l.pts, bufferM, res))
    case p: Poly =>
      H3Core.polygonToCells(p, res) ++
        p.rings.flatMap(r => corridor(r, bufferM, res))
    case mp: MultiPoly =>
      H3Core.polygonToCells(mp, res) ++
        mp.polys.flatMap(_.rings.flatMap(r => corridor(r, bufferM, res)))
    case GeomColl(gs) => gs.flatMap(g => coveringWgs(g, res, bufferM))
  }
}
