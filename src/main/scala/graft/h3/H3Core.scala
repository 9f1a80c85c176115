package graft.h3

import scala.collection.mutable
import graft.spatial.{Geometry, Geom, Poly, MultiPoly, Pt}

/** Pure-Scala aperture-7 icosahedral hexagonal grid — the H3 grid
  * *system* (SURVEY.md §7.1a) with a direct, self-describing index
  * encoding.
  *
  * Replaces the DuckDB h3 community extension used by the reference
  * (`sql/migrations/001_db_extensions.sql:24-25`, macros
  * `003_db_makros.sql:56-151`). The grid geometry follows the published
  * H3 construction exactly: the H3 icosahedron orientation (face
  * centers + Class II axis azimuths, validated in tests by antipodal
  * symmetry and 12-vertex clustering), gnomonic projection per face,
  * aperture-7 hex lattice with alternating Class II/III rotation
  * (asin sqrt(3/28)), res-0 unit 1/phi^2, resolutions 0-15. Cell
  * *shapes, sizes and semantics* therefore match H3: 122 res-0 cells
  * (110 hexagons + 12 pentagon-position cells), ~hexagonal cells of the
  * same area progression, polyfill = center-in-polygon.
  *
  * The *index encoding* is deliberately not Uber's base-cell+digit
  * string: a cell is `(mode=2 | res | face | axial-i | axial-j)` in the
  * fixpoint frame — the face whose gnomonic plane owns the cell center.
  * This removes the pentagon deleted-K-subsequence folding entirely
  * (the 72-degree-wedge/60-degree-digit mismatch at icosahedron
  * vertices) and makes point->cell->center->cell round-trips exact *by
  * construction* rather than by table gymnastics. Hierarchy is
  * geometric: `parent(c) = cellContaining(center(c), res-1)`, with
  * `childrenOf` as its exact inverse via candidate filtering — the same
  * observable semantics as H3's (whose child cells are also not
  * strictly nested geometrically), suitable for compact/uncompact.
  */
object H3Core {

  // ------------------------------------------------------ constants

  /** Icosahedron face centers (lat, lng in radians), the published H3
    * orientation. Validated in tests by antipodal-pair symmetry and by
    * the 60-vertex clustering property (20 faces x 3 vertex azimuths
    * collapse to exactly 12 icosahedron vertices). */
  private val faceCenterGeo: Array[(Double, Double)] = Array(
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253507838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615))

  /** Azimuth (radians, clockwise from north) from each face center to
    * its Class II i-axis vertex; the j/k axes sit at -120/-240 degrees. */
  private val faceAzimuth: Array[Double] = Array(
    5.619958268523939882, 5.760339081714187279, 0.780213654393430055,
    0.430469363979999913, 6.130269123335111400, 2.692877706530642877,
    2.982963003477243874, 3.532912002790141181, 3.494305004259568154,
    3.003214169499538391, 5.930472956509811562, 0.138378484090254847,
    0.448714947059150361, 0.158629650112549365, 5.891865957979238535,
    2.711123289609793325, 3.294508837434268316, 3.804819692245439833,
    3.664438879055192436, 2.361378999196363184)

  /** Gnomonic-plane length of one res-0 IJK unit (= tan(vertex angular
    * radius)/2 = 1/phi^2). */
  private val Res0U = 0.38196601125010500003
  private val Sqrt7 = math.sqrt(7.0)
  /** Class III rotation: asin(sqrt(3/28)). */
  private val Ap7Rot = math.asin(math.sqrt(3.0 / 28.0))
  private val Sqrt3_2 = math.sqrt(3.0) / 2.0

  val MaxRes = 15
  private val sqrt7Pow: Array[Double] =
    (0 to MaxRes).map(r => math.pow(Sqrt7, r)).toArray

  private val face3d: Array[(Double, Double, Double)] = faceCenterGeo.map {
    case (lat, lng) =>
      (math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng), math.sin(lat))
  }

  // ------------------------------------------------- spherical helpers

  private def posAngle(a: Double): Double = {
    var x = a % (2 * math.Pi)
    if (x < 0) x += 2 * math.Pi
    x
  }

  /** Initial bearing from p1 to p2 (radians cw from north). */
  private def azimuth(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    math.atan2(
      math.cos(lat2) * math.sin(lng2 - lng1),
      math.cos(lat1) * math.sin(lat2) -
        math.sin(lat1) * math.cos(lat2) * math.cos(lng2 - lng1))

  /** Great-circle destination from (lat,lng) along az for angular dist r. */
  private def destination(lat: Double, lng: Double, az: Double, r: Double): (Double, Double) = {
    val sinLat2 = math.sin(lat) * math.cos(r) + math.cos(lat) * math.sin(r) * math.cos(az)
    val lat2 = math.asin(math.max(-1.0, math.min(1.0, sinLat2)))
    val dLng = math.atan2(
      math.sin(az) * math.sin(r) * math.cos(lat),
      math.cos(r) - math.sin(lat) * sinLat2)
    var lng2 = lng + dLng
    if (lng2 > math.Pi) lng2 -= 2 * math.Pi
    if (lng2 < -math.Pi) lng2 += 2 * math.Pi
    (lat2, lng2)
  }

  private def angularDist(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val c = math.sin(lat1) * math.sin(lat2) +
      math.cos(lat1) * math.cos(lat2) * math.cos(lng2 - lng1)
    math.acos(math.max(-1.0, math.min(1.0, c)))
  }

  private def nearestFace(latRad: Double, lngRad: Double): Int = {
    val x = math.cos(latRad) * math.cos(lngRad)
    val y = math.cos(latRad) * math.sin(lngRad)
    val z = math.sin(latRad)
    var best = 0
    var bestDot = -2.0
    var f = 0
    while (f < 20) {
      val (fx, fy, fz) = face3d(f)
      val d = fx * x + fy * y + fz * z
      if (d > bestDot + 1e-12) { bestDot = d; best = f }
      f += 1
    }
    best
  }

  // ------------------------------------------------- plane <-> sphere

  private def isClassIII(res: Int): Boolean = (res & 1) == 1

  /** Project geo point onto `face`'s gnomonic hex plane at `res`;
    * returns fractional (x, y) in res-scaled IJK units. */
  private def geoToHex2d(face: Int, latRad: Double, lngRad: Double, res: Int): (Double, Double) = {
    val (fLat, fLng) = faceCenterGeo(face)
    val r0 = angularDist(fLat, fLng, latRad, lngRad)
    if (r0 < 1e-16) return (0.0, 0.0)
    var theta = posAngle(faceAzimuth(face) - azimuth(fLat, fLng, latRad, lngRad))
    if (isClassIII(res)) theta = posAngle(theta - Ap7Rot)
    val r = math.tan(r0) / Res0U * sqrt7Pow(res)
    (r * math.cos(theta), r * math.sin(theta))
  }

  /** Inverse of geoToHex2d. */
  private def hex2dToGeo(face: Int, x: Double, y: Double, res: Int): (Double, Double) = {
    val r = math.hypot(x, y)
    if (r < 1e-16) return faceCenterGeo(face)
    val rAng = math.atan(r * Res0U / sqrt7Pow(res))
    var theta = math.atan2(y, x)
    if (isClassIII(res)) theta += Ap7Rot
    val az = posAngle(faceAzimuth(face) - theta)
    val (fLat, fLng) = faceCenterGeo(face)
    destination(fLat, fLng, az, rAng)
  }

  // ------------------------------------------------- axial lattice math

  private def axialToHex2d(ai: Int, aj: Int): (Double, Double) =
    (ai - 0.5 * aj, aj * Sqrt3_2)

  /** Round fractional hex2d to the nearest lattice cell (cube rounding).
    *
    * CAUTION on the cube frame: with centers at axialToHex2d =
    * (ai - aj/2, aj*sqrt3/2) the lattice neighbors are (±1,0), (0,±1)
    * and ±(1,1) — the aj axis is FLIPPED relative to textbook axial
    * coordinates (whose third neighbor pair is ±(1,-1)). The cube
    * coordinates that sum to zero in THIS basis are therefore
    * (q, r, s) = (ai, -aj, aj - ai). Rounding with the textbook
    * s = -ai - aj instead mis-assigns boundary points to a center up to
    * ~1.3x the circumradius away (caught by the q134 law: a point's
    * assigned cell's boundary polygon did not contain the point). */
  private def hex2dToAxial(x: Double, y: Double): (Int, Int) = {
    val ajF = y / Sqrt3_2
    val aiF = x + 0.5 * ajF
    val q0 = aiF
    val r0 = -ajF
    val s0 = ajF - aiF
    var q = math.round(q0).toInt
    var r = math.round(r0).toInt
    val s = math.round(s0).toInt
    val dq = math.abs(q - q0)
    val dr = math.abs(r - r0)
    val ds = math.abs(s - s0)
    if (dq > dr && dq > ds) q = -r - s
    else if (dr > ds) r = -q - s
    (q, -r)
  }

  // ------------------------------------------------- index bit layout
  //
  // [63]      0 (sign kept clear: ids sort as positive longs)
  // [59..62]  mode = 2
  // [55..58]  resolution 0..15
  // [50..54]  face 0..19 (fixpoint frame)
  // [25..49]  axial i + 2^24
  // [0..24]   axial j + 2^24

  private val Mode = 2L
  private val AxOffset = 1 << 24

  private def pack(res: Int, face: Int, ai: Int, aj: Int): Long =
    (Mode << 59) | (res.toLong << 55) | (face.toLong << 50) |
      ((ai.toLong + AxOffset) << 25) | (aj.toLong + AxOffset)

  def resolution(h: Long): Int = ((h >> 55) & 0xF).toInt
  def faceOf(h: Long): Int = ((h >> 50) & 0x1F).toInt
  private def aiOf(h: Long): Int = (((h >> 25) & 0x1FFFFFF) - AxOffset).toInt
  private def ajOf(h: Long): Int = ((h & 0x1FFFFFF) - AxOffset).toInt

  def isValidCell(h: Long): Boolean =
    (h >>> 63) == 0 && ((h >> 59) & 0xF) == Mode &&
      resolution(h) <= MaxRes && faceOf(h) < 20 &&
      math.abs(aiOf(h)).toDouble <= 3 * sqrt7Pow(resolution(h)) + 2 &&
      math.abs(ajOf(h)).toDouble <= 3 * sqrt7Pow(resolution(h)) + 2

  def toHexString(h: Long): String = java.lang.Long.toHexString(h)

  /** Parse a cell id, failing loudly (IllegalArgumentException -> SQL
    * NULL at the expression layer) when the mode/res/face bits don't
    * describe one of our cells — a real Uber-libh3 id (mode bits in a
    * different layout) decodes as garbage otherwise. */
  def fromHexString(s: String): Long = {
    val h = java.lang.Long.parseUnsignedLong(s.trim, 16)
    require(isValidCell(h), s"not a graft H3 cell id (foreign or corrupt): $s")
    h
  }

  // ------------------------------------------------- core conversions

  /** Round a point to its cell's fixpoint frame: the (face, axial) whose
    * unprojected center's nearest face is that same face. Encode and
    * decode agree through this, making round-trips exact even for cells
    * straddling icosahedron edges and vertices. */
  private def roundToFixpoint(latRad: Double, lngRad: Double, res: Int): (Int, Int, Int, Double, Double) = {
    var lat = latRad
    var lng = lngRad
    var face = nearestFace(lat, lng)
    var iter = 0
    while (iter < 4) {
      val (x, y) = geoToHex2d(face, lat, lng, res)
      val (ai, aj) = hex2dToAxial(x, y)
      val (cx, cy) = axialToHex2d(ai, aj)
      val (cLat, cLng) = hex2dToGeo(face, cx, cy, res)
      val f2 = nearestFace(cLat, cLng)
      if (f2 == face) return (face, ai, aj, cLat, cLng)
      face = f2
      lat = cLat
      lng = cLng
      iter += 1
    }
    val (x, y) = geoToHex2d(face, lat, lng, res)
    val (ai, aj) = hex2dToAxial(x, y)
    val (cx, cy) = axialToHex2d(ai, aj)
    val (cLat, cLng) = hex2dToGeo(face, cx, cy, res)
    (face, ai, aj, cLat, cLng)
  }

  /** Total function: every (lat, lng) in degrees maps to exactly one
    * cell at `res`. */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"res out of range: $res")
    val (face, ai, aj, _, _) =
      roundToFixpoint(math.toRadians(latDeg), math.toRadians(lngDeg), res)
    pack(res, face, ai, aj)
  }

  /** Cell center in degrees (lat, lng) — exact: the index stores its own
    * fixpoint frame. */
  def cellToLatLng(h: Long): (Double, Double) = {
    val (x, y) = axialToHex2d(aiOf(h), ajOf(h))
    val (lat, lng) = hex2dToGeo(faceOf(h), x, y, resolution(h))
    (math.toDegrees(lat), math.toDegrees(lng))
  }

  /** Cell boundary as 6 vertices (lat, lng degrees). */
  def cellToBoundary(h: Long): Array[(Double, Double)] = {
    val res = resolution(h)
    val f = faceOf(h)
    val (cx, cy) = axialToHex2d(aiOf(h), ajOf(h))
    val rad = 1.0 / math.sqrt(3.0) // circumradius for unit center spacing
    (0 until 6).map { v =>
      val a = math.Pi / 6.0 + v * math.Pi / 3.0
      val (lat, lng) = hex2dToGeo(f, cx + rad * math.cos(a), cy + rad * math.sin(a), res)
      (math.toDegrees(lat), math.toDegrees(lng))
    }.toArray
  }

  def cellToBoundaryWkt(h: Long): String = {
    val pts = cellToBoundary(h)
    val coords = (pts :+ pts.head)
      .map { case (lat, lng) => s"$lng $lat" }
      .mkString(", ")
    s"POLYGON (($coords))"
  }

  // ------------------------------------------------- hierarchy

  /** Parent = the res-`parentRes` cell containing this cell's center.
    * (H3's children are not strictly geometrically nested either; this
    * makes that semantic explicit and exactly self-consistent.) */
  // Cells repeat massively across rows in real workloads (neighboring
  // features share cells), so single-level parent and children lookups
  // are memoized. Size-capped: beyond the cap the math runs uncached.
  private val CacheCap = 4_000_000
  private val parentCache = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val childrenCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()

  def cellToParent(h: Long, parentRes: Int): Long = {
    val res = resolution(h)
    require(parentRes >= 0 && parentRes <= res, s"bad parent res $parentRes for $res")
    // iterate single levels so ancestry is transitive by construction
    var cur = h
    var r = res
    while (r > parentRes) {
      val cached = parentCache.get(cur)
      cur = if (cached != 0L) cached
      else {
        val (lat, lng) = cellToLatLng(cur)
        val p = latLngToCell(lat, lng, r - 1)
        if (parentCache.size < CacheCap) parentCache.put(cur, p)
        p
      }
      r -= 1
    }
    cur
  }

  /** Exact inverse of cellToParent at res+1: all cells one level finer
    * whose center falls in `h`. Generated from the 7 aperture-7 lattice
    * positions plus their neighbor ring (cells straddling icosahedron
    * edges can wander a slot), then filtered by parent identity. */
  def cellToChildren(h: Long, childRes: Int): Seq[Long] = {
    val res = resolution(h)
    require(childRes >= res && childRes <= MaxRes)
    if (childRes == res) return Seq(h)
    var current = Seq(h)
    var r = res
    while (r < childRes) {
      current = current.flatMap(directChildren)
      r += 1
    }
    current
  }

  private def directChildren(h: Long): Seq[Long] = {
    val cached = childrenCache.get(h)
    if (cached != null) return cached
    val result = directChildrenUncached(h)
    if (childrenCache.size < CacheCap) childrenCache.put(h, result)
    result
  }

  private def directChildrenUncached(h: Long): Seq[Long] = {
    val res = resolution(h)
    val childRes = res + 1
    // Candidates: a hex disk of radius 3 in the child lattice around the
    // parent's center (children sit within ~1.6 child units; the extra
    // ring covers frame wander at icosahedron edges), filtered by exact
    // parent identity.
    val (pLat, pLng) = cellToLatLng(h)
    val (cf, cai, caj, _, _) =
      roundToFixpoint(math.toRadians(pLat), math.toRadians(pLng), childRes)
    val out = mutable.ArrayBuffer[Long]()
    val seen = mutable.Set[Long]()
    var di = -3
    while (di <= 3) {
      var dj = -3
      while (dj <= 3) {
        // hex distance <= 3 in axial coords (cube metric: max(|q|,|r|,|q+r|))
        if (math.max(math.max(math.abs(di), math.abs(dj)), math.abs(di + dj)) <= 3) {
          val (x, y) = axialToHex2d(cai + di, caj + dj)
          val (lat, lng) = hex2dToGeo(cf, x, y, childRes)
          val c = latLngToCell(math.toDegrees(lat), math.toDegrees(lng), childRes)
          if (!seen.contains(c)) {
            seen += c
            if (cellToParent(c, res) == h) out += c
          }
        }
        dj += 1
      }
      di += 1
    }
    out.toSeq
  }

  /** Replace any complete sibling set by its parent, repeatedly. */
  def compactCells(cells: Seq[Long]): Seq[Long] = {
    var current = cells.distinct
    var changed = true
    while (changed) {
      changed = false
      val (zero, rest) = current.partition(resolution(_) == 0)
      val out = mutable.ArrayBuffer[Long]() ++ zero
      rest.groupBy(h => cellToParent(h, resolution(h) - 1)).foreach {
        case (p, kids) =>
          // complete families have >= 5 members (7 interior, 5-9 at
          // icosahedron seams); smaller groups can't be complete, so
          // skip the exact children computation for them
          if (kids.size < 5) out ++= kids
          else {
            val full = directChildren(p)
            val kidSet = kids.toSet
            if (full.nonEmpty && full.size == kidSet.size &&
              full.forall(kidSet.contains)) {
              out += p
              changed = true
            } else out ++= kids
          }
      }
      current = out.toSeq
    }
    current.sorted
  }

  def uncompactCells(cells: Seq[Long], res: Int): Seq[Long] =
    cells.flatMap(h => cellToChildren(h, res))

  // ------------------------------------------------- polyfill

  /** Mean angular center spacing of cells at `res` (radians). */
  def cellAngularSize(res: Int): Double =
    math.atan(Res0U / sqrt7Pow(res))

  /** All cells at `res` whose center lies inside the polygon (H3
    * polygonToCells semantics). Input WKT coords are (lng, lat) degrees.
    * Implementation: dense lat/lng sampling of the bbox discovers every
    * candidate cell (spacing < cell inradius), then exact
    * center-in-polygon filtering — O(area/cellArea), fully per-row
    * parallel, no neighbor traversal needed. */
  def polygonToCells(geom: Geom, res: Int): Array[Long] = {
    val polys: Array[Poly] = geom match {
      case p: Poly => Array(p)
      case MultiPoly(ps) => ps
      case other =>
        throw new IllegalArgumentException(
          s"polygonToCells needs POLYGON/MULTIPOLYGON, got ${other.typeName}")
    }
    if (polys.isEmpty) return Array.empty
    val all = polys.flatMap(_.rings.flatMap(identity))
    if (all.isEmpty) return Array.empty

    // fast path: when every vertex projects onto one face, enumerate
    // the lattice directly in that face's hex plane — one unprojection
    // per candidate cell instead of ~6-8 projected samples per cell
    singleFaceCells(polys, all, res) match {
      case Some(cells) => return cells
      case None => // straddles faces -> sampling path below
    }
    var minX = Double.MaxValue; var maxX = Double.MinValue
    var minY = Double.MaxValue; var maxY = Double.MinValue
    all.foreach { p =>
      minX = math.min(minX, p.x); maxX = math.max(maxX, p.x)
      minY = math.min(minY, p.y); maxY = math.max(maxY, p.y)
    }
    val stepRad = cellAngularSize(res) * 0.4 // <= inradius*sqrt2 coverage bound w/ distortion margin
    val stepLat = math.toDegrees(stepRad)
    val maxAbsLat = math.min(math.max(math.abs(minY), math.abs(maxY)), 89.0)
    val stepLng = stepLat / math.max(math.cos(math.toRadians(maxAbsLat)), 0.01)
    val seen = mutable.LongMap[Boolean]()
    val out = mutable.ArrayBuffer[Long]()
    def consider(cell: Long): Unit =
      if (!seen.contains(cell)) {
        val (clat, clng) = cellToLatLng(cell)
        val inside = polys.exists(p => Geometry.contains(p, Pt(clng, clat)))
        seen(cell) = inside
        if (inside) out += cell
      }
    var lat = minY - stepLat
    while (lat <= maxY + stepLat) {
      var lng = minX - stepLng
      while (lng <= maxX + stepLng) {
        consider(latLngToCell(lat, lng, res))
        lng += stepLng
      }
      lat += stepLat
    }
    // ensure thin slivers around vertices are represented
    all.foreach(p => consider(latLngToCell(p.y, p.x, res)))
    out.toArray.sorted
  }

  /** Fast single-face polyfill: project vertices into the face plane,
    * walk the axial-lattice bbox, unproject each candidate center once
    * and apply the exact lat/lng center-in-polygon test (identical
    * semantics to the sampling path; returns None when any vertex or
    * candidate center leaves the face). */
  private def singleFaceCells(polys: Array[Poly], verts: Array[Pt],
      res: Int): Option[Array[Long]] = {
    val c0 = verts(0)
    val face = nearestFace(math.toRadians(c0.y), math.toRadians(c0.x))
    var minX = Double.MaxValue; var maxX = Double.MinValue
    var minY = Double.MaxValue; var maxY = Double.MinValue
    var prevLatR = 0.0; var prevLngR = 0.0
    var maxEdgeRad = 0.0
    var i = 0
    while (i < verts.length) {
      val v = verts(i)
      val latR = math.toRadians(v.y)
      val lngR = math.toRadians(v.x)
      if (nearestFace(latR, lngR) != face) return None
      val (x, y) = geoToHex2d(face, latR, lngR, res)
      minX = math.min(minX, x); maxX = math.max(maxX, x)
      minY = math.min(minY, y); maxY = math.max(maxY, y)
      if (i > 0)
        maxEdgeRad = math.max(maxEdgeRad,
          angularDist(prevLatR, prevLngR, latR, lngR))
      prevLatR = latR; prevLngR = lngR
      i += 1
    }
    // bbox margin: 1 cell rounding slop + the gnomonic sagitta of the
    // longest lat/lng-straight edge (~L^2/8 radians), in cell units
    val margin = 1.0 + (maxEdgeRad * maxEdgeRad / 8.0) / cellAngularSize(res)
    val jLo = math.floor((minY - margin) / Sqrt3_2).toInt
    val jHi = math.ceil((maxY + margin) / Sqrt3_2).toInt
    val width = (maxX - minX + 2 * margin)
    if ((jHi - jLo).toDouble * (width + 2) > 5e7) return None // sampling path
    val out = mutable.ArrayBuffer[Long]()
    var j = jLo
    while (j <= jHi) {
      val iLo = math.floor(minX - margin + 0.5 * j).toInt
      val iHi = math.ceil(maxX + margin + 0.5 * j).toInt
      var ii = iLo
      while (ii <= iHi) {
        val (cx, cy) = axialToHex2d(ii, j)
        if (cx >= minX - margin && cx <= maxX + margin &&
          cy >= minY - margin && cy <= maxY + margin) {
          val (clatR, clngR) = hex2dToGeo(face, cx, cy, res)
          if (nearestFace(clatR, clngR) != face) return None // edge graze
          val clat = math.toDegrees(clatR)
          val clng = math.toDegrees(clngR)
          var inside = false
          var p = 0
          while (p < polys.length && !inside) {
            inside = Geometry.contains(polys(p), Pt(clng, clat))
            p += 1
          }
          if (inside) out += pack(res, face, ii, j)
        }
        ii += 1
      }
      j += 1
    }
    Some(out.toArray.sorted)
  }

  /** Cells whose center is within `distMeters` of the (lng lat, WGS84)
    * line — the g_h3_line_cells buffer+polyfill (003_db_makros.sql:71)
    * without constructing a buffer polygon: buffer membership IS the
    * distance predicate. */
  def lineToCells(geom: Geom, distMeters: Double, res: Int): Array[Long] = {
    val lines: Array[Array[Pt]] = geom match {
      case graft.spatial.Line(p) => Array(p)
      case graft.spatial.MultiLine(ls) => ls.map(_.pts)
      case _ => throw new IllegalArgumentException(
        s"lineToCells needs LINESTRING, got ${geom.typeName}")
    }
    require(lines.forall(_.forall(p =>
      java.lang.Double.isFinite(p.x) && java.lang.Double.isFinite(p.y))),
      "lineToCells needs finite coordinates")
    val metersPerDegLat = 111320.0
    val distDeg = distMeters / metersPerDegLat
    val stepRad = cellAngularSize(res) * 0.4
    val stepDeg = math.toDegrees(stepRad)
    val seen = mutable.LongMap[Boolean]()
    val out = mutable.ArrayBuffer[Long]()
    def distToLinesDeg(lat: Double, lng: Double): Double = {
      val cosLat = math.max(math.cos(math.toRadians(lat)), 0.01)
      var best = Double.MaxValue
      lines.foreach { pts =>
        var i = 0
        while (i < pts.length - 1) {
          val ax = (pts(i).x - lng) * cosLat; val ay = pts(i).y - lat
          val bx = (pts(i + 1).x - lng) * cosLat; val by = pts(i + 1).y - lat
          val dx = bx - ax; val dy = by - ay
          val l2 = dx * dx + dy * dy
          val t = if (l2 == 0) 0.0
            else math.max(0.0, math.min(1.0, -(ax * dx + ay * dy) / l2))
          best = math.min(best, math.hypot(ax + t * dx, ay + t * dy))
          i += 1
        }
      }
      best
    }
    singleFaceLineCells(lines, res, distDeg,
      (lat, lng) => distToLinesDeg(lat, lng) <= distDeg) match {
      case Some(cells) => return cells
      case None => // straddles faces -> sampling path below
    }
    def consider(cell: Long): Unit =
      if (!seen.contains(cell)) {
        val (clat, clng) = cellToLatLng(cell)
        val inside = distToLinesDeg(clat, clng) <= distDeg
        seen(cell) = inside
        if (inside) out += cell
      }
    lines.foreach { pts =>
      var i = 0
      while (i < pts.length - 1) {
        val segLen = math.hypot(pts(i + 1).x - pts(i).x, pts(i + 1).y - pts(i).y)
        val n = math.max(1, math.ceil(segLen / stepDeg).toInt)
        var s = 0
        while (s <= n) {
          val t = s.toDouble / n
          val lng = pts(i).x + t * (pts(i + 1).x - pts(i).x)
          val lat = pts(i).y + t * (pts(i + 1).y - pts(i).y)
          var dLat = -distDeg - stepDeg
          while (dLat <= distDeg + stepDeg) {
            // the membership predicate measures longitude SCALED by
            // cos(lat), so a raw-longitude window of ±distDeg misses
            // in-buffer cells east/west by a factor 1/cos(lat) — at
            // Nordic latitudes half the corridor. Scan the window in
            // RAW degrees wide enough that its scaled extent still
            // covers distDeg (clamped like the predicate's own
            // cosLat guard).
            val cosL = math.max(
              math.cos(math.toRadians(lat + dLat)), 0.01)
            val lngHalf = distDeg / cosL + stepDeg
            var dLng = -lngHalf
            while (dLng <= lngHalf) {
              consider(latLngToCell(lat + dLat, lng + dLng, res))
              dLng += stepDeg
            }
            dLat += stepDeg
          }
          s += 1
        }
        i += 1
      }
    }
    out.toArray.sorted
  }

  /** Fast single-face corridor fill: project the line vertices into the
    * face hex plane, enumerate lattice candidates along each segment
    * with pure integer/double arithmetic (no per-probe latLngToCell),
    * then unproject each UNIQUE candidate once and apply the exact
    * distance predicate — identical semantics to the sampling path.
    * Returns None when any vertex or candidate center leaves the face
    * (the sampling path handles seam-straddling corridors). */
  private def singleFaceLineCells(lines: Array[Array[Pt]], res: Int,
      distDeg: Double, exact: (Double, Double) => Boolean): Option[Array[Long]] = {
    if (lines.isEmpty || lines(0).length == 0) return Some(Array.empty)
    val v0 = lines(0)(0)
    val face = nearestFace(math.toRadians(v0.y), math.toRadians(v0.x))
    var maxEdgeRad = 0.0
    val proj: Array[Array[(Double, Double)]] = lines.map { pts =>
      var i = 0
      val arr = new Array[(Double, Double)](pts.length)
      var prevLatR = 0.0; var prevLngR = 0.0
      while (i < pts.length) {
        val latR = math.toRadians(pts(i).y)
        val lngR = math.toRadians(pts(i).x)
        if (nearestFace(latR, lngR) != face) return None
        if (i > 0)
          maxEdgeRad = math.max(maxEdgeRad,
            angularDist(prevLatR, prevLngR, latR, lngR))
        prevLatR = latR; prevLngR = lngR
        arr(i) = geoToHex2d(face, latR, lngR, res)
        i += 1
      }
      arr
    }
    // corridor half-width in cell units + rounding slop + gnomonic
    // sagitta of the longest lat/lng-straight segment. The corridor
    // and sagitta are ANGULAR sizes divided by the MEAN cell spacing,
    // but candidates are enumerated in HEX-PLANE units, where the
    // gnomonic projection's radial magnification reaches sec^2(theta)
    // ~ 1.59 at the icosahedron face boundary (theta_max ~ 37.4 deg):
    // a K-mean-spacing corridor can span up to ~1.59*K hex units, so
    // a few-cell slop alone under-enumerates LARGE corridors (the
    // distance-join buffers) — candidates near the window edge were
    // silently skipped while the exact predicate would have kept
    // them. Enumerate under the worst-case factor; only candidate
    // VOLUME grows, the exact predicate still decides membership.
    val gnomonicMag = 1.59
    val win = gnomonicMag * (math.toRadians(distDeg) / cellAngularSize(res) +
      (maxEdgeRad * maxEdgeRad / 8.0) / cellAngularSize(res)) + 2.0
    if (win > 64) return None // huge buffer vs cell size -> sampling
    val cand = mutable.LongMap[Boolean]()
    proj.foreach { pts =>
      var s = 0
      while (s < pts.length - 1) {
        val (ax, ay) = pts(s)
        val (bx, by) = pts(s + 1)
        val len = math.hypot(bx - ax, by - ay)
        val n = math.max(1, math.ceil(len / 0.7).toInt)
        if (n.toDouble * (2 * win + 1) * (2 * win + 1) > 5e7) return None
        var k = 0
        while (k <= n) {
          val t = k.toDouble / n
          val x = ax + t * (bx - ax)
          val y = ay + t * (by - ay)
          val jLo = math.floor((y - win) / Sqrt3_2).toInt
          val jHi = math.ceil((y + win) / Sqrt3_2).toInt
          var j = jLo
          while (j <= jHi) {
            val iLo = math.floor(x - win + 0.5 * j).toInt
            val iHi = math.ceil(x + win + 0.5 * j).toInt
            var ii = iLo
            while (ii <= iHi) {
              cand((ii.toLong << 32) | (j.toLong & 0xFFFFFFFFL)) = true
              ii += 1
            }
            j += 1
          }
          k += 1
        }
        s += 1
      }
    }
    val out = mutable.ArrayBuffer[Long]()
    val it = cand.keysIterator
    while (it.hasNext) {
      val key = it.next()
      val ii = (key >> 32).toInt
      val j = key.toInt
      val (cx, cy) = axialToHex2d(ii, j)
      val (clatR, clngR) = hex2dToGeo(face, cx, cy, res)
      if (nearestFace(clatR, clngR) != face) return None // edge graze
      if (exact(math.toDegrees(clatR), math.toDegrees(clngR)))
        out += pack(res, face, ii, j)
    }
    Some(out.toArray.sorted)
  }

  // ------------------------------------------------- res-0 diagnostics

  /** The 122 res-0 cells (for tests/inventory): scan all face lattice
    * positions within the domain, canonicalize, dedup. */
  lazy val res0Cells: Seq[Long] = {
    val seen = mutable.Set[Long]()
    for (f <- 0 until 20; ai <- -3 to 3; aj <- -3 to 3) {
      val (x, y) = axialToHex2d(ai, aj)
      if (math.hypot(x, y) < 2.5) {
        val (lat, lng) = hex2dToGeo(f, x, y, 0)
        seen += latLngToCell(math.toDegrees(lat), math.toDegrees(lng), 0)
      }
    }
    seen.toSeq.sorted
  }

  /** Res-0 cells sitting exactly on icosahedron vertices (the pentagon
    * positions of the H3 grid system). */
  lazy val pentagonCells: Seq[Long] = res0Cells.filter { h =>
    val (x, y) = axialToHex2d(aiOf(h), ajOf(h))
    math.abs(math.hypot(x, y) - 2.0) < 1e-9
  }
}
