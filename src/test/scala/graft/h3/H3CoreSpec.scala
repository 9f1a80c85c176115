package graft.h3

import org.scalatest.funsuite.AnyFunSuite

import graft.spatial.Geometry

class H3CoreSpec extends AnyFunSuite {
  import H3Core._

  private val rnd = new scala.util.Random(1234)

  private def swedenPoint(): (Double, Double) =
    (56.0 + rnd.nextDouble() * 11.0, 12.0 + rnd.nextDouble() * 10.0)

  private def globalPoint(): (Double, Double) = {
    // uniform on sphere
    val z = rnd.nextDouble() * 2 - 1
    val lng = rnd.nextDouble() * 360 - 180
    (math.toDegrees(math.asin(z)), lng)
  }

  test("grid has 122 res-0 cells, 12 on icosahedron vertices") {
    assert(res0Cells.size == 122, s"got ${res0Cells.size} res-0 cells")
    assert(pentagonCells.size == 12, s"got ${pentagonCells.size} vertex cells")
  }

  test("round-trip latLngToCell -> cellToLatLng -> latLngToCell, Sweden") {
    (0 to 13).foreach { res =>
      (1 to 300).foreach { _ =>
        val (lat, lng) = swedenPoint()
        val cell = latLngToCell(lat, lng, res)
        assert(isValidCell(cell), s"invalid cell at res $res")
        assert(resolution(cell) == res)
        val (clat, clng) = cellToLatLng(cell)
        val again = latLngToCell(clat, clng, res)
        assert(again == cell,
          s"round-trip broke: res=$res p=($lat,$lng) ${toHexString(cell)} -> " +
            s"($clat,$clng) -> ${toHexString(again)}")
      }
    }
  }

  test("round-trip holds for global points (incl. face edges)") {
    Seq(0, 2, 5, 8, 11).foreach { res =>
      var fails = 0
      (1 to 1000).foreach { _ =>
        val (lat, lng) = globalPoint()
        val cell = latLngToCell(lat, lng, res)
        val (clat, clng) = cellToLatLng(cell)
        if (latLngToCell(clat, clng, res) != cell) fails += 1
      }
      assert(fails == 0, s"res=$res: $fails/1000 global round-trip failures")
    }
  }

  test("cell center is near the query point (within ~cell size)") {
    Seq(4, 8, 12).foreach { res =>
      val sizeRad = cellAngularSize(res)
      (1 to 200).foreach { _ =>
        val (lat, lng) = swedenPoint()
        val cell = latLngToCell(lat, lng, res)
        val (clat, clng) = cellToLatLng(cell)
        val d = haversineRad(lat, lng, clat, clng)
        assert(d < sizeRad * 1.2,
          s"center too far at res $res: $d rad vs cell size $sizeRad")
      }
    }
  }

  test("latLngToCell picks the nearest lattice center (cube-rounding law)") {
    // the assigned cell's center can be at most the circumradius away —
    // a point at a hexagon corner is equidistant from three centers.
    // Regression pin for the axial-basis cube-rounding bug (the flipped
    // aj axis makes the textbook s = -ai - aj the WRONG third cube
    // coordinate; boundary points then land in a center up to ~1.3x the
    // circumradius away, i.e. NOT their containing cell).
    Seq(7, 8, 9, 10).foreach { res =>
      (1 to 500).foreach { _ =>
        val (lat, lng) = swedenPoint()
        val cell = latLngToCell(lat, lng, res)
        val (clat, clng) = cellToLatLng(cell)
        val d = haversineRad(lat, lng, clat, clng)
        val circum = cellToBoundary(cell).map { case (bla, bln) =>
          haversineRad(clat, clng, bla, bln)
        }.max
        assert(d <= circum * 1.0001,
          s"res $res: assigned center $d rad away, circumradius $circum")
      }
    }
  }

  test("distinct points in distinct cells get distinct ids (no collisions)") {
    val res = 9
    val cells = (1 to 5000).map { _ =>
      val (lat, lng) = swedenPoint()
      latLngToCell(lat, lng, res)
    }
    val centers = cells.distinct.map(cellToLatLng)
    // distinct ids must have distinct centers (injective decode)
    assert(centers.distinct.size == cells.distinct.size)
  }

  test("hierarchy: parent/child index ops are exact inverses") {
    (1 to 100).foreach { _ =>
      val (lat, lng) = swedenPoint()
      val child = latLngToCell(lat, lng, 10)
      val parent = cellToParent(child, 9)
      assert(resolution(parent) == 9)
      assert(cellToChildren(parent, 10).contains(child))
      assert(cellToParent(child, 0) == cellToParent(cellToParent(child, 5), 0))
    }
  }

  test("center child shares the parent's center point") {
    (1 to 100).foreach { _ =>
      val (lat, lng) = swedenPoint()
      val parent = latLngToCell(lat, lng, 8)
      val (clat, clng) = cellToLatLng(parent)
      val centerChild = latLngToCell(clat, clng, 9)
      assert(cellToParent(centerChild, 8) == parent)
    }
  }

  test("compact/uncompact are inverses on a polyfill set") {
    val poly = "POLYGON ((17.9 59.25, 18.2 59.25, 18.2 59.42, 17.9 59.42, 17.9 59.25))"
    val cells = polygonToCells(Geometry.fromWkt(poly), 8)
    assert(cells.nonEmpty)
    val compacted = compactCells(cells.toSeq)
    assert(compacted.size <= cells.length)
    val expanded = uncompactCells(compacted, 8).sorted
    assert(expanded == cells.toSeq.sorted,
      s"uncompact(compact) != id: ${cells.length} -> ${compacted.size} -> ${expanded.size}")
  }

  test("compaction actually compacts a full child set") {
    // face-interior point (face 0 center): exactly 7 children
    val parent = latLngToCell(46.046, 71.528, 7)
    val children = cellToChildren(parent, 8)
    assert(children.size == 7, s"interior parent has ${children.size} children")
    assert(compactCells(children) == Seq(parent))
    // near a face seam (Stockholm): counts may be 6-8 under geometric
    // parent semantics, but every child points back and compact is exact
    val seamParent = latLngToCell(59.33, 18.07, 7)
    val seamKids = cellToChildren(seamParent, 8)
    assert(seamKids.size >= 5 && seamKids.size <= 9, s"got ${seamKids.size}")
    seamKids.foreach(c => assert(cellToParent(c, 7) == seamParent))
    assert(compactCells(seamKids) == Seq(seamParent))
  }

  test("polyfill: every returned center is inside; interior points map into the set") {
    import graft.spatial.{Geometry, Pt}
    val wkt = "POLYGON ((17.95 59.28, 18.15 59.28, 18.15 59.40, 17.95 59.40, 17.95 59.28))"
    val geom = Geometry.fromWkt(wkt)
    Seq(7, 8, 9).foreach { res =>
      val cells = polygonToCells(geom, res)
      assert(cells.nonEmpty, s"empty polyfill at res $res")
      assert(cells.distinct.length == cells.length)
      cells.foreach { c =>
        val (clat, clng) = cellToLatLng(c)
        assert(Geometry.contains(geom, Pt(clng, clat)),
          s"center of ${toHexString(c)} outside polygon at res $res")
      }
      val cellSet = cells.toSet
      (1 to 200).foreach { _ =>
        val lat = 59.28 + rnd.nextDouble() * 0.12
        val lng = 17.95 + rnd.nextDouble() * 0.20
        val cell = latLngToCell(lat, lng, res)
        val (clat, clng) = cellToLatLng(cell)
        // a point's cell is in the polyfill iff the cell center is inside
        if (Geometry.contains(geom, Pt(clng, clat)))
          assert(cellSet.contains(cell),
            s"cell ${toHexString(cell)} (center inside) missing at res $res")
        else assert(!cellSet.contains(cell))
      }
    }
  }

  test("polyfill across an icosahedron seam (sampling fallback path)") {
    import graft.spatial.{Geometry, Pt}
    // find a face seam inside the Nordic box by scanning for a face flip
    val lat = 60.0
    val seamLng = (100 to 250).map(_ / 10.0)
      .sliding(2).find { w =>
        latLngToCell(lat, w(0), 0) != latLngToCell(lat, w(1), 0)
      }.map(_(0)).getOrElse(15.0)
    val wkt = f"POLYGON (($seamLng%.1f 59.9, ${seamLng + 0.3}%.1f 59.9, " +
      f"${seamLng + 0.3}%.1f 60.1, $seamLng%.1f 60.1, $seamLng%.1f 59.9))"
    val geom = Geometry.fromWkt(wkt)
    Seq(6, 8).foreach { res =>
      val cells = polygonToCells(geom, res)
      assert(cells.nonEmpty, s"empty seam polyfill at res $res")
      cells.foreach { c =>
        val (clat, clng) = cellToLatLng(c)
        assert(Geometry.contains(geom, Pt(clng, clat)))
      }
      val cellSet = cells.toSet
      (1 to 100).foreach { _ =>
        val plat = 59.9 + rnd.nextDouble() * 0.2
        val plng = seamLng + rnd.nextDouble() * 0.3
        val cell = latLngToCell(plat, plng, res)
        val (clat, clng) = cellToLatLng(cell)
        if (Geometry.contains(geom, Pt(clng, clat)))
          assert(cellSet.contains(cell), s"missing seam cell at res $res")
      }
    }
  }

  test("polyfill cardinality tracks area/cellArea") {
    val wkt = "POLYGON ((17.9 59.25, 18.2 59.25, 18.2 59.42, 17.9 59.42, 17.9 59.25))"
    val cells8 = polygonToCells(Geometry.fromWkt(wkt), 8).length.toDouble
    val cells9 = polygonToCells(Geometry.fromWkt(wkt), 9).length.toDouble
    val ratio = cells9 / cells8
    assert(ratio > 5.0 && ratio < 9.5, s"aperture-7 ratio off: $ratio")
  }

  test("boundary: 6 vertices ringing the center at ~circumradius") {
    Seq(6, 9, 12).foreach { res =>
      val (lat, lng) = swedenPoint()
      val cell = latLngToCell(lat, lng, res)
      val verts = cellToBoundary(cell)
      assert(verts.length == 6)
      val (clat, clng) = cellToLatLng(cell)
      val dists = verts.map { case (vlat, vlng) => haversineRad(clat, clng, vlat, vlng) }
      val mean = dists.sum / 6
      dists.foreach(d => assert(math.abs(d - mean) / mean < 0.15,
        s"irregular vertex ring at res $res: $dists"))
      val wkt = cellToBoundaryWkt(cell)
      assert(wkt.startsWith("POLYGON (("))
      val g = graft.spatial.Geometry.fromWkt(wkt)
      assert(graft.spatial.Geometry.contains(g, graft.spatial.Pt(clng, clat)))
    }
  }

  test("lineToCells covers the corridor") {
    val line = "LINESTRING (17.95 59.30, 18.10 59.35)"
    val cells = lineToCells(Geometry.fromWkt(line), 100.0, 10)
    assert(cells.nonEmpty)
    // every sample on the line must land in the set
    (0 to 50).foreach { i =>
      val t = i / 50.0
      val lng = 17.95 + t * 0.15
      val lat = 59.30 + t * 0.05
      val c = latLngToCell(lat, lng, 10)
      assert(cells.contains(c), s"line sample $t cell missing")
    }
  }

  test("single-face line fast path matches dense-sampling reference") {
    val pts = Seq((17.95, 59.30), (18.02, 59.33), (18.10, 59.35))
    val line = "LINESTRING (" +
      pts.map { case (x, y) => s"$x $y" }.mkString(", ") + ")"
    val dist = 150.0
    val res = 10
    val got = lineToCells(Geometry.fromWkt(line), dist, res).toSet
    // independent reference: dense lat/lng probe of the corridor bbox,
    // keep cells whose center passes the same equirectangular predicate
    val distDeg = dist / 111320.0
    def distToLine(lat: Double, lng: Double): Double = {
      val cosLat = math.cos(math.toRadians(lat))
      pts.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
        val ax = (x1 - lng) * cosLat; val ay = y1 - lat
        val bx = (x2 - lng) * cosLat; val by = y2 - lat
        val dx = bx - ax; val dy = by - ay
        val l2 = dx * dx + dy * dy
        val t = if (l2 == 0) 0.0
          else math.max(0.0, math.min(1.0, -(ax * dx + ay * dy) / l2))
        math.hypot(ax + t * dx, ay + t * dy)
      }.min
    }
    val ref = scala.collection.mutable.Set[Long]()
    val step = math.toDegrees(cellAngularSize(res)) * 0.2
    var lat = 59.30 - 3 * distDeg
    while (lat <= 59.35 + 3 * distDeg) {
      var lng = 17.95 - 6 * distDeg
      while (lng <= 18.10 + 6 * distDeg) {
        val c = latLngToCell(lat, lng, res)
        val (clat, clng) = cellToLatLng(c)
        if (distToLine(clat, clng) <= distDeg) ref += c
        lng += step
      }
      lat += step
    }
    assert(got == ref.toSet,
      s"missing=${(ref -- got).size} extra=${(got -- ref).size}")
  }

  test("hex string round-trips") {
    val cell = latLngToCell(59.33, 18.07, 9)
    assert(fromHexString(toHexString(cell)) == cell)
  }

  private def haversineRad(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val (p1, l1, p2, l2) = (math.toRadians(lat1), math.toRadians(lng1),
      math.toRadians(lat2), math.toRadians(lng2))
    val a = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin((l2 - l1) / 2), 2)
    2 * math.asin(math.sqrt(a))
  }
}
