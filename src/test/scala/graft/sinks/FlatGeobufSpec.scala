package graft.sinks

import java.nio.file.Files

import graft.SparkSuite
import graft.spatial.{Geometry, Line, MultiLine, MultiPoly, MultiPt, Poly, Pt}

/** FlatGeobuf write -> read round-trips, and a read of a file an
  * earlier writer produced. */
class FlatGeobufSpec extends SparkSuite {

  private def tmp(name: String) =
    Files.createTempDirectory("fgb").resolve(name).toString

  test("df -> fgb -> read round-trip: header, columns, props, geometries") {
    import spark.implicits._
    val geoms = Seq(
      (1L, Geometry.toWkb(Pt(500000, 6400000)), "first", 1.5, true),
      (2L, Geometry.toWkb(Poly(Array(
        Array(Pt(0, 0), Pt(100, 0), Pt(100, 50), Pt(0, 50), Pt(0, 0)),
        Array(Pt(10, 10), Pt(20, 10), Pt(20, 20), Pt(10, 20), Pt(10, 10))))),
        "donut åäö", 2.5, false),
      (3L, Geometry.toWkb(Line(Array(Pt(1, 2), Pt(3, 4), Pt(5, 6)))),
        null, 3.5, true))
    val df = geoms.toDF("oid", "geom", "namn", "vikt", "flagga")
    val path = tmp("t.fgb")
    FlatGeobuf.write(df, path, "lager", "geom")

    val (layer, feats) = FlatGeobuf.read(path)
    assert(layer.name == "lager")
    assert(layer.featuresCount == 3L)
    assert(layer.geometryType == 0) // mixed -> Unknown
    assert(layer.columns.map(_.name) == Seq("oid", "namn", "vikt", "flagga"))
    assert(layer.crsOrg == "EPSG" && layer.crsCode == 3006)
    assert(layer.envelope.toSeq == Seq(0.0, 0.0, 500000.0, 6400000.0))

    assert(feats.length == 3)
    val (g1, p1) = feats(0)
    assert(g1 == Pt(500000, 6400000))
    assert(p1("oid") == 1L && p1("namn") == "first" &&
      p1("vikt") == 1.5 && p1("flagga") == true)
    val (g2, p2) = feats(1)
    val poly = g2.asInstanceOf[Poly]
    assert(poly.rings.length == 2)
    assert(poly.rings(1).length == 5)
    assert(Geometry.area(poly) == 100.0 * 50 - 100)
    assert(p2("namn") == "donut åäö")
    val (g3, p3) = feats(2)
    assert(g3.asInstanceOf[Line].pts.toSeq == Seq(Pt(1, 2), Pt(3, 4), Pt(5, 6)))
    assert(!p3.contains("namn")) // null property omitted
  }

  test("multipolygon via nested parts") {
    import spark.implicits._
    val mp = MultiPoly(Array(
      Poly(Array(Array(Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1), Pt(0, 0)))),
      Poly(Array(Array(Pt(5, 5), Pt(7, 5), Pt(7, 7), Pt(5, 7), Pt(5, 5))))))
    val df = Seq((1L, Geometry.toWkb(mp))).toDF("id", "geom")
    val path = tmp("mp.fgb")
    FlatGeobuf.write(df, path, "mp", "geom")
    val (layer, feats) = FlatGeobuf.read(path)
    assert(layer.geometryType == 6)
    val got = feats.head._1.asInstanceOf[MultiPoly]
    assert(got.polys.length == 2)
    assert(Geometry.area(got) == 1.0 + 4.0)
  }

  test("magic bytes and empty-properties features") {
    import spark.implicits._
    val df = Seq((Geometry.toWkb(Pt(1, 1)))).map(Tuple1(_)).toDF("geom")
    val path = tmp("m.fgb")
    FlatGeobuf.write(df, path, "only_geom", "geom")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes.take(8).toSeq == FlatGeobuf.Magic.toSeq)
    val (layer, feats) = FlatGeobuf.read(path)
    assert(layer.columns.isEmpty)
    assert(feats.head._1 == Pt(1, 1))
    assert(feats.head._2.isEmpty)
  }

  test("reads a file written before the writer moved to FlatBufferBuilder") {
    // src/test/resources/fgb/legacy_writer.fgb: seven features, one per
    // geometry type plus a null geometry, over every property type
    val (layer, feats) = FlatGeobuf.read(
      getClass.getResource("/fgb/legacy_writer.fgb").getPath)
    assert(layer.name == "fixtur" && layer.geometryType == 0 &&
      layer.featuresCount == 7L && layer.crsOrg == "EPSG" && layer.crsCode == 3006)
    assert(layer.envelope.toSeq == Seq(0.0, 0.0, 500000.5, 6400000.25))
    assert(layer.columns.map(c => (c.name, c.colType)) == Seq(
      "oid" -> 7, "n" -> 7, "namn" -> 11, "vikt" -> 10, "flagga" -> 2, "blob" -> 14))
    assert(feats.map(f => Option(f._1).map(Geometry.toWkt).orNull) == Seq(
      Geometry.toWkt(Pt(500000.5, 6400000.25)),
      "POLYGON ((0 0, 100 0, 100 50, 0 50, 0 0), (10 10, 20 10, 20 20, 10 20, 10 10))",
      "LINESTRING (1 2, 3 4, 5 6)",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",
      Geometry.toWkt(MultiPt(Array(Pt(9, 9), Pt(10, 11)))),
      Geometry.toWkt(MultiLine(Array(Line(Array(Pt(0, 0), Pt(1, 1))),
        Line(Array(Pt(2, 2), Pt(3, 3), Pt(4, 2)))))),
      null))
    val props = feats.map(_._2.map {
      case (k, b: Array[Byte]) => k -> b.toSeq
      case kv => kv
    })
    assert(props.map(_("oid")) == (1L to 7L))
    assert(props.map(_("n")) == Seq(7L, -3L, 0L, 1L, 2L, 3L, 4L))
    assert(props.map(_.get("namn")) == Seq(Some("första"), None, Some("linje"),
      Some("multi"), Some("punkter"), Some("linjer"), Some("ingen geometri")))
    assert(props.map(_("vikt")) == Seq(1.5, -2.5, 0.0, 4.25, 5.5, 6.5, 7.5))
    assert(props.map(_("flagga")) == Seq(true, false, true, false, true, false, true))
    assert(props.map(_.get("blob")) == Seq(Some(Seq[Byte](1, 2, 3)), None,
      Some(Seq.empty[Byte]), Some(Seq[Byte](-1)), None, None, None))
  }
}
