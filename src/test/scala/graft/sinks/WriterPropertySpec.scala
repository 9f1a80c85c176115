package graft.sinks

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files

import graft.SparkSuite
import graft.sources.{SQLiteFile, SQLiteWriter}
import graft.spatial.{Geom, Geometry, Line, MultiPoly, Poly, Pt}

/** Randomized round-trip invariants for the hand-built binary writers:
  * arbitrary typed rows through SQLiteWriter -> SQLiteFile, arbitrary
  * geometries + properties through FlatGeobuf write -> read. */
class WriterPropertySpec extends SparkSuite {

  private val N = 60

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until N).foreach { i =>
      f(g.apply(Gen.Parameters.default, Seed(i.toLong * 104729 + 31)).get)
    }

  private val genValue: Gen[Any] = Gen.oneOf(
    Gen.const(null),
    Gen.choose(Long.MinValue, Long.MaxValue).map(x => x: Any),
    Gen.choose(-1e12, 1e12).map(x => x: Any),
    Gen.alphaNumStr.map(s => (s.take(40) + "åß漢"): Any),
    Gen.choose(0, 2000).map(n => Array.tabulate[Byte](n)(i => (i * 7).toByte): Any))

  test("property: SQLite writer round-trips arbitrary typed rows") {
    val genRows = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, Gen.listOfN(3, genValue))
    } yield rows
    forAll(genRows) { rows =>
      val withIds = rows.zipWithIndex.map { case (r, i) =>
        Seq[Any](i.toLong * 3 + 1) ++ r
      }
      val p = Files.createTempDirectory("prop").resolve("t.db")
      SQLiteWriter.write(p, Seq(SQLiteWriter.Table(
        "t",
        """CREATE TABLE "t" ("id" INTEGER PRIMARY KEY, "a" BLOB, "b" BLOB, "c" BLOB)""",
        withIds, rowidAliasIdx = 0)))
      val got = SQLiteFile.open(p).readTable("t")
      assert(got.length == withIds.length)
      got.zip(withIds).foreach { case ((rowid, gotVals), expect) =>
        assert(rowid == expect.head)
        gotVals.zip(expect).foreach {
          case (g: Array[Byte], e: Array[Byte]) => assert(g.toSeq == e.toSeq)
          case (g: Double, e: Double) => assert(g == e)
          case (g, e) => assert(g == e)
        }
      }
      Files.deleteIfExists(p)
    }
  }

  private val coord = Gen.choose(-1e6, 1e6)
  private val genPt: Gen[Pt] = Gen.zip(coord, coord).map { case (x, y) => Pt(x, y) }
  private def ring: Gen[Array[Pt]] = for {
    n <- Gen.choose(3, 12)
    pts <- Gen.listOfN(n, genPt)
  } yield (pts :+ pts.head).toArray
  private val genGeom: Gen[Geom] = Gen.oneOf(
    genPt,
    Gen.listOfN(2, genPt).map(ps => Line(ps.toArray)),
    ring.map(r => Poly(Array(r))),
    Gen.listOfN(2, ring).map(rs => MultiPoly(rs.map(r => Poly(Array(r))).toArray)))

  test("property: FlatGeobuf round-trips arbitrary geometries + props") {
    import spark.implicits._
    forAll(Gen.listOfN(5, Gen.zip(genGeom, Gen.alphaNumStr, Gen.choose(-1e9, 1e9)))) { items =>
      val df = items.zipWithIndex.map { case ((g, s, d), i) =>
        (i.toLong, Geometry.toWkb(g), s.take(30), d)
      }.toDF("oid", "geom", "txt", "num")
      val path = Files.createTempDirectory("fgbp").resolve("p.fgb").toString
      FlatGeobuf.write(df, path, "prop", "geom")
      val (_, feats) = FlatGeobuf.read(path)
      assert(feats.length == items.length)
      feats.zip(items).zipWithIndex.foreach { case (((got, props), (expect, s, d)), i) =>
        assert(Geometry.toWkt(got) == Geometry.toWkt(expect),
          s"geometry $i differs")
        assert(props("oid") == i.toLong)
        assert(props("txt") == s.take(30))
        assert(props("num") == d)
      }
    }
  }
}
