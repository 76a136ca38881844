package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip: ShapefileWriter.write → Shapefile.read must reproduce
  * WKT and attributes exactly (the writer normalizes ring orientation
  * to spec, which the reader's hole-grouping relies on).
  */
class ShapefileWriterSpec extends AnyFunSuite {

  private def roundTrip(fields: Seq[String], feats: Seq[(String, Seq[String])])
      : (Seq[String], Seq[Shapefile.Feature]) = {
    val dir = Files.createTempDirectory("shpw").toString
    ShapefileWriter.write(dir, "layer", fields, feats)
    Shapefile.read(s"$dir/layer.shp")
  }

  test("points round-trip with attributes") {
    val (names, feats) = roundTrip(Seq("id", "name"),
      Seq(("POINT (1 2)", Seq("1", "alpha")),
        ("POINT (-3.25 4.5)", Seq("2", "beta")),
        ("POINT (180 -90)", Seq("3", null))))
    assert(names === Seq("id", "name"))
    assert(feats.map(_.wkt) === Seq("POINT (1 2)", "POINT (-3.25 4.5)", "POINT (180 -90)"))
    // the reader keeps empty DBF cells as explicit null values
    assert(feats.map(_.attrs.get("name")) === Seq(Some("alpha"), Some("beta"), Some(null)))
  }

  test("multipoint, linestring, and multilinestring round-trip") {
    val (_, mp) = roundTrip(Nil, Seq(("MULTIPOINT ((1 2), (3 4))", Nil)))
    assert(mp.head.wkt === "MULTIPOINT ((1 2), (3 4))")
    val (_, ls) = roundTrip(Nil, Seq(("LINESTRING (0 0, 1 1, 2 0)", Nil)))
    assert(ls.head.wkt === "LINESTRING (0 0, 1 1, 2 0)")
    val (_, mls) = roundTrip(Nil,
      Seq(("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))", Nil)))
    assert(mls.head.wkt === "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))")
  }

  test("polygon with hole and multipolygon round-trip; CCW outer ring is re-oriented") {
    // outer given CCW (wrong per spec) with a CW hole (also wrong):
    // writer must flip both so the reader's orientation-based hole
    // grouping reconstructs one polygon with one hole
    val wkt = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"
    val (_, got) = roundTrip(Nil, Seq((wkt, Nil)))
    assert(got.head.geomType === "POLYGON")
    assert(got.head.wkt ===
      "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    val multi = "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))"
    val (_, gm) = roundTrip(Nil, Seq((multi, Nil)))
    assert(gm.head.geomType === "MULTIPOLYGON")
    assert(gm.head.wkt ===
      "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))")
  }

  test("null geometries and empty layers round-trip (IMMA / G9 shapes)") {
    val (names, feats) = roundTrip(Seq("Title"),
      Seq((null, Seq("a")), (null, Seq("b"))))
    assert(names === Seq("Title"))
    assert(feats.map(_.wkt) === Seq(null, null))
    assert(feats.map(_.attrs("Title")) === Seq("a", "b"))
    val (_, empty) = roundTrip(Nil, Nil)
    assert(empty.isEmpty)
  }

  test("reference windfarm polygon layers: read → write → read is geometry-stable") {
    val src = "/root/reference/data/eurosea_spatial/Ecological impact monitoring offshore windfarms"
    import scala.jdk.CollectionConverters._
    val shp = Files.walk(java.nio.file.Paths.get(src)).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".shp"))
      .toArray.sortBy(_.getName)
    assert(shp.length === 4)
    shp.foreach { f =>
      val (fields, feats) = Shapefile.read(f.getPath)
      val (fields2, feats2) = roundTrip(fields,
        feats.map(ft => (ft.wkt, fields.map(ft.attrs.get(_).orNull))))
      assert(fields2 === fields, f.getName)
      // some source files carry CCW outer rings (spec violation the
      // reader tolerates); the writer normalizes orientation, so compare
      // through the writer's own canonicalizing parser rather than raw
      // WKT text
      assert(feats2.map(ft => ShapefileWriter.wktToParts(ft.wkt)) ===
        feats.map(ft => ShapefileWriter.wktToParts(ft.wkt)), f.getName)
      assert(feats2.map(_.attrs) === feats.map(_.attrs), f.getName)
    }
  }

  /** A three-point layer; its .shp records sit at 100, 128 and 156. */
  private def pointLayer(): String = {
    val dir = Files.createTempDirectory("shpbad").toString
    ShapefileWriter.write(dir, "layer", Seq("id", "name"),
      Seq(("POINT (1 2)", Seq("1", "alpha")), ("POINT (3 4)", Seq("2", "beta")),
        ("POINT (5 6)", Seq("3", "gamma"))))
    s"$dir/layer"
  }

  /** Reading `base`.shp fails on `file` at byte `offset`. */
  private def rejects(base: String, file: String, offset: Long): Unit = {
    val e = intercept[MalformedShapefileException](Shapefile.read(s"$base.shp"))
    assert(e.path === file && e.getMessage.contains(file), e.getMessage)
    assert(e.offset === offset, e.getMessage)
  }

  test("a truncated or mis-sized .shp record fails naming the file and offset") {
    val base = pointLayer()
    val shp = s"$base.shp"
    val good = Files.readAllBytes(Paths.get(shp))
    assert(good.length === 184)
    def rejectsBytes(bytes: Array[Byte], offset: Long): Unit = {
      Files.write(Paths.get(shp), bytes)
      rejects(base, shp, offset)
    }
    def secondRecordLength(words: Int): Array[Byte] = {
      val b = good.clone()
      ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN).putInt(128 + 4, words)
      b
    }
    // cut mid-record, then at a record boundary: the file ends before
    // the length its header declares
    rejectsBytes(good.take(175), 175)
    rejectsBytes(good.take(156), 156)
    // the second record's content length: oversized, zero, and too
    // short for the point it holds
    rejectsBytes(secondRecordLength(0x7FFFFFFF), 128)
    rejectsBytes(secondRecordLength(0), 128)
    rejectsBytes(secondRecordLength(2), 128)
    Files.write(Paths.get(shp), good)
    assert(Shapefile.read(shp)._2.map(_.wkt) === Seq("POINT (1 2)", "POINT (3 4)", "POINT (5 6)"))
  }

  test("a truncated .dbf fails instead of reading null fields") {
    val base = pointLayer()
    val dbf = s"$base.dbf"
    val good = Files.readAllBytes(Paths.get(dbf))
    Files.write(Paths.get(dbf), good.dropRight(4))
    rejects(base, dbf, good.length - 4)
    // without its .shp (the IMMA shape) the same check applies
    Files.delete(Paths.get(s"$base.shp"))
    rejects(base, dbf, good.length - 4)
    // a header size that leaves no room for the field terminator
    val small = good.clone()
    ByteBuffer.wrap(small).order(ByteOrder.LITTLE_ENDIAN).putShort(8, 32.toShort)
    Files.write(Paths.get(dbf), small)
    rejects(base, dbf, 8)
    Files.write(Paths.get(dbf), good)
    assert(Shapefile.read(s"$base.shp")._2.map(_.attrs("name")) === Seq("alpha", "beta", "gamma"))
  }

  test("generated spec-oriented geometries of every shape type round-trip") {
    import graft.functions.GeoFunctions.formatCoordinate
    // rectangles: outer rings clockwise, holes counter-clockwise, closed
    val corner = for {
      x <- Gen.chooseNum(-1800, 1800); y <- Gen.chooseNum(-900, 900)
      w <- Gen.chooseNum(1, 500); h <- Gen.chooseNum(1, 500)
    } yield (x / 10.0, y / 10.0, w / 10.0, h / 10.0)
    def ring(clockwise: Boolean) = corner.map { case (x, y, w, h) =>
      val ccw = Seq((x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y))
      (if (clockwise) ccw.reverse else ccw)
        .map { case (a, b) => s"${formatCoordinate(a)} ${formatCoordinate(b)}" }.mkString("(", ", ", ")")
    }
    val polygon = for {
      outer <- ring(clockwise = true)
      holes <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, ring(clockwise = false)))
    } yield (outer +: holes).mkString("(", ", ", ")")
    val position = Gen.chooseNum(-180.0, 180.0).map(formatCoordinate)
      .flatMap(x => Gen.chooseNum(-90.0, 90.0).map(y => s"$x ${formatCoordinate(y)}"))
    def some[A](min: Int, g: Gen[A]) = Gen.chooseNum(min, 4).flatMap(Gen.listOfN(_, g))
    def group(items: Seq[String]) = items.mkString("(", ", ", ")")
    val line = some(2, position).map(group)
    val shape = Gen.oneOf(
      Gen.const(position.map(p => s"POINT ($p)")),
      Gen.const(some(1, position).map(ps => "MULTIPOINT " + group(ps.map(p => s"($p)")))),
      Gen.const(line.map("LINESTRING " + _)),
      Gen.const(some(2, line).map("MULTILINESTRING " + group(_))),
      Gen.const(polygon.map("POLYGON " + _)),
      Gen.const(some(2, polygon).map("MULTIPOLYGON " + group(_))))
    // a layer holds one shape type: several geometries of one generator
    val layer = shape.flatMap(g => some(1, g))
    Await.result(Future {
      (0 until 150).foreach { i =>
        layer(Gen.Parameters.default, Seed(i.toLong)).foreach { wkts =>
          val (_, feats) = roundTrip(Nil, wkts.map(w => (w, Nil)))
          assert(feats.map(_.wkt) === wkts)
        }
      }
    }(ExecutionContext.global), 2.minutes)
  }

  test("mixed geometry types in one layer are rejected") {
    intercept[IllegalArgumentException] {
      roundTrip(Nil, Seq(("POINT (1 2)", Nil), ("LINESTRING (0 0, 1 1)", Nil)))
    }
  }
}
