package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions.{WktList, WktPosition, WktTree}

/** Binary ESRI Shapefile writer — the true K1 sink (reference
  * `write_sf(.../{identifier}/{identifier}.shp)`, notebooks/index.Rmd:
  * 410-411,436,481,500,534,553,584-585), inverse of [[Shapefile]].
  * Emits the full GeoNode-importable bundle: `.shp` (geometry), `.shx`
  * (record index), `.dbf` (attributes, all fields as type-C text like
  * the reader consumes), `.prj` (WGS84).
  *
  * Geometry comes in as WKT — the pipeline's carrier format, parsed by
  * [[graft.functions.GeoFunctions.parseWkt]] — and maps onto the same
  * shape types the reader parses: POINT→1, LINESTRING/MULTILINESTRING→3,
  * POLYGON/MULTIPOLYGON→5, MULTIPOINT→8, null WKT and `<TYPE> EMPTY`→0
  * (null shape: the IMMA attrs-without-geometry case, and an empty
  * GeoJSON geometry as `geojson_sf` reads it). Ring orientation is
  * normalized to spec on write (outer rings clockwise, holes
  * counter-clockwise, rings closed, [[Shapefile.signedArea]]), so
  * `write → Shapefile.read` round-trips WKT byte-for-byte for
  * spec-oriented input.
  *
  * Driver-side like the reader (per-dataset layers are config-scale).
  */
object ShapefileWriter {

  private val Wgs84Prj =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""

  // ----------------------------------------------------------- WKT

  /** A tree's positions as (x, y); further ordinates are dropped. */
  private def points(t: WktTree): Seq[(Double, Double)] = t match {
    case WktPosition(Seq(x, y, _*)) => Seq((x.toDouble, y.toDouble))
    case WktPosition(lexemes) =>
      throw new IllegalArgumentException(s"WKT position '${lexemes.mkString(" ")}' has fewer than two ordinates")
    case WktList(items) => items.flatMap(points)
  }

  private def close(ring: Seq[(Double, Double)]): Seq[(Double, Double)] =
    if (ring.nonEmpty && ring.head != ring.last) ring :+ ring.head else ring

  /** Polygon rings in file order with spec orientation: first ring of
    * each polygon clockwise (outer), the rest counter-clockwise (holes).
    */
  private def orientPolygon(rings: Seq[Seq[(Double, Double)]]): Seq[Seq[(Double, Double)]] =
    rings.zipWithIndex.map { case (r0, i) =>
      val r = close(r0)
      val ccw = Shapefile.signedArea(r) > 0
      if ((i == 0 && ccw) || (i > 0 && !ccw)) r.reverse else r
    }

  /** (shapeType, parts). Parts are point runs; for type 1/8 a single
    * run, for 3/5 one run per line/ring.
    */
  private[io] def wktToParts(wkt: String): (Int, Seq[Seq[(Double, Double)]]) =
    if (wkt == null) (0, Nil)
    else GeoFunctions.parseWkt(wkt) match {
      case (_, None) => (0, Nil)
      case ("POINT", Some(tree)) => (1, Seq(points(tree)))
      case ("MULTIPOINT", Some(tree)) => (8, Seq(points(tree)))
      case ("LINESTRING", Some(tree)) => (3, Seq(points(tree)))
      case ("MULTILINESTRING", Some(WktList(lines))) => (3, lines.map(points))
      case ("MULTILINESTRING", Some(tree)) => (3, Seq(points(tree)))
      case ("POLYGON", Some(WktList(rings))) => (5, orientPolygon(rings.map(points)))
      case ("POLYGON", Some(tree)) => (5, orientPolygon(Seq(points(tree))))
      case ("MULTIPOLYGON", Some(WktList(polys))) => (5, polys.flatMap {
        case WktList(rings) => orientPolygon(rings.map(points))
        case p => orientPolygon(Seq(points(p)))
      })
      case ("MULTIPOLYGON", Some(_)) => (5, Nil)
      case (other, _) => throw new IllegalArgumentException(s"unsupported WKT type $other")
    }

  // ----------------------------------------------------------- .shp/.shx

  private def recordContentBytes(shapeType: Int, parts: Seq[Seq[(Double, Double)]]): Int =
    shapeType match {
      case 0 => 4
      case 1 => 4 + 16
      case 8 => 4 + 32 + 4 + 16 * parts.map(_.length).sum
      case 3 | 5 => 4 + 32 + 4 + 4 + 4 * parts.length + 16 * parts.map(_.length).sum
    }

  private def putBbox(b: ByteBuffer, ps: Seq[(Double, Double)]): Unit = {
    b.putDouble(ps.map(_._1).min); b.putDouble(ps.map(_._2).min)
    b.putDouble(ps.map(_._1).max); b.putDouble(ps.map(_._2).max)
  }

  private def putRecord(b: ByteBuffer, shapeType: Int,
                        parts: Seq[Seq[(Double, Double)]]): Unit = {
    b.putInt(shapeType)
    shapeType match {
      case 0 => ()
      case 1 =>
        val (x, y) = parts.head.head
        b.putDouble(x); b.putDouble(y)
      case 8 =>
        val ps = parts.flatten
        putBbox(b, ps)
        b.putInt(ps.length)
        ps.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
      case 3 | 5 =>
        val ps = parts.flatten
        putBbox(b, ps)
        b.putInt(parts.length)
        b.putInt(ps.length)
        var off = 0
        parts.foreach { p => b.putInt(off); off += p.length }
        ps.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
    }
  }

  private def mainHeader(fileBytes: Int, shapeType: Int,
                         allPts: Seq[(Double, Double)]): Array[Byte] = {
    val h = ByteBuffer.allocate(100)
    h.order(ByteOrder.BIG_ENDIAN)
    h.putInt(9994); h.position(24)
    h.putInt(fileBytes / 2)
    h.order(ByteOrder.LITTLE_ENDIAN)
    h.putInt(1000)
    h.putInt(shapeType)
    if (allPts.nonEmpty) putBbox(h, allPts)
    else { h.putDouble(0); h.putDouble(0); h.putDouble(0); h.putDouble(0) }
    // zmin/zmax/mmin/mmax stay 0
    h.array()
  }

  // ----------------------------------------------------------- .dbf

  private def writeDbf(path: java.nio.file.Path, fields: Seq[String],
                       rows: Seq[Seq[String]]): Unit = {
    val enc = rows.map(_.map(v =>
      if (v == null) Array.empty[Byte] else v.getBytes(StandardCharsets.UTF_8)))
    val lens = fields.indices.map { i =>
      math.max(1, math.min(254, if (enc.isEmpty) 1 else enc.map(_(i).length).max))
    }
    val headerSize = 32 + 32 * fields.length + 1
    val recSize = 1 + lens.sum
    // both are unsigned 16-bit in the DBF header; silently wrapping
    // would corrupt every record offset
    require(headerSize <= 0xFFFF, s"too many DBF fields (${fields.length})")
    require(recSize <= 0xFFFF, s"DBF record too wide ($recSize bytes)")
    val b = ByteBuffer.allocate(headerSize + recSize * rows.length + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x03.toByte)
    // fixed last-update date (determinism — readers ignore it)
    b.put(24.toByte); b.put(1.toByte); b.put(1.toByte)
    b.putInt(rows.length)
    b.putShort(headerSize.toShort)
    b.putShort(recSize.toShort)
    b.position(32)
    fields.zip(lens).foreach { case (name, len) =>
      val start = b.position()
      // 11 name bytes (the reader consumes all 11; shorter names are
      // null-terminated by the zero-initialized buffer)
      val nb = name.getBytes(StandardCharsets.ISO_8859_1).take(11)
      b.put(nb)
      b.position(start + 11)
      b.put('C'.toByte)
      b.position(start + 16)
      b.put(len.toByte)
      b.put(0.toByte) // decimal count
      b.position(start + 32)
    }
    b.put(0x0D.toByte)
    enc.foreach { row =>
      b.put(' '.toByte) // not deleted
      row.zip(lens).foreach { case (vb, len) =>
        val cut = vb.take(len)
        b.put(cut)
        var pad = len - cut.length
        while (pad > 0) { b.put(' '.toByte); pad -= 1 }
      }
    }
    b.put(0x1A.toByte)
    Files.write(path, b.array())
  }

  // ----------------------------------------------------------- entry

  /** Writes `outDir/{name}.shp|.shx|.dbf|.prj`. `feats` = (wkt, attrs in
    * `fields` order); null WKT → null-shape record. All non-null
    * geometries must map to one shape type (the single-type gate the
    * reference applies upstream, index.Rmd:475).
    */
  def write(outDir: String, name: String, fields: Seq[String],
            feats: Seq[(String, Seq[String])]): Unit = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val parsed = feats.map { case (wkt, _) => wktToParts(wkt) }
    val types = parsed.map(_._1).filter(_ != 0).distinct
    require(types.length <= 1,
      s"mixed shape types ${types.mkString(",")} in one shapefile ($name)")
    val fileType = types.headOption.getOrElse(0)

    val contentSizes = parsed.map { case (st, parts) => recordContentBytes(st, parts) }
    val shpBytes = 100 + contentSizes.map(_ + 8).sum
    val allPts = parsed.flatMap(_._2.flatten)

    val shp = ByteBuffer.allocate(shpBytes)
    shp.put(mainHeader(shpBytes, fileType, allPts))
    val shx = ByteBuffer.allocate(100 + 8 * parsed.length)
    shx.put(mainHeader(100 + 8 * parsed.length, fileType, allPts))
    shx.order(ByteOrder.BIG_ENDIAN)
    var off = 100
    parsed.zipWithIndex.foreach { case ((st, parts), i) =>
      val content = contentSizes(i)
      shp.order(ByteOrder.BIG_ENDIAN)
      shp.putInt(i + 1)
      shp.putInt(content / 2)
      shp.order(ByteOrder.LITTLE_ENDIAN)
      putRecord(shp, st, parts)
      shx.putInt(off / 2)
      shx.putInt(content / 2)
      off += 8 + content
    }
    Files.write(dir.resolve(s"$name.shp"), shp.array())
    Files.write(dir.resolve(s"$name.shx"), shx.array())
    writeDbf(dir.resolve(s"$name.dbf"), fields, feats.map(_._2))
    Files.writeString(dir.resolve(s"$name.prj"), Wgs84Prj)
  }
}
