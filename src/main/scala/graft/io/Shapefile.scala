package graft.io

import java.io.{File, IOException}
import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.functions.GeoFunctions.{formatCoordinate => fmt}

/** Minimal ESRI Shapefile (.shp + .dbf) reader (reference `read_sf`,
  * notebooks/index.Rmd:473-474,499). Offline constraint: no GDAL/Sedona
  * jars, so this parses the two binary formats directly and emits WKT
  * strings, coordinates printed by the codec's one formatter
  * ([[graft.functions.GeoFunctions.formatCoordinate]]): exactly the
  * geometry types the reference data contains: Point (1), PolyLine (3),
  * Polygon (5), MultiPoint (8), Null (0).
  *
  * Polygon ring grouping follows the shapefile spec: outer rings are
  * clockwise (negative shoelace area), holes counter-clockwise; holes
  * attach to the preceding outer ring. Multiple outers → MULTIPOLYGON.
  *
  * Driver-side source (spatial layers are config-scale). If the .shp
  * is absent but the .dbf exists (the IMMA bundle in the reference data
  * ships without its .shp), attribute rows are returned with null
  * geometry so feature counts remain testable.
  *
  * Both files are checked against their own headers: a record or a
  * table that does not fit in the file raises [[MalformedShapefileException]]
  * instead of returning fewer or emptier features.
  */
object Shapefile {

  case class Feature(attrs: Map[String, String], wkt: String, geomType: String)

  /** (DBF field names in file order, features). */
  def read(shpPath: String): (Seq[String], Seq[Feature]) = {
    val dbfPath = shpPath.replaceAll("\\.shp$", ".dbf")
    val (fieldNames, attrs): (Seq[String], Seq[Map[String, String]]) =
      if (new File(dbfPath).exists()) readDbf(dbfPath) else (Seq.empty, Seq.empty)
    val geoms: Seq[(String, String)] =
      if (new File(shpPath).exists()) readShp(shpPath) else Seq.empty
    val n = math.max(attrs.length, geoms.length)
    val feats = (0 until n).map { i =>
      val (wkt, gt) = if (i < geoms.length) geoms(i) else (null, null)
      Feature(if (i < attrs.length) attrs(i) else Map.empty, wkt, gt)
    }
    (fieldNames, feats)
  }

  // ------------------------------------------------------------- .shp

  private def readShp(path: String): Seq[(String, String)] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    def fail(off: Long, detail: String) = throw new MalformedShapefileException(path, off, detail)
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    if (bytes.length < 100) fail(0, s"${bytes.length}-byte file is shorter than the 100-byte header")
    // the header's file length counts 16-bit words
    val declared = (be.getInt(24) & 0xFFFFFFFFL) * 2
    if (declared > bytes.length)
      fail(bytes.length, s"file is truncated: the header declares $declared bytes, the file has ${bytes.length}")
    val out = Seq.newBuilder[(String, String)]
    var off = 100 // past the 100-byte header
    while (off < bytes.length) {
      if (off + 8 > bytes.length) fail(off, "record header is truncated")
      // content length counts 16-bit words and must hold the shape type
      val contentLen = (be.getInt(off + 4) & 0xFFFFFFFFL) * 2
      if (contentLen < 4 || off + 8 + contentLen > bytes.length)
        fail(off, s"record content length $contentLen does not fit in the ${bytes.length}-byte file")
      val rec = ByteBuffer.wrap(bytes, off + 8, contentLen.toInt).order(ByteOrder.LITTLE_ENDIAN)
      out += (try parseRecord(rec) catch {
        case _: BufferUnderflowException => fail(off, "geometry runs past the end of its record")
      })
      off += 8 + contentLen.toInt
    }
    out.result()
  }

  private def parseRecord(b: ByteBuffer): (String, String) = {
    def point() = { val x = b.getDouble; (x, b.getDouble) }
    val shapeType = b.getInt
    shapeType match {
      case 0 => (null, null)
      case 1 => (s"POINT (${position(point())})", "POINT")
      case 8 =>
        b.position(b.position() + 32) // bbox
        val n = b.getInt
        (s"MULTIPOINT ${group((0 until n).map(_ => s"(${position(point())})"))}", "MULTIPOINT")
      case 3 | 5 =>
        b.position(b.position() + 32) // bbox
        val numParts = b.getInt
        val numPoints = b.getInt
        val parts = (0 until numParts).map(_ => b.getInt)
        val pts = (0 until numPoints).map(_ => point())
        val rings = parts.zipWithIndex.map { case (start, i) =>
          val end = if (i + 1 < numParts) parts(i + 1) else numPoints
          pts.slice(start, end)
        }
        if (shapeType == 5) polygonWkt(rings)
        else if (rings.length == 1) (s"LINESTRING ${line(rings.head)}", "LINESTRING")
        else (s"MULTILINESTRING ${group(rings.map(line))}", "MULTILINESTRING")
      case other =>
        (null, s"UNSUPPORTED_$other")
    }
  }

  private def position(p: (Double, Double)): String = s"${fmt(p._1)} ${fmt(p._2)}"
  private def group(items: Seq[String]): String = items.mkString("(", ", ", ")")
  private def line(points: Seq[(Double, Double)]): String = group(points.map(position))

  /** Shoelace signed area: > 0 = counter-clockwise (hole per spec). */
  private[io] def signedArea(ring: Seq[(Double, Double)]): Double = {
    var a = 0.0
    var i = 0
    while (i < ring.length - 1) {
      a += ring(i)._1 * ring(i + 1)._2 - ring(i + 1)._1 * ring(i)._2
      i += 1
    }
    a / 2
  }

  private def polygonWkt(rings: Seq[Seq[(Double, Double)]]): (String, String) = {
    // group: outer (CW, area<=0) starts a polygon; holes attach to it
    val polys = Seq.newBuilder[Seq[Seq[(Double, Double)]]]
    var current: List[Seq[(Double, Double)]] = Nil
    rings.foreach { r =>
      val isHole = signedArea(r) > 0
      if (!isHole) {
        if (current.nonEmpty) polys += current.reverse
        current = List(r)
      } else if (current.nonEmpty) current = r :: current
      else current = List(r) // malformed: hole first — treat as outer
    }
    if (current.nonEmpty) polys += current.reverse
    val ps = polys.result()
    if (ps.length == 1) (s"POLYGON ${group(ps.head.map(line))}", "POLYGON")
    else (s"MULTIPOLYGON ${group(ps.map(p => group(p.map(line))))}", "MULTIPOLYGON")
  }

  // ------------------------------------------------------------- .dbf

  private def readDbf(path: String): (Seq[String], Seq[Map[String, String]]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    def fail(off: Long, detail: String) = throw new MalformedShapefileException(path, off, detail)
    if (bytes.length < 32) fail(0, s"${bytes.length}-byte file is shorter than the 32-byte header")
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nRec = b.getInt(4) & 0xFFFFFFFFL
    val headerSize = b.getShort(8) & 0xFFFF
    val recSize = b.getShort(10) & 0xFFFF
    if (headerSize < 33) fail(8, s"header size $headerSize is below the 33-byte minimum")
    if (headerSize + nRec * recSize > bytes.length)
      fail(bytes.length, s"file is truncated: the header declares $nRec records of $recSize bytes " +
        s"after a $headerSize-byte header, the file has ${bytes.length} bytes")
    val nFields = (headerSize - 33) / 32
    val fields = (0 until nFields).map { i =>
      val off = 32 + i * 32
      val nameBytes = bytes.slice(off, off + 11).takeWhile(_ != 0)
      val name = new String(nameBytes, "ISO-8859-1")
      val len = bytes(off + 16) & 0xFF
      (name, len)
    }
    // a record is the deletion flag plus every field
    val fieldBytes = 1 + fields.map(_._2).sum
    if (nRec > 0 && fieldBytes > recSize)
      fail(32, s"fields span $fieldBytes bytes, more than the $recSize-byte record")
    val rows = (0 until nRec.toInt).map { r =>
      val recOff = headerSize + r * recSize
      var fieldOff = recOff + 1 // skip deletion flag
      fields.map { case (name, len) =>
        val raw = new String(bytes.slice(fieldOff, fieldOff + len), "UTF-8").trim
        fieldOff += len
        name -> (if (raw.isEmpty) null else raw)
      }.toMap
    }
    (fields.map(_._1), rows)
  }
}

/** A shapefile component (.shp or .dbf) whose bytes do not fit its own
  * header: `offset` is the byte at which the file stops making sense. */
final class MalformedShapefileException(val path: String, val offset: Long, detail: String)
  extends IOException(s"$path: $detail (byte offset $offset)")
