package graft.functions

import java.io.IOException
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial functions (SURVEY §2.9) and the engine's one geometry codec:
  * the only module that parses GeoJSON or WKT text. Offline constraint:
  * no Sedona jar, so geometries travel as WKT/GeoJSON `StringType`
  * columns (SURVEY §1), WKT being the format the pipeline passes them
  * around in.
  *
  *  - GeoJSON is read with Jackson's tree model ([[graft.Json.tree]]),
  *    and each geometry node becomes WKT in one step: Point, MultiPoint,
  *    LineString, MultiLineString, Polygon, MultiPolygon, unwrapped from
  *    Features and FeatureCollections.
  *  - WKT is read by one tree parser ([[parseWkt]]) whose leaves are the
  *    coordinate lexemes; GeoJSON output keeps them verbatim and
  *    [[graft.io.ShapefileWriter]] parses them to doubles.
  *  - WKT coordinates are printed by one formatter ([[formatCoordinate]]),
  *    which [[graft.io.Shapefile]] uses too.
  *
  * Besides these: WKT point construction, geometry-type sniffing, and
  * the UTM zone 30N → WGS84 inverse transform (reference
  * `st_transform(32630, 4326)`, notebooks/index.Rmd:533).
  */
object GeoFunctions {

  /** WKT POINT from lon/lat columns; either null → "POINT EMPTY"
    * (reference notebooks/index.Rmd:285). */
  def wktPoint(lon: Column, lat: Column): Column =
    when(lon.isNull || lat.isNull, lit("POINT EMPTY"))
      .otherwise(concat(lit("POINT ("), lon.cast("string"), lit(" "),
        lat.cast("string"), lit(")")))

  /** Geometry type of a GeoJSON document (reference `st_geometry_type`
    * gate, notebooks/index.Rmd:409): the top-level `type`, or for a
    * FeatureCollection the type of the first feature's geometry. */
  def geojsonType(c: Column): Column = {
    val top = get_json_object(c, "$.type")
    when(top === "FeatureCollection",
      get_json_object(c, "$.features[0].geometry.type")).otherwise(top)
  }

  // ------------------------------------------------------------------
  // Coordinates

  /** The one coordinate formatter of WKT this engine prints: integral
    * values below 1e15 without a fraction, all others as
    * `Double.toString`. */
  private[graft] def formatCoordinate(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  // ------------------------------------------------------------------
  // GeoJSON → WKT (reference `geojson_sf`, notebooks/index.Rmd:408)

  /** The geometry nodes of a GeoJSON document: every feature's
    * `geometry` of a FeatureCollection (null where a feature has none),
    * a Feature's `geometry`, or the document itself. */
  private def geometries(geojson: String): Seq[JsonNode] = {
    if (geojson == null || geojson.isBlank) return Nil
    val doc = Json.tree(geojson)
    typeOf(doc) match {
      case Some("FeatureCollection") =>
        Option(doc.get("features")).filter(_.isArray).toSeq
          .flatMap(_.elements.asScala.map(_.get("geometry")))
      case Some("Feature") => Seq(doc.get("geometry"))
      case _ => Seq(doc)
    }
  }

  private def typeOf(node: JsonNode): Option[String] =
    Option(node).flatMap(n => Option(n.get("type"))).filter(_.isTextual).map(_.textValue)

  /** One geometry node → (WKT, GeoJSON type); None when the node is not
    * a geometry (null, no string `type`, no `coordinates`). Empty
    * `coordinates` are `<TYPE> EMPTY`; a type outside the six below is
    * `GEOMETRYCOLLECTION EMPTY`. Coordinates that do not fit the type (a
    * non-array, an empty nested list, a position of fewer than two
    * numbers or with a member that is not a number) throw
    * `IllegalArgumentException`.
    */
  private def geometryWkt(node: JsonNode): Option[(String, String)] =
    typeOf(node).filter(_ => node.has("coordinates")).map { typ =>
      def fail(n: JsonNode, what: String) =
        throw new IllegalArgumentException(s"GeoJSON $typ: $n is not $what")
      def list(n: JsonNode): Seq[JsonNode] =
        if (n.isArray && !n.isEmpty) n.elements.asScala.toSeq else fail(n, "a non-empty array")
      def position(n: JsonNode): String = {
        val xs = list(n)
        if (xs.length < 2 || !xs.forall(_.isNumber)) fail(n, "a position")
        xs.map(x => formatCoordinate(x.doubleValue)).mkString(" ")
      }
      def group(items: Seq[String]) = items.mkString("(", ", ", ")")
      def line(n: JsonNode) = group(list(n).map(position))
      def polygon(n: JsonNode) = group(list(n).map(line))
      val render: Option[JsonNode => String] = typ match {
        case "Point" => Some(n => s"(${position(n)})")
        case "MultiPoint" => Some(n => group(list(n).map(p => s"(${position(p)})")))
        case "LineString" => Some(line)
        case "MultiLineString" => Some(n => group(list(n).map(line)))
        case "Polygon" => Some(polygon)
        case "MultiPolygon" => Some(n => group(list(n).map(polygon)))
        case _ => None
      }
      val coords = node.get("coordinates")
      val wktType = typ.toUpperCase(Locale.ROOT)
      val wkt = render match {
        case None => "GEOMETRYCOLLECTION EMPTY"
        case Some(_) if coords.isArray && coords.isEmpty => s"$wktType EMPTY"
        case Some(r) => s"$wktType ${r(coords)}"
      }
      (wkt, typ)
    }

  /** Every feature of a GeoJSON document as (WKT, GeoJSON type), in
    * document order; features without a geometry are skipped (reference
    * `geojson_sf`, index.Rmd:407-408). A null or blank document, one
    * Jackson cannot read (including one nested deeper than its limit)
    * and one with any invalid geometry all yield no features.
    */
  def geojsonFeatures(geojson: String): Seq[(String, String)] =
    try geometries(geojson).flatMap(geometryWkt)
    catch { case _: IOException | _: IllegalArgumentException => Nil }

  /** GeoJSON → WKT of the document's first geometry (a
    * FeatureCollection's first feature: the reference's single-type
    * gate G6 has already filtered mixed ones); null where
    * [[geojsonFeatures]] would find no first geometry.
    */
  def geojsonToWktStr(geojson: String): String =
    try geometries(geojson).headOption.flatMap(geometryWkt).map(_._1).orNull
    catch { case _: IOException | _: IllegalArgumentException => null }

  private val geojsonToWktUdf = udf(geojsonToWktStr _)
  def geojsonToWkt(c: Column): Column = geojsonToWktUdf(c)

  // ------------------------------------------------------------------
  // WKT → GeoJSON (reference `sfc_geojson`, notebooks/index.Rmd:332, and
  // the geometry sink's serialization). Handles every type the pipeline
  // produces: POINT, MULTIPOINT, LINESTRING, MULTILINESTRING, POLYGON,
  // MULTIPOLYGON, plus EMPTY variants. Coordinate lexemes are carried
  // through verbatim (no parse→print float churn).

  /** A WKT coordinate tree: one position's number lexemes, or a
    * parenthesised list. */
  private[graft] sealed trait WktTree
  private[graft] final case class WktPosition(lexemes: Seq[String]) extends WktTree
  private[graft] final case class WktList(items: Seq[WktTree]) extends WktTree

  /** WKT → (upper-case type, coordinate tree); no tree for `EMPTY` or
    * no coordinates. Malformed text may throw. */
  private[graft] def parseWkt(wkt: String): (String, Option[WktTree]) = {
    val t = wkt.trim
    val sp = t.indexWhere(c => c == '(' || c.isWhitespace)
    val typ = (if (sp < 0) t else t.substring(0, sp)).toUpperCase(Locale.ROOT)
    val rest = if (sp < 0) "" else t.substring(sp).trim
    (typ, if (rest == "EMPTY" || rest.isEmpty) None else Some(parseTree(rest, 0)._1))
  }

  // FORMAT whitespace (WKT grammar separators), deliberately NOT
  // Kernels.isRegexWs: the r17 tokenizer contract governs document-text
  // tokenization against string_split_regex oracles; no oracle ever
  // tokenizes WKT text, whose inputs are this engine's own writers plus
  // the reference's ASCII files. isWhitespace is the lenient superset.
  private def parseTree(s: String, start: Int): (WktTree, Int) = {
    var i = start
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    if (s.charAt(i) == '(') {
      i += 1
      val items = Seq.newBuilder[WktTree]
      var done = false
      while (!done) {
        val (item, next) = parseTree(s, i)
        items += item
        i = next
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
        if (i < s.length && s.charAt(i) == ',') i += 1
        else { if (i < s.length && s.charAt(i) == ')') i += 1; done = true }
      }
      (WktList(items.result()), i)
    } else {
      val from = i
      while (i < s.length && s.charAt(i) != ',' && s.charAt(i) != ')') i += 1
      (WktPosition(s.substring(from, i).trim.split("\\s+").toSeq), i)
    }
  }

  private def renderPairs(w: WktTree): String = w match {
    case WktPosition(lexemes) => lexemes.mkString("[", ",", "]")
    case WktList(Seq(p: WktPosition)) => renderPairs(p) // "((x y))" nesting
    case WktList(items) => items.map(renderPairs).mkString("[", ",", "]")
  }

  /** General WKT → GeoJSON; null/unparseable → null. */
  def wktToGeoJsonStr(wkt: String): String = {
    if (wkt == null || wkt.trim.isEmpty) return null
    try {
      val (typ, tree) = parseWkt(wkt)
      val gjType = typ match {
        case "POINT" => "Point"
        case "MULTIPOINT" => "MultiPoint"
        case "LINESTRING" => "LineString"
        case "MULTILINESTRING" => "MultiLineString"
        case "POLYGON" => "Polygon"
        case "MULTIPOLYGON" => "MultiPolygon"
        case "GEOMETRYCOLLECTION" =>
          return if (tree.isEmpty) """{"type":"GeometryCollection","geometries":[]}"""
          else null // nested collections: out of the reference's scope
        case _ => return null
      }
      val coords = tree match {
        case None => "[]"
        case Some(WktList(Seq(p: WktPosition))) if gjType == "Point" => renderPairs(p)
        // both "MULTIPOINT ((1 2), (3 4))" and "MULTIPOINT (1 2, 3 4)"
        case Some(WktList(items)) if gjType == "MultiPoint" || gjType == "LineString" =>
          items.map(renderPairs).mkString("[", ",", "]")
        case Some(w) => renderPairs(w)
      }
      s"""{"type":"$gjType","coordinates":$coords}"""
    } catch { case _: Exception => null }
  }

  private val wktToGeoJsonUdf = udf(wktToGeoJsonStr _)
  def wktToGeoJson(c: Column): Column = wktToGeoJsonUdf(c)

  // ------------------------------------------------------------------
  // UTM zone 30N (EPSG:32630) → WGS84 lon/lat — closed-form inverse
  // Transverse Mercator (Karney-style series, WGS84 ellipsoid). Public
  // formulae; accurate to << 1 cm over the zone.

  private val A = 6378137.0 // semi-major
  private val F = 1.0 / 298.257223563
  private val K0 = 0.9996
  private val E2 = F * (2 - F)
  private val Ep = E2 / (1 - E2)
  private val Lon0 = math.toRadians(-3.0) // zone 30N central meridian

  /** Inverse UTM 30N: (easting, northing) → (lon, lat) degrees.
    * Standard USGS/Snyder series expansion (public domain formulae).
    */
  def utm30nToLonLat(easting: Double, northing: Double): (Double, Double) = {
    val x = easting - 500000.0
    val y = northing
    val m = y / K0
    val mu = m / (A * (1 - E2 / 4 - 3 * E2 * E2 / 64 - 5 * E2 * E2 * E2 / 256))
    val e1 = (1 - math.sqrt(1 - E2)) / (1 + math.sqrt(1 - E2))
    val phi1 = mu +
      (3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * math.sin(2 * mu) +
      (21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * math.sin(4 * mu) +
      (151 * math.pow(e1, 3) / 96) * math.sin(6 * mu) +
      (1097 * math.pow(e1, 4) / 512) * math.sin(8 * mu)
    val sin1 = math.sin(phi1); val cos1 = math.cos(phi1); val tan1 = sin1 / cos1
    val c1 = Ep * cos1 * cos1
    val t1 = tan1 * tan1
    val n1 = A / math.sqrt(1 - E2 * sin1 * sin1)
    val r1 = A * (1 - E2) / math.pow(1 - E2 * sin1 * sin1, 1.5)
    val d = x / (n1 * K0)
    val lat = phi1 - (n1 * tan1 / r1) * (d * d / 2 -
      (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * Ep) * math.pow(d, 4) / 24 +
      (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * Ep - 3 * c1 * c1) * math.pow(d, 6) / 720)
    val lon = Lon0 + (d - (1 + 2 * t1 + c1) * math.pow(d, 3) / 6 +
      (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * Ep + 24 * t1 * t1) * math.pow(d, 5) / 120) / cos1
    (math.toDegrees(lon), math.toDegrees(lat))
  }

  private val utmLonUdf = udf((e: Double, n: Double) => utm30nToLonLat(e, n)._1)
  private val utmLatUdf = udf((e: Double, n: Double) => utm30nToLonLat(e, n)._2)
  def utm30nLon(e: Column, n: Column): Column = utmLonUdf(e, n)
  def utm30nLat(e: Column, n: Column): Column = utmLatUdf(e, n)
}
