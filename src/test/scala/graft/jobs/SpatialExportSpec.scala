package graft.jobs

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.functions.GeoFunctions
import graft.io.{Shapefile, ShapefileWriter}
import org.apache.spark.sql.functions._

/** E1 stage 4 (spatial export): file-level assertions against the
  * reference data (`notebooks/index.Rmd:396-587`) and the rendered
  * missing-spatial table (~100 rows, docs/index.html).
  */
class SpatialExportSpec extends SparkSpec {

  private val dataDir = "/root/reference/data"

  private lazy val result: SpatialExport.Result = {
    val job = new LoadPortal(spark, dataDir)
    val out = Files.createTempDirectory("graft_spatial").toString
    SpatialExportSpec.lastOutDir = out
    SpatialExport.run(spark, job.withIdentifiers, dataDir, out)
  }

  test("every one of the 627 identifiers gets a geometry file (incl. empty ones, G9)") {
    result.withShapefileFlag.count() // force run
    val outDirs = new java.io.File(SpatialExportSpec.lastOutDir).listFiles()
    assert(outDirs.length === 627)
    outDirs.foreach { d =>
      // the reference's artifact: the shapefile bundle (K1), and it reads back
      assert(d.list().toSet === SpatialExportSpec.bundle(d.getName), s"wrong files in $d")
      Shapefile.read(new java.io.File(d, s"${d.getName}.shp").getPath)
    }
  }

  test("written shapefiles read back with the reader (IMMA attrs, windfarm polygons)") {
    result.withShapefileFlag.count() // force run
    val flagged = result.withShapefileFlag
    val imma = flagged.filter(col("name") === "IUCN Marine Mammal Protected Areas Task Force")
      .select(col("identifier")).collect().map(_.getString(0))
    assert(imma.nonEmpty)
    val (immaFields, immaFeats) = Shapefile.read(
      Paths.get(SpatialExportSpec.lastOutDir, imma.head, s"${imma.head}.shp").toString)
    assert(immaFeats.length === 159) // attrs preserved even without geometry
    assert(immaFields.contains("Title"))
    val wind = flagged.filter(col("name") === SpatialExport.windfarmName)
      .select(col("identifier")).collect().map(_.getString(0))
    val (_, windFeats) = Shapefile.read(
      Paths.get(SpatialExportSpec.lastOutDir, wind.head, s"${wind.head}.shp").toString)
    assert(windFeats.length === 3)
    assert(windFeats.forall(f => f.geomType == "POLYGON" || f.geomType == "MULTIPOLYGON"))
  }

  test("missing-spatial report = 372 rows (derived from the data itself)") {
    // the rendered html caps its tables at 100 rows (paged df_print), so
    // the golden here is data-derived: 627 total − flagged, where
    // flagged = 124 single-geometry-type FeatureCollection rows (5 mixed
    // ones skipped, index.Rmd:409) + 96 EuroSea groups with ≥1 point +
    // the spatial-manifest identifiers not already covered
    val n = result.missingSpatial.count()
    assert(n === 372L, s"missing_spatial = $n, expected 372")
  }

  test("has_shapefile true for geojson-column, site-CSV, and copy sources") {
    val flagged = result.withShapefileFlag.filter(col("has_shapefile"))
      .select(col("identifier")).collect().map(_.getString(0)).toSet
    Seq("ocean_tracking_network", "reef_life_survey",
      "iucn_marine_mammal_protected_areas_task_force").foreach(i =>
      assert(flagged.contains(i), s"$i should have spatial data"))
  }

  test("IMMA copy carries 159 features (BASELINE; .shp absent → null geometry)") {
    val (_, feats) = Shapefile.read(
      s"$dataDir/eurosea_spatial/iucn-imma-layer-shapefile_v2.4/iucn-imma-fixed/iucn-imma_oct20-fixed.shp")
    assert(feats.length === 159)
    assert(feats.head.attrs.contains("Title"))
  }

  test("windfarm gather keeps only polygon layers (3 of 4 shapefiles)") {
    val idents = result.withShapefileFlag
      .filter(col("name") === SpatialExport.windfarmName)
      .select(col("identifier")).collect().map(_.getString(0))
    assert(idents.nonEmpty)
    val feats = SpatialExportSpec.written(idents.head)
    // 3 polygon shapefiles × 1 feature each; the point layer is filtered out
    assert(feats.length === 3)
    assert(feats.forall(f => f.geomType == "POLYGON" || f.geomType == "MULTIPOLYGON"))
    assert(!feats.exists(_.geomType == "POINT"), "point layer must be filtered out")
  }

  test("WESPAS output is a single LINESTRING of 116 points (G8)") {
    val idents = result.withShapefileFlag
      .filter(col("name") === SpatialExport.wespasName)
      .select(col("identifier")).collect().map(_.getString(0))
    assert(idents.length === 1)
    val feats = SpatialExportSpec.written(idents.head)
    assert(feats.map(_.geomType) === Seq("LINESTRING"))
    assert(feats.head.wkt.stripPrefix("LINESTRING (").stripSuffix(")").split(", ").length === 116)
  }

  test("Spain TSV reprojects UTM 30N → plausible Basque-coast WGS84 (G7)") {
    val idents = result.withShapefileFlag
      .filter(col("name") === SpatialExport.spainName)
      .select(col("identifier")).collect().map(_.getString(0))
    assert(idents.nonEmpty)
    // Basque coast: lon ≈ -3.5..-1.5, lat ≈ 43..44
    val coords = SpatialExportSpec.written(idents.head).map { f =>
      val Array(lon, lat) = f.wkt.stripPrefix("POINT (").stripSuffix(")").split(" ").map(_.toDouble)
      (lon, lat)
    }
    assert(coords.nonEmpty)
    coords.foreach { case (lon, lat) =>
      assert(lon > -4 && lon < -1, s"lon $lon out of Basque range")
      assert(lat > 42.5 && lat < 44.5, s"lat $lat out of Basque range")
    }
  }

  test("hand-built combined frame: one bundle per identifier, flags and missing rows") {
    import spark.implicits._
    def point(x: Int, y: Int) = s"""{"type":"Point","coordinates":[$x,$y]}"""
    def collection(geoms: String*) = geoms.map(g =>
      s"""{"type":"Feature","geometry":$g,"properties":{}}""")
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    val combined = Seq[(String, String, String, String)](
      ("Point net", "point_net", point(1, 2), "u1"),
      ("Two net", "two_net", collection(point(1, 2), point(3, 4)), "u2"),
      ("Mixed net", "mixed_net",
        collection(point(1, 2), """{"type":"LineString","coordinates":[[0,0],[1,1]]}"""), "u3"),
      ("Null string net", "null_string_net", "null", "u4"),
      ("Null net", "null_net", null, "u5"),
      // registered site CSV whose input file is absent: flagged, empty bundle
      ("Movebank", "movebank", null, "u6"),
      // an empty geometry is one null-shape record
      ("Empty net", "empty_net", """{"type":"Point","coordinates":[]}""", "u7"),
      // invalid documents have no features, like unreadable ones
      ("Short net", "short_net", """{"type":"Point","coordinates":[5]}""", "u8"),
      ("Boolean net", "boolean_net", """{"type":"Point","coordinates":[true,false]}""", "u9"),
      ("Deep net", "deep_net", """{"type":"Point","coordinates":""" + "[" * 200000 + "]" * 200000 + "}", "u10"))
      .toDF("name", "identifier", "geometry_geojson", "url")
    val dataDir = Files.createTempDirectory("graft_spatial_data").toString
    val out = Files.createTempDirectory("graft_spatial_out").toString
    val r = SpatialExport.run(spark, combined, dataDir, out)

    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs === Set("point_net", "two_net", "mixed_net", "null_string_net", "null_net", "movebank",
      "empty_net", "short_net", "boolean_net", "deep_net"))
    dirs.foreach(id => assert(new java.io.File(out, id).list().toSet === SpatialExportSpec.bundle(id), id))
    val counts = dirs.map(id => id -> Shapefile.read(s"$out/$id/$id.shp")._2.length).toMap
    assert(counts === Map("point_net" -> 1, "two_net" -> 2, "mixed_net" -> 0,
      "null_string_net" -> 0, "null_net" -> 0, "movebank" -> 0,
      "empty_net" -> 1, "short_net" -> 0, "boolean_net" -> 0, "deep_net" -> 0))
    assert(Shapefile.read(s"$out/empty_net/empty_net.shp")._2.map(_.wkt) === Seq(null))

    val flags = r.withShapefileFlag.select(col("identifier"), col("has_shapefile"))
      .collect().map(row => row.getString(0) -> row.getBoolean(1)).toMap
    assert(flags === Map("point_net" -> true, "two_net" -> true, "mixed_net" -> false,
      "null_string_net" -> false, "null_net" -> false, "movebank" -> true,
      "empty_net" -> true, "short_net" -> false, "boolean_net" -> false, "deep_net" -> false))

    val missing = Seq(("Boolean net", "boolean_net", "u9"), ("Deep net", "deep_net", "u10"),
      ("Mixed net", "mixed_net", "u3"), ("Null net", "null_net", "u5"),
      ("Null string net", "null_string_net", "u4"), ("Short net", "short_net", "u8"))
    assert(r.missingSpatial.collect().map(row => (row.getString(0), row.getString(1), row.getString(2))).toSeq
      === missing)
    assert(r.missingIdentifiers === missing.map(_._2))
  }

  test("a Basque TSV row with an NA coordinate fails naming the file and the data row") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_spain_data")
    val tsv = dataDir.resolve(SpatialExport.spainTsv)
    Files.createDirectories(tsv.getParent)
    // the committed portal sample: its third data row is "NA\t4812003"
    val in = getClass.getResourceAsStream(s"/portal/${SpatialExport.spainTsv}")
    try Files.copy(in, tsv) finally in.close()
    val combined = Seq((SpatialExport.spainName, "basque", null: String, "u1"))
      .toDF("name", "identifier", "geometry_geojson", "url")
    val out = Files.createTempDirectory("graft_spain_out").toString
    val e = intercept[IllegalArgumentException](SpatialExport.run(spark, combined, dataDir.toString, out))
    assert(e.getMessage === s"$tsv: data row 3 has no numeric x and y")
  }

  test("a WESPAS sheet with no row holding both coordinates writes one null-shape record") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_wespas_data")
    val xlsx = dataDir.resolve(SpatialExport.wespasXlsx)
    Files.createDirectories(xlsx.getParent)
    E1ConcurrencySpec.xlsx(xlsx, Seq("Longitude", "Latitude", "Time"),
      Seq(Seq("-9.5", "", "t1"), Seq("", "52.1", "t2"), Seq("", "", "t3")))
    val combined = Seq((SpatialExport.wespasName, "wespas", null: String, "u1"))
      .toDF("name", "identifier", "geometry_geojson", "url")
    val out = Files.createTempDirectory("graft_wespas_out").toString
    val r = SpatialExport.run(spark, combined, dataDir.toString, out)
    assert(new java.io.File(out, "wespas").list().toSet === SpatialExportSpec.bundle("wespas"))
    assert(Shapefile.read(s"$out/wespas/wespas.shp")._2.map(_.wkt) === Seq(null))
    assert(r.withShapefileFlag.select(col("has_shapefile")).collect().map(_.getBoolean(0)).toSeq === Seq(true))
    assert(r.missingSpatial.count() === 0L)
    assert(r.missingIdentifiers.isEmpty)
  }

  test("hostile site CSVs: step 2 writes what per-file reads, the F2 filter and the WKT points wrote") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_site_data")
    Files.createDirectories(dataDir.resolve("largeCSVsites_final"))
    val inputs = Seq(
      // ragged rows, CRLF
      ("Movebank", "movebank",
        "event_id,Latitude,Longitude,attr\r\n1,10.5,20.5,a\r\n2,11.5\r\n3,12.5,22.5,c,x,y\r\n4,95,1,d\r\n"),
      // registered on MID_*, filtered on the literal Latitude (F2)
      ("Australian continuous plankton recorder survey (AusCPR)", "auscpr",
        "TRIP_CODE,MID_LATITUDE,MID_LONGITUDE,Latitude,Longitude\nt1,10,20,95,1\nt2,abc,21,45,2\nt3,91,22,NA,3\n"),
      // no literal Latitude: the registered column resolves case-insensitively
      ("Reef Life Survey", "reef_life_survey",
        "Site,latitude,LONGITUDE,Site,NA\na,1,2,b,c\nd,91,3,e,f\ng,-5,,h,\n"),
      // header only
      ("eOceans", "eoceans", "Network Name,Latitude,Longitude\n"),
      // junk and > 90 latitudes, quoting, NA and blank values
      ("Global ARMS Program", "global_arms_program",
        "Network Name,Latitude,Longitude,Note\n\"a, b\",91,1,x\nc,junk,2,\"\"\ne, 45 ,3,NA\nf,1e1,4,\ng,90.0,,h\n"))
    val registered = SpatialExport.siteCsvs.map(sc => sc.name -> sc).toMap
    inputs.foreach { case (name, _, body) =>
      Files.write(dataDir.resolve(s"largeCSVsites_final/${registered(name).file}"), body.getBytes("UTF-8"))
    }
    val combined = inputs.map { case (name, id, _) => (name, id, null: String, s"u_$id") }
      .toDF("name", "identifier", "geometry_geojson", "url")
    val out = Files.createTempDirectory("graft_site_out").toString
    SpatialExport.run(spark, combined, dataDir.toString, out)

    // the oracle: one spark.read per file, filtered and written as before
    val expected = Files.createTempDirectory("graft_site_expected").toString
    inputs.foreach { case (name, id, _) =>
      val sc = registered(name)
      val raw = spark.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("nullValue", "NA").csv(s"$dataDir/largeCSVsites_final/${sc.file}")
      val df = raw.select(raw.columns.map(c => when(col(s"`$c`") === "", lit(null))
        .otherwise(col(s"`$c`")).as(c)): _*)
      val latName = if (df.columns.contains("Latitude")) "Latitude" else sc.latCol
      val feats = df.filter(col(s"`$latName`").cast("double") <= 90)
        .withColumn("_wkt", GeoFunctions.wktPoint(
          col(s"`${sc.lonCol}`").cast("double"), col(s"`${sc.latCol}`").cast("double")))
        .collect().toSeq
        .map(r => (r.getAs[String]("_wkt"), r.schema.fieldNames.filterNot(_ == "_wkt").toSeq
          .map(f => f -> Option(r.getAs[Any](f)).map(_.toString).orNull)))
      val fields = feats.flatMap(_._2.map(_._1)).distinct
      ShapefileWriter.write(s"$expected/$id", id, fields,
        feats.map { case (w, props) => val m = props.toMap; (w, fields.map(f => m.get(f).orNull)) })
    }
    inputs.foreach { case (_, id, _) =>
      SpatialExportSpec.bundle(id).foreach { f =>
        assert(Files.readAllBytes(Paths.get(out, id, f)).sameElements(Files.readAllBytes(Paths.get(expected, id, f))),
          s"$id/$f differs from the per-file read")
      }
    }
    // the filter kept something and dropped something
    def features(id: String) = Shapefile.read(Paths.get(out, id, s"$id.shp").toString)._2
    assert(features("auscpr").length === 1)
    assert(features("movebank").length === 3)
    assert(features("eoceans").isEmpty)
  }
}

object SpatialExportSpec {
  @volatile var lastOutDir: String = _

  /** The files of one identifier's output directory. */
  def bundle(id: String): Set[String] = Set("shp", "shx", "dbf", "prj").map(ext => s"$id.$ext")

  /** Features of the shapefile written for `id` in the last reference run. */
  def written(id: String): Seq[Shapefile.Feature] =
    Shapefile.read(Paths.get(lastOutDir, id, s"$id.shp").toString)._2
}
