package graft.jobs

import graft.TaskPool
import graft.functions.GeoFunctions
import graft.io.{Shapefile, ShapefileWriter, Sources, Xlsx}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E1 stage 4 — the reference's spatial-export section
  * (`notebooks/index.Rmd:396-587`): one geometry file per dataset
  * identifier, sourced from (in the reference's order)
  *
  *  1. the `geometry_geojson` column (single-geometry-type rows only,
  *     read by [[graft.functions.GeoFunctions.geojsonFeatures]]; a
  *     document that is unreadable or has an invalid geometry has no
  *     features, and an empty geometry is written as a null shape);
  *  2. twenty per-network point CSVs (S5, skipped when step 1 already
  *     produced the file);
  *  3. the windfarm shapefile folder (polygon layers only, gathered);
  *  4. shapefile copies (IUCN IMMA + 8 Finland layers);
  *  5. the Basque TSV (EPSG:32630 → WGS84 inverse transform);
  *  6. the WESPAS cruise track (points → LINESTRING);
  *  7. empty files for everything still without spatial data (G9).
  *
  * Output is the reference's shapefile bundle per identifier and nothing
  * else (`.shp/.shx/.dbf/.prj`, [[graft.io.ShapefileWriter]], K1). `run`
  * returns the combined frame with `has_shapefile` set exactly as the
  * reference's mutable flags would leave it, plus the missing-spatial
  * report.
  */
object SpatialExport {

  case class SiteCsv(name: String, file: String, lonCol: String, latCol: String)

  /** Features of one output bundle: (WKT, attribute name → value). */
  private type Feats = Seq[(String, Seq[(String, String)])]

  /** The 20 per-network CSV registrations (index.Rmd:443-462). */
  val siteCsvs: Seq[SiteCsv] = Seq(
    SiteCsv("Aleutian Islands Benthic Habitat Survey", "Aleutian Islands Benthic Habitat Survey.csv", "Longitude", "Latitude"),
    SiteCsv("Australian continuous plankton recorder survey (AusCPR)", "Australian continuous plankton recorder survey (AusCPR).csv", "MID_LONGITUDE", "MID_LATITUDE"),
    SiteCsv("Cetacean Research Program", "Cetacean Research Program.csv", "Longitude", "Latitude"),
    SiteCsv("Diversity of the Indo-Pacific Network", "Diversity of the Indo-Pacific Network.csv", "Longitude", "Latitude"),
    SiteCsv("eOceans", "eOceans.csv", "Longitude", "Latitude"),
    SiteCsv("Estacion Costera de Investigaciones Marinas", "Estacion Costera de Investigaciones Marinas.csv", "Longitude", "Latitude"),
    SiteCsv("Estación de Fotobiologia Playa Unión", "Estacion de Fotobiologia Playa Union.csv", "Longitude", "Latitude"),
    SiteCsv("Global ARMS Program", "Global ARMS Program.csv", "Longitude", "Latitude"),
    SiteCsv("IMOS ships of opportunity bioacoustics", "IMOS ships of opportunity bioacoustics.csv", "Longitude", "Latitude"),
    SiteCsv("Marine Biodiversity and Climate Change", "Marine Biodiversity and Climate Change.csv", "Longitude", "Latitude"),
    SiteCsv("Movebank", "Movebank.csv", "Longitude", "Latitude"),
    SiteCsv("National Observatory System: Mammals as Ocean Samplers", "National Observatory System- Mammals as Ocean Samplers.csv", "Longitude", "Latitude"),
    SiteCsv("Ocean Tracking Network", "Ocean Tracking Network.csv", "Longitude", "Latitude"),
    SiteCsv("Reef Life Survey", "Reef Life Survey.csv", "Longitude", "Latitude"),
    SiteCsv("SCAR Southern Ocean Continuous Plankton Recorder Survey", "SCAR Southern Ocean Continuous Plankton Recorder Survey.csv", "Longitude", "Latitude"),
    SiteCsv("Service National d'Observation CORAIL", "Service National d_Observation CORAIL.csv", "Longitude", "Latitude"),
    SiteCsv("Synoptic Intertidal Benthic Survey", "Synoptic Intertidal Benthic Survey.csv", "Longitude", "Latitude"),
    SiteCsv("Tohoku National Fisheries Institute", "Tohoku National Fisheries Institute.csv", "Longitude", "Latitude"),
    SiteCsv("Waddenmozaiek program", "Waddenmozaiek program.csv", "Longitude", "Latitude"),
    SiteCsv("Zooplankton Sample Collectionof Fisheries Research Agency", "Zooplankton Sample Collectionof Fisheries Research Agency.csv", "Longitude", "Latitude"))

  /** Shapefile copies: IMMA (index.Rmd:505) + Finland (index.Rmd:513-520). */
  val shapefileCopies: Seq[(String, String)] = Seq(
    "IUCN Marine Mammal Protected Areas Task Force" ->
      "eurosea_spatial/iucn-imma-layer-shapefile_v2.4/iucn-imma-fixed/iucn-imma_oct20-fixed.shp",
    "Marine breeding birds" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Breeding_seabirds.shp",
    "Coastal waters soft bottom fauna" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Coastal_benthic_invertebrates.shp",
    "Abundance and distribution of harbour porpoises" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Harbour_porpoise_detectors.shp",
    "Coastal hard bottom macroalgae and blue mussel communities" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Macroalgae.shp",
    "Offshore soft bottom macrozoobenthos" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Offshore_benthic_invertebrates.shp",
    "Phytoplankton species composition and abundance" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Phytoplankton.shp",
    "Sea trout" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Seatrout_rivers.shp",
    "Zooplankton species composition and abundance" ->
      "eurosea_spatial/Finland/Finland biological monitoring stations/Zooplankton.shp")

  val windfarmName = "Ecological impact monitoring offshore windfarms"
  val windfarmFolder = "eurosea_spatial/Ecological impact monitoring offshore windfarms"
  val spainName = "Basque monitoring network for the ecological status assessment"
  val spainTsv = "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv"
  val wespasName = "Western European Shelf Pelagic Acoustic Survey (WESPAS)"
  val wespasXlsx = "eurosea_spatial/WESPAS 2020_Positions.xlsx"

  /** `missingIdentifiers` is the identifier column of `missingSpatial`,
    * in the same order, already collected.
    */
  case class Result(withShapefileFlag: DataFrame, missingSpatial: DataFrame,
                    missingIdentifiers: Seq[String])

  /** Runs the whole export. `combined` is [[LoadPortal.withIdentifiers]];
    * it is read once, and every step below works from that one
    * driver-side copy of (name, identifier, geometry_geojson).
    *
    * The steps run at once on a [[TaskPool]]. The GeoJSON column
    * is parsed first, on the calling thread: it decides which site CSVs
    * step 2 needs. Then the two Spark jobs start (the site CSVs, the
    * Spain TSV), then the driver-side reads (windfarm, shapefile copies,
    * WESPAS), and then one task per output bundle, those whose data is
    * ready first. A bundle written by more than one step is written by
    * one task in the serial order, steps 1 → 6 and then 7, so its last
    * writer is the serial order's last writer; no two tasks write the
    * same bundle.
    */
  def run(spark: SparkSession, combined: DataFrame, dataDir: String,
          outDir: String): Result = {
    val rows = combined.select(col("name"), col("identifier"), col("geometry_geojson"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))

    // ---- 1. geometry_geojson column (index.Rmd:400-416); null, blank,
    // "null", unreadable and invalid documents yield no features
    val geojson: Seq[(String, Feats)] = rows.toSeq.flatMap { case (_, identifier, document) =>
      val feats = GeoFunctions.geojsonFeatures(document)
      val types = feats.map(_._2).distinct
      if (feats.nonEmpty && types.length == 1)
        Some(identifier -> feats.map { case (w, _) => (w, Seq.empty[(String, String)]) })
      else None
    }
    val geojsonWritten = geojson.map(_._1).toSet

    // name → identifiers mapping (duplicate names → multiple outputs, J6)
    val nameIdents: Map[String, Seq[String]] =
      rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    // ---- 2. site CSVs (index.Rmd:423-463). The reference flags
    // has_shapefile BEFORE any file I/O (index.Rmd:427); this data
    // snapshot prunes two of the twenty CSVs (IMOS, SCAR), so a missing
    // input skips the read but keeps the registration and writes the
    // empty collection: every registered identifier still has its
    // per-dataset output file.
    val sites = siteCsvs.map { sc =>
      val idents = nameIdents.getOrElse(sc.name, Seq.empty)
      (sc, idents, idents.filterNot(geojsonWritten.contains), s"$dataDir/largeCSVsites_final/${sc.file}")
    }
    val toRead = sites.collect { case (sc, _, toWrite, path)
      if toWrite.nonEmpty && new java.io.File(path).exists() => (sc, path) }
    val csvIdentifiers = sites.flatMap(_._2)
    // ---- 3. windfarm gather (index.Rmd:470-487)
    val windfarmIdents = nameIdents.getOrElse(windfarmName, Seq.empty)
    // ---- 4. shapefile copies (index.Rmd:493-521)
    val copies = shapefileCopies.map { case (name, rel) => (rel, nameIdents.getOrElse(name, Seq.empty)) }
    val copyIdents = copies.flatMap(_._2)
    // ---- 5. Spain TSV, EPSG:32630 → 4326 (index.Rmd:525-537, G7)
    val spainIdents = nameIdents.getOrElse(spainName, Seq.empty)
    // ---- 6. WESPAS track (index.Rmd:541-556, G8)
    val wespasIdents = nameIdents.getOrElse(wespasName, Seq.empty)

    // ---- has_shapefile (the reference's mutable flag, set-based)
    val flagged = geojsonWritten ++ csvIdentifiers ++ windfarmIdents ++
      copyIdents ++ spainIdents ++ wespasIdents
    // ---- 7. missing report + empty files (index.Rmd:566-587, F3 + G9):
    // the rows of `missing` below; `isin` is null on a null identifier,
    // so such a row is neither flagged nor missing
    val missingIdentifiers = rows.iterator.map(_._2)
      .filter(i => i != null && !flagged.contains(i)).toSeq.sorted

    TaskPool(spark) { pool =>
      val siteFeats = pool.fork(readSites(spark, toRead))
      val spainFeats = pool.fork(if (spainIdents.isEmpty) Seq.empty else readSpain(spark, s"$dataDir/$spainTsv"))
      val windfarmFeats = pool.fork(if (windfarmIdents.isEmpty) Seq.empty else readWindfarm(s"$dataDir/$windfarmFolder"))
      val copyFeats = copies.map { case (rel, idents) =>
        pool.fork(if (idents.isEmpty) Seq.empty else readShapefile(s"$dataDir/$rel"))
      }
      val wespasFeats = pool.fork(if (wespasIdents.isEmpty) Seq.empty else readWespas(s"$dataDir/$wespasXlsx"))

      // every bundle write in the serial order: (identifier, what it
      // waits for: 0 nothing, 1 a driver read, 2 a Spark job, features)
      val writes: Seq[(String, Int, () => Feats)] =
        geojson.map { case (identifier, feats) => (identifier, 0, () => feats) } ++
          sites.flatMap { case (_, _, toWrite, path) =>
            toWrite.map(id => (id, 2, () => siteFeats.get.getOrElse(path, Seq.empty))) } ++
          windfarmIdents.map(id => (id, 1, () => windfarmFeats.get)) ++
          copies.zip(copyFeats).flatMap { case ((_, idents), feats) => idents.map(id => (id, 1, () => feats.get)) } ++
          spainIdents.map(id => (id, 2, () => spainFeats.get)) ++
          wespasIdents.map(id => (id, 1, () => wespasFeats.get)) ++
          missingIdentifiers.distinct.map(id => (id, 0, () => Seq.empty))
      // one task per bundle directory (`$outDir/$identifier`, so a null
      // identifier is the directory "null") writing in the serial order;
      // the bundles that wait for the least are forked first
      val bundles = writes.zipWithIndex.groupBy { case ((identifier, _, _), _) => String.valueOf(identifier) }
        .values.toSeq.sortBy(b => (b.map(_._1._2).max, b.head._2))
        .map(_.map(_._1))
      bundles.map(bundle => pool.fork(bundle.foreach { case (identifier, _, feats) =>
        writeFeatures(outDir, identifier, feats()) })).foreach(_.get)
    }

    val out = combined.withColumn("has_shapefile",
      col("identifier").isin(flagged.toSeq: _*))
    val missing = out.filter(!col("has_shapefile"))
      .select(col("name"), col("identifier"), col("url"))
      .orderBy(col("identifier"))
    Result(out, missing, missingIdentifiers)
  }

  /** Step 2: every needed site CSV in one read ([[Sources.siteCsvs]]; no
    * job when no file is needed), filtered and turned into points in the
    * same plan, collected once; features per path.
    */
  private def readSites(spark: SparkSession, toRead: Seq[(SiteCsv, String)]): Map[String, Feats] = {
    val read = Sources.siteCsvs(spark, toRead.map(_._2))
    // each file's value of the column `name` picks from its columns,
    // matched case-insensitively, as a column reference resolves
    def field(name: (SiteCsv, Seq[String]) => String): Column = {
      val at = toRead.map { case (sc, path) =>
        val columns = read.columns(path)
        val n = name(sc, columns)
        columns.indices.filter(i => columns(i).equalsIgnoreCase(n)) match {
          case Seq(i) => path -> (i + 1)
          case found => throw new IllegalArgumentException(
            s"$path: ${found.size} columns named $n in ${columns.mkString(", ")}")
        }
      }.toMap
      element_at(col("fields"), element_at(typedLit(at), col("path")))
    }
    // the reference filters the literal `Latitude` column (F2)
    val f2 = field((sc, columns) => if (columns.contains("Latitude")) "Latitude" else sc.latCol)
    read.rows
      .filter(f2.cast("double") <= 90)
      .select(col("path"), col("fields"), GeoFunctions.wktPoint(
        field((sc, _) => sc.lonCol).cast("double"), field((sc, _) => sc.latCol).cast("double")).as("_wkt"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (path, fileRows) => path -> fileRows.toSeq.map(r =>
        (r.getString(2), read.columns(path).zip(r.getSeq[String](1)))) }
  }

  /** Step 3: the polygon layers of the windfarm folder's shapefiles. */
  private def readWindfarm(folder: String): Feats =
    listShapefiles(new java.io.File(folder))
      .map(f => Shapefile.read(f.getPath))
      .filter { case (_, feats) =>
        feats.headOption.exists(_.geomType == "POLYGON") } // first-feature type gate (index.Rmd:475)
      .flatMap { case (_, feats) => feats.map(f => (f.wkt, f.attrs.toSeq)) }

  /** Step 4: one shapefile, copied feature for feature. */
  private def readShapefile(path: String): Feats =
    Shapefile.read(path)._2.map(f => (f.wkt, f.attrs.toSeq))

  /** Step 5: the Basque TSV's UTM 30N points in WGS84. A row whose `x`
    * or `y` is not a number (`NA`, blank, text) fails naming the file and
    * the data row, as the reference's `st_as_sf` refuses NA coordinates.
    */
  private def readSpain(spark: SparkSession, path: String): Feats =
    Sources.tsv(spark, path)
      .select(col("x").cast("double"), col("y").cast("double"))
      .select(col("x"), col("y"),
        GeoFunctions.utm30nLon(col("x"), col("y")).as("lon"),
        GeoFunctions.utm30nLat(col("x"), col("y")).as("lat"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) =>
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalArgumentException(s"$path: data row ${i + 1} has no numeric x and y")
        (s"POINT (${r.getDouble(2)} ${r.getDouble(3)})",
          Seq("x" -> r.getDouble(0).toString, "y" -> r.getDouble(1).toString))
      }

  /** Step 6: the WESPAS positions as one LINESTRING; a sheet with no
    * row that has both coordinates is `LINESTRING EMPTY` (a null-shape
    * record, the reference's `st_linestring` of no points). */
  private def readWespas(path: String): Feats = {
    val (_, rows) = Xlsx.readSheet(path, 1)
    val pts = rows.collect { case Seq(lonS, latS, _*) if lonS != null && latS != null =>
      s"$lonS $latS" }
    Seq((if (pts.isEmpty) "LINESTRING EMPTY" else s"LINESTRING (${pts.mkString(", ")})", Seq.empty))
  }

  /** Per-dataset sink: the reference's artifact, the shapefile bundle
    * `{identifier}/{identifier}.shp` (index.Rmd:410-411 etc.).
    */
  private def writeFeatures(outDir: String, identifier: String, feats: Feats): Unit = {
    val fields = feats.flatMap(_._2.map(_._1)).distinct
    val rows = feats.map { case (w, props) =>
      val m = props.toMap
      (w, fields.map(f => m.get(f).orNull))
    }
    ShapefileWriter.write(s"$outDir/$identifier", identifier, fields, rows)
  }

  private def listShapefiles(dir: java.io.File): Seq[java.io.File] = {
    if (!dir.exists()) return Nil
    val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".shp")).sortBy(_.getName) ++
      dirs.sortBy(_.getName).flatMap(listShapefiles)
  }
}
