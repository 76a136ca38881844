package graft.jobs

import graft.TaskPool
import graft.functions.{DateFunctions, GeoFunctions, Identifier, StringFunctions}
import graft.io.{Sources, Xlsx}
import graft.operators.{Aggregators, Ckpt, Relational}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E1 — the reference's main pipeline (`notebooks/index.Rmd:56-771`)
  * rebuilt as DataFrames: ingest the two survey CSVs and the EuroSea
  * spreadsheet, normalize, union, assign identifiers, derive users, and
  * join layer primary keys. Spatial export lives in [[SpatialExport]];
  * fixture/DB sinks in [[Fixtures]] and [[graft.io.JdbcBoundary]].
  *
  * Golden shapes (rendered notebook evidence, docs/index.html):
  * `initial` 371 rows, `euroseaRaw` 367, `eurosea` 256, `combined` 627,
  * `users` 218. (The rendered run predates the Rmd's `in_obis` /
  * `interest_obis` columns, so our `initial` has 27 columns where the
  * html shows 25; row counts are unaffected and `in_obis` is required
  * by E3, notebooks/export_in_obis.R:3.)
  *
  * All joins are broadcast (≤627 rows a side); the only shuffles are
  * the EuroSea group-merge and the order-pinning windows. The frames
  * are config-scale (one row per dataset, hundreds of rows), so
  * `initial`, `eurosea`, `combined`, `withIdentifiers` and `duplicates`
  * are each computed once and held on the driver ([[Ckpt.toLocal]]).
  * Every later reader (spatial export, users, reports, the row counts,
  * the upsert, E3) reads that copy: left lazy, each action re-read the
  * surveys and the XLSX and re-ran the whole plan, and at this size the
  * cost of a Spark action is its planning, code generation and
  * broadcasts, not its rows.
  *
  * `initial` and `eurosea` are independent, so they are computed at
  * once ([[graft.TaskPool]]), the first time either is asked for; never
  * at construction, so building the frames still fires no Spark job.
  * Every `lazy val` of one instance initializes under the instance's one
  * monitor, and the thread that asks holds it while the two run. So the
  * two pool tasks read no lazy val: the inputs they build on, `source2`,
  * `source4` and `euroseaRaw`, are plans that run no job, built afresh by
  * each caller (`def`s), and each task builds its own and collects the
  * plan on top. A task that forced an uninitialized lazy val would wait
  * for that monitor while its owner waits for the task. `LoadPortalMain` then runs the spatial export, the fixtures and
  * the duplicates report at once: it holds no monitor while it waits for
  * them, and of their tasks only the duplicates report initializes a
  * lazy val (`duplicates`).
  */
class LoadPortal(spark: SparkSession, dataDir: String) {

  import LoadPortal._

  /** S1 + P1 + C1 (index.Rmd:56-65): survey 2, five columns, ""→null. */
  def source2: DataFrame =
    Sources.surveyCsv(spark, s"$dataDir/2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv")
      .select(
        col("ErinSpatialGeoJSON").as("geometry_geojson"),
        col("prog_name").as("name"),
        col("resp_firstname").as("contact_firstname"),
        col("resp_lastname").as("contact_lastname"),
        col("resp_email").as("contact_email"))

  /** S2 (index.Rmd:69): survey 4 — 36,181 physical lines, 371 records
    * (quoted multiline fields). `_row` pins the file order the reference
    * implicitly relies on for `id = row_number()`.
    */
  def source4: DataFrame =
    Sources.surveyCsv(spark, s"$dataDir/4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv")
      .withColumn("_row", monotonically_increasing_id())

  /** P2 + J1 + C2/C4/C5/C8/C9 + F5 (index.Rmd:73-128): df_initial. */
  lazy val initial: DataFrame = sources._1

  /** C3 + C10/C11/C8/C9 + C6 + C12/C13 + A1 suite (index.Rmd:169-341):
    * normalize EuroSea and merge by (organization, name), 367 → 256.
    */
  lazy val eurosea: DataFrame = sources._2

  /** `initial` and `eurosea`, both at once (the monitor rule in the
    * class comment).
    */
  private lazy val sources: (DataFrame, DataFrame) =
    TaskPool(spark) { pool =>
      val i = pool.fork(Ckpt.toLocal(initialFrame))
      val e = pool.fork(Ckpt.toLocal(euroseaFrame))
      (i.get, e.get)
    }

  /** The plan of [[initial]]. */
  private def initialFrame: DataFrame = {
    val eovCols = Seq(
      "eov_birds" -> "Birds", "eov_hardcoral" -> "Hard_Coral",
      "eov_fish" -> "Fish", "eov_macroalgae" -> "Macroalgae",
      "eov_mangroves" -> "Mangroves", "eov_microbes" -> "Microbes",
      "eov_oceansound" -> "Ocean_Sound", "eov_phytoplankton" -> "Phytoplankton",
      "eov_seagrass" -> "Seagrass", "eov_seaturtles" -> "Sea_Turtles",
      "eov_zooplankton" -> "Zooplankton",
      "eov_benthicinvertebrates" -> "Benthic_Invertebrate",
      "eov_mammals" -> "Marine_Mammals")
    val selected = source4.select(
      Seq(col("prog_name").as("name"),
        col("prog_name").as("abstract"),
        col("prog_abbrev").as("abbreviation"),
        col("prog_url").as("url"),
        col("duration_start_year").as("start_date"),
        col("duration_end_year").as("end_date"),
        col("freq_interval").as("temporal_resolution")) ++
      eovCols.map { case (out, in) => col(in).as(out) } ++
      Seq(col("In_OBIS").as("in_obis"),
        col("Interest_OBIS").as("interest_obis"),
        col("_row")): _*)
    val joined = selected.join(broadcast(source2), Seq("name"), "left")
    val flagged = eovCols.map(_._1).foldLeft(joined)((df, c) =>
      df.withColumn(c, col(c).isNotNull))
    flagged
      .withColumn("url", StringFunctions.strTrunc(col("url"), 200))
      .withColumn("source", lit("initial"))
      .withColumn("start_date", DateFunctions.yearStart(col("start_date")))
      .withColumn("end_date", DateFunctions.yearEnd(col("end_date")))
      .withColumn("temporal_resolution",
        StringFunctions.recode(col("temporal_resolution"), Recodes.initialFrequency))
      // F5 point fix (index.Rmd:127)
      .withColumn("eov_benthicinvertebrates",
        when(col("name") === "Aleutian Islands Benthic Habitat Survey", lit(true))
          .otherwise(col("eov_benthicinvertebrates")))
  }

  /** S3 + P3 + F1 (index.Rmd:135-162): EuroSea sheet 1, 21 columns,
    * rows without a program name dropped (370 → 367).
    */
  def euroseaRaw: DataFrame = {
    val eovCols = Seq(
      "eov_birds" -> "Birds", "eov_hardcoral" -> "`Hard.coral`",
      "eov_fish" -> "Fish", "eov_macroalgae" -> "Macroalgae",
      "eov_mangroves" -> "Mangrove", "eov_microbes" -> "Microbes",
      "eov_phytoplankton" -> "Phytoplankton", "eov_seagrass" -> "Seagrass",
      "eov_seaturtles" -> "Turtles", "eov_zooplankton" -> "Zooplankton",
      "eov_benthicinvertebrates" -> "`Benthic.invertebrates`",
      "eov_mammals" -> "Mammals")
    Xlsx.toDataFrame(spark, s"$dataDir/EuroSea.xlsx", 1)
      .withColumn("_row", monotonically_increasing_id())
      .select(
        Seq(col("Country").as("country"),
          col("Organisation").as("organization"),
          col("`Program.name`").as("name"),
          col("`Programs.Location`").as("location"),
          col("`Time.period`").as("time"),
          col("Frequency").as("frequency")) ++
        eovCols.map { case (out, in) => col(in).as(out) } ++
        Seq(col("Website").as("url"),
          col("Lat").as("lat"), col("Lon").as("lon"),
          col("_row")): _*)
      .filter(col("name").isNotNull)
  }

  /** The plan of [[eurosea]]. */
  private def euroseaFrame: DataFrame = {
    val raw = euroseaRaw
    val eovFlags = raw.columns.filter(_.startsWith("eov_"))
    // "x" marks → booleans (C3, index.Rmd:171)
    val flagged = eovFlags.foldLeft(raw)((df, c) =>
      df.withColumn(c, StringFunctions.flagEquals(col(c), "x")))
    // time → (start, end) year strings via numeric round-trip
    // (C10/C11, index.Rmd:177-184)
    val (startTok, endTok) = DateFunctions.splitRange(col("time"))
    val dated = flagged
      .withColumn("start_date", DateFunctions.yearStart(numericThenChr(startTok)))
      .withColumn("end_date", DateFunctions.yearEnd(numericThenChr(endTok)))
      .drop("time")
      // C6: the verbatim 76-pair map, unmatched passthrough (index.Rmd:192-273)
      .withColumn("temporal_resolution",
        StringFunctions.recode(col("frequency"), Recodes.euroseaFrequency))
      .drop("frequency")
      // C11/C12 lon/lat (index.Rmd:279-284)
      .withColumn("lon", col("lon").cast("double"))
      .withColumn("lat", col("lat").cast("double"))
    val (latC, lonC) = DateFunctions.mutualNull(col("lat"), col("lon"))
    val coords = dated.withColumn("lat", latC).withColumn("lon", lonC)

    // A1 group-merge (index.Rmd:310-334). The ordered url concat uses
    // `_row` (spreadsheet order) as the sort key — the reference
    // concatenates in physical row order.
    val urlConcat = udaf(new Aggregators.OrderedConcatAgg("; "),
      Encoders.product[(Long, String)])
    val aggs: Seq[Column] =
      Seq(max(col("end_date")).as("end_date")) ++
      eovFlags.map(c => Aggregators.boolOr(col(c)).as(c)).toSeq ++
      Seq(
        urlConcat(col("_row"), col("url")).as("url"),
        Relational.ordinalMin(col("temporal_resolution"), Recodes.frequencies)
          .as("temporal_resolution"),
        Aggregators.multipointWkt(col("lon"), col("lat")).as("_geom_wkt"))
    val merged = coords
      .groupBy(col("organization"), col("name"))
      .agg(min(col("start_date")).as("start_date"), aggs: _*)
    merged
      .withColumn("url", when(col("url") === "", lit(null)).otherwise(col("url")))
      .withColumn("abstract", abstractOf(col("organization"), col("name")))
      .withColumn("geometry_geojson", GeoFunctions.wktToGeoJson(col("_geom_wkt")))
      .drop("_geom_wkt")
      .withColumn("source", lit("eurosea"))
      .withColumn("url", StringFunctions.strTrunc(col("url"), 500))
      // R group_by output order: sorted by group keys, NA last — the
      // order `bind_rows` (and therefore `id`) depends on
      .orderBy(asc_nulls_last("organization"), asc_nulls_last("name"))
      .withColumn("_row", monotonically_increasing_id())
  }

  /** U1 + W1 (index.Rmd:346-347): bind initial + eurosea, id, flag. */
  lazy val combined: DataFrame = Ckpt.toLocal {
    val a = initial.withColumn("_branch", lit(0))
      .withColumn("_g_org", lit("")).withColumn("_g_name", lit(""))
      .withColumn("_g_org_null", lit(0))
    val b = eurosea.withColumn("_branch", lit(1))
      .withColumn("_g_org", coalesce(col("organization"), lit("")))
      .withColumn("_g_name", col("name"))
      .withColumn("_g_org_null", col("organization").isNull.cast("int"))
    val unioned = a.unionByName(b, allowMissingColumns = true)
    // bind order: all initial rows (file order) then eurosea (group
    // order) — a 627-row single-partition window is the correct tool at
    // this scale (globalRowNumberScalable is the big-data variant)
    Relational.globalRowNumber(unioned, "id",
        col("_branch"), col("_g_org_null"), col("_g_org"), col("_g_name"), col("_row"))
      .withColumn("id", col("id").cast("int"))
      .withColumn("has_shapefile", lit(false))
      .drop("_row", "_branch", "_g_org", "_g_name", "_g_org_null")
  }

  /** C14 + W3 (index.Rmd:352-394): identifiers + `_1`-style dedup. */
  lazy val withIdentifiers: DataFrame = Ckpt.toLocal {
    val idents = combined.withColumn("identifier",
      Identifier.makeIdentifierCol(col("name")))
    Relational.makeUnique(
        idents.withColumn("original_identifier", col("identifier")),
        "identifier", "id", "_uniq")
      .withColumn("identifier", col("_uniq"))
      .drop("_uniq")
  }

  /** A3 (index.Rmd:381-387): the duplicate-identifier report. */
  lazy val duplicates: DataFrame = Ckpt.toLocal {
    Relational.duplicateReport(
        combined.withColumn("identifier", Identifier.makeIdentifierCol(col("name"))),
        "identifier")
      .select(col("id"), col("name"), col("source"), col("abstract"), col("url"),
        col("start_date"), col("end_date"), col("temporal_resolution"),
        col("contact_email"), col("organization"), col("identifier"))
      .orderBy(col("identifier"))
  }

  /** A2 + W2 (index.Rmd:663-671): users — distinct by email, pk 2001+. */
  lazy val users: DataFrame =
    Relational.distinctByKey(
        withIdentifiers
          .filter(col("contact_email").isNotNull)
          .select(
            col("contact_firstname").as("first_name"),
            col("contact_lastname").as("last_name"),
            col("contact_email").as("email"),
            col("contact_email").as("username"),
            col("id"))
          .withColumn("is_superuser", lit(false)),
        "username", "id")
      .withColumn("pk", (lit(2000) + row_number().over(Window.orderBy(col("id")))).cast("int"))
      .drop("id")
      .select("first_name", "last_name", "email", "username", "is_superuser", "pk")

  /** J2 (index.Rmd:673-674): user_pk backfill onto the combined table. */
  def withUserPks(combinedDf: DataFrame): DataFrame =
    combinedDf.join(
      broadcast(users.select(col("pk").as("user_pk"), col("username").as("contact_email"))),
      Seq("contact_email"), "left")

  /** J3 (index.Rmd:695-701): layer pk join; `layerPks` comes from the
    * GeoNode REST source ([[graft.io.GeoNodeApi]]) or a fake in tests —
    * columns (pk, identifier).
    */
  def withLayerPks(combinedDf: DataFrame, layerPks: DataFrame): DataFrame =
    combinedDf.join(broadcast(layerPks), Seq("identifier"), "left")
}

object LoadPortal {

  /** R `as.numeric` → `as.character` round-trip (index.Rmd:179-180):
    * junk → null, integral values print without a decimal point.
    */
  private[jobs] def numericThenChr(c: Column): Column = {
    val d = c.cast("double")
    when(d.isNull, lit(null))
      .when(d === d.cast("long").cast("double"), d.cast("long").cast("string"))
      .otherwise(d.cast("string"))
  }

  /** The reference's `concat(c(organization, name), " - ")`
    * (index.Rmd:330): distinct non-null whitespace-squashed values
    * joined by " - "; empty → null.
    */
  private[jobs] def abstractOf(org: Column, name: Column): Column = {
    val arr = array_distinct(filter(
      array(StringFunctions.squishWhitespace(org), StringFunctions.squishWhitespace(name)),
      _.isNotNull))
    when(size(arr) === 0, lit(null)).otherwise(array_join(arr, " - "))
  }
}
