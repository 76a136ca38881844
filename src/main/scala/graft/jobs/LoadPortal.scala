package graft.jobs

import graft.{GraftSession, TaskPool}
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
  * All joins are broadcast (≤627 rows a side); the only shuffles are the
  * EuroSea group-merge with its sort and the identifier dedup's window.
  * The frames are config-scale (one row per dataset, hundreds of rows),
  * so each is computed once and held on the driver ([[Ckpt.toLocal]]);
  * every later reader (spatial export, fixtures, reports, the row
  * counts, the upsert, E3) reads that copy.
  *
  * At this size the cost of a Spark action is its planning and code
  * generation, not its rows. So the six frames are computed on one
  * child of the caller's session that runs its plans interpreted
  * ([[GraftSession.interpreted]], built with the instance), and each is
  * handed out as a copy in the caller's session: frames the caller
  * joins with its own (the upsert's layer keys) and the spatial
  * export's scans run there, with code generation. Each frame's
  * column steps are one `select` ([[LoadPortal.reshape]]), not a chain
  * of `withColumn` calls that each analyse the whole plan again.
  *
  * E1's chain runs straight through, the first time any of its frames is
  * asked for (never at construction, so building the frames fires no
  * Spark job): `initial` ∥ `eurosea` ([[graft.TaskPool]]), then
  * `combined`, `withIdentifiers` and `users`, each read from the held
  * rows of the one before. That one lazy val is the entry point, so
  * there is no lock order to keep: its two pool tasks build their inputs
  * from `def`s and read no lazy val. Only the duplicates report, which
  * the upsert does not need, is computed apart, from the held
  * `withIdentifiers` rows.
  */
class LoadPortal(spark: SparkSession, dataDir: String) {

  import LoadPortal._

  /** The session the frames are computed on; built here, on the
    * constructing thread, never in a pool task.
    */
  private val local = GraftSession.interpreted(spark)

  /** S1 + P1 + C1 (index.Rmd:56-65): survey 2, five columns, ""→null. */
  def source2: DataFrame =
    Sources.surveyCsv(local, s"$dataDir/2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv")
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
    Sources.surveyCsv(local, s"$dataDir/4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv")
      .withColumn("_row", monotonically_increasing_id())

  /** P2 + J1 + C2/C4/C5/C8/C9 + F5 (index.Rmd:73-128): df_initial. */
  def initial: DataFrame = frames.initial

  /** C3 + C10/C11/C8/C9 + C6 + C12/C13 + A1 suite (index.Rmd:169-341):
    * normalize EuroSea and merge by (organization, name), 367 → 256.
    */
  def eurosea: DataFrame = frames.eurosea

  /** U1 + W1 (index.Rmd:346-347): bind initial + eurosea, id, flag. */
  def combined: DataFrame = frames.combined

  /** C14 + W3 (index.Rmd:352-394): identifiers + `_1`-style dedup. */
  def withIdentifiers: DataFrame = frames.withIdentifiers

  /** A2 + W2 (index.Rmd:663-671): users — distinct by email, pk 2001+,
    * in `pk` order.
    */
  def users: DataFrame = frames.users

  /** A3 (index.Rmd:381-387): the duplicate-identifier report, in
    * (`identifier`, `id`) order. Its `identifier` is the one before the
    * `_1`-style dedup: `withIdentifiers`' `original_identifier`.
    */
  lazy val duplicates: DataFrame = Ckpt.toLocal(
    Relational.duplicateReport(
        Ckpt.toLocal(withIdentifiers, local).coalesce(1)
          .select(col("id"), col("name"), col("source"), col("abstract"), col("url"),
            col("start_date"), col("end_date"), col("temporal_resolution"),
            col("contact_email"), col("organization"), col("original_identifier").as("identifier")),
        "identifier")
      .orderBy(col("identifier"), col("id")),
    spark)

  /** E1's chain on the child session, each step read from the held rows
    * of the one before; only the copies in the caller's session leave it.
    */
  private lazy val frames: Frames = {
    val (initial, eurosea) = TaskPool(local) { pool =>
      val i = pool.fork(Ckpt.toLocal(initialFrame))
      val e = pool.fork(Ckpt.toLocal(euroseaFrame))
      (i.get, e.get)
    }
    // U1 + W1: bind order is all initial rows (file order), then eurosea
    // (group order); one partition, which the window needs: coalesced,
    // not shuffled (globalRowNumberScalable is the big-data variant)
    val unioned = reshape(initial, Seq(
        "_branch" -> lit(0), "_g_org" -> lit(""), "_g_name" -> lit(""), "_g_org_null" -> lit(0)))
      .unionByName(reshape(eurosea, Seq(
        "_branch" -> lit(1),
        "_g_org" -> coalesce(col("organization"), lit("")),
        "_g_name" -> col("name"),
        "_g_org_null" -> col("organization").isNull.cast("int"))), allowMissingColumns = true)
      .coalesce(1)
    val combined = Ckpt.toLocal(reshape(
      Relational.globalRowNumber(unioned, "id",
        col("_branch"), col("_g_org_null"), col("_g_org"), col("_g_name"), col("_row")),
      Seq("id" -> col("id").cast("int"), "has_shapefile" -> lit(false)),
      drop = Set("_row", "_branch", "_g_org", "_g_name", "_g_org_null")))
    // C14 + W3
    val identifier = Identifier.makeIdentifierCol(col("name"))
    val withIdentifiers = Ckpt.toLocal(reshape(
      Relational.makeUnique(
        reshape(combined, Seq("identifier" -> identifier, "original_identifier" -> identifier)),
        "identifier", "id", "_uniq"),
      Seq("identifier" -> col("_uniq")), drop = Set("_uniq")))
    // A2 + W2, on one partition, which already satisfies both windows
    // (without it each window's shuffle is one more Spark job); the last
    // window leaves the rows in `pk` order
    val users = Relational.distinctByKey(
        withIdentifiers.coalesce(1)
          .filter(col("contact_email").isNotNull)
          .select(
            col("contact_firstname").as("first_name"),
            col("contact_lastname").as("last_name"),
            col("contact_email").as("email"),
            col("contact_email").as("username"),
            col("id"),
            lit(false).as("is_superuser")),
        "username", "id")
      .select(col("first_name"), col("last_name"), col("email"), col("username"), col("is_superuser"),
        (lit(2000) + row_number().over(Window.orderBy(col("id")))).cast("int").as("pk"))
    Frames(Ckpt.toLocal(initial, spark), Ckpt.toLocal(eurosea, spark), Ckpt.toLocal(combined, spark),
      Ckpt.toLocal(withIdentifiers, spark), Ckpt.toLocal(users, spark))
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
    val flags = eovCols.map { case (c, _) => c -> col(c).isNotNull }
    reshape(joined, flags.map {
      // F5 point fix (index.Rmd:127)
      case (c @ "eov_benthicinvertebrates", flag) =>
        c -> when(col("name") === "Aleutian Islands Benthic Habitat Survey", lit(true)).otherwise(flag)
      case other => other
    } ++ Seq(
      "url" -> StringFunctions.strTrunc(col("url"), 200),
      "source" -> lit("initial"),
      "start_date" -> DateFunctions.yearStart(col("start_date")),
      "end_date" -> DateFunctions.yearEnd(col("end_date")),
      "temporal_resolution" ->
        StringFunctions.recode(col("temporal_resolution"), Recodes.initialFrequency)))
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
    Xlsx.toDataFrame(local, s"$dataDir/EuroSea.xlsx", 1)
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
          monotonically_increasing_id().as("_row")): _*)
      .filter(col("name").isNotNull)
  }

  /** The plan of [[eurosea]]. */
  private def euroseaFrame: DataFrame = {
    val raw = euroseaRaw
    val eovFlags = raw.columns.filter(_.startsWith("eov_"))
    // time → (start, end) year strings via numeric round-trip
    // (C10/C11, index.Rmd:177-184)
    val (startTok, endTok) = DateFunctions.splitRange(col("time"))
    // C11/C12 lon/lat (index.Rmd:279-284)
    val (latC, lonC) = DateFunctions.mutualNull(col("lat").cast("double"), col("lon").cast("double"))
    val coords = reshape(raw,
      // "x" marks → booleans (C3, index.Rmd:171)
      eovFlags.toSeq.map(c => c -> StringFunctions.flagEquals(col(c), "x")) ++ Seq(
        "start_date" -> DateFunctions.yearStart(numericThenChr(startTok)),
        "end_date" -> DateFunctions.yearEnd(numericThenChr(endTok)),
        // C6: the verbatim 76-pair map, unmatched passthrough (index.Rmd:192-273)
        "temporal_resolution" -> StringFunctions.recode(col("frequency"), Recodes.euroseaFrequency),
        "lon" -> lonC,
        "lat" -> latC),
      drop = Set("time", "frequency"))

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
    reshape(merged, Seq(
        "url" -> StringFunctions.strTrunc(
          when(col("url") === "", lit(null)).otherwise(col("url")), 500),
        "abstract" -> abstractOf(col("organization"), col("name")),
        "geometry_geojson" -> GeoFunctions.wktToGeoJson(col("_geom_wkt")),
        "source" -> lit("eurosea")),
      drop = Set("_geom_wkt"))
      // R group_by output order: sorted by group keys, NA last — the
      // order `bind_rows` (and therefore `id`) depends on
      .orderBy(asc_nulls_last("organization"), asc_nulls_last("name"))
      .withColumn("_row", monotonically_increasing_id())
  }

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

  /** The caller-session copies of E1's chain. */
  private final case class Frames(initial: DataFrame, eurosea: DataFrame, combined: DataFrame,
                                  withIdentifiers: DataFrame, users: DataFrame)

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

  /** `df` with the columns of `set` put in place of their namesakes and
    * the new ones appended in order, without the columns in `drop`: what
    * a chain of `withColumn` and `drop` calls gives, as one projection
    * that is analysed once instead of once per call. Every column of
    * `set` reads `df`'s columns, not another entry of `set`.
    */
  private def reshape(df: DataFrame, set: Seq[(String, Column)],
                      drop: Set[String] = Set.empty): DataFrame = {
    val byName = set.toMap
    val kept = df.columns.toSeq.filterNot(drop).map(c => byName.get(c).fold(col(c))(_.as(c)))
    val added = set.collect { case (c, e) if !df.columns.contains(c) => e.as(c) }
    df.select(kept ++ added: _*)
  }
}
