package graft.jobs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** `LoadPortal`'s six frames, computed on an interpreted child of the
  * caller's session ([[GraftSession.interpreted]]) and handed out in the
  * caller's: the same schemas and rows as when they were computed on the
  * caller's session with code generation, and the caller's session left
  * as it was. Runs on [[E1ConcurrencySpec.portalDir]].
  */
class LoadPortalSessionSpec extends SparkSpec {
  import LoadPortalSessionSpec._

  private def frames(job: LoadPortal): Seq[(String, DataFrame)] = Seq(
    "initial" -> job.initial, "eurosea" -> job.eurosea, "combined" -> job.combined,
    "withIdentifiers" -> job.withIdentifiers, "duplicates" -> job.duplicates, "users" -> job.users)

  private def newJob() = new LoadPortal(spark, E1ConcurrencySpec.portalDir().toString)

  test("each frame has its golden schema (names, types, nullability) and rows, in order") {
    frames(newJob()).foreach { case (name, df) => assert(render(df) === Golden(name), name) }
  }

  test("forcing every frame leaves the caller's settings as they were; each frame is the caller's") {
    val before = spark.conf.getAll
    val job = newJob()
    frames(job).foreach { case (name, df) =>
      df.collect()
      assert(df.sparkSession eq spark, name)
    }
    assert(spark.conf.getAll === before)
  }

  test("the upsert's joins run over the frames and a frame of the caller's session") {
    import spark.implicits._
    val job = newJob()
    val layers = Seq((501L, "seabird_colony_counts"), (502L, "continuous_plankton_recorder_survey_1"))
      .toDF("pk", "identifier")
    val upsert = job.withLayerPks(job.withUserPks(job.withIdentifiers), layers)
    assert(upsert.sparkSession eq spark)
    val rows = upsert.filter($"pk".isNotNull).select($"identifier", $"pk", $"user_pk").orderBy($"pk")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    assert(rows.toSeq === Seq(
      ("seabird_colony_counts", 501L, Some(2002)),
      ("continuous_plankton_recorder_survey_1", 502L, Some(2001))))
  }

  test("the child session carries the caller's time zone, ANSI mode and case sensitivity") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    caller.conf.set("spark.sql.ansi.enabled", "true")
    caller.conf.set("spark.sql.caseSensitive", "true")
    val before = caller.conf.getAll
    val child = GraftSession.interpreted(caller)
    assert(child ne caller)
    assert(child.sparkContext eq caller.sparkContext)
    for (k <- Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled", "spark.sql.caseSensitive"))
      assert(child.conf.get(k) === caller.conf.get(k), k)
    assert(child.conf.get("spark.sql.codegen.wholeStage") === "false")
    assert(child.conf.get("spark.sql.codegen.factoryMode") === "NO_CODEGEN")
    assert(caller.conf.getAll === before)
    // and the child acts on them
    assert(child.sql("select current_timezone()").head().getString(0) === "Asia/Tokyo")
    intercept[Exception](child.sql("select cast('x' as int)").collect())
    intercept[Exception](child.range(1).selectExpr("id as A").select("a").collect())
  }

  test("no frame runs with whole-stage code generation") {
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]()
    val sentinel = "graft-load-portal-session-sentinel"
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel)) sentinelSeen = true
    }
    val sc = spark.sparkContext
    val job = newJob()
    sc.addSparkListener(listener)
    try {
      frames(job).foreach(_._2.collect())
      // events arrive in order: once the sentinel job's start has, so
      // has every plan the frames ran
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.toSeq.flatMap(nodes)
    val names = plans.asScala.toSeq.flatMap(nodes)
    assert(names.exists(_.startsWith("Scan")), names)
    assert(!names.exists(_.startsWith("WholeStageCodegen")), names)
  }

  test("forcing the frames compiles only what Spark generates in any mode; the child compiles no plan") {
    // one count per Janino compile, whole-stage or expression class
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    // building the list forces each frame's lazy val (collecting the
    // copies would run plans on the caller's session)
    assert(frames(newJob()).size === 6)
    // in a fresh JVM 6: the survey scans' row projections and the
    // orderings of the `orderBy` range partitioning, which Spark
    // generates directly, whatever the factory mode (97 on the caller's
    // session with code generation); fewer when an earlier test
    // compiled the same classes
    assert(compiles.getCount - before <= 6)
    // a fresh literal each time, so that Spark's cache of compiled
    // classes cannot serve the plan and a count that stays put means
    // nothing was generated, not that it was generated before
    def freshPlan(s: SparkSession): Unit =
      s.range(3).selectExpr(s"id * ${System.nanoTime() % 1000003 + 2} as x").filter("x > 2").collect()
    val afterFrames = compiles.getCount
    freshPlan(GraftSession.interpreted(spark))
    assert(compiles.getCount === afterFrames)
    freshPlan(spark)
    assert(compiles.getCount > afterFrames)
  }
}

object LoadPortalSessionSpec {

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case x => x.toString
  }

  /** One `S` line per field (name, type, `not null` when not nullable),
    * then one `R` line per row in the frame's order; strings quoted.
    */
  def render(df: DataFrame): String =
    (df.schema.fields.map(f => s"S ${f.name} ${f.dataType.simpleString}${if (f.nullable) "" else " not null"}") ++
      df.collect().map(r => "R " + r.toSeq.map(cell).mkString(", "))).mkString("\n")

  /** The frames as computed on the caller's session, with code
    * generation, before the child session.
    */
  val Golden: Map[String, String] = Map(
      "initial" -> """
        |S name string
        |S abstract string
        |S abbreviation string
        |S url string
        |S start_date date
        |S end_date date
        |S temporal_resolution string
        |S eov_birds boolean not null
        |S eov_hardcoral boolean not null
        |S eov_fish boolean not null
        |S eov_macroalgae boolean not null
        |S eov_mangroves boolean not null
        |S eov_microbes boolean not null
        |S eov_oceansound boolean not null
        |S eov_phytoplankton boolean not null
        |S eov_seagrass boolean not null
        |S eov_seaturtles boolean not null
        |S eov_zooplankton boolean not null
        |S eov_benthicinvertebrates boolean not null
        |S eov_mammals boolean not null
        |S in_obis string
        |S interest_obis string
        |S _row bigint not null
        |S geometry_geojson string
        |S contact_firstname string
        |S contact_lastname string
        |S contact_email string
        |S source string not null
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR", "https://www.cprsurvey.org", 1931-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, "Yes; all of the biological data collected by the network is included in OBIS", null, 0, null, "Bo", "Kim", "cpr@example.org", "initial"
        |R "Aleutian Islands Benthic\nHabitat Survey", "Aleutian Islands Benthic\nHabitat Survey", "AIBHS", null, 2012-01-01, null, "Annually", false, false, false, false, false, false, false, false, false, false, false, false, false, null, "Yes", 1, null, null, null, null, "initial"
        |R "The \"Blue Belt\" Programme", "The \"Blue Belt\" Programme", "BBP", "https://bluebelt.example", 2020-01-01, null, "Quarterly", true, false, true, false, false, false, false, false, true, false, false, false, false, "No; none of the biological data collected by the network is included in OBIS", "No", 2, null, null, null, null, "initial"
        |R "Seabird Colony Counts", "Seabird Colony Counts", null, "https://seabirds.example", null, 2019-12-31, "Annually", true, false, false, false, false, false, false, false, false, false, false, false, false, null, null, 3, "{\"type\":\"Point\",\"coordinates\":[1,2]}", "Ana", "Lee", "ana@example.org", "initial"
        |R "Réseau de suivi, côte basque", "Réseau de suivi, côte basque", "RSCB", null, null, null, "Every 2 to 5 years", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, 4, null, null, null, null, "initial"
        |R "Kelp \"forest\" transects\n(\"KFT\")", "Kelp \"forest\" transects\n(\"KFT\")", "KFT", "https://kft.example", 1999-01-01, 2015-12-31, "Other", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, 5, null, null, null, null, "initial"
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR-2", "https://www.cprsurvey.org", 1958-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, null, null, 6, null, "Bo", "Kim", "cpr@example.org", "initial"""".stripMargin.trim,
      "eurosea" -> """
        |S organization string
        |S name string
        |S start_date date
        |S end_date date
        |S eov_birds boolean
        |S eov_hardcoral boolean
        |S eov_fish boolean
        |S eov_macroalgae boolean
        |S eov_mangroves boolean
        |S eov_microbes boolean
        |S eov_phytoplankton boolean
        |S eov_seagrass boolean
        |S eov_seaturtles boolean
        |S eov_zooplankton boolean
        |S eov_benthicinvertebrates boolean
        |S eov_mammals boolean
        |S url string
        |S temporal_resolution string
        |S abstract string
        |S geometry_geojson string
        |S source string not null
        |S _row bigint not null
        |R "AZTI", "Basque monitoring network for the ecological status assessment", 1995-01-01, 2020-12-31, true, false, false, false, false, false, false, false, false, false, false, false, "https://azti.example; https://azti2.example", "monthly", "AZTI - Basque monitoring network for the ecological status assessment", "{\"type\":\"MultiPoint\",\"coordinates\":[[-2.2,43.5],[-2.1,43.4]]}", "eurosea", 0
        |R "IEO", "Seabird Colony Counts", null, 2010-12-31, true, false, false, false, false, false, false, false, false, false, false, false, null, "monthly", "IEO - Seabird Colony Counts", "{\"type\":\"GeometryCollection\",\"geometries\":[]}", "eurosea", 1
        |R null, "Continuous Plankton Recorder Survey", null, null, false, false, false, false, false, false, false, false, false, false, false, false, "https://cpr.example", "monthly", "Continuous Plankton Recorder Survey", "{\"type\":\"Point\",\"coordinates\":[1.0,50.0]}", "eurosea", 2""".stripMargin.trim,
      "combined" -> """
        |S name string
        |S abstract string
        |S abbreviation string
        |S url string
        |S start_date date
        |S end_date date
        |S temporal_resolution string
        |S eov_birds boolean
        |S eov_hardcoral boolean
        |S eov_fish boolean
        |S eov_macroalgae boolean
        |S eov_mangroves boolean
        |S eov_microbes boolean
        |S eov_oceansound boolean
        |S eov_phytoplankton boolean
        |S eov_seagrass boolean
        |S eov_seaturtles boolean
        |S eov_zooplankton boolean
        |S eov_benthicinvertebrates boolean
        |S eov_mammals boolean
        |S in_obis string
        |S interest_obis string
        |S geometry_geojson string
        |S contact_firstname string
        |S contact_lastname string
        |S contact_email string
        |S source string not null
        |S organization string
        |S id int not null
        |S has_shapefile boolean not null
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR", "https://www.cprsurvey.org", 1931-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, "Yes; all of the biological data collected by the network is included in OBIS", null, null, "Bo", "Kim", "cpr@example.org", "initial", null, 1, false
        |R "Aleutian Islands Benthic\nHabitat Survey", "Aleutian Islands Benthic\nHabitat Survey", "AIBHS", null, 2012-01-01, null, "Annually", false, false, false, false, false, false, false, false, false, false, false, false, false, null, "Yes", null, null, null, null, "initial", null, 2, false
        |R "The \"Blue Belt\" Programme", "The \"Blue Belt\" Programme", "BBP", "https://bluebelt.example", 2020-01-01, null, "Quarterly", true, false, true, false, false, false, false, false, true, false, false, false, false, "No; none of the biological data collected by the network is included in OBIS", "No", null, null, null, null, "initial", null, 3, false
        |R "Seabird Colony Counts", "Seabird Colony Counts", null, "https://seabirds.example", null, 2019-12-31, "Annually", true, false, false, false, false, false, false, false, false, false, false, false, false, null, null, "{\"type\":\"Point\",\"coordinates\":[1,2]}", "Ana", "Lee", "ana@example.org", "initial", null, 4, false
        |R "Réseau de suivi, côte basque", "Réseau de suivi, côte basque", "RSCB", null, null, null, "Every 2 to 5 years", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, null, null, null, null, "initial", null, 5, false
        |R "Kelp \"forest\" transects\n(\"KFT\")", "Kelp \"forest\" transects\n(\"KFT\")", "KFT", "https://kft.example", 1999-01-01, 2015-12-31, "Other", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, null, null, null, null, "initial", null, 6, false
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR-2", "https://www.cprsurvey.org", 1958-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, null, null, null, "Bo", "Kim", "cpr@example.org", "initial", null, 7, false
        |R "Basque monitoring network for the ecological status assessment", "AZTI - Basque monitoring network for the ecological status assessment", null, "https://azti.example; https://azti2.example", 1995-01-01, 2020-12-31, "monthly", true, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"MultiPoint\",\"coordinates\":[[-2.2,43.5],[-2.1,43.4]]}", null, null, null, "eurosea", "AZTI", 8, false
        |R "Seabird Colony Counts", "IEO - Seabird Colony Counts", null, null, null, 2010-12-31, "monthly", true, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"GeometryCollection\",\"geometries\":[]}", null, null, null, "eurosea", "IEO", 9, false
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", null, "https://cpr.example", null, null, "monthly", false, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"Point\",\"coordinates\":[1.0,50.0]}", null, null, null, "eurosea", null, 10, false""".stripMargin.trim,
      "withIdentifiers" -> """
        |S name string
        |S abstract string
        |S abbreviation string
        |S url string
        |S start_date date
        |S end_date date
        |S temporal_resolution string
        |S eov_birds boolean
        |S eov_hardcoral boolean
        |S eov_fish boolean
        |S eov_macroalgae boolean
        |S eov_mangroves boolean
        |S eov_microbes boolean
        |S eov_oceansound boolean
        |S eov_phytoplankton boolean
        |S eov_seagrass boolean
        |S eov_seaturtles boolean
        |S eov_zooplankton boolean
        |S eov_benthicinvertebrates boolean
        |S eov_mammals boolean
        |S in_obis string
        |S interest_obis string
        |S geometry_geojson string
        |S contact_firstname string
        |S contact_lastname string
        |S contact_email string
        |S source string not null
        |S organization string
        |S id int not null
        |S has_shapefile boolean not null
        |S identifier string
        |S original_identifier string
        |R "Aleutian Islands Benthic\nHabitat Survey", "Aleutian Islands Benthic\nHabitat Survey", "AIBHS", null, 2012-01-01, null, "Annually", false, false, false, false, false, false, false, false, false, false, false, false, false, null, "Yes", null, null, null, null, "initial", null, 2, false, "aleutian_islands_benthic_habitat_survey", "aleutian_islands_benthic_habitat_survey"
        |R "Basque monitoring network for the ecological status assessment", "AZTI - Basque monitoring network for the ecological status assessment", null, "https://azti.example; https://azti2.example", 1995-01-01, 2020-12-31, "monthly", true, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"MultiPoint\",\"coordinates\":[[-2.2,43.5],[-2.1,43.4]]}", null, null, null, "eurosea", "AZTI", 8, false, "basque_monitoring_network_for_ecological_status_assessment", "basque_monitoring_network_for_ecological_status_assessment"
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR", "https://www.cprsurvey.org", 1931-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, "Yes; all of the biological data collected by the network is included in OBIS", null, null, "Bo", "Kim", "cpr@example.org", "initial", null, 1, false, "continuous_plankton_recorder_survey", "continuous_plankton_recorder_survey"
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", "CPR-2", "https://www.cprsurvey.org", 1958-01-01, null, "Monthly", false, false, true, false, false, false, false, false, false, false, false, false, false, null, null, null, "Bo", "Kim", "cpr@example.org", "initial", null, 7, false, "continuous_plankton_recorder_survey_1", "continuous_plankton_recorder_survey"
        |R "Continuous Plankton Recorder Survey", "Continuous Plankton Recorder Survey", null, "https://cpr.example", null, null, "monthly", false, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"Point\",\"coordinates\":[1.0,50.0]}", null, null, null, "eurosea", null, 10, false, "continuous_plankton_recorder_survey_2", "continuous_plankton_recorder_survey"
        |R "Kelp \"forest\" transects\n(\"KFT\")", "Kelp \"forest\" transects\n(\"KFT\")", "KFT", "https://kft.example", 1999-01-01, 2015-12-31, "Other", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, null, null, null, null, "initial", null, 6, false, "kelp_forest_transects_kft", "kelp_forest_transects_kft"
        |R "Réseau de suivi, côte basque", "Réseau de suivi, côte basque", "RSCB", null, null, null, "Every 2 to 5 years", false, false, true, false, false, false, false, false, true, false, false, false, false, null, null, null, null, null, null, "initial", null, 5, false, "reseau_de_suivi_cote_basque", "reseau_de_suivi_cote_basque"
        |R "Seabird Colony Counts", "Seabird Colony Counts", null, "https://seabirds.example", null, 2019-12-31, "Annually", true, false, false, false, false, false, false, false, false, false, false, false, false, null, null, "{\"type\":\"Point\",\"coordinates\":[1,2]}", "Ana", "Lee", "ana@example.org", "initial", null, 4, false, "seabird_colony_counts", "seabird_colony_counts"
        |R "Seabird Colony Counts", "IEO - Seabird Colony Counts", null, null, null, 2010-12-31, "monthly", true, false, false, false, false, false, null, false, false, false, false, false, false, null, null, "{\"type\":\"GeometryCollection\",\"geometries\":[]}", null, null, null, "eurosea", "IEO", 9, false, "seabird_colony_counts_1", "seabird_colony_counts"
        |R "The \"Blue Belt\" Programme", "The \"Blue Belt\" Programme", "BBP", "https://bluebelt.example", 2020-01-01, null, "Quarterly", true, false, true, false, false, false, false, false, true, false, false, false, false, "No; none of the biological data collected by the network is included in OBIS", "No", null, null, null, null, "initial", null, 3, false, "the_blue_belt_programme", "the_blue_belt_programme"""".stripMargin.trim,
      "duplicates" -> """
        |S id int not null
        |S name string
        |S source string not null
        |S abstract string
        |S url string
        |S start_date date
        |S end_date date
        |S temporal_resolution string
        |S contact_email string
        |S organization string
        |S identifier string
        |R 1, "Continuous Plankton Recorder Survey", "initial", "Continuous Plankton Recorder Survey", "https://www.cprsurvey.org", 1931-01-01, null, "Monthly", "cpr@example.org", null, "continuous_plankton_recorder_survey"
        |R 7, "Continuous Plankton Recorder Survey", "initial", "Continuous Plankton Recorder Survey", "https://www.cprsurvey.org", 1958-01-01, null, "Monthly", "cpr@example.org", null, "continuous_plankton_recorder_survey"
        |R 10, "Continuous Plankton Recorder Survey", "eurosea", "Continuous Plankton Recorder Survey", "https://cpr.example", null, null, "monthly", null, null, "continuous_plankton_recorder_survey"
        |R 4, "Seabird Colony Counts", "initial", "Seabird Colony Counts", "https://seabirds.example", null, 2019-12-31, "Annually", "ana@example.org", null, "seabird_colony_counts"
        |R 9, "Seabird Colony Counts", "eurosea", "IEO - Seabird Colony Counts", null, null, 2010-12-31, "monthly", null, "IEO", "seabird_colony_counts"""".stripMargin.trim,
      "users" -> """
        |S first_name string
        |S last_name string
        |S email string
        |S username string
        |S is_superuser boolean not null
        |S pk int not null
        |R "Bo", "Kim", "cpr@example.org", "cpr@example.org", false, 2001
        |R "Ana", "Lee", "ana@example.org", "ana@example.org", false, 2002""".stripMargin.trim)
}
