package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.jobs.LoadPortal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** [[Sources]]' header-driven reads against their oracle: each file read
  * on its own by `spark.read` with the reader's options (schema
  * inferred), blank → null. Every hostile file must come back with the
  * same column names, and the same values in the same row order.
  */
class SiteCsvSpec extends SparkSpec {

  private val siteOptions = Map("header" -> "true", "mode" -> "PERMISSIVE", "nullValue" -> "NA")
  private val surveyOptions =
    Map("header" -> "true", "multiLine" -> "true", "escape" -> "\"", "nullValue" -> "NA")
  private val tsvOptions = Map("header" -> "true", "sep" -> "\t", "nullValue" -> "NA")

  /** The per-file read each reader must equal. */
  private def oracle(path: String, options: Map[String, String] = siteOptions): (Seq[String], Seq[Seq[String]]) =
    rowsOf(spark.read.options(options).csv(path))

  private def rowsOf(df: DataFrame): (Seq[String], Seq[Seq[String]]) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case "" => null
      case v => v.asInstanceOf[String]
    }))

  private def write(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    Files.write(p, body.getBytes(UTF_8))
    p.toString
  }

  private def check(paths: Seq[String]): Unit = {
    val read = Sources.siteCsvs(spark, paths)
    val rows = read.rows.collect().toSeq.map(r => r.getString(0) -> r.getSeq[String](1))
    assert(rows.map(_._1).toSet.subsetOf(paths.toSet))
    paths.foreach { p =>
      val (columns, expected) = oracle(p)
      assert(read.columns(p) === columns, s"columns of $p")
      assert(rows.filter(_._1 == p).map(_._2) === expected, s"rows of $p")
    }
  }

  /** The hostile files, written into `dir`. */
  private def hostile(dir: Path): Seq[String] = Seq(
    // Movebank: rows shorter and longer than the header
    write(dir, "Movebank.csv",
      "event_id,Latitude,Longitude,attr\n1,10.5,20.5,a\n2,11.5\n3,12.5,22.5,c,extra1,extra2\n4\n"),
    // NA, blank, quoted-blank and duplicated (also case-insensitively) names
    write(dir, "Odd header.csv",
      "Station,NA,,\"\",Latitude,station,LATITUDE,lat,Lat\ns1,a,b,c,45,d,e,f,g\n"),
    // quoted commas, `""` escapes, NA and "" values, a quoted line break
    write(dir, "Quoted.csv",
      "Name,Latitude,Longitude,Note\n" +
        "\"Reef, north\",1.5,2.5,\"say \"\"hi\"\"\"\n" +
        "NA,NA,\"\",\"\"\n" +
        ",3.5,,plain\n" +
        "\"two\nlines\",4.5,5.5,x\n"),
    // CRLF line endings, blank lines before and among the rows, a byte
    // order mark that is not at the start of the file
    write(dir, "Estacion de Fotobiologia Playa Union.csv",
      "\r\n  \r\n\uFEFFSite,Latitude,Longitude\r\na,1,2\r\n\r\nb,3,4\r\n"),
    // a UTF-8 byte order mark before the header
    write(dir, "Bom.csv", "\uFEFFSite,Latitude,Longitude\na,1,2\n"),
    // header only
    write(dir, "Service National d'Observation 50% + more.csv", "Site,Latitude,Longitude\n"),
    // registered lat column is not Latitude, and a Latitude column too (F2)
    write(dir, "AusCPR.csv",
      "TRIP_CODE,MID_LATITUDE,MID_LONGITUDE,Latitude,Longitude\nt1,10,20,95,1\nt2,abc,21,45,2\nt3,91,22,NA,3\n"),
    // junk and > 90 latitudes
    write(dir, "Junk.csv", "Site,Latitude,Longitude\na,91,1\nb,junk,2\nc, 45 ,3\nd,1e1,4\ne,90.0,5\nf,-91,6\n"),
    // no header line at all
    write(dir, "Blank.csv", "\n   \n"),
    write(dir, "Empty.csv", ""))

  test("every hostile site CSV reads as its own per-file spark.read would") {
    check(hostile(Files.createTempDirectory("graft_site_csv")))
  }

  test("each hostile file read alone matches its oracle too") {
    hostile(Files.createTempDirectory("graft_site_csv_one")).foreach(p => check(Seq(p)))
  }

  test("a header whose safe names collide fails as the per-file read fails") {
    // `a,a,a1`: the duplicated `a` becomes `a0`, `a1`, and `a1` repeats
    val clash = write(Files.createTempDirectory("graft_site_csv_clash"), "Suffix clash.csv", "a,a,a1\n1,2,3\n")
    val expected = intercept[AnalysisException](oracle(clash))
    val got = intercept[AnalysisException](Sources.siteCsvs(spark, Seq(clash)).rows.collect())
    assert(got.getCondition === expected.getCondition)
    assert(got.getCondition === "COLUMN_ALREADY_EXISTS")
  }

  test("no path: no columns, no rows") {
    val read = Sources.siteCsvs(spark, Nil)
    assert(read.columns.isEmpty)
    assert(read.rows.collect().isEmpty)
    assert(read.rows.columns.toSeq === Seq("path", "fields"))
  }

  test("a file without a header line has no columns and no rows") {
    val dir = Files.createTempDirectory("graft_site_csv_blank")
    val blank = write(dir, "Blank.csv", "\n\n")
    val read = Sources.siteCsvs(spark, Seq(blank))
    assert(read.columns === Map(blank -> Nil))
    assert(read.rows.filter(col("path") === blank).collect().isEmpty)
  }

  /** `read` against the per-file oracle under `options`, file by file. */
  private def checkEach(paths: Seq[String], options: Map[String, String])(read: String => DataFrame): Unit =
    paths.foreach { p =>
      val (columns, expected) = oracle(p, options)
      val (gotColumns, got) = rowsOf(read(p))
      assert(gotColumns === columns, s"columns of $p")
      assert(got === expected, s"rows of $p")
    }

  /** Survey exports: quoted multi-line records, a quoted multi-line
    * header name, and FIXTURES §2's null cases (`""`/`NA` years, all-null
    * EOV marks).
    */
  private def hostileSurveys(dir: Path): Seq[String] = Seq(
    // BOM; a header name with a line break, NA, blank and duplicated names
    write(dir, "Survey.csv",
      "\uFEFFprog_name,\"Program\nname\",NA,,duration_start_year,prog_name,Birds,Fish\n" +
        "\"Reef\nsurvey, \"\"north\"\"\",x,a,b,\"\",r2,,\n" +
        "NA,y,,c,2020,r3,X,\n" +
        ",\"\",NA,d,junk,,,X\n" +
        "\"last\",z,e,f,NA,NA,,\n"),
    // CRLF records, a quoted CRLF inside a field, blank lines before the header
    write(dir, "Crlf.csv", "\r\n\r\nprog_name,freq_interval\r\n\"a\r\nb\",Monthly\r\nc,\r\n"),
    // quoted header names, one of them blank, and a short row
    write(dir, "Quoted header.csv", "\"prog name\",\"\",\"x,y\"\n1,2,3\n4\n"),
    write(dir, "Header only.csv", "prog_name,Birds\n"),
    write(dir, "Empty.csv", ""))

  /** Basque-style TSVs. */
  private def hostileTsvs(dir: Path): Seq[String] = Seq(
    // BOM; NA, blank and duplicated (also case-insensitively) names
    write(dir, "Stations.tsv", "\uFEFFx\tNA\t\ty\tX\tx\n1\t2\t3\t4\t5\t6\nNA\t\t\"\"\t7\n"),
    // CRLF, blank lines before and among the rows, quoted tab
    write(dir, "Crlf.tsv", "\r\n  \r\nx\ty\r\n597007\t4805570\r\n\r\n\"a\tb\"\tNA\r\n"),
    write(dir, "Header only.tsv", "x\ty\n"),
    write(dir, "Empty.tsv", ""))

  test("surveyCsv reads each hostile survey as its own inferred-schema read would") {
    checkEach(hostileSurveys(Files.createTempDirectory("graft_survey_csv")), surveyOptions)(
      Sources.surveyCsv(spark, _))
  }

  test("tsv reads each hostile TSV as its own inferred-schema read would") {
    checkEach(hostileTsvs(Files.createTempDirectory("graft_tsv")), tsvOptions)(Sources.tsv(spark, _))
  }

  test("a survey header whose safe names collide fails as the inferred-schema read fails") {
    // `a,a,a1` and its multi-line twin: the duplicated name becomes
    // `<name>0`, `<name>1`, and `<name>1` repeats
    val dir = Files.createTempDirectory("graft_survey_clash")
    Seq(write(dir, "Clash.csv", "a,a,a1\n1,2,3\n"),
        write(dir, "Multi-line clash.csv", "\"x\ny\",\"x\ny\",\"x\ny1\"\n1,2,3\n")).foreach { p =>
      val expected = intercept[AnalysisException](oracle(p, surveyOptions))
      val got = intercept[AnalysisException](Sources.surveyCsv(spark, p).collect())
      assert(got.getCondition === expected.getCondition)
    }
  }

  test("building LoadPortal's lazy frames and the Basque TSV read fires no Spark job") {
    val dir = Files.createTempDirectory("graft_portal_frames")
    write(dir, "2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv",
      "prog_name,ErinSpatialGeoJSON,resp_firstname,resp_lastname,resp_email\nReef,NA,Ana,Lee,a@x.org\n")
    Seq("4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv",
        "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv")
      .foreach { name =>
        val in = getClass.getResourceAsStream(s"/portal/$name")
        try {
          Files.createDirectories(dir.resolve(name).getParent)
          Files.copy(in, dir.resolve(name))
        } finally in.close()
      }
    val header = Seq("Country", "Organisation", "Program name", "Programs Location", "Time period",
      "Frequency", "Birds", "Hard coral", "Fish", "Macroalgae", "Mangrove", "Microbes", "Phytoplankton",
      "Seagrass", "Turtles", "Zooplankton", "Benthic invertebrates", "Mammals", "Website", "Lat", "Lon")
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve("EuroSea.xlsx")))
    try {
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        "<sheetData><row>" + header.map(h =>
        s"""<c t="inlineStr"><is><t>$h</t></is></c>""").mkString + "</row></sheetData></worksheet>")
        .getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()

    val group = "graft-portal-frames"
    val sentinel = "sentinel"
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.add(String.valueOf(p.getProperty("spark.job.description"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      val job = new LoadPortal(spark, dir.toString)
      Seq(job.source2, job.source4, job.euroseaRaw,
        Sources.tsv(spark, dir.resolve(
          "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv").toString))
        .foreach(_.schema)
      // listener events arrive in order: once the sentinel job is seen,
      // every job the frames started has been seen before it
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.asScala.toSeq === Seq(sentinel))
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
