package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, TaskPool}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

/** E1's concurrent stages ([[graft.TaskPool]]): `LoadPortal`'s frames
  * asked for from several threads at once, and the spatial export's
  * failure path and thread state.
  */
class E1ConcurrencySpec extends SparkSpec {
  import E1ConcurrencySpec._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("LoadPortal's frames asked for from several threads at once equal a one-thread run") {
    val dir = portalDir().toString
    def asks(job: LoadPortal): Seq[() => Seq[Row]] =
      Seq(() => rows(job.withIdentifiers), () => rows(job.duplicates), () => rows(job.users))
    // daemon threads and a timeout: a lock-order deadlock fails the test
    // instead of hanging it
    val threads = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "e1-concurrency-spec"); t.setDaemon(true); t }
    def within[T](body: () => T) = threads.submit(() => body())
    try {
      val expected = within(() => asks(new LoadPortal(spark, dir)).map(_())).get(120, TimeUnit.SECONDS)
      assert(expected.forall(_.nonEmpty))

      val job = new LoadPortal(spark, dir)
      val start = new CountDownLatch(1)
      val results = (asks(job) ++ asks(job)).map(ask => within { () => start.await(); ask() })
      start.countDown()
      assert(results.map(_.get(120, TimeUnit.SECONDS)) === expected ++ expected)
    } finally threads.shutdownNow()
  }

  /** A data directory with a Basque TSV and one Movebank site CSV. */
  private def exportDir(movebank: String): Path = {
    val dir = Files.createTempDirectory("graft_e1_export")
    write(dir, SpatialExport.spainTsv, "x\ty\n597007\t4805570\n560346\t4797541\n")
    write(dir, "largeCSVsites_final/Movebank.csv", movebank)
    dir
  }

  private def combined(): DataFrame = {
    import spark.implicits._
    Seq[(String, String, String, String)](
      ("Movebank", "movebank", null, "u1"),
      (SpatialExport.spainName, "basque", null, "u2"))
      .toDF("name", "identifier", "geometry_geojson", "url")
  }

  private def poolThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith(TaskPool.ThreadPrefix)).toSet

  test("a failing export step is rethrown unwrapped and leaves no pool thread alive") {
    // the site CSV lacks its registered longitude column
    val dir = exportDir("event_id,Latitude,attr\n1,10.5,a\n")
    val out = Files.createTempDirectory("graft_e1_export_out").toString
    val e = intercept[IllegalArgumentException](SpatialExport.run(spark, combined(), dir.toString, out))
    assert(e.getMessage.contains("largeCSVsites_final/Movebank.csv: 0 columns named Longitude"), e.getMessage)
    assert(poolThreads.isEmpty)
  }

  test("jobs the export submits from its pool carry the caller's job group") {
    val dir = exportDir("event_id,Latitude,Longitude\n1,10.5,20.5\n2,11.5,21.5\n")
    val out = Files.createTempDirectory("graft_e1_export_out").toString
    val group = "graft-e1-export"
    val sentinel = "sentinel"
    val started = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        started.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "export")
      val r = SpatialExport.run(spark, combined(), dir.toString, out)
      assert(r.missingIdentifiers.isEmpty)
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.exists(_._2 == sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      val jobs = started.asScala.toSeq.filterNot(_._2 == sentinel)
      // the site CSV read and the TSV read, each run on a pool thread
      assert(jobs.size >= 2, jobs)
      assert(jobs.map(_._1).toSet === Set(group))
      assert(poolThreads.isEmpty)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}

object E1ConcurrencySpec {

  /** A mini portal directory: the committed portal sample's survey 4
    * (its header widened to every EOV column the pipeline selects; the
    * short records read the new columns as null), a tiny survey 2 and an
    * inline EuroSea.xlsx.
    */
  def portalDir(): Path = {
    val dir = Files.createTempDirectory("graft_e1_portal")
    val survey4 = resource("4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv")
    val headerEnd = survey4.indexOf('\n')
    write(dir, "4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv",
      survey4.substring(0, headerEnd) + ",Hard_Coral,Macroalgae,Mangroves,Microbes,Ocean_Sound," +
        "Phytoplankton,Sea_Turtles,Zooplankton,Benthic_Invertebrate,Marine_Mammals" +
        survey4.substring(headerEnd))
    write(dir, "2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv",
      "prog_name,ErinSpatialGeoJSON,resp_firstname,resp_lastname,resp_email\n" +
        "Seabird Colony Counts,\"{\"\"type\"\":\"\"Point\"\",\"\"coordinates\"\":[1,2]}\",Ana,Lee,ana@example.org\n" +
        "Continuous Plankton Recorder Survey,NA,Bo,Kim,cpr@example.org\n")
    val header = Seq("Country", "Organisation", "Program name", "Programs Location", "Time period",
      "Frequency", "Birds", "Hard coral", "Fish", "Macroalgae", "Mangrove", "Microbes", "Phytoplankton",
      "Seagrass", "Turtles", "Zooplankton", "Benthic invertebrates", "Mammals", "Website", "Lat", "Lon")
    def row(org: String, name: String, time: String, birds: String, url: String, lat: String, lon: String) =
      Seq("Spain", org, name, "Bay", time, "Monthly", birds) ++ Seq.fill(11)("") ++ Seq(url, lat, lon)
    xlsx(dir.resolve("EuroSea.xlsx"), header, Seq(
      row("AZTI", "Basque monitoring network for the ecological status assessment", "1995-2020", "x",
        "https://azti.example", "43.4", "-2.1"),
      row("AZTI", "Basque monitoring network for the ecological status assessment", "2001", "",
        "https://azti2.example", "43.5", "-2.2"),
      row("IEO", "Seabird Colony Counts", "since 2010", "x", "", "", "-3.0"),
      row("", "Continuous Plankton Recorder Survey", "junk", "", "https://cpr.example", "50", "1")))
    dir
  }

  def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/portal/$name")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def write(dir: Path, name: String, body: String): Unit = {
    Files.createDirectories(dir.resolve(name).getParent)
    Files.write(dir.resolve(name), body.getBytes(UTF_8))
  }

  /** A one-sheet workbook of inline strings, at most 26 columns (blank
    * cells omitted).
    */
  def xlsx(path: Path, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
    def cells(values: Seq[String]) = values.zipWithIndex.collect { case (v, i) if v.nonEmpty =>
      s"""<c r="${('A' + i).toChar}" t="inlineStr"><is><t>$v</t></is></c>"""
    }.mkString
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try {
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        (header +: rows).map(r => s"<row>${cells(r)}</row>").mkString + "</sheetData></worksheet>").getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}
