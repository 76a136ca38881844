package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** [[Sources.siteCsvs]] against its oracle: each file read on its own by
  * `spark.read` with the site-CSV options, blank → null. Every hostile
  * file must come back with the same column names, and the same values
  * in the same row order.
  */
class SiteCsvSpec extends SparkSpec {

  /** The per-file read the multi-file reader replaces. */
  private def oracle(path: String): (Seq[String], Seq[Seq[String]]) = {
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("nullValue", "NA")
      .csv(path)
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case "" => null
      case v => v.asInstanceOf[String]
    }))
  }

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
}
