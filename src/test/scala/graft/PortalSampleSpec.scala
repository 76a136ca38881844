package graft

import java.io.File
import java.net.URI

/** q44–q46 scan the committed portal sample (src/main/resources/portal/)
  * instead of the `d` corpus. The Spark read and the DuckDB oracle must
  * name the same file, and the sample's FIXTURES.md edge cases must
  * reach the query output.
  */
class PortalSampleSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private val queries =
    Seq("q44_csv_scan_survey", "q45_tsv_scan", "q46_csv_scan_links")

  private def rows(q: String) =
    Queries.byName(q).fn(spark, d).collect().map(_.toSeq).toSeq

  test("q44–q46: the Spark scan and the oracle read the same sample file") {
    for (q <- queries) {
      val files = Queries.byName(q).fn(spark, d).inputFiles
        .map(f => new File(new URI(f)).getPath).toSeq
      assert(files.size == 1, q)
      assert(files.head.contains(s"${File.separator}portal${File.separator}"), q)
      val oracle = Queries.byName(q).oracle.getOrElse(fail(s"$q has no oracle"))
      assert(oracle.contains(s"read_csv('${files.head}'"), q)
    }
  }

  test("q44: multiline and \"\"-escaped fields parse; NA and empty read as null") {
    val r = rows("q44_csv_scan_survey")
    assert(r.size == 7)
    val names = r.map(_.head)
    assert(names.contains("Aleutian Islands Benthic\nHabitat Survey"))
    assert(names.contains("The \"Blue Belt\" Programme"))
    assert(names.contains("Kelp \"forest\" transects\n(\"KFT\")"))
    // resp_email: NA, unquoted empty, quoted empty
    assert(r.count(_(1) == null) == 3)
    // duration_start_year: unquoted empty, NA
    assert(r.count(_(2) == null) == 2)
  }

  test("q45: the NA coordinate reads as null, the rest as UTM metres") {
    val r = rows("q45_tsv_scan")
    assert(r.size == 5)
    assert(r.count(_.head == null) == 1)
    assert(r.contains(Seq(597007.0, 4805570.0)))
  }

  test("q46: empty short_names and the partial last line `207` group as null") {
    val byName = rows("q46_csv_scan_links").map(r => r(0) -> r(1)).toMap
    assert(byName == Map("Phytoplankton" -> 2L, "Fish" -> 3L, "Seagrass" -> 1L,
      "Birds" -> 1L, (null: Any) -> 3L))
  }
}
