package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every session is built by [[GraftSession]]: the shared settings hold
  * on the suite's session, and no other program source builds its own.
  */
class GraftSessionSpec extends SparkSpec {

  test("the session carries the shared settings") {
    val n = GraftSession.cpus
    assert(spark.sparkContext.master === s"local[$n]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === n.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(java.util.Locale.getDefault === java.util.Locale.ROOT)
  }

  test("SparkSession.builder() appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        builder.findAllIn(Files.readString(p)).map(_ => root.relativize(p).toString)
      }.toSeq
    assert(hits === Seq("graft/GraftSession.scala"))
  }
}
