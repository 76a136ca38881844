package graft.io

import java.sql.DriverManager
import java.util.Properties

import graft.SparkSpec
import graft.io.JdbcBoundary.{JdbcExecutor, SqlExecutor, Stmt}
import graft.jobs.EovToKeywords
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** K5 against a real JDBC target (in-memory Derby): each partition of
  * `upsertMetadata` is one transaction, so a task that dies between a
  * layer's `delete from layers_layer_eovs` and its inserts leaves the
  * tables as they were.
  */
class JdbcTransactionSpec extends SparkSpec {
  import JdbcTransactionSpec._

  private val tables = Seq(
    "base_resourcebase" -> "id",
    "layers_layer" -> "resourcebase_ptr_id",
    "layers_layer_eovs" -> "layer_id, eov_id",
    "base_contactrole" -> "resource_id, contact_id")

  /** A fresh in-memory database holding layers 7 and 8 with their old
    * metadata, EOV links and contacts.
    */
  private def seeded(name: String): String = {
    // the JVM default locale is ROOT, which Derby cannot create a database under
    val url = s"jdbc:derby:memory:$name"
    val c = DriverManager.getConnection(s"$url;create=true;territory=en_US")
    try {
      val st = c.createStatement()
      Seq(
        "create table base_resourcebase (id int primary key, title varchar(200), abstract varchar(200), " +
          "maintenance_frequency varchar(50), temporal_extent_start date, temporal_extent_end date)",
        "create table layers_layer (resourcebase_ptr_id int primary key, title_en varchar(200), " +
          "abstract_en varchar(200), url varchar(200))",
        "create table layers_layer_eovs (layer_id int, eov_id int)",
        "create table base_contactrole (resource_id int, contact_id int, role varchar(50))",
        "insert into base_resourcebase values (7, 'old 7', 'a', 'yearly', null, null), " +
          "(8, 'old 8', 'b', 'yearly', null, null)",
        "insert into layers_layer values (7, 'old 7', 'a', 'http://old/7'), (8, 'old 8', 'b', 'http://old/8')",
        "insert into layers_layer_eovs values (7, 1), (7, 2), (8, 5)",
        "insert into base_contactrole values (7, 2001, 'pointOfContact'), (8, 2001, 'pointOfContact')"
      ).foreach(st.execute)
    } finally c.close()
    url
  }

  private def state(url: String): Map[String, Seq[String]] = {
    val c = DriverManager.getConnection(url)
    try tables.map { case (t, order) =>
      val rs = c.createStatement().executeQuery(s"select * from $t order by $order")
      val n = rs.getMetaData.getColumnCount
      val rows = Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => (1 to n).map(i => String.valueOf(rs.getObject(i))).mkString("|")).toVector
      t -> rows
    }.toMap
    finally c.close()
  }

  /** Layers 7 and 8 in ONE partition, so the fault falls mid-partition. */
  private def layers = {
    import spark.implicits._
    Seq(
      ("Layer 7", "new 7", "monthly", java.sql.Date.valueOf("2001-01-01"), "http://new/7", 7L, 2002L, true, false),
      ("Layer 8", "new 8", "daily", java.sql.Date.valueOf("2002-02-02"), "http://new/8", 8L, 2003L, false, true))
      .toDF("name", "abstract", "temporal_resolution", "start_date", "url", "pk", "user_pk",
        "eov_phytoplankton", "eov_zooplankton")
      .withColumn("end_date", org.apache.spark.sql.functions.lit(null).cast("date"))
      .coalesce(1)
  }

  test("K5: a task that fails mid-partition leaves the tables as seeded; a re-run matches a clean run") {
    val props = new Properties()
    val clean = seeded("k5_clean")
    JdbcBoundary.upsertMetadata(layers, () => new JdbcExecutor(clean, props))
    val expected = state(clean)
    assert(expected("layers_layer_eovs") === Vector("7|1", "8|2"))
    assert(expected("base_contactrole") === Vector("7|2002|pointOfContact", "8|2003|pointOfContact"))

    val url = seeded("k5_fault")
    val before = state(url)
    // dies on layer 8's first EOV insert: after layer 7 and after layer 8's link delete
    intercept[SparkException] {
      JdbcBoundary.upsertMetadata(layers, () => new FailingExecutor(new JdbcExecutor(url, props), 8L))
    }
    assert(state(url) === before)

    JdbcBoundary.upsertMetadata(layers, () => new JdbcExecutor(url, props))
    assert(state(url) === expected)
  }

  /** A fresh in-memory database holding six EOV links, listed out of
    * (layer_id, eov_id) order.
    */
  private def seededLinks(name: String): String = {
    val url = s"jdbc:derby:memory:$name"
    val c = DriverManager.getConnection(s"$url;create=true;territory=en_US")
    try {
      val st = c.createStatement()
      Seq(
        "create table goos_eov (id int primary key, short_name varchar(50))",
        "create table layers_layer_eovs (layer_id int, eov_id int)",
        "insert into goos_eov values (1, 'birds'), (2, 'fish'), (5, 'seagrass')",
        "insert into layers_layer_eovs values (9, 2), (7, 5), (8, 1), (7, 1), (9, 1), (8, 5)"
      ).foreach(st.execute)
    } finally c.close()
    url
  }

  private val backupLines = Seq(
    "LAYER_ID,EOV_ID,SHORT_NAME",
    "7,1,birds", "7,5,seagrass", "8,1,birds", "8,5,seagrass", "9,1,birds", "9,2,fish")

  private def backupPart(backup: String): Seq[String] = {
    val part = new java.io.File(backup).listFiles().filter(_.getName.startsWith("part-")).toSeq
    assert(part.length === 1)
    java.nio.file.Files.readAllLines(part.head.toPath).toArray.toSeq.map(_.toString)
  }

  test("E2: the K4 backup lists links ordered by (layer_id, eov_id), not in heap order") {
    val url = seededLinks("e2_backup_order")
    val backup = java.nio.file.Files.createTempDirectory("graft_e2_backup").resolve("links").toString
    EovToKeywords.backupLinks(
      JdbcBoundary.queryScan(spark, url, EovToKeywords.linksQuery, new Properties()), backup)
    assert(backupPart(backup) === backupLines)
  }

  test("E2: the links are scanned once; the backup and the migrated table share that snapshot") {
    val url = seededLinks("e2_one_scan_old")
    val newUrl = "jdbc:derby:memory:e2_one_scan_new"
    DriverManager.getConnection(s"$newUrl;create=true;territory=en_US").close()
    val api = new GeoNodeApi.FakeHttpJson(Map("tkeywords" ->
      """{"tkeywords":[{"id":31,"alt_label":"birds","about":"https://goosocean.org/eov"},
        |{"id":32,"alt_label":"seagrass","about":"https://goosocean.org/eov"}]}""".stripMargin))
    val backup = java.nio.file.Files.createTempDirectory("graft_e2_one_scan").resolve("links").toString
    val scans = jdbcScans {
      EovToKeywords.run(spark, url, new Properties(), newUrl, new Properties(), api, "http://fake", backup)
    }
    assert(scans === 1)
    assert(backupPart(backup) === backupLines)
    val c = DriverManager.getConnection(newUrl)
    try {
      // Spark's JDBC writer quotes the column names it creates
      val rs = c.createStatement().executeQuery(
        "select \"resourcebase_id\", \"thesauruskeyword_id\" from base_resourcebase_tkeywords " +
          "order by 1, 2")
      val rows = Iterator.continually(rs.next()).takeWhile(identity)
        .map(_ => s"${rs.getObject(1)}|${rs.getObject(2)}").toVector
      assert(rows === Vector("7|31", "7|32", "8|31", "8|32", "9|31", "9|null"))
    } finally c.close()
  }

  /** The JDBC scans `body` runs: distinct JDBC RDDs among the stages
    * its jobs submit.
    */
  private def jdbcScans(body: => Unit): Int = {
    val sentinel = "graft-jdbc-scans-sentinel"
    val rdds = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.name == "JDBCRDD").foreach(r => rdds.add(r.id))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel)) sentinelSeen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the listener sees events in order: once the sentinel job's start
      // arrives, so has every stage `body` submitted
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen)
      rdds.toArray.toSet.size
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}

object JdbcTransactionSpec {

  /** Forwards to `inner` and throws at the first EOV insert for layer `pk`. */
  class FailingExecutor(inner: JdbcExecutor, pk: Long) extends SqlExecutor with AutoCloseable {
    def execute(stmt: Stmt): Unit = {
      if (stmt.sql.startsWith("insert into layers_layer_eovs") && stmt.params.head == pk)
        throw new IllegalStateException(s"injected failure at layer $pk")
      inner.execute(stmt)
    }
    def close(): Unit = inner.close()
  }
}
