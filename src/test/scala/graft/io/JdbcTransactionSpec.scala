package graft.io

import java.sql.DriverManager
import java.util.Properties

import graft.SparkSpec
import graft.io.JdbcBoundary.{JdbcExecutor, SqlExecutor, Stmt}
import graft.jobs.EovToKeywords
import org.apache.spark.SparkException

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

  test("E2: the K4 backup lists links ordered by (layer_id, eov_id), not in heap order") {
    val url = "jdbc:derby:memory:e2_backup_order"
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
    val backup = java.nio.file.Files.createTempDirectory("graft_e2_backup").resolve("links").toString
    EovToKeywords.backupLinks(
      JdbcBoundary.queryScan(spark, url, EovToKeywords.linksQuery, new Properties()), backup)
    val part = new java.io.File(backup).listFiles().filter(_.getName.startsWith("part-")).toSeq
    assert(part.length === 1)
    assert(java.nio.file.Files.readAllLines(part.head.toPath).toArray.toSeq === Seq(
      "LAYER_ID,EOV_ID,SHORT_NAME",
      "7,1,birds", "7,5,seagrass", "8,1,birds", "8,5,seagrass", "9,1,birds", "9,2,fish"))
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
