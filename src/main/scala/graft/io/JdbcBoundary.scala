package graft.io

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** JDBC boundaries (SURVEY §2.1 S11, §2.2 K5/K6), designed so every
  * job core is a pure DataFrame function and the database edge is an
  * injected interface with an in-memory fake for tests. The reference's
  * E2 notebook reads from an undefined `con` global
  * (eov_to_keywords.Rmd:44 — a latent bug); explicit injection fixes
  * that by construction.
  */
object JdbcBoundary {

  /** One parameterized SQL statement. */
  case class Stmt(sql: String, params: Seq[Any])

  /** Executes statement batches — the executor boundary. */
  trait SqlExecutor extends Serializable {
    def execute(stmt: Stmt): Unit
  }

  /** Production executor: one JDBC connection per executor partition,
    * `PreparedStatement` per distinct SQL text, explicit batching —
    * the Spark replacement for the reference's per-row driver loop
    * (index.Rmd:765-770).
    *
    * The connection is one transaction: `close` flushes and commits.
    * Inside a Spark task, a task that ends without `close` (it failed or
    * was killed) rolls the transaction back and closes the connection
    * from a task completion listener registered when the connection
    * opens, so no partition is ever half-applied.
    */
  class JdbcExecutor(url: String, props: java.util.Properties)
      extends SqlExecutor with AutoCloseable {
    // opened on first use: a serialized-then-deserialized instance starts
    // without a connection
    @transient private var conn: Connection = _
    @transient private lazy val stmts = scala.collection.mutable.Map.empty[String, PreparedStatement]
    @transient private var pendingSql: String = _

    private def connection(): Connection = {
      if (conn == null) {
        conn = DriverManager.getConnection(url, props)
        conn.setAutoCommit(false)
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => abort()))
      }
      conn
    }

    /** Consecutive statements with the same SQL text accumulate into one
      * JDBC batch; a different text (or `close`) flushes first, so the
      * relative order of distinct statements is preserved — only
      * homogeneous runs (e.g. the per-EOV link inserts) are batched.
      */
    def execute(stmt: Stmt): Unit = {
      if (pendingSql != null && pendingSql != stmt.sql) flush()
      val ps = stmts.getOrElseUpdate(stmt.sql, connection().prepareStatement(stmt.sql))
      stmt.params.zipWithIndex.foreach { case (p, i) => ps.setObject(i + 1, p) }
      ps.addBatch()
      pendingSql = stmt.sql
    }
    private def flush(): Unit =
      if (pendingSql != null) { stmts(pendingSql).executeBatch(); pendingSql = null }

    /** Flushes and commits; a failed flush or commit rolls back. */
    def close(): Unit = if (conn != null) {
      try { flush(); conn.commit() }
      catch { case e: Throwable => abort(); throw e }
      release()
    }

    /** Rolls back whatever is uncommitted and closes; a no-op once closed. */
    private def abort(): Unit = if (conn != null) {
      try conn.rollback() finally release()
    }

    private def release(): Unit = {
      try stmts.values.foreach(_.close())
      finally { conn.close(); conn = null; stmts.clear(); pendingSql = null }
    }
  }

  /** Test fake: records every statement into a JVM-static queue (task
    * closures are serialized even in local mode, so instance state
    * written on the executor side would be lost — the static queue is
    * shared because local-mode executors live in the same JVM).
    */
  class RecordingExecutor extends SqlExecutor {
    def execute(stmt: Stmt): Unit = RecordingExecutor.log.add(stmt)
    def statements: Seq[Stmt] = {
      import scala.jdk.CollectionConverters._
      RecordingExecutor.log.asScala.toSeq
    }
    def clear(): Unit = RecordingExecutor.log.clear()
  }
  object RecordingExecutor {
    private val log = new java.util.concurrent.ConcurrentLinkedQueue[Stmt]()
  }

  /** K5 — per-layer metadata upsert (index.Rmd:703-771): runs
    * `statementsFor` over every row with a non-null `pk`, batched per
    * partition through `executorFor` (one connection per partition, not
    * per row). At cluster scale this is the only executor→database
    * boundary; rows without a layer pk are skipped like the reference's
    * `if (!is.na(df_combined$pk[i]))` guard.
    *
    * The executor is closed only after the partition's last statement,
    * so with [[JdbcExecutor]] each partition commits as one transaction;
    * a partition that throws is never closed and its transaction is
    * rolled back (a retried task starts from the committed state).
    */
  def upsertMetadata(df: DataFrame, executorFor: () => SqlExecutor): Unit = {
    val rows = df.filter(df.col("pk").isNotNull)
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val ex = executorFor()
      it.foreach(r => MetadataUpsert.statementsFor(r).foreach(ex.execute))
      ex match { case c: AutoCloseable => c.close(); case _ => () }
    }
  }

  /** K6 — whole-table overwrite (eov_to_keywords.Rmd:66-67):
    * `dbWriteTable(..., overwrite = TRUE)` is exactly Spark's JDBC
    * overwrite write.
    */
  def overwriteTable(df: DataFrame, url: String, table: String,
                     props: java.util.Properties): Unit =
    df.write.mode("overwrite").jdbc(url, table, props)

  /** S11 — pushdown query scan (eov_to_keywords.Rmd:42-45): the join
    * runs inside Postgres, Spark sees one result relation.
    */
  def queryScan(spark: org.apache.spark.sql.SparkSession, url: String,
                query: String, props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, s"($query) AS q", props)
}

/** The six-statement metadata upsert from the reference's
  * `update_layer` (index.Rmd:706-763), as a pure row → statements
  * function (unit-testable without a database).
  */
object MetadataUpsert {
  import JdbcBoundary.Stmt

  def statementsFor(r: org.apache.spark.sql.Row): Seq[Stmt] = {
    def get(name: String): Any = r.get(r.fieldIndex(name))
    val pk = get("pk")
    val base = Seq(
      Stmt("update base_resourcebase set title = ?, abstract = ?, maintenance_frequency = ?, temporal_extent_start = ?, temporal_extent_end = ? where id = ?",
        Seq(get("name"), get("abstract"), get("temporal_resolution"),
          get("start_date"), get("end_date"), pk)),
      Stmt("update layers_layer set title_en = ?, abstract_en = ?, url = ? where resourcebase_ptr_id = ?",
        Seq(get("name"), get("abstract"), get("url"), pk)),
      Stmt("delete from layers_layer_eovs where layer_id = ?", Seq(pk)))
    // eov link inserts: flag positions in fixture-pk order (index.Rmd:727-740)
    val fieldSet = r.schema.fieldNames.toSet
    val eovInserts = graft.jobs.Recodes.eovFlagColumns.collect {
      case (eovId, colName) if fieldSet.contains(colName) &&
        !r.isNullAt(r.fieldIndex(colName)) && r.getBoolean(r.fieldIndex(colName)) =>
        Stmt("insert into layers_layer_eovs (layer_id, eov_id) values (?, ?)", Seq(pk, eovId))
    }
    val contact = Seq(
      Stmt("delete from base_contactrole where resource_id = ? and role = 'pointOfContact'", Seq(pk))) ++
      (if (!r.isNullAt(r.fieldIndex("user_pk")))
        Seq(Stmt("insert into base_contactrole (resource_id, contact_id, role) values (?, ?, 'pointOfContact')",
          Seq(pk, get("user_pk"))))
      else Seq.empty)
    base ++ eovInserts ++ contact
  }
}
