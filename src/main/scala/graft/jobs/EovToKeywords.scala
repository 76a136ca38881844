package graft.jobs

import graft.io.{GeoNodeApi, JdbcBoundary, Sources}
import graft.operators.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E2 — the EOV→keyword migration (`notebooks/eov_to_keywords.Rmd`):
  * back up layer↔EOV links from the old GeoNode Postgres, map EOV short
  * names to thesaurus keywords via the REST API, write the link table
  * into the new Postgres.
  *
  * The core is pure (DataFrame in → DataFrame out); both database
  * connections and the HTTP client are injected — which also fixes the
  * reference's latent bug of querying an undefined `con` global
  * (eov_to_keywords.Rmd:44).
  */
object EovToKeywords {

  /** S11 pushdown query (eov_to_keywords.Rmd:44): the left join runs in
    * Postgres; Spark sees (layer_id, eov_id, short_name), ordered by
    * (layer_id, eov_id) so the K4 backup lists the links in the same
    * order on every run, whatever the table's heap order (the database
    * sorts; no Spark job is added).
    */
  val linksQuery: String =
    "select l.layer_id, e.id as eov_id, e.short_name from layers_layer_eovs l " +
      "left join goos_eov e on l.eov_id = e.id order by l.layer_id, e.id"

  /** K4 — CSV backup of the links (eov_to_keywords.Rmd:47). */
  def backupLinks(links: DataFrame, path: String): Unit =
    links.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Re-read a backup (S12, data/layers_layer_eovs.csv). */
  def readBackup(spark: SparkSession, path: String): DataFrame =
    Sources.csv(spark, path)

  /** J4 + P5 (eov_to_keywords.Rmd:62-64): links ⟕ tkeywords on
    * short_name = alt_label → (resourcebase_id, thesauruskeyword_id).
    * `tkeywords` must carry (id, alt_label) — from [[GeoNodeApi
    * .tkeywords]] or a test fake. Broadcast: the keyword list is tiny.
    */
  def mapToKeywords(links: DataFrame, tkeywords: DataFrame): DataFrame =
    links.join(
        broadcast(tkeywords.select(col("id"), col("alt_label"))),
        links.col("short_name") === col("alt_label"), "left")
      .select(col("layer_id").as("resourcebase_id"),
        col("id").as("thesauruskeyword_id"))

  /** Full job wiring (production shape): JDBC scan → backup → API scan
    * → map → JDBC overwrite. The links (one row per layer↔EOV link) are
    * scanned once and held on the driver, so the backup and the
    * migrated table are written from one snapshot of the old database.
    */
  def run(spark: SparkSession,
          oldDbUrl: String, oldDbProps: java.util.Properties,
          newDbUrl: String, newDbProps: java.util.Properties,
          api: GeoNodeApi.HttpJson, apiBaseUrl: String,
          backupPath: String): Unit = {
    val links = Ckpt.toLocal(JdbcBoundary.queryScan(spark, oldDbUrl, linksQuery, oldDbProps))
    backupLinks(links, backupPath)
    val keywords = GeoNodeApi.tkeywords(spark, api, apiBaseUrl)
    val out = mapToKeywords(links, keywords)
    JdbcBoundary.overwriteTable(out, newDbUrl, "base_resourcebase_tkeywords", newDbProps)
  }
}
