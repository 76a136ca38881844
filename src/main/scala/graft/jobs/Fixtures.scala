package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K2/K3 — Django `loaddata` fixture writers (notebooks/index.Rmd:
  * 648-656 eovs, 680-688 users) plus the row-wise struct→JSON operator
  * (A4). Field layout matches jsonlite's `toJSON(auto_unbox=TRUE)`:
  * compact separators, string/number scalars, `null` for NA, `false`
  * for logical FALSE, one JSON array per file.
  *
  * The row-to-document conversion is the distributed `to_json(struct)`
  * (A4, codegen'd); only the final array assembly collects — a Django
  * fixture is by definition one driver-side document.
  */
object Fixtures {

  /** The 12-EOV dimension as a DataFrame (pks 1-12). */
  def eovDimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Recodes.eovs.map(e => (e.pk, e.name, e.shortName, e.url))
      .toDF("pk", "name", "short_name", "url")
  }

  /** `output/eovs.json` content (index.Rmd:648-656): model "goos.eov",
    * description = name.
    */
  def eovsJson(spark: SparkSession): String = {
    val rows = eovDimension(spark)
      .select(to_json(struct(
        lit("goos.eov").as("model"),
        col("pk"),
        struct(
          col("name"),
          col("short_name"),
          col("name").as("description"),
          col("url")).as("fields")),
        // jsonlite keeps NA fields as explicit nulls
        Map("ignoreNullFields" -> "false")).as("doc"))
      .collect().map(_.getString(0))
    rows.mkString("[", ",", "]")
  }

  /** `output/users.json` content (index.Rmd:680-688): model
    * "people.profile", fields = all user columns except pk. The
    * documents follow `users`' row order, which `LoadPortal.users` gives
    * in `pk` order.
    */
  def usersJson(users: DataFrame): String = usersDocs(users).mkString("[", ",", "]")

  private def usersDocs(users: DataFrame): Array[String] =
    users
      .select(to_json(struct(
        lit("people.profile").as("model"),
        col("pk"),
        struct(
          col("first_name"),
          col("last_name"),
          col("email"),
          col("username"),
          col("is_superuser")).as("fields")),
        Map("ignoreNullFields" -> "false")).as("doc"))
      .collect().map(_.getString(0))

  def writeEovs(spark: SparkSession, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "eovs.json"), eovsJson(spark))
  }

  /** Writes `output/users.json`; returns the number of users written. */
  def writeUsers(users: DataFrame, outDir: String): Int = {
    val docs = usersDocs(users)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "users.json"), docs.mkString("[", ",", "]"))
    docs.length
  }
}
