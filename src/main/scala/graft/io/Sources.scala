package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import graft.TaskPool
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{CodecStreams, HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** File sources with the reference's exact read semantics (SURVEY §2.1).
  * All are `spark.read` scans — distributed, filter/projection pushdown
  * applies — with options matching R's `read.csv`/`read_tsv` behavior:
  *
  *  - [[surveyCsv]]: the survey exports (S1/S2), multiline quoted;
  *  - [[siteCsvs]]: the per-network site CSVs (S5), every file in one
  *    plan, each with its own header;
  *  - [[tsv]]: the Basque stations (S6);
  *  - [[csv]]: the DB backups (S12).
  */
object Sources {

  /** Survey-export CSV (S1/S2, notebooks/index.Rmd:56,69): header row,
    * quoted multiline fields (survey 4 is 36,181 physical lines for 371
    * records), `"`-escaped quotes, and R `read.csv`/type.convert null
    * semantics: both the empty string and the literal "NA" read as null.
    */
  def surveyCsv(spark: SparkSession, path: String): DataFrame =
    readWithHeader(spark, path,
      Map("header" -> "true", "multiLine" -> "true", "escape" -> "\"", "nullValue" -> "NA"))

  /** The site CSVs as [[siteCsvs]] reads them: `columns` holds each
    * path's column names; `rows` holds one row per data line of every
    * file, as `path` (as given) and `fields` (the line's values, one per
    * column of its file). A file's rows keep the file's order.
    */
  final case class SiteCsvs(columns: Map[String, Seq[String]], rows: DataFrame)

  private val siteOptions = Map("header" -> "true", "mode" -> "PERMISSIVE", "nullValue" -> "NA")

  /** The per-network site CSVs (S5, notebooks/index.Rmd:433), every file
    * in one plan and one job. Each file reads exactly as its own
    * `spark.read.options(header, PERMISSIVE, nullValue NA).csv(path)`
    * would, blank→null included: its own header, under Spark's rule (a
    * blank or `NA` name becomes `_c<i>`, a duplicated one gets its index
    * appended, and names that still collide fail the read); ragged rows
    * padded with nulls or truncated (Movebank.csv has ragged rows — R's
    * read.csv fills short rows).
    *
    * Spark takes a multi-file CSV read's schema from the first file
    * only, so the header is read per file on the driver (the files at
    * once, [[TaskPool]]), the way Spark's schema inference reads
    * it (its line reader, blank lines skipped, its parser settings and
    * header rule). The files are then scanned
    * once per distinct header, with that header as the schema, and the
    * scans are unioned: Spark still drops each file's header line and
    * parses every data line itself. A file without a header line has
    * no columns and no rows, and is not scanned. No path, no read.
    */
  def siteCsvs(spark: SparkSession, paths: Seq[String]): SiteCsvs = {
    val files = TaskPool(spark) { pool =>
      paths.distinct.map(p => pool.fork(p -> header(spark, p, siteOptions))).map(_.get)
    }
    val scans = files.filter(_._2.columns.nonEmpty).groupBy(_._2.columns).toSeq.map { case (columns, group) =>
      val positional = columns.indices.map(i => s"_c$i")
      spark.read.schema(StructType(columns.map(StructField(_, StringType))))
        .options(siteOptions)
        .csv(group.map(_._1): _*)
        // `*` and `toDF` go by position: no header name needs quoting
        .select(col("*"), col("_metadata.file_path"))
        .toDF(positional :+ "_file": _*)
        .select(
          coalesce(element_at(typedLit(group.map(f => f._2.filePath -> f._1).toMap), col("_file")),
            raise_error(concat(lit("site CSV read an unrequested file "), col("_file")))).as("path"),
          array(positional.map(c => blankToNull(col(c))): _*).as("fields"))
    }
    val none = StructType(Seq(StructField("path", StringType), StructField("fields", ArrayType(StringType))))
    SiteCsvs(files.map(f => f._1 -> f._2.columns).toMap,
      scans.reduceOption(_ union _)
        .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), none)))
  }

  /** TSV (S6, notebooks/index.Rmd:531). */
  def tsv(spark: SparkSession, path: String): DataFrame =
    readWithHeader(spark, path, Map("header" -> "true", "sep" -> "\t", "nullValue" -> "NA"))

  /** Plain CSV for DB backups (S12, data/layers_layer_eovs.csv). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("nullValue", "NA").csv(path)

  /** `spark.read.options(options).csv(path)` with blank→null, given
    * the all-string schema Spark would infer for the file ([[header]]),
    * so building the frame runs no Spark job.
    */
  private def readWithHeader(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    spark.read.schema(StructType(header(spark, path, options).columns.map(StructField(_, StringType))))
      .options(options)
      .csv(path)
      .transform(blankToNull)

  /** A file's column names, and its path as `_metadata.file_path` spells it. */
  private final case class Header(filePath: String, columns: Seq[String])

  /** One file's header as `spark.read.options(options).csv(path)` infers
    * it, read on the driver the way Spark's schema inference reads it.
    * Under `multiLine` that is the first record of the file's token
    * stream, so a quoted name may span lines; otherwise it is the first
    * line that is neither blank nor a comment (Spark's line reader),
    * parsed on its own. Either way Spark's header rule then applies: a
    * blank or `NA` name becomes `_c<i>`, a duplicated one gets its index
    * appended. No header record, no columns.
    */
  private def header(spark: SparkSession, path: String, options: Map[String, String]): Header = {
    val conf = spark.sparkContext.hadoopConfiguration
    val csvOptions = new CSVOptions(options, true, spark.conf.get("spark.sql.session.timeZone"))
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(conf)
    val file = SparkPath.fromPath(fs.makeQualified(hadoopPath))
    val parser = new CsvParser(csvOptions.asParserSettings)
    val first =
      if (csvOptions.multiLine) {
        // Spark's `UnivocityParser.tokenizeStream` over the file, first record
        parser.beginParsing(CodecStreams.createInputStream(conf, file.toPath), csvOptions.charset)
        try Option(parser.parseNext()) finally parser.stopParsing()
      } else {
        val lines = new HadoopFileLinesReader(
          PartitionedFile(InternalRow.empty, file, 0, fs.getFileStatus(hadoopPath).getLen), None, conf)
        try CSVUtils.filterCommentAndEmpty(
            lines.map(t => new String(t.getBytes, 0, t.getLength, UTF_8)), csvOptions)
          .nextOption().flatMap(line => Option(parser.parseLine(line)))
        finally lines.close()
      }
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    Header(new Path(file.toPath.toString).toUri.toString,
      first.map(CSVUtils.makeSafeHeader(_, caseSensitive, csvOptions).toSeq).getOrElse(Nil))
  }

  /** R `type.convert` treats "" as NA in every column; Spark leaves
    * quoted empty strings as "". Normalize once at the source.
    * Backtick-quoted so dotted headers ("Site.Name") resolve literally.
    */
  private def blankToNull(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c => blankToNull(col(s"`$c`")).as(c)): _*)

  private def blankToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)
}
