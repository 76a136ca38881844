package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built; every main and the test
  * suite go through it, so their configurations cannot drift apart.
  *
  *  - `Locale.ROOT` is pinned: Spark's non-ASCII lowercase path reads
  *    the JVM default locale while the kernels use `Locale.ROOT`
  *    explicitly, so a non-ROOT default (tr-TR 'I'→'ı') would desync
  *    the two; ROOT is what every committed hash was captured under.
  *  - `local[n]` with `n` shuffle partitions, `n` = `SPARK_GRAFT_CPUS`,
  *    else every core the JVM sees.
  *  - Classic (non-ANSI) semantics: junk casts give null and 64-bit
  *    arithmetic wraps, as in the R reference and the DuckDB-oracle
  *    queries, which guard their own overflow.
  *  - `parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS),
  *    which Spark's vectorized reader rejects; it is read as a long and
  *    normalized in [[Tables.events]].
  *
  * Built through Spark's own session builder, so `spark.*` system
  * properties (listeners, warehouse dir) still reach the session.
  *
  * Which session runs what: the catalog, the spatial export's site-CSV
  * and TSV scans, the upsert and E2/E3 run on the session [[apply]]
  * builds, with whole-stage code generation. `LoadPortal` computes E1's
  * config-scale frames (hundreds of rows) on an [[interpreted]] child of
  * it, in one pass, and hands out only their copies in the caller's
  * session; the child-side frames never leave it.
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A child of `spark` that runs its plans interpreted: it shares
    * `spark`'s SparkContext and catalog, carries every modifiable
    * `spark.sql.*` setting `spark` has now (time zone, ANSI mode, case
    * sensitivity, …), and turns off whole-stage code generation and the
    * generated expression classes. For plans over a few hundred rows,
    * where compiling a query costs more than running it; `spark` itself
    * is left as it was.
    */
  def interpreted(spark: SparkSession): SparkSession = {
    val child = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") && spark.conf.isModifiable(k)) child.conf.set(k, v)
    }
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    child
  }
}
