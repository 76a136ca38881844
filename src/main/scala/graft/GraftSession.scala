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
}
