package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval-containment) join: pair each point row with every
  * interval row of the same key whose `[start, end]` contains the
  * point. Spark plans a bare `p BETWEEN s AND e` predicate as a
  * key-equi join with a residual filter — one reducer per key value
  * scans ALL intervals of that key (quadratic per key). The bucketized
  * formulation bounds the work:
  *
  *  1. intervals explode to the buckets they cover
  *     (`floor(start/w) .. floor(end/w)`);
  *  2. points map to their single bucket;
  *  3. equi-join on (key, bucket) — candidates are co-bucketed only —
  *     then the exact containment filter.
  *
  * Each (point, interval) match is produced exactly once (in the
  * point's bucket), so no dedup pass is needed. `bucketWidth` trades
  * explode factor (interval span / width) against candidate precision;
  * set it near the median interval length.
  *
  * **Explode cap**: a single interval spanning the whole domain (a
  * sentinel "always" row, a data bug) would otherwise generate
  * span/width bucket rows from one input row — unbounded amplification.
  * Intervals covering more than `maxBucketsPerInterval` buckets are
  * routed through a broadcast side-channel instead: by construction
  * they are few (each one matches a huge point range, so a large count
  * of them is quadratic no matter the algorithm), and the broadcast
  * non-equi join handles them without any explode. Both paths emit
  * each match exactly once (an interval is in exactly one path).
  */
object RangeJoin {

  def bucketedRangeJoin(points: DataFrame, intervals: DataFrame,
                        keys: Seq[String], pointCol: String,
                        startCol: String, endCol: String,
                        bucketWidth: Double,
                        joinType: String = "inner",
                        maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0)
    // The bucketed path replicates intervals and the capped path splits
    // them across two joins, so only inner semantics are well-defined
    // (an outer variant would emit unmatched preserved rows per replica
    // / per path — see the salted-join restriction in SkewJoin).
    require(joinType == "inner",
      s"bucketedRangeJoin supports only inner joins, got '$joinType'")
    require(maxBucketsPerInterval >= 1)
    val pb = points.withColumn("_bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    val spanned = intervals
      .withColumn("_lob", floor(col(startCol) / bucketWidth).cast("long"))
      .withColumn("_hib", floor(col(endCol) / bucketWidth).cast("long"))
    val normal = spanned
      .filter(col("_hib") - col("_lob") < lit(maxBucketsPerInterval.toLong))
    val oversized = spanned
      .filter(col("_hib") - col("_lob") >= lit(maxBucketsPerInterval.toLong))
      .drop("_lob", "_hib")

    val ib = normal
      .withColumn("_bucket", explode(sequence(col("_lob"), col("_hib"))))
      .drop("_lob", "_hib")
    val joinCond = (keys.map(k => pb(k) === ib(k)) :+
      (pb("_bucket") === ib("_bucket")) :+
      (pb(pointCol) >= ib(startCol)) :+
      (pb(pointCol) <= ib(endCol))).reduce(_ && _)
    val bucketed = keys.foldLeft(
      pb.join(ib, joinCond, joinType)
        .drop(pb("_bucket")).drop(ib("_bucket")))((df, k) => df.drop(ib(k)))

    val bigCond = (keys.map(k => pb(k) === oversized(k)) :+
      (pb(pointCol) >= oversized(startCol)) :+
      (pb(pointCol) <= oversized(endCol))).reduce(_ && _)
    val viaBroadcast = keys.foldLeft(
      pb.join(broadcast(oversized), bigCond, joinType)
        .drop(pb("_bucket")))((df, k) => df.drop(oversized(k)))

    bucketed.unionByName(viaBroadcast)
  }
}
