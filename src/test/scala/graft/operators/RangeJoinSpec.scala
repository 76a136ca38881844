package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketized range join vs the brute-force inequality join, across
  * bucket widths (results must be width-invariant) and boundary cases.
  */
class RangeJoinSpec extends SparkSpec {

  test("bucketedRangeJoin equals the naive join for any bucket width") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val points = (0 until 500).map(i =>
      (i.toLong, (i % 3).toLong, rng.nextDouble() * 100)).toDF("pid", "k", "v")
    val intervals = (0 until 80).map(i => {
      val lo = rng.nextDouble() * 90
      (i.toLong, (i % 3).toLong, lo, lo + rng.nextDouble() * 20)
    }).toDF("iid", "k", "lo", "hi")
    val naive = points.join(intervals.withColumnRenamed("k", "k2"),
        col("k") === col("k2") && col("v") >= col("lo") && col("v") <= col("hi"))
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(1.0, 7.3, 50.0).foreach { w =>
      val got = RangeJoin.bucketedRangeJoin(points, intervals, Seq("k"), "v", "lo", "hi", w)
        .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === naive, s"width $w")
    }
    assert(naive.nonEmpty)
  }

  test("a whole-domain interval routes through the broadcast path with bounded amplification") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val points = (0 until 300).map(i =>
      (i.toLong, (i % 2).toLong, rng.nextDouble() * 100)).toDF("pid", "k", "v")
    // one sentinel interval spanning ~1e9 buckets at width 0.5 plus
    // normal-width intervals: without the cap the explode would emit
    // ~2e9 rows from the sentinel alone
    val intervals = (Seq((999L, 0L, -2.5e8, 2.5e8)) ++ (0 until 40).map { i =>
      val lo = rng.nextDouble() * 90
      (i.toLong, (i % 2).toLong, lo, lo + rng.nextDouble() * 10)
    }).toDF("iid", "k", "lo", "hi")
    val naive = points.join(intervals.withColumnRenamed("k", "k2"),
        col("k") === col("k2") && col("v") >= col("lo") && col("v") <= col("hi"))
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = RangeJoin.bucketedRangeJoin(points, intervals, Seq("k"), "v",
      "lo", "hi", bucketWidth = 0.5, maxBucketsPerInterval = 64)
    // row amplification of the bucketed side stays bounded: the exploded
    // interval count is at most |normal intervals| * cap
    val got = capped.select(col("pid"), col("iid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size, "each match exactly once")
    assert(got.toSet === naive)
    assert(naive.count(_._2 == 999L) === points.filter(col("k") === 0L).count())
  }

  test("boundaries are inclusive on both ends and each match appears once") {
    import spark.implicits._
    val points = Seq((1L, 0L, 10.0), (2L, 0L, 20.0)).toDF("pid", "k", "v")
    val intervals = Seq((7L, 0L, 10.0, 20.0)).toDF("iid", "k", "lo", "hi")
    val got = RangeJoin.bucketedRangeJoin(points, intervals, Seq("k"), "v", "lo", "hi", 3.0)
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq === Seq((1L, 7L), (2L, 7L)))
  }
}
