package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted skew join correctness. */
class SkewJoinSpec extends SparkSpec {

  test("saltedEquiJoin equals the plain join, including a pathological hot key") {
    import spark.implicits._
    // 10k rows where 60% share one hot key
    val left = (0 until 10000).map(i =>
      (if (i % 5 < 3) "HOT" else s"k${i % 97}", i.toLong)).toDF("k", "v")
    val right = (0 until 97).map(i => (s"k$i", i * 10L)).toDF("k", "w")
      .union(Seq(("HOT", -1L)).toDF("k", "w"))
    val plain = left.join(right, Seq("k")).select(col("k"), col("v"), col("w"))
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", buckets = 8)
      .select(col("k"), col("v"), col("w"))
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.size === 10000)
  }

  test("saltedEquiJoin left-outer keeps unmatched left rows exactly once") {
    import spark.implicits._
    val left = Seq(("a", 1L), ("b", 2L), ("nomatch", 3L)).toDF("k", "v")
    val right = Seq(("a", 10L), ("b", 20L)).toDF("k", "w")
    val out = SkewJoin.saltedEquiJoin(left, right, "k", buckets = 4, joinType = "left")
      .select(col("k"), col("v"), col("w")).collect()
    assert(out.length === 3)
    assert(out.count(_.isNullAt(2)) === 1)
  }
}
