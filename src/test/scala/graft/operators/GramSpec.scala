package graft.operators

import graft.SparkSpec

/** Gram/covariance aggregation: driver brute force, layout invariance
  * of the merged buffers, power-iteration direction recovery.
  */
class GramSpec extends SparkSpec {

  private val dim = 6

  private def vecs(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val v = Array.tabulate(dim) { j =>
        ((graft.plans.Kernels.mix64(i.toLong * dim + j) >>> 40).toInt % 1000) / 500.0f - 1.0f
      }
      (i.toLong, v)
    }

  private def bruteCov(data: Seq[Array[Float]]): Map[(Long, Long), Double] = {
    val n = data.size
    (0 until dim).flatMap { i =>
      (i until dim).map { j =>
        val exy = data.map(v => v(i).toDouble * v(j).toDouble).sum / n
        val ex = data.map(_(i).toDouble).sum / n
        val ey = data.map(_(j).toDouble).sum / n
        (i.toLong, j.toLong) -> (exy - ex * ey)
      }
    }.toMap
  }

  test("covarianceMatrix matches the driver brute force") {
    import spark.implicits._
    val data = vecs(300)
    val got = Gram.covarianceMatrix(data.toDF("id", "v").repartition(7), "v", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = bruteCov(data.map(_._2))
    assert(got.keySet === want.keySet)
    got.foreach { case (k, c) => assert(math.abs(c - want(k)) < 1e-10, s"cell $k") }
  }

  test("merged partial buffers are layout-invariant (within float-sum noise)") {
    import spark.implicits._
    val data = vecs(500)
    val a = Gram.covarianceMatrix(data.toDF("id", "v").repartition(2), "v", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = Gram.covarianceMatrix(data.reverse.toDF("id", "v").repartition(13), "v", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    a.foreach { case (k, c) => assert(math.abs(c - b(k)) < 1e-12, s"cell $k") }
  }
}
