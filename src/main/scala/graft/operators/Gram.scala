package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second-moment statistics of an embedding column — the covariance /
  * Gram matrix PCA-whitening and embedding-QA pipelines start from.
  *
  * Scale shape: ONE pass over the corpus with a mutable typed
  * `Aggregator` whose buffer is the running `(n, Σx, Σxxᵀ)` — `dim +
  * dim(dim+1)/2` doubles regardless of corpus size. Partial buffers
  * combine map-side (ObjectHashAggregate partial+final), so the
  * shuffle carries one buffer per task, never rows. The alternative —
  * exploding to `(i, j, xᵢ·xⱼ)` rows — multiplies the corpus by dim²
  * before the aggregation; at dim 64 that is a 4096× shuffle blow-up.
  *
  * The RESULT is model-scale (dim² doubles), so materializing it on
  * the driver is the same contract as [[KMeans.fit]]'s centroid
  * collect: statistics come back small, the data never does.
  */
object Gram {

  /** Running `(n, Σx[dim], upper-triangle Σxᵢxⱼ[dim(dim+1)/2])`. */
  case class MomentBuf(n: Long, sums: Array[Double], prods: Array[Double])

  class MomentAgg(dim: Int) extends Aggregator[Seq[Float], MomentBuf, MomentBuf] {
    def zero: MomentBuf =
      MomentBuf(0L, new Array[Double](dim), new Array[Double](dim * (dim + 1) / 2))
    def reduce(b: MomentBuf, v: Seq[Float]): MomentBuf = {
      val m = math.min(dim, v.length)
      var i = 0
      var t = 0
      while (i < m) {
        val xi = v(i).toDouble
        b.sums(i) += xi
        var j = i
        while (j < m) { b.prods(t + (j - i)) += xi * v(j).toDouble; j += 1 }
        t += dim - i
        i += 1
      }
      MomentBuf(b.n + 1, b.sums, b.prods)
    }
    def merge(x: MomentBuf, y: MomentBuf): MomentBuf = {
      var i = 0
      while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
      i = 0
      while (i < x.prods.length) { x.prods(i) += y.prods(i); i += 1 }
      MomentBuf(x.n + y.n, x.sums, x.prods)
    }
    def finish(b: MomentBuf): MomentBuf = b
    def bufferEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
    def outputEncoder: Encoder[MomentBuf] = Encoders.product[MomentBuf]
  }

  /** Population covariance matrix `(i, j, cov)` for `i ≤ j`:
    * cov = Σxᵢxⱼ/n − (Σxᵢ/n)(Σxⱼ/n). One distributed pass; the
    * dim(dim+1)/2-row result frame is built from the collected moment
    * buffer (model-scale, see scaladoc above).
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val agg = udaf(new MomentAgg(dim), ExpressionEncoder[Seq[Float]]())
    val m = df.agg(agg(col(vecCol)).as("m")).head().getStruct(0)
    val n = m.getLong(0)
    val sums = m.getSeq[Double](1)
    val prods = m.getSeq[Double](2)
    val rows = new scala.collection.mutable.ArrayBuffer[Row](dim * (dim + 1) / 2)
    var i = 0
    var t = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val cov = prods(t + (j - i)) / n - (sums(i) / n) * (sums(j) / n)
        rows += Row(i.toLong, j.toLong, cov)
        j += 1
      }
      t += dim - i
      i += 1
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("i", LongType, nullable = false),
        StructField("j", LongType, nullable = false),
        StructField("cov", DoubleType, nullable = false))))
  }
}
