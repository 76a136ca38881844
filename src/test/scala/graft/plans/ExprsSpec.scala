package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every [[Exprs]] column function is one [[Exprs.KernelCall]]: the
  * generated code and the interpreted (reflective) path must agree on
  * every row, a null input must give null, and a constant call must
  * fold to the kernel's value.
  */
class ExprsSpec extends SparkSpec {

  private val flat = Array(1f, 0f, 0f, 1f, 0.6f, 0.8f)
  private val cents = Array(1.0, 0.0, 0.0, 1.0, 0.6, 0.8)
  private val cb = Array(0.0, 1.0, 0.5, -0.5)
  private val weights = Array.tabulate(16)(i => i * 0.1 - 0.7)

  /** One column per column function, keyed by the function's name. */
  private def cases: Seq[(String, Column)] = Seq(
    "mix64" -> Exprs.mix64(col("h")),
    "simhash64" -> Exprs.simhash64(col("text")),
    "minhashSig" -> Exprs.minhashSig(col("text"), 3, 16),
    "shingleHashes" -> Exprs.shingleHashes(col("text"), 3),
    "wsTokens" -> Exprs.wsTokens(col("text")),
    "shingleHashesPos" -> Exprs.shingleHashesPos(col("text"), 2),
    "cosineSim" -> Exprs.cosineSim(col("v"), col("w")),
    "jaroWinkler" -> Exprs.jaroWinkler(col("text"), col("text2")),
    "sortedIntersectCount" -> Exprs.sortedIntersectCount(col("a"), col("b")),
    "dotProduct" -> Exprs.dotProduct(col("v"), col("w")),
    "hyperplaneSig" -> Exprs.hyperplaneSig(col("v"), 8),
    "prefixTokens" -> Exprs.prefixTokens(col("text"), 2),
    "scanTokens" -> Exprs.scanTokens(col("text")),
    "chunkTokens" -> Exprs.chunkTokens(col("text"), 2),
    "chunkTokensWs" -> Exprs.chunkTokensWs(col("text"), 2),
    "chunkWindows" -> Exprs.chunkWindows(col("text"), 3, 2),
    "bloomContains" -> Exprs.bloomContains(col("h"), Array(0x5555L, -1L), 128, 3),
    "tokenCount" -> Exprs.tokenCount(col("text")),
    "blocklistHits" -> Exprs.blocklistHits(col("text"), lit("the\u0001fox")),
    "blocklistRedact" -> Exprs.blocklistRedact(col("text"), lit("the\u0001fox")),
    "meanTokenLen" -> Exprs.meanTokenLen(col("text")),
    "stopwordRatio" -> Exprs.stopwordRatio(col("text")),
    "punctRatio" -> Exprs.punctRatio(col("text")),
    "topTokenShare" -> Exprs.topTokenShare(col("text")),
    "fingerprint64" -> Exprs.fingerprint64(col("text")),
    "subwordCount" -> Exprs.subwordCount(col("text")),
    "langId" -> Exprs.langId(col("text")),
    "nearestCentroid" -> Exprs.nearestCentroid(col("v"), flat, 2),
    "topCells" -> Exprs.topCells(col("v"), flat, 2, 2),
    "termCounts" -> Exprs.termCounts(col("text")),
    "pairCounts" -> Exprs.pairCounts(col("text")),
    "pqEncode" -> Exprs.pqEncode(col("v"), cb, 2, 2, 1),
    "pqTable" -> Exprs.pqTable(col("v"), cb, 2, 2, 1),
    "pqAdc" -> Exprs.pqAdc(col("table"), col("codes"), 2),
    "normalizeD" -> Exprs.normalizeD(col("v")),
    "ivfAssignScoreD" -> Exprs.ivfAssignScoreD(col("vd"), cents, 2,
      Array(1.0, 0.0, 0.0, 1.0), Array(0, 2, 3), Array(0, 2, 1), 1),
    "nearestCentroidScoreD" -> Exprs.nearestCentroidScoreD(col("vd"), cents, 2),
    "linearTextScore" -> Exprs.linearTextScore(col("text"), weights),
    "termBuckets" -> Exprs.termBuckets(col("text"), 16),
    "dotBuckets" -> Exprs.dotBuckets(col("codes"), weights),
    "quantizeInt8Stats" -> Exprs.quantizeInt8Stats(col("v")),
    "intraDupSpanStats" -> Exprs.intraDupSpanStats(col("text"), 2))

  /** A parquet-backed frame (a local relation would be evaluated by the
    * optimizer, never by generated code): row 3 is all nulls, row 4 has
    * nulls only in the second column of each two-column kernel. */
  private lazy val input: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("h", LongType), StructField("text", StringType), StructField("text2", StringType),
      StructField("v", ArrayType(FloatType, containsNull = false)),
      StructField("w", ArrayType(FloatType, containsNull = false)),
      StructField("vd", ArrayType(DoubleType, containsNull = false)),
      StructField("a", ArrayType(LongType, containsNull = false)),
      StructField("b", ArrayType(LongType, containsNull = false)),
      StructField("table", ArrayType(DoubleType, containsNull = false)),
      StructField("codes", ArrayType(IntegerType, containsNull = false))))
    val rows = Seq(
      Row(0, 7L, "The quick brown fox jumps over the lazy dog, the end.", "The quick brown fax",
        Seq(0.6f, 0.8f), Seq(1f, 2f), Seq(0.6, 0.8), Seq(1L, 3L, 5L), Seq(3L, 4L, 5L),
        Seq(0.1, 0.2, 0.3, 0.4), Seq(1, 0)),
      Row(1, -42L, "a a a b b b a a a b b b!!", "a b", Seq(-1f, 0.5f), Seq(0f, 0f),
        Seq(-0.8, 0.6), Seq.empty[Long], Seq(2L), Seq(1.5, -2.0, 0.0, 9.0), Seq(0, 1)),
      Row(2, 0L, "", "", Seq(0f, 0f), Seq(3f, -4f), Seq(0.0, 0.0), Seq(9L), Seq(9L),
        Seq(0.0, 0.0, 0.0, 0.0), Seq(1, 1)),
      Row(3, null, null, null, null, null, null, null, null, null, null),
      Row(4, 1L, "x y", null, Seq(1f, 0f), null, Seq(1.0, 0.0), Seq(1L), null, Seq(0.1, 0.2, 0.3, 0.4), null))
    val dir = Files.createTempDirectory("graft_exprs").resolve("input").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every column function is covered by the parity table") {
    val functions = Exprs.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.getName.contains("$") &&
        m.getReturnType == classOf[Column])
      .map(_.getName).toSet
    assert(functions.size === 42)
    assert(cases.map(_._1).toSet === functions)
  }

  test("generated and interpreted kernel calls agree on every row; null in, null out") {
    def frame = input.select(col("id") +: cases.map { case (n, c) => c.as(n) }: _*)
    val generated = withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false") {
      val df = frame
      val rows = df.collect()
      assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      rows.sortBy(_.getInt(0))
    }
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val df = frame
      val rows = df.collect()
      assert(!df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      rows.sortBy(_.getInt(0))
    }
    assert(generated.length === 5)
    for ((g, i) <- generated.zip(interpreted); ((name, _), k) <- cases.zipWithIndex)
      withClue(s"${name} on row ${g.getInt(0)}: ") {
        assert(g.get(k + 1) === i.get(k + 1))
      }
    val names = cases.map(_._1)
    names.zipWithIndex.foreach { case (name, k) => assert(generated(3).isNullAt(k + 1), s"$name of nulls") }
    Seq("cosineSim", "jaroWinkler", "sortedIntersectCount", "dotProduct", "pqAdc").foreach { name =>
      assert(generated(4).isNullAt(names.indexOf(name) + 1), s"$name of a null second column")
    }
    assert(!generated(4).isNullAt(names.indexOf("mix64") + 1))
    assert(generated.head.getAs[Long]("mix64") === Kernels.mix64(7L))
  }

  test("a call on constants folds to the kernel's value") {
    val plan = spark.range(1).select(Exprs.mix64(lit(7L)).as("m")).queryExecution.optimizedPlan
    assert(!plan.expressions.exists(_.exists(_.isInstanceOf[Exprs.KernelCall])))
    assert(plan.expressions.exists {
      case Alias(Literal(v, LongType), "m") => v == Kernels.mix64(7L)
      case _ => false
    })
  }

  test("column names and plan strings keep the kernel's SQL form") {
    val df = input.select(Exprs.minhashSig(col("text"), 3, 64), Exprs.nearestCentroid(col("v"), flat, 2))
    assert(df.columns.toSeq === Seq("minhash_sig(text)", "nearest_centroid(v)"))
    val Seq(sig, nc) = df.queryExecution.analyzed.expressions.map {
      case a: Alias => a.child
      case e => e
    }
    val Seq(text, v) = Seq(sig, nc).map(_.children.head.toString)
    assert(sig.toString === s"minhash_sig($text, 3, 64)")
    assert(nc.toString === s"nearest_centroid($v, $flat, 2)")
    val e = intercept[IllegalArgumentException](
      Exprs.KernelCall("nope", "noSuchKernel", LongType, Seq(Literal(1L)), Nil))
    assert(e.getMessage.contains("Kernels.noSuchKernel"))
  }
}
