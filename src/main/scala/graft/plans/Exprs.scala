package graft.plans

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot per-row kernels.
  *
  * Every kernel is one [[Exprs.KernelCall]]: a static call to a
  * [[Kernels]] method on the children's values followed by constant
  * parameters, null when any child is null. Codegen emits that call
  * inline, so the whole pipeline stays inside one WholeStageCodegen span
  * — unlike a Scala UDF, which forces serialization to/from the closure
  * and breaks the codegen fence. The column functions below differ only
  * in the SQL name, the kernel method, the result type and the
  * parameters.
  */
object Exprs {

  /** `Kernels.<method>(children…, params…)` as a Catalyst expression,
    * printed as `name(children…, params…)`. `Int` params are inlined
    * into the generated code; array params (centroids, codebooks,
    * weights, bloom words) ride in the generated class as reference
    * objects, so the per-row cost is the kernel itself. The interpreted
    * path calls the same method by reflection, as Spark's `StaticInvoke`
    * does; the method is resolved when the expression is built, so an
    * unknown kernel fails there, naming it.
    */
  case class KernelCall(name: String, method: String, dataType: DataType,
                        children: Seq[Expression], params: Seq[Any])
      extends Expression {
    require(kernels.get(method).exists(_.getParameterCount == children.size + params.size),
      s"no kernel Kernels.$method taking ${children.size} columns and ${params.size} parameters")

    @transient private lazy val kernel: Method = kernels(method)

    override def nullable: Boolean = children.exists(_.nullable)
    override def foldable: Boolean = children.forall(_.foldable)
    override def prettyName: String = name
    override protected def flatArguments: Iterator[Any] = (children ++ params).iterator

    override def eval(input: InternalRow): Any = {
      val args = children.map(_.eval(input))
      if (args.contains(null)) null
      else try kernel.invoke(Kernels, (args ++ params).map(_.asInstanceOf[AnyRef]): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gens = children.map(_.genCode(ctx))
      val consts = params.map {
        case i: Int => i.toString
        case a => ctx.addReferenceObj(method, a, a.getClass.getCanonicalName)
      }
      val args = (gens.map(_.value.toString) ++ consts).mkString(", ")
      val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
      val call = s"${ev.value} = graft.plans.Kernels.$method($args);"
      val childCode = Block.blocksToBlock(gens.map(_.code))
      if (nullable) {
        val anyNull = children.zip(gens).collect { case (c, g) if c.nullable => g.isNull }.mkString(" || ")
        ev.copy(code = childCode + code"""
          boolean ${ev.isNull} = $anyNull;
          $init
          if (!${ev.isNull}) { $call }""")
      } else {
        ev.copy(code = childCode + code"""
          $init
          $call""", isNull = FalseLiteral)
      }
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
  }

  private lazy val kernels: Map[String, Method] =
    Kernels.getClass.getDeclaredMethods.filter(m => Modifier.isPublic(m.getModifiers))
      .map(m => m.getName -> m).toMap

  // Column-level API ---------------------------------------------------

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  private def call(name: String, method: String, dataType: DataType, children: Seq[Column],
                   params: Any*): Column =
    col(KernelCall(name, method, dataType, children.map(ex), params))

  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val counts = MapType(StringType, IntegerType, valueContainsNull = false)

  /** splitmix64 finalizer over a 64-bit value — the engine's canonical
    * value-hash (the same mixer the text kernels use on token/shingle
    * polynomials). Being plain wraparound arithmetic it is exactly
    * reproducible in other engines (see [[graft.OracleSql.mix64]] for
    * the DuckDB HUGEINT form), which is what lets sketch outputs be
    * oracle-checked cross-engine instead of rows-only.
    */
  def mix64(c: Column): Column = call("mix64", "mix64", LongType, Seq(c))
  def simhash64(c: Column): Column = call("simhash64", "simhash", LongType, Seq(c))
  def minhashSig(c: Column, shingleK: Int, numPerms: Int): Column =
    call("minhash_sig", "minhash", longs, Seq(c), shingleK, numPerms)
  def shingleHashes(c: Column, shingleK: Int): Column =
    call("shingle_hashes", "shingleHashes", longs, Seq(c), shingleK)
  /** Token array from the [[Kernels.wsTokens]] scan — the SAME tokenizer
    * as [[shingleHashesPos]], so span-removal positions and the rebuilt
    * token array share one definition of "token i". */
  def wsTokens(c: Column): Column = call("ws_tokens", "wsTokens", strings, Seq(c))
  def shingleHashesPos(c: Column, shingleK: Int): Column =
    call("shingle_hashes_pos", "shingleHashesPos", longs, Seq(c), shingleK)
  def cosineSim(a: Column, b: Column): Column = call("cosine_sim", "cosineF", DoubleType, Seq(a, b))
  def jaroWinkler(a: Column, b: Column): Column =
    call("jaro_winkler", "jaroWinkler", DoubleType, Seq(a, b))
  def sortedIntersectCount(a: Column, b: Column): Column =
    call("sorted_intersect_count", "sortedIntersectCount", IntegerType, Seq(a, b))
  def dotProduct(a: Column, b: Column): Column = call("dot_product", "dotF", DoubleType, Seq(a, b))
  def hyperplaneSig(c: Column, bits: Int): Column =
    call("hyperplane_sig", "hyperplaneSig", LongType, Seq(c), bits)
  def prefixTokens(c: Column, n: Int): Column = call("prefix_tokens", "prefixTokens", StringType, Seq(c), n)
  def scanTokens(c: Column): Column = call("scan_tokens", "scanTokens", IntegerType, Seq(c))
  def chunkTokens(c: Column, n: Int): Column = call("chunk_tokens", "chunkTokens", StringType, Seq(c), n)
  /** [[chunkTokens]]' sibling on the engine whitespace class (see
    * [[Kernels.chunkTokensWs]]) — re-lining that stays bit-consistent
    * with regex-tokenized metrics in the same row and with a DuckDB
    * `string_split_regex('\s+')` oracle on non-ASCII whitespace. Since
    * the r17 tokenizer unification the two compute the same function;
    * both names stay because PlanShapeSpec pins them in different plans. */
  def chunkTokensWs(c: Column, n: Int): Column =
    call("chunk_tokens_ws", "chunkTokensWs", StringType, Seq(c), n)
  def chunkWindows(c: Column, n: Int, stride: Int): Column =
    call("chunk_windows", "chunkWindows", strings, Seq(c), n, stride)
  /** Bloom-filter membership probe against a packed bit array. */
  def bloomContains(c: Column, words: Array[Long], mBits: Int, k: Int): Column =
    call("bloom_contains", "bloomContains", BooleanType, Seq(c), words, mBits, k)
  def tokenCount(c: Column): Column = call("token_count", "tokenCount", IntegerType, Seq(c))
  /** Aho–Corasick blocklist scan ([[Kernels.blocklistHits]]): text + the
    * \\u0001-joined pattern literal → `[n_hits, n_patterns]`. The
    * pattern side is a plan constant, so codegen embeds it once and the
    * kernel's per-JVM automaton cache keys on it. */
  def blocklistHits(text: Column, patternsLit: Column): Column =
    call("blocklist_hits", "blocklistHits", longs, Seq(text, patternsLit))
  /** Blocklist redaction: maximal covered runs → `<blocked>`. */
  def blocklistRedact(text: Column, patternsLit: Column): Column =
    call("blocklist_redact", "blocklistRedact", StringType, Seq(text, patternsLit))
  def meanTokenLen(c: Column): Column = call("mean_token_len", "meanTokenLen", DoubleType, Seq(c))
  def stopwordRatio(c: Column): Column = call("stopword_ratio", "stopwordRatio", DoubleType, Seq(c))
  def punctRatio(c: Column): Column = call("punct_ratio", "punctRatio", DoubleType, Seq(c))
  def topTokenShare(c: Column): Column = call("top_token_share", "topTokenShare", DoubleType, Seq(c))
  def fingerprint64(c: Column): Column = call("fingerprint64", "fingerprint64", LongType, Seq(c))
  def subwordCount(c: Column): Column = call("subword_count", "subwordCount", IntegerType, Seq(c))
  def langId(c: Column): Column = call("lang_id", "langId", StringType, Seq(c))
  /** IVF cell assignment against row-major `k × dim` float centroids. */
  def nearestCentroid(c: Column, flat: Array[Float], dim: Int): Column =
    call("nearest_centroid", "nearestCentroid", IntegerType, Seq(c), flat, dim)
  /** IVF probe list: the `nProbe` nearest centroid ids, by descending similarity. */
  def topCells(c: Column, flat: Array[Float], dim: Int, nProbe: Int): Column =
    call("top_cells", "topCells", ints, Seq(c), flat, dim, nProbe)
  /** Row-local term-frequency map ([[Kernels.termCounts]]) — exploding it
    * replaces TF-IDF's corpus-wide `(doc, term)` count shuffle with
    * in-row counting. */
  def termCounts(c: Column): Column = call("term_counts", "termCounts", counts, Seq(c))
  def pairCounts(c: Column): Column = call("pair_counts", "pairCounts", counts, Seq(c))
  /** PQ encode: per-subspace nearest sub-centroid indices. */
  def pqEncode(c: Column, cb: Array[Double], m: Int, k: Int, dsub: Int): Column =
    call("pq_encode", "pqEncode", ints, Seq(c), cb, m, k, dsub)
  /** Per-query ADC distance table ([[Kernels.pqTable]]). */
  def pqTable(c: Column, cb: Array[Double], m: Int, k: Int, dsub: Int): Column =
    call("pq_table", "pqTable", doubles, Seq(c), cb, m, k, dsub)
  /** ADC lookup-sum score: m table loads per (query, row) pair — the point of PQ. */
  def pqAdc(table: Column, codes: Column, k: Int): Column =
    call("pq_adc", "pqAdc", DoubleType, Seq(table, codes), k)
  /** Double-precision L2 normalize of a float embedding (index-order
    * squared-norm fold — see [[Kernels.normalizeD]]). The k-means entry
    * point: every downstream dot runs on these doubles. */
  def normalizeD(c: Column): Column = call("normalize_d", "normalizeD", doubles, Seq(c))
  /** IVF-probed spherical k-means assignment `[cluster, dot]` —
    * [[nearestCentroidScoreD]]'s scale path, O(√k) per row instead of
    * O(k). See [[Kernels.ivfAssignScoreD]] for the determinism contract. */
  def ivfAssignScoreD(c: Column, cents: Array[Double], dim: Int, coarse: Array[Double],
                      cellStart: Array[Int], members: Array[Int], nProbe: Int): Column =
    call("ivf_assign_score_d", "ivfAssignScoreD", doubles, Seq(c),
      cents, dim, coarse, cellStart, members, nProbe)
  /** Spherical k-means assignment `[cluster, dot]`, double-exact so the
    * Lloyd's loop is oracle-reproducible. */
  def nearestCentroidScoreD(c: Column, cents: Array[Double], dim: Int): Column =
    call("nearest_centroid_score_d", "nearestCentroidScoreD", doubles, Seq(c), cents, dim)
  /** Hashed-feature linear text score ([[Kernels.linearTextScore]]) —
    * apply-a-pretrained-model at scan speed. */
  def linearTextScore(c: Column, weights: Array[Double]): Column =
    call("linear_text_score", "linearTextScore", DoubleType, Seq(c), weights)
  /** The classifier feature map as data ([[Kernels.termBuckets]]): hashed
    * unigram+bigram bucket ids in [[linearTextScore]]'s exact fold order. */
  def termBuckets(c: Column, m: Int): Column = call("term_buckets", "termBuckets", ints, Seq(c), m)
  /** Weight-vector fold over a bucket array — the GD training loop's z. */
  def dotBuckets(c: Column, weights: Array[Double]): Column =
    call("dot_buckets", "dotBuckets", DoubleType, Seq(c), weights)
  def quantizeInt8Stats(c: Column): Column =
    call("quantize_int8_stats", "quantizeInt8Stats", doubles, Seq(c))
  /** Within-doc repetition spans ([[Kernels.intraDupSpanStats]]):
    * `[n_tokens, n_rep_grams, n_spans, rep_tokens]`, one compiled pass. */
  def intraDupSpanStats(c: Column, shingleK: Int): Column =
    call("intra_dup_span_stats", "intraDupSpanStats", longs, Seq(c), shingleK)

  /** Register SQL names for the kernels on a session. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq[(String, Column => Column)]("mix64" -> mix64, "simhash64" -> simhash64,
      "token_count" -> tokenCount, "subword_count" -> subwordCount, "mean_token_len" -> meanTokenLen,
      "stopword_ratio" -> stopwordRatio, "punct_ratio" -> punctRatio, "fingerprint64" -> fingerprint64,
      "lang_id" -> langId, "scan_tokens" -> scanTokens).foreach { case (name, f) =>
      reg.createOrReplaceTempFunction(name, es => ex(f(col(es.head))), "scala_udf")
    }
    Seq[(String, (Column, Column) => Column)]("cosine_sim" -> cosineSim, "dot_product" -> dotProduct,
      "sorted_intersect_count" -> sortedIntersectCount).foreach { case (name, f) =>
      reg.createOrReplaceTempFunction(name, es => ex(f(col(es(0)), col(es(1)))), "scala_udf")
    }
  }
}
