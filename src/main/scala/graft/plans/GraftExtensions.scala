package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers every graft kernel as a SQL
  * function on session build, the idiomatic deployment hook for a
  * cluster-wide install —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * // or, on a session builder
  * builder.withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Covers the scalar kernels (simhash64, minhash_sig, shingle_hashes,
  * hyperplane_sig, cosine_sim, dot_product). [[Exprs.registerAll]]
  * remains the per-session imperative alternative.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[Exprs.type].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, usage: String, arity: Int,
                 builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage),
        (es: Seq[Expression]) => {
          require(es.length == arity, s"$name expects $arity arguments")
          builder(es)
        }))

    register("simhash64", "simhash64(text) - 64-bit SimHash of whitespace tokens", 1,
      es => Exprs.SimHash64(es.head))
    register("cosine_sim", "cosine_sim(a, b) - cosine similarity of float arrays", 2,
      es => Exprs.CosineSim(es(0), es(1)))
    register("dot_product", "dot_product(a, b) - dot product of float arrays", 2,
      es => Exprs.DotProduct(es(0), es(1)))
    register("minhash_sig", "minhash_sig(text, k, perms) - MinHash signature over word k-shingles", 3,
      es => Exprs.MinHashSig(es.head, intArg(es(1), "k"), intArg(es(2), "perms")))
    register("shingle_hashes", "shingle_hashes(text, k) - sorted distinct word k-shingle hashes", 2,
      es => Exprs.ShingleHashes(es.head, intArg(es(1), "k")))
    register("hyperplane_sig", "hyperplane_sig(vec, bits) - sign-LSH signature of a float array", 2,
      es => Exprs.HyperplaneSig(es.head, intArg(es(1), "bits")))
    register("token_count", "token_count(text) - whitespace-token count", 1,
      es => Exprs.TokenCount(es.head))
    register("subword_count", "subword_count(text) - BPE-ish subword count", 1,
      es => Exprs.SubwordCount(es.head))
    register("mean_token_len", "mean_token_len(text) - mean whitespace-token length", 1,
      es => Exprs.MeanTokenLen(es.head))
    register("stopword_ratio", "stopword_ratio(text) - stopword fraction of tokens", 1,
      es => Exprs.StopwordRatio(es.head))
    register("punct_ratio", "punct_ratio(text) - punctuation fraction of characters", 1,
      es => Exprs.PunctRatio(es.head))
    register("fingerprint64", "fingerprint64(text) - base-31 rolling-hash fingerprint", 1,
      es => Exprs.Fingerprint64(es.head))
    register("prefix_tokens", "prefix_tokens(text, n) - first n lowercase tokens joined by spaces", 2,
      es => Exprs.PrefixTokens(es.head, intArg(es(1), "n")))
    register("lang_id", "lang_id(text) - trigram-profile language code or 'und'", 1,
      es => Exprs.LangId(es.head))
  }

  private def intArg(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
}
