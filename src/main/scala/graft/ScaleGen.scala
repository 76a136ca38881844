package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-curve dataset generator: writes a `factor`× replica of a
  * testdata directory that preserves each table's DISTRIBUTIONAL shape,
  * so wall-time ratios between the source and the replica measure the
  * operators' scaling behavior rather than a changed workload
  * (SCALE.md's measurement harness).
  *
  * Replication rules:
  *  - `lineitem` / `orders`: `factor` copies with the order key offset
  *    by replica × 1e9 — join consistency with each other is preserved,
  *    dimension keys (part/supplier/customer/nation) are untouched, so
  *    per-order baskets, value histograms, and the key-space-bounded
  *    trade graphs replicate exactly.
  *  - `documents`: doc_id offset the same way; the TEXT of replica i
  *    goes through a per-replica alphanumeric substitution cipher
  *    (`translate` with a rotated alphabet). A cipher is a bijection on
  *    token space: every within-replica shingle-set relation (n-gram
  *    Jaccard, minhash bands, containment) is preserved EXACTLY, while
  *    cross-replica token overlap vanishes — so near-dup structure
  *    replicates as `factor` disjoint copies instead of artificial
  *    cross-replica cliques (which would quadratically inflate pair
  *    volume and measure a different problem).
  *  - `embeddings`: vec_id offset the same way; replica i > 0 applies
  *    a per-replica signed coordinate permutation (orthogonal, exact)
  *    so within-replica similarity structure is preserved bit-for-bit
  *    while cross-replica neighbors decorrelate.
  *  - dimensions (`region nation customer supplier part`): byte-copied.
  *
  *  - NON-ASCII PLANTING (r18, default ON): after the cipher, each
  *    document's text gets the same deterministic contract-relevant
  *    character planting as `tools/unicode_corpus.py` (a pure function
  *    of the FINAL offset doc_id — byte-stable across regenerations):
  *    mid-text token glues from {U+000B, U+001C, U+2028, U+3000} (the
  *    exact characters where Java `\s` / `Character.isWhitespace`
  *    disagree with the engine class `Kernels.isRegexWs` = DuckDB RE2
  *    `\s`) plus case-stable non-ASCII letter tokens (ß σ é ı). The
  *    `n_chars = length(text)` invariant is recomputed after planting.
  *    Every at-scale evidence channel (sampled-pair, residue-slice,
  *    heavy curves, stream parity) therefore runs on a corpus where
  *    the whitespace/case contracts actually bite, instead of
  *    inheriting them from the sf0.01 twin alone. `SPARK_GRAFT_ASCII=1`
  *    restores the r17 printable-ASCII behavior. Uppercase U+0130 and
  *    word-final U+03A3 stay EXCLUDED here — they are the documented
  *    DuckDB simple-vs-JVM-full case-mapping boundary, covered by the
  *    dedicated case twin (`tools/unicode_corpus.py case`) against the
  *    one oracle that folds the mapping in (q79, see its scaladoc).
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <factor>
  *        [depthFactor [brandSplit [lengthFactor]]]
  *
  * The optional args fabricate the growth axes that plain replication
  * never probes:
  *
  * BASKET DEPTH (r17 verdict #2: q129's in-row pair generation is
  * quadratic in per-order distinct-brand count, but `factor`×
  * replication keeps basket depth CONSTANT, so its pair volume only
  * ever grew linearly):
  *  - `depthFactor` k > 1 additionally unions k copies of each
  *    replica's lineitem with l_partkey rotated by a coprime stride —
  *    same orders, k× the lines per order, so per-order distinct-part
  *    (and distinct-brand) sets deepen toward the brand-dimension cap.
  *  - `brandSplit` m > 1 rewrites `part` with p_brand subdivided into
  *    m sub-brands (`p_brand || '#' || p_partkey % m`), raising the
  *    cap itself (25 → 25m) so Σ|basket|² genuinely explodes instead
  *    of saturating at C(25,2) per order.
  *
  * DOCUMENT LENGTH (r18 verdict #1: replication grows document COUNT
  * at constant document length, so the in-row per-document kernels —
  * span/island merges, re-lining, chunking, gram profiles — whose
  * per-row state is O(len) to O(len·L) were never probed on long
  * documents):
  *  - `lengthFactor` k > 1 rewrites each document's text (after the
  *    replica cipher and the planting) as k SECTIONS joined by single
  *    spaces: section 0 is the planted text verbatim, section j > 0 is
  *    the same text under a section-seeded alphanumeric substitution
  *    cipher. Each section is a token-space bijection of the base, so
  *    gram statistics stay NON-DEGENERATE as length grows (per-doc
  *    distinct-gram counts scale ~k, not saturate), the base corpus's
  *    intra-doc repetition structure replicates per section, and the
  *    CROSS-doc duplicated-span structure replicates section-aligned
  *    (doc A section j matches doc B section j under the shared
  *    cipher; j ≠ j' sections share no alphabet). `n_chars` is
  *    recomputed. Section ciphers are seeded disjointly from the
  *    replica ciphers, so no section of one replica equals another
  *    replica's base vocabulary.
  */
object ScaleGen {
  private val lowerDigits = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  // ---- non-ASCII planting: the unicode_corpus.py functions, ported
  // verbatim (same moduli, same glue/word tables, same offsets) so the
  // scaled corpora and the sf0.01 twin exercise the identical contract
  private val Gluers = Array('\u000B', '\u001C', '\u2028', '\u3000')
  private val Words = Array("straße", "σigma", "café", "ırmak")

  /** Replace the n-th (1-based) ' ' of `text` with `repl`; no-op if the
    * text has fewer spaces. */
  private def replaceNthSpace(text: String, n: Int, repl: Char): String = {
    var seen = 0
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == ' ') {
        seen += 1
        if (seen == n) return text.substring(0, i) + repl + text.substring(i + 1)
      }
      i += 1
    }
    text
  }

  /** Pure function of the final (offset) doc_id — tools/unicode_corpus
    * .py `plant()` bit-for-bit (nonnegative ids, so Python % == Scala %). */
  def plant(docId: Long, text0: String): String = {
    var text = text0
    if (docId % 3 != 2)
      text = replaceNthSpace(text, (3 + docId % 7).toInt, Gluers((docId % 4).toInt))
    if (docId % 2 == 0)
      text = replaceNthSpace(text, (11 + docId % 5).toInt, Gluers(((docId / 2) % 4).toInt))
    if (docId % 3 == 0) {
      val w = Words((docId % 4).toInt)
      val w2 = Words(((docId / 3) % 4).toInt)
      text = s"$text $w $w2\u000Btail"
    }
    if (docId % 7 == 0) text = s"fs\u001Clead $text"
    text
  }

  /** Per-(replica, section) cipher table for [[lengthen]]: identity on
    * ASCII 0..127 except the 62 alphanumerics, which map through a
    * seeded permutation (section 0 = identity — the base text
    * verbatim). Seed classes (3e6/3.5e6 offsets) are disjoint from the
    * replica ciphers' (0/5e5), so a section's vocabulary never
    * collides with another replica's base vocabulary. */
  /** Hard bound on `lengthFactor`: [[sectionMap]] seeds are
    * base + replica·8191 + section, so section j of replica r collides
    * with section j−8191 of replica r+1 once j ≥ 8192 — two sections
    * would share one cipher and silently violate the documented
    * cross-replica disjoint-vocabulary invariant (r19 advisor). At
    * lengthFactor ≤ 8192 sections run 1..8191, and the only cross-
    * replica seed equality maps to section 0, which never derives a
    * seed (identity map) — so the documented recipe (8192) sits exactly
    * ON the safe boundary, and 8193 is the first violating value. */
  private[graft] def requireLengthFactor(lengthFactor: Int): Unit =
    require(lengthFactor >= 1 && lengthFactor <= 8192,
      s"lengthFactor must be in [1, 8192], got $lengthFactor: the " +
        "sectionMap seed stride is 8191 per replica, so section j >= 8192 " +
        "collides with section j-8191 of the next replica — two sections " +
        "would share one cipher, breaking the cross-replica " +
        "disjoint-vocabulary invariant. Widen the corpus with `factor` " +
        "(replicas) instead of lengthFactor past 8192.")

  private[graft] def sectionMap(replica: Int, section: Int): Array[Char] = {
    val m = Array.tabulate(128)(_.toChar)
    if (section > 0) {
      val from = lowerDigits + upper
      val to = permuted(lowerDigits, 3000017L + replica.toLong * 8191L + section) +
        permuted(upper, 3500041L + replica.toLong * 8191L + section)
      var k = 0
      while (k < from.length) { m(from.charAt(k)) = to.charAt(k); k += 1 }
    }
    m
  }

  /** `lengthFactor`-section lengthening of one document: section 0
    * verbatim, section j > 0 the same text through `maps(j)` (chars ≥
    * 128 — the planted non-ASCII letters and glues — pass through, so
    * every section carries the contract characters). Sections join
    * with single spaces. Pure function of (text, maps) — regeneration
    * is byte-stable. */
  private[graft] def lengthen(text: String, maps: Array[Array[Char]]): String = {
    if (maps.length <= 1) return text
    val sb = new java.lang.StringBuilder(text.length * maps.length + maps.length)
    sb.append(text)
    var j = 1
    while (j < maps.length) {
      sb.append(' ')
      val m = maps(j)
      var p = 0
      while (p < text.length) {
        val c = text.charAt(p)
        sb.append(if (c < 128) m(c) else c)
        p += 1
      }
      j += 1
    }
    sb.toString
  }

  /** Per-replica SEEDED Fisher–Yates permutation of an alphabet — the
    * round-12 fix for the rotation cipher's period: `rotated(s, i)`
    * repeats at i ≡ j (mod |s|), so at factor > 36 replicas {i, i+36,
    * i+72} shared one lowercase cipher and the corpus silently grew
    * cross-replica near-dup CLIQUES — exactly the densified workload
    * the cipher exists to avoid (measured: q36's reported pairs jumped
    * 7.7k → 533k between 30× and 100×, all hash-verified real but an
    * artifact of the harness, not of scale). A mix64-seeded
    * permutation has effective period 36! — every replica pair gets
    * distinct vocabularies at any realistic factor, while staying a
    * bijection on token space (within-replica shingle relations still
    * replicate exactly).
    */
  private def permuted(s: String, seed: Long): String = {
    val a = s.toCharArray
    var j = a.length - 1
    while (j > 0) {
      val r = ((graft.plans.Kernels.mix64(seed * 64007L + j) >>> 1) % (j + 1)).toInt
      val t = a(j); a(j) = a(r); a(r) = t
      j -= 1
    }
    new String(a)
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, factorS) = (args(0), args(1), args(2))
    val factor = factorS.toInt
    val depthFactor = if (args.length > 3) args(3).toInt else 1
    val brandSplit = if (args.length > 4) args(4).toInt else 1
    val lengthFactor = if (args.length > 5) args(5).toInt else 1
    require(factor >= 1 && depthFactor >= 1 && brandSplit >= 1)
    requireLengthFactor(lengthFactor)
    val plantNonAscii = !sys.env.get("SPARK_GRAFT_ASCII").contains("1")
    val spark = GraftSession()

    val offset = 1000000000L
    def replicate(t: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => per(t, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // max partkey, read once on the driver, keys the depth rotation
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxPart: Long =
      if (depthFactor > 1)
        spark.read.parquet(s"$src/part.parquet")
          .agg(max(col("p_partkey"))).head().getLong(0)
      else 0L
    // depth copies rotate l_partkey by j·7919 (prime, coprime to any
    // realistic part count unless it divides it — then j alone): same
    // order keys, k× the lines, per-order distinct-part sets deepen
    def deepen(d: DataFrame): DataFrame =
      if (depthFactor == 1) d
      else (0 until depthFactor).map { j =>
        d.withColumn("l_partkey",
          pmod(col("l_partkey") - 1 + lit(j.toLong * (if (maxPart % 7919L == 0L) 1L else 7919L)),
            lit(maxPart)) + 1)
      }.reduce(_ unionByName _)
    write(replicate(li)((d, i) =>
      deepen(d).withColumn("l_orderkey", col("l_orderkey") + lit(i * offset))), "lineitem")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    write(replicate(ord)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * offset))), "orders")

    // events replicate by offsetting user_id/event_id: every event-time
    // operator in the catalog partitions by user (sessions, funnels,
    // retention cohorts, as-of grids) or aggregates across users with
    // integer-graded sums, so `factor` disjoint user populations over
    // the SAME time range replicate the workload's window structure
    // exactly. `ts` is read under nanosAsLong and written back as the
    // raw ns long — tools/check.py rebuilds the DuckDB view with
    // make_timestamp(ts // 1000), the same exact truncation Spark's
    // loader applies (`ts div 1000`).
    val ev = spark.read.parquet(s"$src/events.parquet")
    write(replicate(ev)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * offset))
        .withColumn("user_id", col("user_id") + lit(i * offset))), "events")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val plantUdf = udf((id: Long, t: String) => plant(id, t))
    write(replicate(docs) { (d, i) =>
      val from = lowerDigits + upper
      // replica 0 is the base corpus verbatim; each other replica gets
      // its own seeded permutation pair (distinct seeds per case class)
      val to =
        if (i == 0) from
        else permuted(lowerDigits, i.toLong) + permuted(upper, i.toLong + 500000L)
      val ciphered = d.withColumn("doc_id", col("doc_id") + lit(i * offset))
        .withColumn("text", translate(col("text"), from, to))
      // planting runs AFTER the cipher, keyed by the FINAL doc_id, so
      // the scaled corpus is exactly "cipher replica + unicode twin";
      // n_chars recomputes to keep the source invariant (Spark length()
      // = code points = Python len() — all planted chars are BMP)
      val planted =
        if (!plantNonAscii) ciphered
        else ciphered
          .withColumn("text", plantUdf(col("doc_id"), col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      // lengthening runs LAST (on the planted text, so every section
      // carries the contract characters), then n_chars recomputes again
      if (lengthFactor == 1) planted
      else {
        val maps = Array.tabulate(lengthFactor)(j => sectionMap(i, j))
        val lenUdf = udf((t: String) => lengthen(t, maps))
        planted
          .withColumn("text", lenUdf(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }, "documents")

    // embeddings replicate under a per-replica SIGNED PERMUTATION of
    // the coordinates (rotate by i, deterministic mix64 sign flips) —
    // an orthogonal transform, so every within-replica norm / inner
    // product / cosine is preserved EXACTLY (permuting and negating
    // floats involves no FP arithmetic: ±1·x is exact), while
    // cross-replica neighbor structure decorrelates. The ANN/semantic-
    // dedup workload therefore replicates as `factor` disjoint vector
    // populations — the embedding-space mirror of the documents cipher,
    // and for the same reason: cross-replica cliques would measure a
    // densified problem, not "same workload, more data".
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write(replicate(emb) { (d, i) =>
      val base = d.withColumn("vec_id", col("vec_id") + lit(i * offset))
      if (i == 0) base
      else {
        val signs = (0 until 64).map(j =>
          if ((graft.plans.Kernels.mix64(i.toLong * 1000003L + j) & 1L) == 0L) 1.0f
          else -1.0f).toArray
        base.withColumn("embedding",
          transform(col("embedding"), (_, jj) =>
            element_at(col("embedding"),
              (pmod(jj + lit(i), size(col("embedding"))) + 1).cast("int")) *
              element_at(typedLit(signs), ((jj % 64) + 1).cast("int"))))
      }
    }, "embeddings")

    // unchanged tables are BYTE-copied, not rewritten through Spark: a
    // read/write round-trip rewrites the parquet logical types (the
    // driver's nanosecond timestamps, read as longs under
    // `nanosAsLong`, come back out as plain BIGINT) and the DuckDB
    // oracle side then sees a different schema than at the source SF
    // brandSplit rewrites part's brand dimension (25 → 25·m) so the
    // q129 basket axis can genuinely explode; part carries no nanos
    // timestamps, so the Spark round-trip is schema-safe here
    if (brandSplit > 1)
      write(spark.read.parquet(s"$src/part.parquet")
        .withColumn("p_brand",
          concat(col("p_brand"), lit("#"),
            pmod(col("p_partkey"), lit(brandSplit.toLong)).cast("string"))), "part")
    for (t <- Seq("region", "nation", "customer", "supplier") ++
           (if (brandSplit > 1) Nil else Seq("part"))) {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(s"$dst/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(Json(ListMap("scaled" -> dst, "factor" -> factor, "depth_factor" -> depthFactor,
      "brand_split" -> brandSplit, "length_factor" -> lengthFactor, "non_ascii" -> plantNonAscii)))
    spark.stop()
  }
}
