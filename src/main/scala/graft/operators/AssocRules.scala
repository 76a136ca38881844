package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules (support / confidence / lift) over
  * brands co-bought in one order — q129's operator, factored out of the
  * catalog in r18 with the two scale protections its inline form
  * lacked (r17 verdict #2: replicating a corpus grows basket COUNT,
  * never basket DEPTH, so the quadratic in-row pair axis was unprobed
  * and unguarded).
  *
  * Plan shape (unchanged from the audited inline form):
  *  - Pair generation is IN-ROW (sorted brand-index set per order →
  *    combinations via nested `transform`), so the only shuffles are
  *    the lineitem⋈part join, ONE groupBy(orderkey) whose
  *    `collect_set` dedups map-side, and the tiny pair count — no
  *    quadratic self-join of the order-brand table anywhere.
  *  - Brands are DICTIONARY-ENCODED to ints before the wide shuffle
  *    (the brand dimension is config-scale by contract — one
  *    driver-collected sorted list): the exchange carries (long, int)
  *    rows instead of strings, the sets sort/dedup over ints, and the
  *    in-row pair key packs to ONE long, decoded only on the final
  *    ~|brands|² frame (measured 5.4 s → 3.4 s cold at sf0.1).
  *  - The per-order sets PERSIST across their three consumers (pair
  *    counts, brand counts, order count — measured 4.7 s → 2.6 s cold
  *    at sf0.1) and are released here, not by a harness clearCache():
  *    the `topN`-row result collects into a LocalRelation first.
  *  - part scales WITH the data (not a config-scale dim): the join
  *    stays unhinted — AQE broadcasts it at bench SF, and at 100 TB
  *    the right plan is bucketed lineitem⋈part on partkey
  *    (BucketingSpec's zero-exchange shape); only the brand DICT is
  *    broadcast by contract.
  *  - Integer-only scoring: conf/lift in exact micro units (the
  *    1e6·c_ab·N product stays < 2^63 through sf100; at larger scales
  *    split the lift numerator HUGEINT-style).
  *
  * r18 scale protections on the quadratic axis (per-order pair count
  * is Σ C(|basket|, 2), quadratic in basket DEPTH):
  *  - APRIORI PRUNE (lossless): a pair with c_ab ≥ `minSupport`
  *    requires BOTH items to appear in ≥ `minSupport` baskets
  *    (c_ab ≤ min(c_a, c_b)), so items below `minSupport` are dropped
  *    from every basket BEFORE pair generation (`array_intersect`
  *    against the driver-collected frequent-index list — order-
  *    preserving, so packed pairs still decode to b1 < b2). The
  *    support filter output is bit-identical; only the pair volume
  *    shrinks. Denominators (c_a, c_b, n_orders) are computed from
  *    the UNPRUNED sets, exactly as the SQL oracle derives them.
  *  - PAIR-VOLUME GATE (refuse-don't-explode, the q162 contract): the
  *    post-prune Σ C(|basket|, 2) is estimated with one cheap pass
  *    over the already-persisted sets; past `maxPairCombos` the
  *    operator throws with guidance instead of materializing an
  *    explosive pair list. `Long.MaxValue` skips the gate.
  *
  * The old inline packing (`x * 1024 + y`) silently assumed < 1024
  * brands; the pack base is now |brands| itself, so any config-scale
  * brand dimension decodes exactly (AssocRulesSpec pins 2500 brands).
  */
object AssocRules {

  def brandRules(lineitem: DataFrame, part: DataFrame,
                 minSupport: Long = 50L, topN: Int = 25,
                 maxPairCombos: Long = 1L << 31,
                 maxBrands: Int = 100000): DataFrame = {
    val (out, sets) = brandRulesFrame(lineitem, part, minSupport, topN,
      maxPairCombos, maxBrands)
    // the topN-row result collects into a LocalRelation so the
    // corpus-scale per-order sets cache is released HERE, not left for
    // a harness clearCache() (library callers get the same lifetime
    // the bench sees, and the result survives executor loss)
    try Ckpt.toLocal(out) finally sets.unpersist(blocking = false)
  }

  /** The lazy plan + the persisted per-order sets frame, pre-collect —
    * the seam PlanShapeSpec audits (the public API's LocalRelation
    * result has no lineage left to inspect). Callers own unpersisting
    * the returned `sets`. */
  private[graft] def brandRulesFrame(lineitem: DataFrame, part: DataFrame,
                                     minSupport: Long, topN: Int,
                                     maxPairCombos: Long,
                                     maxBrands: Int): (DataFrame, DataFrame) = {
    // the dictionary collect is bounded AS it runs — `limit(max + 1)`
    // caps what can ever reach the driver, so a data-scale dimension
    // refuses instead of OOMing the driver silently (the same
    // refuse-don't-explode posture as the pair gate below), at zero
    // extra cost: one job, same as the unguarded collect. The sort
    // happens driver-side UNDER SPARK'S OWN STRING ORDERING
    // (UTF8String = byte-wise UTF-8) — java.lang.String.compareTo is
    // UTF-16-code-unit order and diverges on supplementary characters,
    // which would desync the dictionary from any engine-side orderBy.
    val collected = part.select(col("p_brand")).distinct()
      .limit(maxBrands + 1).collect().map(_.getString(0))
    require(collected.length <= maxBrands,
      s"brand dimension exceeds maxBrands=$maxBrands distinct values: " +
        "the dictionary-encode path collects and broadcasts the dimension, " +
        "which is only sound for a config-scale dimension. For a data-scale " +
        "item dimension, dictionary-encode via a join against a persisted " +
        "index instead, or raise maxBrands explicitly.")
    val brands = collected.sortWith((a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0).toSeq
    val nb = brands.size.toLong
    if (nb < 2) {
      // degenerate corpus (0-1 distinct brands): no pair can exist.
      // The pre-refactor inline q129 returned an empty frame here;
      // preserve that for tiny-slice replays instead of throwing
      // (r18 advisor). Both tuple slots carry the same un-persisted
      // LocalRelation — the caller's unpersist is a no-op on it.
      import lineitem.sparkSession.implicits._
      val empty = Seq.empty[(String, String, Long, Double, Double)]
        .toDF("b1", "b2", "support", "confidence", "lift")
      return (empty, empty)
    }
    val bIdx = {
      import lineitem.sparkSession.implicits._
      brands.zipWithIndex.toDF("p_brand", "bi")
    }
    // index order == brand string order (indices assigned sorted), so
    // packed pairs decode to the same (b1 < b2) string pairs
    val sets = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(bIdx), "p_brand")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("bi"))).as("bs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // denominators from the UNPRUNED sets (the oracle's bc/nn CTEs)
      val bc = sets.select(explode(col("bs")).as("bi"))
        .groupBy(col("bi")).agg(count(lit(1)).as("c"))
      val n = sets.agg(count(lit(1)).as("n_orders"))
      // apriori prune: only indices with c >= minSupport can be in a
      // reported pair; the frequent list is brand-dimension-sized
      // (config-scale), so it collects and broadcasts as a literal
      val freq = bc.filter(col("c") >= minSupport)
        .select(col("bi")).collect().map(_.getInt(0)).sorted.toSeq
      val prunedSets = sets.select(
        array_intersect(col("bs"), typedLit(freq)).as("bs"))
      if (maxPairCombos < Long.MaxValue) {
        // integer `div` — Column./ on longs would go through double
        val est = prunedSets
          .agg(coalesce(sum(expr(
            "(CAST(size(bs) AS BIGINT) * (size(bs) - 1)) div 2")), lit(0L)))
          .head().getLong(0)
        require(est <= maxPairCombos,
          s"in-row pair generation would enumerate $est combinations " +
            s"(> maxPairCombos=$maxPairCombos): basket depth × corpus size " +
            "has outgrown the quadratic per-basket axis. Raise minSupport " +
            "(the apriori prune tightens with it), raise maxPairCombos " +
            "explicitly to enumerate anyway, or mine frequent itemsets " +
            "with a bounded-depth prefix scheme instead of all pairs.")
      }
      val pairs = prunedSets.select(explode(expr(
          "flatten(transform(bs, (x, i) -> " +
            s"transform(slice(bs, i + 2, size(bs)), y -> CAST(x AS BIGINT) * $nb + y)))"))
          .as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c_ab"))
        .select(
          // integer `div`, same as the gate estimate: Column./ on longs
          // goes through double, which is only exact while nb ≤ ~9.4e7 —
          // and maxBrands is caller-raisable past that (r18 advisor)
          element_at(typedLit(brands), expr(s"k div ${nb}L").cast("int") + 1).as("b1"),
          element_at(typedLit(brands), pmod(col("k"), lit(nb)).cast("int") + 1).as("b2"),
          col("c_ab"))
      val bcNamed = bc.select(
        element_at(typedLit(brands), col("bi") + 1).as("p_brand"), col("c"))
      val out = pairs.filter(col("c_ab") >= minSupport)
        .join(broadcast(bcNamed.select(col("p_brand").as("b1"), col("c").as("c_a"))), "b1")
        .join(broadcast(bcNamed.select(col("p_brand").as("b2"), col("c").as("c_b"))), "b2")
        .crossJoin(broadcast(n))
        .select(col("b1"), col("b2"), col("c_ab").as("support"),
          expr("(1000000 * c_ab) div c_a").as("conf_micro"),
          expr("(1000000 * c_ab * n_orders) div (c_a * c_b)").as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("b1"), col("b2"))
        .limit(topN)
        .select(col("b1"), col("b2"), col("support"),
          (col("conf_micro").cast("double") / 1e6).as("confidence"),
          (col("lift_micro").cast("double") / 1e6).as("lift"))
      (out, sets)
    } catch {
      // on a refused gate (or any failure) the cache must not leak;
      // on success the CALLER owns the sets lifetime
      case t: Throwable => sets.unpersist(blocking = false); throw t
    }
  }
}
