package graft.operators

import graft.plans.Exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed trainer for the [[QualityClassifier]] hashed-feature
  * linear model — the missing half of the fastText-style quality-gate
  * story: [[QualityClassifier.score]] applies a weight vector at scan
  * speed; this trains that vector IN SPARK by full-batch gradient
  * descent, so the whole wiki-vs-crawl loop (label → train → gate)
  * runs inside the engine.
  *
  * Model: z = (Σ_t w[bucket(t)]) / cnt over the score kernel's exact
  * term stream ([[graft.plans.Kernels.termBuckets]] — unigrams then
  * bigrams, pinned order), p = 0.5 + 0.5·z/(1+|z|) (the rational
  * sigmoid — exact IEEE, no libm), squared loss. The true gradient
  * dL/dw[b] = Σ_d (p−y) · ½/(1+|z|)² · cnt_db/cnt_d is one narrow
  * aggregation per iteration.
  *
  * Determinism contract (the kmeansCtes discipline): every per-document
  * quantity is a pinned-order fold of IEEE doubles — bit-exact in any
  * engine — and the one cross-document reduction (the gradient sum) is
  * ORDER-PINNED outright: per-occurrence gradients snap to an integer
  * 1e-9 grid and sum exactly as longs (HUGEINT in the oracle), so the
  * sum is the same integer in every engine, partitioning and core count — no
  * float reduction anywhere near the 0.5e-6 weight-rounding boundary.
  * An independent engine replaying the loop (DuckDB CTEs in the
  * oracle) reproduces every iteration's weights digit-for-digit.
  * Zero-init keeps iteration 0 deterministic without an RNG.
  *
  * 100 TB shape: the feature frame (y, bucket-array, cnt) is computed
  * once by a codegen kernel and persisted; each iteration is one scan
  * of it (map-side partial aggregation) plus an m-key shuffle and an
  * m-row driver collect — the k-means pattern. No per-row UDF, no
  * global window, nothing quadratic. `m` is capped so the in-plan
  * weight literal can never become a multi-MB codegen blob (the
  * round-10 typedLit lesson).
  */
object Trainer {

  /** Train and return the bucketed weight vector (length `m`) ready
    * for [[QualityClassifier.score]] / `Exprs.linearTextScore`.
    */
  def trainHashedLinear(df: DataFrame, textCol: String, labelCol: String,
                        m: Int = 256, iters: Int = 3,
                        lr: Double = 4.0): Array[Double] = {
    require(m >= 2 && m <= 4096,
      s"bucket count m must be in [2, 4096] (in-plan literal bound), got $m")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val feat = df.select(col(labelCol).cast("double").as("y"),
        Exprs.termBuckets(col(textCol), m).as("bl"))
      .filter(size(col("bl")) > 0)
      .select(col("y"), col("bl"), size(col("bl")).cast("double").as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val n = feat.count().toDouble   // also materializes the cache
    var w = new Array[Double](m)
    var t = 0
    while (t < iters && n > 0) {
      val wlit = typedLit(w.toSeq)
      // z in the score kernel's fold order (compiled dotBuckets loop —
      // same left-to-right association the interpreted HOF fold and the
      // oracle's ordered list_reduce use), then the exact dp/dz chain;
      // expression shapes are mirrored 1:1 by OracleSql.gdTrainerSql
      val z = Exprs.dotBuckets(col("bl"), w) / col("cnt")
      val g = (((lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))) - col("y"))
        * lit(0.5) / ((lit(1.0) + abs(z)) * (lit(1.0) + abs(z)))) / col("cnt")
      // ORDER-PINNED cross-document reduction (the micro-nat
      // discipline): snap each per-occurrence gradient to an integer
      // 1e-9 grid and sum as LONGS — a float sum(g) is
      // order-unspecified, and a per-bucket sum landing within an ulp
      // of the 0.5e-6 rounding boundary would flip a weight by a grid
      // step partition-count-dependently. Integer addition is exact in
      // any order, so the sum is the same long in every engine and
      // partitioning. Bounds: |per-occurrence| ≤ 0.5e9 (|g| ≤ 0.5/cnt
      // and a doc has cnt occurrences), so a bucket's total stays
      // inside 2⁶³ up to ~1.8×10¹⁰ docs — any realistic corpus. (A
      // decimal(38,0) sum is equally exact but measured 4× slower at
      // 54M occurrences: decimal aggregation falls off the fast
      // long-accumulator path.) The 1e-9 grid only picks WHICH exact
      // model is trained; reproducibility is grid-independent.
      // half-away-from-zero via sign-aware floor — pure double
      // arithmetic (Spark's round() routes doubles through a per-row
      // BigDecimal: measured +4 s at 100× on this 54M-row × 6 path);
      // the oracle mirrors the IDENTICAL fp formula, so both engines
      // snap to the same integer even at the fp boundary cases where
      // floor(x+0.5) and a decimal-expansion HALF_UP disagree
      val gmag = floor(abs(g) * lit(1e9) + lit(0.5))
      val gm = when(g >= 0, gmag).otherwise(-gmag).cast("long")
      val upd = feat.select(explode(col("bl")).as("b"), gm.as("gm"))
        .groupBy(col("b")).agg(sum(col("gm")).as("gs"))
        .select(col("b"),
          round(element_at(wlit, col("b") + 1)
            - lit(lr) * (col("gs").cast("double") / lit(1e9)) / lit(n), 6).as("wn"))
        .collect()                  // ≤ m rows — summary-bounded
      val next = w.clone()
      upd.foreach(r => next(r.getInt(0)) = r.getDouble(1))
      w = next
      t += 1
    }
    w
    // finally (not tail): a failed iteration must not strand the
    // corpus-scale feature cache for the life of the session
    } finally feat.unpersist(blocking = false)
  }

  /** Train, then score every row with the scan-speed kernel: the
    * end-to-end quality-gate pipeline as one call. Output keeps
    * `keepCols`, adds `y` (the double label) and `score` (6 dp).
    */
  def trainAndScore(df: DataFrame, textCol: String, labelCol: String,
                    keepCols: Seq[String],
                    m: Int = 256, iters: Int = 3,
                    lr: Double = 4.0): DataFrame = {
    val w = trainHashedLinear(df, textCol, labelCol, m, iters, lr)
    df.select(keepCols.map(col) ++ Seq(
      col(labelCol).cast("double").as("y"),
      round(Exprs.linearTextScore(col(textCol), w), 6).as("score")): _*)
  }
}
