package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation. Unlike
  * `df.sample()` (seeded RNG over partition iterators — results change
  * with partitioning and row order), these sample on a HASH of a stable
  * key, so the same row set is selected on every run, on any cluster
  * layout, and rows added later don't disturb prior selections —
  * the property that makes incremental corpus rebuilds reproducible.
  *
  * All are narrow transforms: a codegen'd hash + comparison per row, no
  * shuffle, fully pushdown-compatible. Selection bias: xxhash64 is
  * uniform over the key space, so per-stratum sample sizes are
  * Binomial(n, fraction) — at 100 TB the relative deviation is
  * O(1/√(n·f)), negligible for any stratum big enough to matter.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Keep rows where `hash(key) mod 1e6 < fraction·1e6` — a
    * deterministic `fraction`-sample keyed on `key`.
    */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction out of [0,1]")
    df.filter(pmod(xxhash64(key), lit(Buckets)) < (fraction * Buckets).toLong)
  }

  /** Per-stratum fractions: `fractions(stratum)` of each stratum's rows
    * (strata absent from the map fall back to `default`). One pass, no
    * shuffle — the stratum column picks the threshold per row.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
                           fractions: Map[String, Double],
                           default: Double = 0.0): DataFrame = {
    require((default +: fractions.values.toSeq).forall(f => f >= 0 && f <= 1))
    val threshold = fractions.foldLeft(lit((default * Buckets).toLong)) {
      case (acc, (s, f)) =>
        when(stratum === s, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(pmod(xxhash64(key), lit(Buckets)) < threshold)
  }

  /** Fixed-size per-stratum sample: the `n` rows of each stratum with
    * the smallest `mix64(key)` — i.e. a deterministic uniform draw with
    * an EXACT output size per stratum (vs the binomial-sized
    * [[stratifiedHashSample]]); the eval-set / per-source-quota shape.
    * Same stability property: a row's rank among survivors can only be
    * displaced by later-added rows hashing below it.
    *
    * Scale: one shuffle on the stratum key; the per-stratum sort is a
    * window over rows WITHIN one stratum. For few huge strata prefer a
    * two-phase top-n (partial per-partition top-n before the exchange)
    * — with ≥ thousands of strata the plain window's per-group state is
    * already bounded and the exchange is well-spread.
    */
  def topNPerStratum(df: DataFrame, key: Column, stratum: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0)
    val w = Window.partitionBy(stratum)
      .orderBy(graft.plans.Exprs.mix64(key.cast("long")), key)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Weighted fixed-n per-stratum sample without replacement
    * (Efraimidis–Spirakis A-Res): each row draws a deterministic
    * uniform `u = (mix64(key) mod 1e6 + 0.5)/1e6` and ranks by
    * `u^(1/weight)`; the top `n` per stratum are the sample, so a
    * row's selection probability is proportional to its weight. Same
    * reproducibility contract as [[topNPerStratum]] (hash-keyed, layout
    * independent) — the weighted variant is the "sample documents
    * proportional to quality score / token count" curation step.
    *
    * Ranks of distinct keys are separated by ~1/(rows per stratum ·
    * ln-scale), many orders of magnitude above cross-engine `pow`
    * last-ulp noise, so the selected SET is engine-stable even though
    * the rank values themselves are floats (ties break on the key).
    * One shuffle on the stratum, like [[topNPerStratum]].
    */
  def weightedTopNPerStratum(df: DataFrame, key: Column, stratum: Column,
                             weight: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0)
    val u = (pmod(graft.plans.Exprs.mix64(key.cast("long")), lit(Buckets))
      .cast("double") + lit(0.5)) / lit(Buckets.toDouble)
    val rank = pow(u, lit(1.0) / weight.cast("double"))
    val w = Window.partitionBy(stratum).orderBy(rank.desc, key)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Deterministic multi-way split assignment (train/val/test): every
    * row gets exactly one split label, chosen by which cumulative-
    * fraction band `mix64(key) mod 1e6` falls into. Unlike filtering
    * twice with different seeds, the bands partition the hash space, so
    * splits are disjoint and exhaustive BY CONSTRUCTION, stable under
    * re-runs and re-partitioning, and a row added later never moves an
    * existing row between splits — the leakage-safety property a
    * train/eval split must have on a growing 100 TB corpus.
    *
    * Narrow (a codegen'd hash + when-chain per row, no shuffle); split
    * sizes are Binomial(n, fraction) like [[hashSample]].
    */
  def assignSplits(df: DataFrame, key: Column, splits: Seq[(String, Double)],
                   outCol: String = "split"): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.forall(_._2 > 0), "split fractions must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val h = pmod(graft.plans.Exprs.mix64(key.cast("long")), lit(Buckets))
    val assigned = splits.init.zip(cum.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), c), acc) =>
        when(h < lit(math.round(c * Buckets)), lit(name)).otherwise(acc)
      }
    df.withColumn(outCol, assigned)
  }

  /** Cluster-consistent (leakage-safe) split assignment: every document
    * in the same near-dup cluster gets the SAME split, because the
    * split hash is taken on the cluster label rather than the document
    * id — [[assignSplits]] alone keeps a GROWING corpus stable, but it
    * still lets two near-duplicate documents land in train and test and
    * leak eval content into training. Also emits the soft-dedup weight
    * `1/cluster_size` (down-weight instead of delete — the "soft" form
    * of near-dup handling when hard removal is too aggressive).
    *
    * Scale shape: `pairs` (near-dup edges, e.g. from
    * [[Dedup.ngramJaccardPairs]]) closes to clusters via the
    * distributed [[Dedup.connectedComponents]]; only documents WITH a
    * duplicate appear there, so the docs⋈clusters join is a hash join
    * on the id key with the (usually much smaller) cluster frame —
    * singletons coalesce to their own id without a row ever existing
    * for them. Sizes add one bounded shuffle on the cluster key; the
    * split itself stays a narrow codegen'd hash. Returns
    * (id, cluster, cluster_size, split, weight).
    */
  def leakageSafeSplits(docs: DataFrame, idCol: String,
                        pairs: DataFrame, aCol: String, bCol: String,
                        splits: Seq[(String, Double)]): DataFrame = {
    val cc = Dedup.connectedComponents(pairs, aCol, bCol)
    val clustered = docs.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val sizes = clustered.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    assignSplits(clustered.join(sizes, "cluster"), col("cluster"), splits)
      .withColumn("weight",
        round(lit(1.0) / col("cluster_size").cast("double"), 6))
      .select(col("id"), col("cluster"), col("cluster_size"),
        col("split"), col("weight"))
  }

  /** UniMax epoch-capped uniform allocation (Chung et al., "UniMax:
    * Fairer and More Effective Language Sampling", ICLR 2023):
    * apportion an integer `budget` across the values of `sourceCol` as
    * UNIFORMLY as possible subject to the per-source repetition cap
    * `cap_s = n_s · maxEpochs` — the water-filling solution
    * `alloc_s = min(cap_s, λ)` with the level λ set so Σ alloc equals
    * the budget. [[temperatureAllocate]] (q160) trades head
    * down-sampling against UNBOUNDED tail repetition; UniMax instead
    * gives every source equal budget until its epoch cap binds — the
    * fairness/overfit contract large multilingual mixtures want.
    *
    * Determinism (cross-engine oracle parity): pure integer arithmetic
    * end to end. Sources sort ascending by (cap, key); the saturated
    * set is provably the prefix of rows with
    * `cap_r · (remaining sources) ≤ budget − (cap prefix sum)` — a
    * per-row window formula an oracle engine can replay — and the
    * residual splits as `level = R div m` with the `R mod m` leftover
    * units going one each to the first unsaturated sources by key.
    * Σ alloc = min(budget, Σ cap) EXACTLY: when the budget exceeds
    * every cap the mixture saturates and the surplus stays
    * deliberately unallocated — UniMax never repeats a source past its
    * epoch cap.
    *
    * Scale shape: ONE distributed aggregation (groupBy(source).count,
    * map-side partial combine); the water-filling fold runs on the
    * driver over the key-space-bounded source domain (same bounded-
    * collect contract as [[temperatureAllocate]], capped by
    * `maxSources`).
    *
    * Output: one row per source — `(source, n_docs, cap, alloc)`.
    */
  def unimaxAllocate(df: DataFrame, sourceCol: Column, budget: Long,
                     maxEpochs: Long, maxSources: Int = 100000): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val spark = df.sparkSession
    val counts = df.groupBy(sourceCol.cast("string").as("source"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1)))
    require(counts.length <= maxSources,
      s"${counts.length} sources exceed maxSources=$maxSources — the " +
        "water-filling fold is a bounded-domain driver pass; raise the " +
        "cap only if the source domain is genuinely that large")
    val ns = counts.length
    counts.foreach { case (_, n) =>
      require(n <= Long.MaxValue / maxEpochs / math.max(ns, 1),
        s"cap·|sources| overflows long (n=$n, maxEpochs=$maxEpochs, sources=$ns)")
    }
    // ascending (cap, key): caps nondecreasing makes the saturated set
    // a prefix (if rank r fails the fit test, cap_{r+1} >= cap_r fails
    // it too — the water never rises past the first overflow)
    val byCap = counts.map { case (s, n) => (s, n, n * maxEpochs) }
      .sortBy { case (s, _, c) => (c, Option(s).getOrElse("")) }
    var r = budget
    var m = ns.toLong
    var satCount = 0
    while (satCount < ns && byCap(satCount)._3 * m <= r) {
      r -= byCap(satCount)._3
      m -= 1
      satCount += 1
    }
    val level = if (m == 0) 0L else r / m
    val rem = if (m == 0) 0L else r % m
    // the rem leftover units go one each to the FIRST unsaturated
    // sources by key — the q160 Hamilton tie-break convention
    val bumpSet = byCap.drop(satCount).map(t => Option(t._1))
      .sortBy(_.getOrElse("")).take(rem.toInt).toSet
    val satSet = byCap.take(satCount).map(t => Option(t._1)).toSet
    val rows = counts.map { case (src, n) =>
      val cap = n * maxEpochs
      val alloc =
        if (satSet.contains(Option(src))) cap
        else level + (if (bumpSet.contains(Option(src))) 1L else 0L)
      org.apache.spark.sql.Row(src, n, cap, alloc)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cap",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("alloc",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** Temperature-smoothed mixture allocation: apportion an integer
    * document `budget` across the values of `sourceCol` with weights
    * `w_s ∝ n_s^0.5` — the standard "upsample the tail, downsample the
    * head" data-mixing step (α-temperature sampling with α = 1/2) used
    * to pick per-source quotas before building a training mix.
    *
    * Output: one row per source — `(source, n_docs, weight_ppm,
    * alloc)` with `sum(alloc) = budget` exactly.
    *
    * Determinism contract (cross-engine oracle parity): `sqrt` is
    * correctly rounded by IEEE-754 in every engine, and its result is
    * immediately graded to integer micro-units (`round(sqrt(n)·1e6)`),
    * so all downstream arithmetic — the weight normalization, the
    * floor quotas `budget·s div total`, and the largest-remainder
    * (Hamilton) distribution of the leftover — is exact integer math
    * with ties broken on the source key. No order-unspecified FP sum
    * anywhere.
    *
    * Scale shape: ONE distributed aggregation (groupBy(source).count —
    * map-side partial combine, shuffle of |sources| rows); the
    * apportionment itself runs on the driver over the source domain,
    * which is key-space-bounded (a corpus has thousands of sources,
    * not billions) and capped by `maxSources` — the same bounded-
    * domain driver-fold contract as the KS bin offsets. Long-overflow
    * guard: `budget · s_max` must fit in a long, i.e.
    * budget · sqrt(n_max) < 9.2e12 — checked at runtime.
    */
  def temperatureAllocate(df: DataFrame, sourceCol: Column, budget: Long,
                          maxSources: Int = 100000): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val counts = df.groupBy(sourceCol.cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .collect()
    require(counts.length <= maxSources,
      s"${counts.length} sources exceed maxSources=$maxSources — the " +
        "apportionment is a bounded-domain driver fold; raise the cap " +
        "only if the source domain is genuinely that large")
    // graded sqrt: one correctly-rounded IEEE sqrt + one multiply per
    // source, snapped to integer micro-units before ANY accumulation
    val graded = counts.map { r =>
      val src = if (r.isNullAt(0)) null else r.getString(0)
      val n = r.getLong(1)
      (src, n, math.round(math.sqrt(n.toDouble) * 1e6))
    }
    val total = graded.iterator.map(_._3).sum
    val sMax = graded.iterator.map(_._3).max
    require(sMax == 0 || budget <= Long.MaxValue / sMax,
      s"budget·sqrt(n_max) overflows long (budget=$budget, sMax=$sMax)")
    val floors = graded.map { case (src, n, s) =>
      (src, n, s * 1000000L / total, budget * s / total, budget * s % total)
    }
    val leftover = (budget - floors.iterator.map(_._4).sum).toInt
    // Hamilton: the `leftover` largest remainders get one extra doc;
    // ties (and the null source, if present) break on the source key
    val bumpSet = floors.sortBy { case (src, _, _, _, rem) =>
      (-rem, Option(src).getOrElse(""))
    }.take(leftover).map(t => Option(t._1)).toSet
    val rows = floors.map { case (src, n, ppm, fl, _) =>
      org.apache.spark.sql.Row(src, n, ppm,
        fl + (if (bumpSet.contains(Option(src))) 1L else 0L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("weight_ppm",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("alloc",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** Stride-scheduled mixture interleave: turn [[temperatureAllocate]]
    * quotas into an actual GLOBAL TRAINING ORDER in which each source's
    * documents are spread evenly — source s with quota `n_s` occupies
    * positions near `(2i−1)/(2n_s)` of the schedule (classic stride
    * scheduling), so a training run consuming the output sequentially
    * sees every source at its allocated rate from the first batch,
    * instead of source-sized runs (the "shuffle your mixture" step a
    * curriculum-correct data loader needs, done once at corpus-build
    * time instead of per-epoch in the loader).
    *
    * Per source, WHICH `n_s` docs fill the quota is the
    * [[topNPerStratum]] draw (smallest `mix64(key)` — deterministic,
    * layout-independent); WITHIN a source the draw order is the
    * schedule order. Output: `(pos, source, src_idx, <key>)` with
    * `pos` a dense 1..budget global position.
    *
    * Determinism contract: the stride key `(2i−1)/(2n_s)` is ONE
    * correctly-rounded IEEE division of exact integers — equal
    * rationals give bit-equal doubles in every engine, unequal
    * rationals give the same rounded double everywhere, and remaining
    * ties (same i, same n_s) break on `(source, i)`. No accumulation,
    * no order-unspecified FP anywhere.
    *
    * Scale shape: the quota table is a driver-bounded LocalRelation
    * (≤ `maxSources` rows) that Catalyst broadcast-joins onto the
    * corpus; the per-source rank is a window PARTITIONED by source;
    * the global position comes from
    * [[graft.operators.Relational.globalRowNumberScalable]] (range
    * exchange + driver-folded offsets — NO single-partition window).
    * Only `budget` rows reach the final sort. Cache contract: the
    * global-row-number intermediate stays persisted like q14 —
    * callers unpersist the result (cascades) or clearCache.
    */
  def mixtureInterleave(df: DataFrame, sourceCol: Column, keyCol: Column,
                        budget: Long, maxSources: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = temperatureAllocate(df, sourceCol, budget, maxSources)
      .select(col("source").as("_alloc_source"), col("alloc"))
    val base = df.select(sourceCol.cast("string").as("source"), keyCol.as("id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(graft.plans.Exprs.mix64(col("id").cast("long")), col("id"))
    val ranked = base
      .withColumn("src_idx", row_number().over(w).cast("long"))
      .join(alloc, col("source") <=> col("_alloc_source"))
      .filter(col("src_idx") <= col("alloc"))
    val strideKey = ((col("src_idx") * 2 - 1).cast("double") /
      (col("alloc") * 2).cast("double")).as("_stride")
    val keyed = ranked.withColumn("_stride", strideKey)
    Relational.globalRowNumberScalable(keyed, "pos",
        col("_stride"), coalesce(col("source"), lit("")), col("src_idx"))
      .select(col("pos"), col("source"), col("src_idx"), col("id"))
  }

  /** Token-budget sharding for pretraining prep: assign each document a
    * shard id so every shard holds ≈ `tokensPerShard` tokens of
    * `orderCol`-consecutive documents — the step that sizes training
    * shards/epoch files from a curated corpus. shard_id =
    * floor(tokens-before-this-doc / budget): a document straddling a
    * boundary belongs to the shard it starts in, so shards overshoot by
    * at most one document (documented contract; exact bin packing is a
    * sequential fold — this prefix-sum form scales).
    *
    * Scale shape: the [[graft.operators.Relational.globalRowNumberScalable]]
    * structure generalized from prefix-COUNT to prefix-SUM — range
    * repartition on the order key, per-partition running sums in the
    * sort's own stage, per-partition totals (≤ #partitions rows at any
    * scale) folded to offsets on the driver. NO single-partition
    * window, no join: the big frame only gains a literal-map lookup.
    */
  def tokenShards(df: DataFrame, orderCol: String, textCol: String,
                  tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0)
    val sorted = df
      .withColumn("n_tokens", graft.plans.Exprs.scanTokens(col(textCol)).cast("long"))
      .repartitionByRange(col(orderCol)).sortWithinPartitions(col(orderCol))
    // per-partition prefix scan as a narrow mapPartitions in the sort's
    // own stage — a window partitioned on the task id would force a
    // second (hash) exchange + re-sort, measured in the plan; a
    // sequential fold is the one shape a prefix sum genuinely needs
    val nIdx = sorted.schema.fieldIndex("n_tokens")
    val outSchema = sorted.schema
      .add("_pid", org.apache.spark.sql.types.LongType, nullable = false)
      .add("_lbefore", org.apache.spark.sql.types.LongType, nullable = false)
    val local = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var acc = 0L
      it.map { r =>
        val before = acc
        acc += r.getLong(nIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pid :+ before)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-partition totals are ≤ #partitions rows at any scale — fold
    // the running offsets on the driver (the q14 structure)
    val totals = local.groupBy(col("_pid"))
      .agg(sum(col("n_tokens")).as("_ptoks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Long, Long] =
      totals.scanLeft((-1L, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
        .sliding(2).collect { case Array((_, off), (pid, _)) => pid -> off }.toMap
    // dense pid domain ⇒ literal ARRAY lookup (LitIndex): the map form
    // linear-scans its key array per row, O(#partitions) at scale
    val nPids = if (totals.isEmpty) 0 else totals.last._1.toInt + 1
    local
      .withColumn("shard_id",
        floor((coalesce(LitIndex.longs(offsets, nPids, 0L, col("_pid")), lit(0L)) +
          col("_lbefore")) / lit(tokensPerShard)).cast("long"))
      .drop("_pid", "_lbefore")
  }
}
