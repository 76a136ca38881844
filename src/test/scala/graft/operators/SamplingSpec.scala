package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  private lazy val ids = {
    import spark.implicits._
    (0L until 20000L).map(i => (i, (i % 4) match {
      case 0 => "web"; case 1 => "books"; case 2 => "code"; case _ => "wiki"
    })).toDF("id", "source")
  }

  test("hashSample is deterministic, partitioning-invariant, and near the target rate") {
    val a = Sampling.hashSample(ids, col("id"), 0.3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(ids.repartition(17), col("id"), 0.3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(a === b, "same rows selected regardless of partitioning")
    val rate = a.size.toDouble / 20000
    assert(math.abs(rate - 0.3) < 0.02, s"rate $rate")
  }

  test("hashSample is monotone in fraction (nested samples)") {
    val small = Sampling.hashSample(ids, col("id"), 0.1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val big = Sampling.hashSample(ids, col("id"), 0.4)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big), "growing the fraction only adds rows")
  }

  test("stratifiedHashSample applies per-stratum rates with a default") {
    val out = Sampling.stratifiedHashSample(ids, col("id"), col("source"),
        Map("web" -> 0.1, "code" -> 0.8), default = 0.5)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perStratum = 5000.0
    assert(math.abs(out("web") / perStratum - 0.1) < 0.03)
    assert(math.abs(out("code") / perStratum - 0.8) < 0.03)
    assert(math.abs(out("books") / perStratum - 0.5) < 0.03)
    assert(math.abs(out("wiki") / perStratum - 0.5) < 0.03)
  }

  test("topNPerStratum: exact quota, layout invariance, later-rows-only displacement") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"s${i % 5}")).toDF("id", "stratum")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.topNPerStratum(d, col("id"), col("stratum"), n = 4)
        .select(col("stratum"), col("id")).as[(String, Long)].collect().toSet
    val a = run(df.repartition(3))
    assert(a.size === 5 * 4, "exactly n rows per stratum")
    assert(a.groupBy(_._1).forall(_._2.size == 4))
    // deterministic under layout changes
    assert(run(df.repartition(17).sort(col("id").desc)) === a)
    // dropping unselected rows does not change the selection; adding
    // rows can only displace by hashing below a current member
    val kept = run(df.filter(col("id").isin(a.map(_._2).toSeq: _*)))
    assert(kept === a)
  }

  test("leakageSafeSplits: whole clusters share a split, singletons self-cluster, 1/size weights") {
    import spark.implicits._
    // 30 docs; edges form clusters {0,1,2,3}, {10,11}, {20,21,22};
    // everything else is a singleton
    val docs = (0L until 30L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplits(docs, "doc_id", pairs, "id_a", "id_b",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toMap
    assert(out.size === 30)
    // min-id cluster labels; every member shares the label's split
    for (cluster <- Seq(Seq(0L, 1L, 2L, 3L), Seq(10L, 11L), Seq(20L, 21L, 22L))) {
      val labels = cluster.map(out(_)._1).distinct
      assert(labels === Seq(cluster.min), s"cluster $cluster label")
      assert(cluster.map(out(_)._3).distinct.size === 1, s"cluster $cluster split")
      cluster.foreach { id =>
        assert(out(id)._2 === cluster.size.toLong)
        assert(out(id)._4 === BigDecimal(1.0 / cluster.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    // singletons: own id, size 1, weight 1, and the split equals the
    // plain assignSplits verdict on that id (the hash key IS the cluster)
    val plain = Sampling.assignSplits((0L until 30L).toDF("k"), col("k"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (id <- 4L until 10L) {
      assert(out(id)._1 === id && out(id)._2 === 1L && out(id)._4 === 1.0)
      assert(out(id)._3 === plain(id), s"singleton $id split must be hash(id)")
    }
    // clustered docs follow hash(cluster label), not hash(own id)
    for (cluster <- Seq(Seq(0L, 1L, 2L, 3L), Seq(10L, 11L), Seq(20L, 21L, 22L)))
      cluster.foreach(id => assert(out(id)._3 === plain(cluster.min)))
  }

  test("hashSample plan is a pushdown-compatible narrow filter (no shuffle)") {
    val plan = Sampling.hashSample(ids, col("id"), 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("tokenShards plans NO hash exchange (prefix scan rides the range sort's stage)") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, "a b c")).toDF("id", "text")
    val plan = Sampling.tokenShards(docs, "id", "text", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a pid-partitioned window would re-shuffle the frame:\n$plan")
  }

  test("tokenShards: prefix-sum semantics, layout invariance, bounded overshoot") {
    import spark.implicits._
    // doc i has (i % 7) + 1 tokens; budget 10
    val docs = (0L until 200L)
      .map(i => (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" ")))
      .toDF("id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.tokenShards(df, "id", "text", tokensPerShard = 10)
        .select(col("id"), col("n_tokens"), col("shard_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = run(docs.repartition(3))
    val b = run(docs.repartition(17).sort(col("id").desc))
    assert(a.toSeq === b.toSeq, "shard ids must not depend on input layout")
    // brute-force prefix sum
    var acc = 0L
    a.foreach { case (id, n, shard) =>
      assert(n === (id % 7) + 1)
      assert(shard === acc / 10, s"doc $id")
      acc += n
    }
    // each shard's token total overshoots the budget by < one max doc
    val perShard = a.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    perShard.toSeq.sortBy(_._1).dropRight(1).foreach { case (sid, tot) =>
      assert(tot < 10 + 7, s"shard $sid total $tot")
    }
  }

  test("assignSplits is disjoint, exhaustive, near the target rates, stable under growth") {
    import spark.implicits._
    val out = Sampling.assignSplits(ids, col("id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("id"), col("split")).as[(Long, String)].collect()
    assert(out.length === 20000, "every row got exactly one split")
    val byId = out.toMap
    assert(byId.size === 20000)
    val rates = out.groupBy(_._2).view.mapValues(_.length / 20000.0).toMap
    assert(math.abs(rates("train") - 0.8) < 0.02, s"train ${rates("train")}")
    assert(math.abs(rates("val") - 0.1) < 0.01)
    assert(math.abs(rates("test") - 0.1) < 0.01)
    // adding rows later never moves an existing row between splits
    val shrunk = Sampling.assignSplits(ids.filter(col("id") < 5000), col("id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("id"), col("split")).as[(Long, String)].collect()
    shrunk.foreach { case (id, s) => assert(byId(id) === s) }
  }

  test("assignSplits plan is a narrow projection (no shuffle)") {
    val plan = Sampling.assignSplits(ids, col("id"),
        Seq(("train", 0.9), ("test", 0.1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split assignment must not shuffle:\n$plan")
  }

  test("weightedTopNPerStratum: exact A-Res selection vs brute force, weight bias") {
    import spark.implicits._
    // two strata; in 'heavy' half the rows carry 50x the weight
    val df = (0L until 2000L).map { i =>
      val stratum = if (i % 2 == 0) "even" else "odd"
      val w = if (i % 10 == 0) 50.0 else 1.0
      (i, stratum, w)
    }.toDF("id", "stratum", "w")
    val got = Sampling.weightedTopNPerStratum(df, col("id"), col("stratum"),
        col("w"), n = 25)
      .select(col("stratum"), col("id"), col("rn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force the same deterministic draw
    def rank(id: Long, w: Double): Double = {
      val h = graft.plans.Kernels.mix64(id)
      val m = ((h % 1000000L) + 1000000L) % 1000000L
      math.pow((m + 0.5) / 1000000.0, 1.0 / w)
    }
    val want = (0L until 2000L).map { i =>
      val stratum = if (i % 2 == 0) "even" else "odd"
      (stratum, i, rank(i, if (i % 10 == 0) 50.0 else 1.0))
    }.groupBy(_._1).flatMap { case (st, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(25).zipWithIndex
        .map { case ((s, id, _), k) => (s, id, k + 1) }
    }.toSet
    assert(got === want)
    // heavy rows (id%10==0) all land in the 'even' stratum, where they
    // are 20% of rows but hold 92% of the weight -> they should sweep
    // that stratum's sample (sim expectation ≈ 24.8 of 25)
    val heavy = got.count { case (st, id, _) => st == "even" && id % 10 == 0 }
    assert(heavy >= 20, s"expected heavy-weight dominance in 'even', got $heavy/25")
  }

  test("temperatureAllocate: exact budget, graded-sqrt weights, α-flattening") {
    import spark.implicits._
    // skewed corpus: head source 100×, tail 1
    val df = (Seq.fill(10000)("head") ++ Seq.fill(400)("mid") ++
      Seq.fill(100)("tail")).toDF("src")
    val got = Sampling.temperatureAllocate(df, col("src"), 997L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._4).sum === 997L, "allocation must sum to the budget exactly")
    // reference fold: graded sqrt + Hamilton, independently re-derived
    val s = Map("head" -> math.round(math.sqrt(10000.0) * 1e6),
      "mid" -> math.round(math.sqrt(400.0) * 1e6),
      "tail" -> math.round(math.sqrt(100.0) * 1e6))
    val total = s.values.sum
    val floors = s.view.mapValues(v => 997L * v / total).toMap
    val rems = s.map { case (k, v) => k -> 997L * v % total }
    val leftover = (997L - floors.values.sum).toInt
    val bumped = rems.toSeq.sortBy { case (k, r) => (-r, k) }
      .take(leftover).map(_._1).toSet
    val want = got.map { case (src, _, _, _) =>
      (src, floors(src) + (if (bumped(src)) 1L else 0L))
    }
    assert(got.map(t => (t._1, t._4)).toSeq === want.toSeq)
    // α=1/2 flattening: head has 100× tail's rows but only 10× its
    // allocation (sqrt compresses the ratio)
    val byName = got.map(t => t._1 -> t._4).toMap
    assert(byName("head") < 11 * byName("tail"),
      s"sqrt should compress 100x rows to ~10x alloc, got $byName")
    assert(byName("head") > 5 * byName("tail"), s"but still head-heavy: $byName")
  }

  test("temperatureAllocate: uniform counts tie-break deterministically on source") {
    import spark.implicits._
    // 7 equal sources, budget not divisible by 7: the 5 leftover docs
    // go to the alphabetically-first sources (all remainders tie)
    val df = (0 until 700).map(i => s"s${i % 7}").toDF("src")
    val got = Sampling.temperatureAllocate(df, col("src"), 47L)
      .collect().map(r => (r.getString(0), r.getLong(3))).sortBy(_._1)
    assert(got.map(_._2).sum === 47L)
    val want = Seq("s0" -> 7L, "s1" -> 7L, "s2" -> 7L, "s3" -> 7L,
      "s4" -> 7L, "s5" -> 6L, "s6" -> 6L)
    assert(got.toSeq === want)
  }

  test("mixtureInterleave: dense positions, exact quotas, stride evenness") {
    import spark.implicits._
    val df = ((0 until 900).map(i => ("big", i.toLong)) ++
      (0 until 100).map(i => ("small", 10000L + i)))
      .toDF("src", "k")
    val got = Sampling.mixtureInterleave(df, col("src"), col("k"), 200L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache() // q14-family cache contract
    assert(got.map(_._1).sorted.toSeq === (1L to 200L), "positions must be dense 1..budget")
    // quotas: sqrt(900):sqrt(100) = 3:1 of 200 -> 150/50
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc === Map("big" -> 150, "small" -> 50), s"quota split: $bySrc")
    // stride evenness: every prefix of length m holds m*n_s/T of each
    // source to within ±2 (the defining property of stride scheduling —
    // no source-sized runs anywhere in the schedule)
    val ordered = got.sortBy(_._1)
    for (m <- Seq(20, 50, 100, 173)) {
      val prefix = ordered.take(m)
      for ((s, n) <- Seq(("big", 150.0), ("small", 50.0))) {
        val want = m * n / 200.0
        val have = prefix.count(_._2 == s)
        assert(math.abs(have - want) <= 2,
          s"prefix $m: $s appears $have times, expected ~$want")
      }
    }
    // within a source the schedule follows the deterministic draw order
    for (s <- Seq("big", "small")) {
      val idxs = ordered.filter(_._2 == s).map(_._3).toSeq
      assert(idxs === idxs.sorted, s"$s src_idx must be increasing along the schedule")
      assert(idxs === (1L to idxs.length), s"$s must use exactly ranks 1..quota")
    }
  }

  test("mixtureInterleave: layout-independent (repartitioned input, same schedule)") {
    import spark.implicits._
    val df = (0 until 500).map(i => (s"s${i % 3}", i.toLong)).toDF("src", "k")
    val a = Sampling.mixtureInterleave(df, col("src"), col("k"), 100L)
      .collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    val b = Sampling.mixtureInterleave(df.repartition(17), col("src"), col("k"), 100L)
      .collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    assert(a === b, "schedule must not depend on input partitioning")
  }

  private def unimaxDocs(ns: Map[String, Int]) = {
    import spark.implicits._
    ns.toSeq.flatMap { case (s, n) => (0 until n).map(i => (s, i)) }
      .toDF("src", "i")
  }

  test("unimaxAllocate: water level binds saturated prefix exactly (hand-checked case)") {
    // caps (epochs=2): a=10, b=20, c=100; budget 60 -> a,b saturate,
    // c takes the 30-unit residual level
    val got = Sampling.unimaxAllocate(
        unimaxDocs(Map("a" -> 5, "b" -> 10, "c" -> 50)), col("src"), 60L, 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") === ((5L, 10L, 10L)))
    assert(got("b") === ((10L, 20L, 20L)))
    assert(got("c") === ((50L, 100L, 30L)))
  }

  test("unimaxAllocate: mod-split leftover goes one each to the first unsaturated keys") {
    // caps: a=10, b=20, c=100, d=110; budget 75 -> a,b saturate,
    // residual 45 over {c,d}: level 22, rem 1 -> c (first by key) gets 23
    val got = Sampling.unimaxAllocate(
        unimaxDocs(Map("a" -> 5, "b" -> 10, "c" -> 50, "d" -> 55)), col("src"), 75L, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got === Map("a" -> 10L, "b" -> 20L, "c" -> 23L, "d" -> 22L))
  }

  test("unimaxAllocate: over-budget saturates every cap and leaves the surplus unallocated") {
    val rows = Sampling.unimaxAllocate(
        unimaxDocs(Map("a" -> 5, "b" -> 10, "c" -> 50)), col("src"), 10000L, 2L)
      .collect()
    rows.foreach(r => assert(r.getLong(3) === r.getLong(2), s"alloc == cap for ${r.getString(0)}"))
    assert(rows.map(_.getLong(3)).sum === 130L)
  }

  test("unimaxAllocate invariants: alloc <= cap, sum == min(budget, sum(cap)), near-uniform unsaturated") {
    for (budget <- Seq(7L, 40L, 75L, 129L, 131L, 500L)) {
      val rows = Sampling.unimaxAllocate(
          unimaxDocs(Map("a" -> 5, "b" -> 10, "c" -> 50)), col("src"), budget, 2L)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      rows.foreach { case (s, cap, alloc) => assert(alloc <= cap, s"$s at budget $budget") }
      assert(rows.map(_._3).sum === math.min(budget, 130L), s"budget $budget")
      // unsaturated allocations differ by at most one unit
      val unsat = rows.filter { case (_, cap, alloc) => alloc < cap }.map(_._3)
      if (unsat.nonEmpty)
        assert(unsat.max - unsat.min <= 1L, s"budget $budget: $unsat")
    }
  }
}
