package graft

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

/** Per-round benchmark main (driver contract): runs the catalog on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Each query is fully materialized through a `noop`-format write — a
  * bare `.count()` would let Catalyst prune every projection and time
  * only the scan, which is not the operator under test.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Preflight.catalogRun(spark, sfDir)
    // warm the JVM + parquet footers once so per-query numbers measure
    // the plan, not first-touch JIT/IO
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }
    // ... and the expression-runtime hot paths the entry query never
    // touches: java.util.regex, the Jackson JSON-path reader, window
    // exec, and the shuffle-join machinery. Without this the FIRST
    // catalog query using each path absorbs its whole JIT bill
    // (measured: q10's three-regexp projection read 6.5 s in-context
    // vs 0.2 s warm — a 30× attribution error, not a plan cost).
    // spark.range input: no table I/O, ~1 s total.
    try {
      import org.apache.spark.sql.expressions.{Window => W}
      val r = spark.range(0, 1 << 12)
        .select(col("id"), (col("id") % 7).as("k"),
          concat(lit("a b-c(d) \"x\"; "), col("id").cast("string")).as("t"),
          concat(lit("{\"k\":"), col("id").cast("string"), lit("}")).as("js"))
      r.select(
          regexp_replace(lower(col("t")), "[()\":',&/.;]", "").as("a"),
          get_json_object(col("js"), "$.k").as("b"),
          row_number().over(W.partitionBy(col("k")).orderBy(col("t"))).as("c"),
          sum(col("id")).over(W.partitionBy(col("k")).orderBy(col("id"))
            .rowsBetween(Long.MinValue, 0)).as("d"))
        .write.format("noop").mode("overwrite").save()
      r.join(r.groupBy(col("k")).agg(count(lit(1)).as("n")), "k")
        .groupBy(col("k")).agg(sum(col("n")).as("s"))
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(_) => () }
    // noise canary: a FIXED, IO-free, codegen'd computation whose cost
    // depends only on the machine — catalog edits never touch it, so
    // its history is comparable across rounds. A contaminated run
    // (concurrent builds, another Spark session) is self-identifying:
    // canary_sec drifts far above its quiet-machine record while the
    // plan under it is unchanged. Quiet record on this box: 0.47-0.92 s
    // across a full catalog sweep (local[32], round 10, median 0.78) —
    // treat a run whose canary reads >2x that band as contention, and
    // re-run rather than re-plan.
    def canaryOnce(): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1, 32)
        .select((col("id") % 9973).as("k"),
          (col("id") * lit(6364136223846793005L) + lit(1442695040888963407L)).as("h"))
        .groupBy(col("k")).agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // spill accounting (r17 verdict #4 — the memory-pressure leg):
    // onTaskEnd sums executor spill bytes so a deliberately starved
    // heap run (SPARK_DRIVER_MEM=3g) can DEMONSTRATE spill-not-OOM and
    // record the volume. Always on (a per-task long add); per-query
    // deltas land in the detail JSON's "spill_mem"/"spill_disk" maps.
    // Listener delivery is async — deltas are snapshotted after the
    // post-query GC with a short bus-drain pause, so attribution is
    // per-query-slot accurate, not task-exact.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    // optional comma-separated name filter for single-query iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // per-query best-of-N (default 2): the min discards one-off GC/
    // scheduler hiccups, which at local[32] dominate single-run
    // variance (SCALE.md's A/B measured 1.5-2x same-code swings)
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    val qlist = Queries.all.filter(q => only.forall(_.contains(q.name)))
    // composed MULTI-CACHE pipelines pay a first-run fixed overhead
    // (codegen of the multi-persist DAG + filling two MEMORY_AND_DISK
    // caches inside one job tree) that the per-query min-of-N protocol
    // was measured to capture as a ~2x swing (r18 ABFunnelStages
    // forensics: every data stage stable warm, the COMPOSED cold run
    // swinging 6.5-9.9 s in a quiet session). These get ONE untimed
    // warm-up rep so the timed runs measure the plan, not the
    // first-touch overhead. Membership is an explicit list — q186 is
    // the only catalog entry filling two persists in one job tree.
    val composedWarmup = Set("q186_curation_funnel")
    canaryOnce() // throwaway: the canary plan's own codegen JIT (~2x)
    val canaries = scala.collection.mutable.ArrayBuffer(canaryOnce())
    def resetSpill(): Unit = {
      // drain the listener bus, then zero the counters: work done
      // OUTSIDE a query's timed reps (the mid-run canary, a warm-up
      // rep) must not land in that query's spill attribution window
      // (r18 advisor: under a starved heap the 200M-row canary
      // aggregate itself spills)
      Thread.sleep(80)
      spillMem.set(0L); spillDisk.set(0L)
    }
    val results = qlist.zipWithIndex.map { case (q, i) =>
      if (i == qlist.size / 2 && i > 0) { canaries += canaryOnce(); resetSpill() }
      if (composedWarmup(q.name)) {
        try { spark.catalog.clearCache(); System.gc()
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case NonFatal(_) => () }
        resetSpill()
      }
      // drop the previous query's cache entries (since round 8 almost
      // every persisting operator releases its own frames — only the
      // q14/q139/q85 rank structures keep theirs by documented caller-
      // unpersists contract), then collect garbage, both OUTSIDE the
      // timer: otherwise a heap-heavy query taxes whichever query runs
      // 20 slots later with GC pauses, making per-query numbers
      // load-order noise (q129 measured 3.2 s vs 6.4 s purely by
      // position in the run)
      val times = (1 to runsPerQuery).flatMap { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          None
        }
      }
      Thread.sleep(80) // listener-bus drain before the spill snapshot
      val (dm, dd) = (spillMem.getAndSet(0L), spillDisk.getAndSet(0L))
      // ok = at least one run completed: a one-off failure on one of the
      // N runs shouldn't discard a valid min timing, and a
      // never-succeeding query must NOT appear in the queries map at
      // all (a 0.0 entry reads as a 0-second pass to a naive consumer).
      // Only non-fatal failures are caught: an OutOfMemoryError ends
      // the run rather than timing later queries on a damaged heap.
      (q.name, if (times.isEmpty) 0.0 else times.min, times.nonEmpty, dm, dd)
    }
    canaries += canaryOnce()
    val canarySec = canaries.sorted.apply(canaries.size / 2)
    def r3(x: Double) = math.rint(x * 1000) / 1000
    val ok = results.filter(_._3)
    // per-query spill deltas (bytes), only for queries that spilled —
    // on an 8g heap these maps are empty; the starved-heap leg reads them
    def spillMap(pick: ((String, Double, Boolean, Long, Long)) => Long) =
      ListMap.from(ok.filter(pick(_) > 0L).map(r => r._1 -> pick(r)))
    val spillTotals = ListMap(
      "spill_mem_total" -> ok.map(_._4).sum, "spill_disk_total" -> ok.map(_._5).sum)
    // failed queries are listed explicitly so a broken query can't
    // masquerade as a fast pass; their time-to-failure is excluded
    // from the headline total
    val failed = results.filterNot(_._3).map(_._1)
    val total = ok.map(_._2).sum
    // Full per-query detail goes to a file: with a 120+-query catalog the
    // all-queries map is ~4 KB, and the driver keeps only the last 2 KB of
    // stdout — a line that long loses its opening brace and parses as
    // nothing. The printed line stays under that window by carrying the
    // 20 slowest queries (the ones a perf reader actually wants) plus the
    // aggregate; everything else is in benchDetailPath.
    // SPARK_GRAFT_BENCH_OUT makes the capture path collision-proof
    // (r15: an untracked bench_full.json holding the round's detail was
    // silently overwritten by a later Bench invocation); captured_unix
    // stamps provenance so tools/close_round.py can refuse to promote a
    // stale capture left over from an earlier round as round N's.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val capturedUnix = System.currentTimeMillis() / 1000
    val canaryList = canaries.map(r3).toSeq
    val detail = Json(ListMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap.from(ok.map(r => r._1 -> r._2)), "failed" -> failed,
      "canary_sec" -> r3(canarySec), "canary_runs" -> canaryList,
      "runs_per_query" -> runsPerQuery,
      "spill_mem" -> spillMap(_._4), "spill_disk" -> spillMap(_._5)) ++ spillTotals ++
      ListMap("captured_unix" -> capturedUnix, "sf" -> sfDir))
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (detail + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
    val slowest = ListMap.from(ok.sortBy(-_._2).take(20).map(r => r._1 -> r3(r._2)))
    println(Json(ListMap(
      "metric" -> "total", "value" -> r3(total), "unit" -> "sec",
      "n_queries" -> results.size, "n_ok" -> ok.size, "queries" -> slowest,
      "failed" -> failed, "canary_sec" -> r3(canarySec), "canary_runs" -> canaryList,
      "runs_per_query" -> runsPerQuery) ++ spillTotals ++
      ListMap("captured_unix" -> capturedUnix, "detail" -> detailPath, "sf" -> sfDir)))
    spark.stop()
  }
}
