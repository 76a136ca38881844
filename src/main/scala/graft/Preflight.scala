package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session preflight checks — turns measured operational floors into
  * guards instead of obscure runtime failures.
  *
  * THE SPILL FLOOR (r18, SCALE.md "The spill regime, measured"): on a
  * starved heap the engine's shuffle-heavy operators complete by
  * SPILLING (86 GB across the five heaviest at 3 g / 8 slots — 0.375
  * GB per slot), but at 3 g / 32 slots (0.09 GB/slot) the spill
  * writer ITSELF cannot allocate its page and the JVM dies inside
  * `UnsafeSorterSpillWriter.<init>` — an OOM with no actionable
  * message, far from the actual mis-sizing. The measured boundary:
  * spill-not-OOM holds at ≥ ~0.4 GB/slot for these shuffle widths;
  * the standard 1 GB/core deployment sizing is 2.5× above the floor.
  *
  * [[heapPerSlotWarning]] is the pure check (unit-testable);
  * [[checkSpillFloor]] applies it to a live session — refusing below
  * the measured floor unless `lenient`, where it logs instead. Wired
  * into the Bench/Verify mains (through [[catalogRun]]) as a warning
  * so a mis-sized SPARK_DRIVER_MEM/SPARK_GRAFT_CPUS combination
  * identifies itself up front.
  */
object Preflight {

  /** The preamble of a catalog sweep (Bench, Verify) over `sfDir`.
    *
    * Both checks are lenient: they warn (not refuse) so a deliberate
    * starved-heap or giant-document experiment still runs, but a
    * mis-sized configuration identifies itself before the first query
    * instead of dying in the spill writer or the parquet reader.
    */
  def catalogRun(spark: SparkSession, sfDir: String): Unit = {
    checkSpillFloor(spark, lenient = true)
    // NonFatal, not Throwable: the probe's own OutOfMemoryError must
    // propagate — continuing the sweep on a possibly corrupted heap
    // after swallowing a VM error is worse than no preflight (r20
    // advisor). NonFatal still absorbs a missing documents.parquet.
    try checkReaderBatch(spark,
      spark.read.parquet(s"$sfDir/documents.parquet"), Seq("text"),
      lenient = true)
    catch { case scala.util.control.NonFatal(_) => () }
    // every unpartitioned window left in the catalog is constant-
    // bounded by construction and pinned to an explicit allowlist by
    // PlanShapeSpec's catalog-wide governance test — silence the
    // per-instance WindowExec warning so the log stays readable and a
    // REAL regression surfaces as a test failure, not log spam
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
  }

  /** The measured spill-writer floor, bytes of heap per executor slot
    * (0.375 GB/slot completed with 86 GB spilled; 0.09 GB/slot died in
    * the spill writer — the guard draws the line at the measured
    * SURVIVING configuration). */
  val SpillFloorBytesPerSlot: Long = (0.375 * (1L << 30)).toLong

  /** Pure form: None when `heapBytes / slots` clears the floor, else
    * the actionable message. */
  def heapPerSlotWarning(heapBytes: Long, slots: Int): Option[String] = {
    val perSlot = heapBytes / math.max(slots, 1)
    if (perSlot >= SpillFloorBytesPerSlot) None
    else Some(
      f"heap/slots = ${perSlot / (1L << 30).toDouble}%.2f GB/slot is below " +
        f"the measured spill floor of ${SpillFloorBytesPerSlot / (1L << 30).toDouble}%.3f GB/slot " +
        "(SCALE.md r18 'The spill regime, measured'): below it the shuffle " +
        "spill writer itself cannot allocate its page and the JVM dies in " +
        "UnsafeSorterSpillWriter.<init> instead of spilling. Lower the slot " +
        "count (SPARK_GRAFT_CPUS / executor cores) or raise the heap " +
        "(SPARK_DRIVER_MEM / executor memory); the standard 1 GB/core " +
        "sizing is 2.5x above the floor.")
  }

  /** Live-session check: slots = the local scheduler's parallelism,
    * heap = this JVM's -Xmx (local mode — driver and executors share
    * one heap; on a real cluster apply [[heapPerSlotWarning]] to each
    * executor's memory/cores). Refuses below the floor; `lenient`
    * downgrades to a stderr warning (the bench/verify mains' mode, so
    * a deliberate starved-heap experiment still runs). */
  def checkSpillFloor(spark: SparkSession, lenient: Boolean = false): Unit =
    heapPerSlotWarning(Runtime.getRuntime.maxMemory,
      spark.sparkContext.defaultParallelism).foreach { msg =>
      if (lenient) System.err.println(s"[preflight] WARNING: $msg")
      else throw new IllegalArgumentException(s"preflight: $msg")
    }

  // -------------------------------------------------------------------
  // THE READER-BATCH CEILING (r19, SCALE.md "the measured multi-MB-
  // document ceiling is the READER"): before any operator runs, the
  // vectorized parquet reader reserves ~batchSize × row-bytes of
  // contiguous column-vector memory PER CONCURRENT TASK. At the
  // default columnarReaderBatchSize of 4096 a 2.6 MB-document corpus
  // makes that a multi-GB reservation per task and the JVM dies inside
  // the reader — before a single kernel executes, with no actionable
  // message. The measured recipe (ABDocLength): 32-row batches carry
  // the same corpus through every operator on an 8 g heap.

  /** Heap fraction the aggregate reader reservation may use before the
    * guard fires. 1/4 reproduces the r19 recipe exactly: at 8 g /
    * 16 slots / 2.6 MB docs the largest passing power of two is 32 —
    * the batch size ABDocLength measured as surviving. */
  val ReaderHeapFraction: Double = 0.25

  /** Largest power-of-two batch size whose estimated reservation
    * (batch × maxRowBytes × slots) stays within [[ReaderHeapFraction]]
    * of the heap, floored at 8 (below that, per-batch overheads
    * dominate and the corpus is pathological enough to pre-chunk). */
  def recommendedReaderBatch(heapBytes: Long, slots: Int, maxRowBytes: Long): Int = {
    val budget = (heapBytes * ReaderHeapFraction).toLong /
      math.max(slots, 1) / math.max(maxRowBytes, 1L)
    var b = 8
    while (b.toLong * 2 <= budget && b < 4096) b *= 2
    b
  }

  /** Pure form: None when `batchSize` rows of `maxRowBytes` across
    * `slots` concurrent reader tasks fit in [[ReaderHeapFraction]] of
    * the heap, else the actionable message with the sized-down batch
    * recipe. */
  def readerBatchWarning(heapBytes: Long, slots: Int, batchSize: Int,
                         maxRowBytes: Long): Option[String] = {
    val reservation = BigInt(batchSize) * BigInt(math.max(maxRowBytes, 1L)) *
      BigInt(math.max(slots, 1))
    val budget = BigInt((heapBytes * ReaderHeapFraction).toLong)
    if (reservation <= budget) None
    else Some(
      f"spark.sql.parquet.columnarReaderBatchSize=$batchSize%d would reserve " +
        f"~${reservation.toDouble / (1L << 30)}%.1f GB of column vectors " +
        f"($batchSize%d rows x $maxRowBytes%d max row bytes x $slots%d concurrent " +
        f"reader tasks) against a ${heapBytes / (1L << 30).toDouble}%.1f GB heap — " +
        "the vectorized parquet reader OOMs on multi-MB documents BEFORE any " +
        "operator runs (SCALE.md r19 'the measured multi-MB-document ceiling " +
        "is the READER', measured by ABDocLength). Set " +
        s"spark.sql.parquet.columnarReaderBatchSize=" +
        s"${recommendedReaderBatch(heapBytes, slots, maxRowBytes)} for this " +
        "corpus, or pre-chunk giant documents upstream.")
  }

  /** Live-session check over the corpus actually being read: one cheap
    * columnar max(octet_length) pass per text/binary column (summed —
    * each column allocates its own vector within the same batch), then
    * [[readerBatchWarning]] against this JVM's heap, the session's
    * configured `columnarReaderBatchSize`, and the local scheduler's
    * parallelism. Refuses past the ceiling; `lenient` downgrades to a
    * stderr warning (the Bench/Verify mains' mode). */
  def checkReaderBatch(spark: SparkSession, df: DataFrame,
                       textCols: Seq[String],
                       lenient: Boolean = false): Unit = {
    val cols = textCols.filter(df.columns.contains)
    if (cols.nonEmpty) {
      val key = "spark.sql.parquet.columnarReaderBatchSize"
      // getOption surfaces the registered DEFAULT for a never-set key
      // (measured: unset -> Some("4096")), so explicit-vs-default is
      // not observable through RuntimeConfig and the restore below
      // re-sets the effective value — identical for the session's
      // lifetime, which is the only window a session conf has
      val effective = spark.conf.getOption(key).getOrElse("4096")
      val batchSize = effective.toInt
      // the probe itself reads the text column through the vectorized
      // reader — at the CONFIGURED batch size it would reserve the very
      // vectors it exists to warn about and die of the OOM it diagnoses
      // (in the flagship dangerous config, 4096-row batches on multi-MB
      // docs, the scan OOMs before the guard can speak). Probe at the
      // guard's own floor batch (8 rows — reservation bounded at
      // 8 x rowBytes per task) and restore the session conf after; the
      // preflight runs up front, before concurrent queries exist.
      val maxRowBytes =
        try {
          spark.conf.set(key, "8")
          df.agg(
            cols.map(c => coalesce(max(octet_length(col(c)).cast("long")), lit(0L)))
              .reduce(_ + _).as("b")).head().getLong(0)
        } finally spark.conf.set(key, effective)
      readerBatchWarning(Runtime.getRuntime.maxMemory,
        spark.sparkContext.defaultParallelism, batchSize, maxRowBytes).foreach { msg =>
        if (lenient) System.err.println(s"[preflight] WARNING: $msg")
        else throw new IllegalArgumentException(s"preflight: $msg")
      }
    }
  }
}
