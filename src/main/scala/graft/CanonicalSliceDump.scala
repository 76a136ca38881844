package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale-verification dump for q189's canonical-collapse image dedup
  * (`tools/q189_scale_check.py` is the consumer): restricts the corpus
  * to `nRes` mix64-sampled residue classes of the image-group key
  * (doc_id mod 200) and runs the EXACT q189 configuration on the
  * slice.
  *
  * Why a GROUP slice and not the pair-local id slice of
  * `tools/sampled_check.py`: q189's output (canonical labels,
  * component sizes) depends on the whole component — bucket arg-min
  * anchors and the min-label closure — so an id-level restriction
  * changes bucket minima and desyncs labels against a full-corpus run.
  * Restricting BOTH engines to entire residue classes keeps the
  * comparison exact (same complete algorithm, same input) while
  * preserving the property under test: each residue class holds
  * factor × 5 near-copies of one base image (2,500 at /tmp/sf10x),
  * exactly the giant-duplicate-group regime the operator exists for.
  *
  * Usage: `sbt "runMain graft.CanonicalSliceDump /tmp/sf10x /tmp/q189_100x 4"`
  */
object CanonicalSliceDump {

  /** mix64-ranked residues 0..199, first `n` — the derivation
    * `tools/q189_scale_check.py` repeats bit-for-bit. */
  def residues(n: Int): Seq[Long] =
    (0L until 200L).sortBy(r =>
      BigInt(java.lang.Long.toUnsignedString(
        graft.plans.Kernels.mix64(r + 0xB7)))).take(n)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, nRes) = (args(0), args(1), args(2))
    // "image" (q189, default) or "audio" (q197) — the canonical
    // machinery is modality-generic, and so is this harness. Round 13
    // adds the PAYLOAD-oracle modes "vad" (q191), "scenecut" (q192),
    // "keyframes" (q194): those operators are map-only per-row, so an
    // id-level residue slice cannot desync anything — the slice just
    // bounds the DuckDB replay cost of re-deriving every sample/pixel
    // at 10×.
    val mode = if (args.length > 3) args(3) else "image"
    val spark = GraftSession()
    val rs = residues(nRes.toInt)
    new java.io.File(outDir).mkdirs()
    val docs = Tables.documents(spark, sfDir)
      .filter((col("doc_id") % 200).isin(rs: _*))
    val out = mode match {
      case "image" => Multimodal.imageNearDupCanonical(
        docs.select(col("doc_id"),
          Multimodal.fabricateNearDupImageCol(col("doc_id"), 200).as("content")),
        "doc_id", "content", maxHamming = 4)
      case "audio" => Multimodal.audioNearDupCanonical(
        docs.select(col("doc_id"),
          Multimodal.fabricateNearDupAudioCol(col("doc_id"), 200).as("content")),
        "doc_id", "content", maxHamming = 4)
      // the exact q191/q192/q194 catalog configurations (same params,
      // same output aliasing), restricted to the residue slice
      case "vad" => Multimodal.audioSegments(
          docs.select(col("doc_id"),
            Multimodal.fabricateAudioCol(col("doc_id")).as("content")),
          "doc_id", "content", windowSamples = 256, meanSqThreshold = 5500L)
        .select(col("id").as("doc_id"), col("sample_rate"), col("n_windows"),
          col("n_active"), col("n_segments"), col("longest_run"))
      case "scenecut" => Multimodal.videoSceneCuts(
          docs.select(col("doc_id"),
            Multimodal.fabricateShotVideoCol(col("doc_id")).as("content")),
          "doc_id", "content", cutThreshold = 2000L)
        .select(col("id").as("doc_id"), col("n_frames"), col("n_cuts"),
          col("longest_shot"))
      case "keyframes" => Multimodal.shotKeyframes(
          docs.select(col("doc_id"),
            Multimodal.fabricateShotVideoCol(col("doc_id")).as("content")),
          "doc_id", "content", cutThreshold = 2000L)
        .select(col("id").as("doc_id"), col("shot_idx"), col("start_frame"),
          col("n_frames_in_shot"), col("keyframe_idx"), col("detail"))
      // the exact q200 catalog configuration on the sliced TEXT corpus
      // (minhash is corpus-dependent only through its band buckets, so
      // the residue slice is itself a complete corpus for both engines;
      // 20 residues of /tmp/sf1x = 5,000 docs — 10× the sf0.01 oracle
      // volume at an affordable DuckDB replay cost)
      // the exact q201 catalog configuration (Gopher repetition rules)
      // on the sliced corpus: the line/char metrics are map-only in-row
      // arithmetic and the top-bigram agg is doc-local, so an id-level
      // residue slice cannot desync anything — both engines see the
      // same complete per-document computation
      case "repetition" => operators.Curation.repetitionProfile(
          docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"),
          col("dup_line_frac"), col("dup_char_frac"),
          col("top_bigram"), col("top_bigram_cov"), col("kept"))
      case "text" => operators.Dedup.minhashCanonical(docs, "text", "doc_id",
          shingleK = 3, numPerms = 64, bands = 16, threshold = 0.2)
        .select(col("id").cast("long").as("id"),
          col("canonical_id").cast("long").as("canonical_id"),
          col("n_members").cast("long").as("n_members"))
      // q200's verified star-edge list (r13 judge #7): the closure
      // input for sampled_check.py's FULL-closure leg at 100× — run
      // with nRes=200 (no slice) so the edges cover the whole corpus;
      // the edge set is linear-output by construction (O(members) per
      // band bucket), so the dump is affordable at any scale
      case "textedges" => operators.Dedup.minhashStarEdges(
          docs.select(col("doc_id").as("id"),
            graft.plans.Exprs.minhashSig(col("text"), 3, 64).as("sig")),
          numPerms = 64, bands = 16, threshold = 0.2)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
      case m => sys.error(s"unknown mode $m (image|audio|vad|scenecut|keyframes|repetition|text|textedges)")
    }
    out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/slice")
    Files.write(Paths.get(s"$outDir/residues.json"),
      Json(rs).getBytes("UTF-8"))
    spark.stop()
  }
}
