package graft

import scala.collection.immutable.ListMap

import graft.operators.Trainer
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale-verification dump for the q178 GD trainer
  * (`tools/q178_scale_check.py` is the consumer): runs the exact q178
  * training configuration (m=1024, 6 iterations, lr=16, is-English
  * label) on `<sfDir>/documents`, then writes
  *
  *  - `weights.json` — all `iters+1` per-iteration weight vectors
  *    (w₀ = zeros first), each double in its exact round-trip form;
  *  - `scores` (parquet) — the engine's final (doc_id, y, score);
  *  - `sql.json` — the [[OracleSql.gdTrainerStepSql]] artifacts: the
  *    once-materialized term-stream prefix, the one-iteration step
  *    replay, and the final-score replay.
  *
  * The full 6-iteration WITH-chain oracle costs tens of DuckDB-minutes
  * past 10× (23 min at 10× — SCALE.md); factoring it into per-iteration
  * checks against the engine's exported weights makes every transition
  * wₜ → wₜ₊₁ independently re-derivable over ONE materialized term
  * table, so the 30×/100× points get full 1024-weight hash evidence
  * instead of extrapolation.
  *
  * Usage: `sbt "runMain graft.TrainerDump /tmp/sf3x /tmp/q178_30x"`
  */
object TrainerDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val m = 1024
    val iters = 6
    val lr = 16.0
    val docs = Tables.documents(spark, sfDir).withColumn("y",
      when(col("lang") === "en", 1.0).otherwise(0.0))
    val t0 = System.nanoTime()
    val hist = Trainer.trainHashedLinearHistory(docs, "text", "y",
      m = m, iters = iters, lr = lr)
    val trainSec = (System.nanoTime() - t0) / 1e9
    docs.select(col("doc_id"), col("y"),
        round(graft.plans.Exprs.linearTextScore(col("text"), hist.last), 6)
          .as("score"))
      .write.mode("overwrite").parquet(s"$outDir/scores")
    Files.write(Paths.get(s"$outDir/weights.json"), Json(hist).getBytes("UTF-8"))
    val (prefix, stepPartial, update, score) = OracleSql.gdTrainerStepSql(m, lr)
    val sqlJson = Json(ListMap("prefix" -> prefix, "step_partial" -> stepPartial,
      "update" -> update, "score" -> score, "m" -> m, "iters" -> iters, "lr" -> lr,
      "train_sec" -> trainSec))
    Files.write(Paths.get(s"$outDir/sql.json"), sqlJson.getBytes("UTF-8"))
    println(s"[trainerdump] wrote $outDir (train ${"%.1f".format(trainSec)} s)")
    spark.stop()
  }
}
