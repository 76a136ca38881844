package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization helpers shared by the self-cleaning operators.
  *
  * Two distinct result sizes need two distinct mechanisms:
  *
  *  - SUMMARY-sized results (one row, pairs rows, one row per group —
  *    bounded by config, not data): [[toLocal]] collects them into a
  *    driver-held `LocalRelation`. The result survives any executor
  *    loss, composes lazily with downstream plans (Catalyst folds a
  *    LocalRelation like a literal — it can broadcast, prune, or
  *    constant-fold through it), and lets the operator unpersist its
  *    corpus-scale intermediates before returning.
  *
  *  - NODE-/corpus-bounded results (too big to collect): [[truncate]]
  *    cuts lineage so iterative rounds don't replay every prior
  *    shuffle and upstream caches can be released. When the caller has
  *    configured a checkpoint directory
  *    (`spark.sparkContext.setCheckpointDir`) this uses a RELIABLE
  *    checkpoint — the result survives executor loss/decommission on a
  *    real cluster. Without one it falls back to
  *    `localCheckpoint(eager = true)`, whose blocks live unreplicated
  *    on executors: fine for a single-JVM session, but on a cluster an
  *    executor loss after the operator returns makes the result
  *    unrecoverable (lineage is gone). Library callers running at
  *    scale should set a checkpoint dir; the operators pick it up
  *    automatically.
  */
private[graft] object Ckpt {

  /** Collect a summary-sized frame into a LocalRelation with the same
    * schema. The caller guarantees the row count is config-bounded. */
  def toLocal(df: DataFrame): DataFrame = toLocal(df, df.sparkSession)

  /** [[toLocal]], with the copy a frame of `session`: `df` runs on its
    * own session, its rows are handed to `session`. */
  def toLocal(df: DataFrame, session: SparkSession): DataFrame = {
    val rows = df.collect()
    session.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Eager lineage truncation: reliable checkpoint when a checkpoint
    * dir is configured, local (unreplicated) checkpoint otherwise. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
