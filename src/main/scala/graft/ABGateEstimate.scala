package graft

import scala.collection.immutable.ListMap

/** Cross-engine check of [[graft.operators.Dedup.substringSpans]]'s
  * `maxMatchRows` gate estimate (the r18 q129-gate standard: a
  * refuse-don't-explode gate's one-pass estimate should be provably
  * EXACT, not a heuristic). Runs the operator with `maxMatchRows = 1`
  * so the gate must fire, and prints the estimate its refusal message
  * carries; `tools/gate_estimate_check.py` recomputes the same
  * quantity — Σ_h over cross-doc-eligible shingle hashes of
  * (tot² − Σ_doc occ²)/2, the hash self-join's exact pre-window
  * cardinality — independently in DuckDB from the q137 oracle's own
  * hash chain, and compares digit-for-digit.
  *
  * Usage: sbt "runMain graft.ABGateEstimate /root/testdata/sf0.01"
  */
object ABGateEstimate {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val docs = spark.read.parquet(args(0) + "/documents.parquet")
    try {
      graft.operators.Dedup.substringSpans(docs, "text", "doc_id",
        maxMatchRows = 1L).count()
      println(Json(Map("gate_estimate" -> "NOT_FIRED")))
    } catch {
      case e: IllegalArgumentException =>
        val m = "would emit (\\d+) match rows".r.findFirstMatchIn(e.getMessage)
        println(Json(ListMap(
          "gate_estimate" -> new java.math.BigInteger(m.map(_.group(1)).getOrElse("-1")),
          "sf" -> args(0))))
    }
    spark.stop()
  }
}
