package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String scalar functions from the reference's cleaning stages.
  *
  * All are pure `Column → Column` compositions of built-in
  * (codegen-friendly) functions — no UDFs — except `makeIdentifier`,
  * whose transliteration step needs `java.text.Normalizer`
  * (see [[Identifier]]).
  */
object StringFunctions {

  /** ""→null over a string column (reference `na_if(., "")`,
    * notebooks/index.Rmd:64). */
  def naIfBlank(c: Column): Column = when(trim(c) === "", lit(null)).otherwise(c)

  /** Non-null and equal to `marker` → true else false (reference
    * `ifelse(!is.na(.) & . == "x", TRUE, FALSE)`, notebooks/index.Rmd:171). */
  def flagEquals(c: Column, marker: String): Column =
    coalesce(c === marker, lit(false))

  /** Truncate to exactly `n` chars with a "..." ellipsis, like R's
    * `str_trunc` (notebooks/index.Rmd:101,337): strings longer than `n`
    * become the first `n-3` chars + "..."; shorter strings pass through.
    */
  def strTrunc(c: Column, n: Int): Column = {
    require(n >= 3, s"strTrunc width must be >= 3, got $n")
    when(length(c) > n, concat(substring(c, 1, n - 3), lit("..."))).otherwise(c)
  }

  /** String CASE map; unmatched values pass through unchanged (reference
    * `dplyr::recode`, notebooks/index.Rmd:105-117,192-271). Folded by
    * Catalyst into a constant `CASE WHEN` chain.
    */
  def recode(c: Column, mapping: Map[String, String]): Column =
    coalesce(element_at(typedLit(mapping), c), c)

  /** Like [[recode]] but unmatched → null (reference export_in_obis.R:3-9
    * uses `.default = NA`). */
  def recodeOrNull(c: Column, mapping: Map[String, String]): Column =
    element_at(typedLit(mapping), c)

  /** Collapse runs of whitespace to single spaces and trim (reference
    * helper notebooks/index.Rmd:291-295). */
  def squishWhitespace(c: Column): Column =
    trim(regexp_replace(c, graft.plans.Kernels.WsRun, " "))

  /** SQL string literal: null → the text "null", else single-quoted
    * (reference export_in_obis.R:10). Escapes embedded quotes, which the
    * reference neglected to do. */
  def sqlLiteral(c: Column): Column =
    when(c.isNull, lit("null"))
      .otherwise(concat(lit("'"), regexp_replace(c, "'", "''"), lit("'")))
}
