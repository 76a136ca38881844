package graft

/** DuckDB SQL fragment generators that reproduce the engine's hash
  * kernels ([[graft.plans.Kernels]]) bit-for-bit in plain SQL.
  *
  * The kernels' hash family is deliberately arithmetic-only —
  * `mix64` (the public-domain splitmix64 finalizer) over a base-31
  * polynomial — so a second engine can re-derive every signature,
  * sketch and bucket key from first principles. DuckDB's 64-bit
  * integers error on overflow rather than wrap, so all wraparound
  * multiplies are routed through HUGEINT (128-bit) with an explicit
  * `mod 2^64`; a full 64×64 product can overflow even INT128, so
  * multiplies split the constant into 32-bit halves.
  *
  * These fragments power the cross-engine oracles of the sketch/LSH
  * catalog queries (q34/q35/q62) that would otherwise be rows-only.
  */
object OracleSql {

  /** 2^64 as a SQL literal (HUGEINT domain). */
  val M64 = "18446744073709551616"

  /** (a * c) mod 2^64 where `a` is a UBIGINT-typed SQL expression and
    * `c` a known 64-bit unsigned constant. Splits `c` into 32-bit
    * halves so neither partial product overflows INT128:
    * a·c = a·c_lo + (a·c_hi mod 2^32)·2^32  (mod 2^64).
    */
  def mulModConst(a: String, c: BigInt): String = {
    val ch = c >> 32
    val cl = c & 0xffffffffL
    s"CAST(((CAST($a AS HUGEINT) * $cl) % $M64 + " +
      s"((CAST($a AS HUGEINT) * $ch) % 4294967296) * 4294967296) % $M64 AS UBIGINT)"
  }

  /** splitmix64 finalizer of a UBIGINT-typed SQL expression — exactly
    * [[graft.plans.Kernels.mix64]]. Result is UBIGINT.
    */
  def mix64(x: String): String = {
    val s1 = s"CAST((CAST($x AS HUGEINT) + 11400714819323198485) % $M64 AS UBIGINT)"
    val t1 = s"xor($s1, $s1 >> 30)"
    val s2 = mulModConst(t1, BigInt("bf58476d1ce4e5b9", 16))
    val t2 = s"xor($s2, $s2 >> 27)"
    val s3 = mulModConst(t2, BigInt("94d049bb133111eb", 16))
    s"xor($s3, $s3 >> 31)"
  }

  /** Base-31 polynomial over a string's code points, mod 2^64 —
    * [[graft.plans.Kernels]]'s token/shingle polynomial with its
    * default seed, or the seed-0 variant of `fingerprint64` (31·h ≤
    * 2^69 stays inside HUGEINT, so no split needed). `s` is a
    * VARCHAR-typed SQL expression; result UBIGINT.
    */
  def poly31(s: String, seed: Long = 1125899906842597L): String =
    s"CAST(list_reduce(list_prepend(CAST($seed AS HUGEINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      s"(h, c) -> (31*h + c) % $M64) AS UBIGINT)"

  /** Reinterpret a UBIGINT-typed SQL expression as the signed 64-bit
    * value with the same bits (JVM Long semantics). Result BIGINT.
    */
  def toSigned(u: String): String =
    s"(CASE WHEN $u >= 9223372036854775808 " +
      s"THEN CAST(CAST($u AS HUGEINT) - $M64 AS BIGINT) " +
      s"ELSE CAST($u AS BIGINT) END)"

  /** The canonical value-hash as signed BIGINT: mix64 of a non-negative
    * BIGINT SQL expression, reinterpreted signed — matches
    * `Exprs.mix64(col)` on the Spark side.
    */
  def mix64Signed(x: String): String = toSigned(mix64(s"CAST($x AS UBIGINT)"))

  /** DuckDB-side pre-fold of the two simple-vs-full case-mapping
    * divergences, applied to a text expression BEFORE the oracle's
    * `lower()` (r17 verdict #5, generalized from q79 in r19):
    * U+0130 İ → 'i' + U+0307 (the JVM full mapping; DuckDB's simple
    * map yields bare 'i'), and word-final Σ → ς (preceded by a
    * letter, not followed by one — the `\p{L}` approximation of the
    * JVM's cased-context rule, exact on the planted corpora). Both
    * replacements are NO-OPS on İ/Σ-free text, so every existing
    * corpus hashes unchanged; on the case twin
    * (`tools/unicode_corpus.py <src> <dst> case`) a folded oracle
    * replays GREEN where an un-folded one diverges (SCALE.md r19
    * carries the measured per-query divergence matrix).
    */
  def caseFold(texpr: String): String =
    s"""regexp_replace(replace($texpr, 'İ', 'i' || chr(775)), """ +
      """'(\p{L})Σ($|[^\p{L}])', '\1ς\2', 'g')"""

  /** The minhash permutation constants of [[graft.plans.Kernels.minhash]]:
    * a_p = mix64(2p+1)|1, b_p = mix64(2p+2), as unsigned BigInts.
    */
  def minhashPerms(numPerms: Int): Seq[(BigInt, BigInt)] = {
    def u(l: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(l))
    (0 until numPerms).map { p =>
      (u(graft.plans.Kernels.mix64(2L * p + 1) | 1L), u(graft.plans.Kernels.mix64(2L * p + 2)))
    }
  }

  /** An ordered left-fold sum over a SQL list expression — the
    * `((0 + x₁) + x₂) …` association every double accumulation in the
    * kernels uses; NEVER `SUM()`, whose order is unspecified.
    */
  def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(0.0, $listExpr), (acc, el) -> acc + el)"

  /** The q96 hashed-feature linear classifier score as a WITH-clause
    * prefix: CTEs `toks … zs, scored(doc_id, score)` over `documents`.
    * Shared by the calibration/AUC/isotonic oracles so the score
    * re-derivation is written once (hash steps staged one per
    * projection — textual mix64∘mix64 nesting macro-expands).
    */
  def classifierScoreCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(${caseFold("text")}), '\\s+'),
       |    t -> t <> '') AS tk
       |  FROM documents
       |), terms AS (
       |  SELECT doc_id, tk || [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS ts
       |  FROM toks
       |), tr AS (
       |  SELECT doc_id, generate_subscripts(ts, 1) AS ord, unnest(ts) AS t FROM terms
       |), h1 AS (
       |  SELECT doc_id, ord, ${poly31("t")} AS pt FROM tr
       |), h2 AS (
       |  SELECT doc_id, ord, ${mix64("pt")} % 65536 AS bu FROM h1
       |), h3 AS (
       |  SELECT doc_id, ord, ${mix64("CAST(bu + 1000003 AS UBIGINT)")} AS u2 FROM h2
       |), wv AS (
       |  SELECT doc_id, ord,
       |         (CAST((u2 >> 11) AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 AS w
       |  FROM h3
       |), zs AS (
       |  SELECT doc_id, ${foldSum("list(w ORDER BY ord)")} AS z,
       |         count(*) AS cnt
       |  FROM wv GROUP BY doc_id
       |), scored AS (
       |  SELECT t.doc_id,
       |    CASE WHEN z.cnt IS NULL OR z.cnt = 0 THEN 0.5
       |         ELSE 0.5 + 0.5 * ((z.z / z.cnt) / (1 + abs(z.z / z.cnt))) END AS score
       |  FROM toks t LEFT JOIN zs z ON z.doc_id = t.doc_id
       |)""".stripMargin

  /** Per-group interpolated percentile cutoffs replaying Spark's
    * `Percentile.getPercentile` ARITHMETIC op-for-op — `position =
    * p·(n−1)`, `(higher−position)·lo + (position−lower)·hi`, equal
    * brackets returned exactly — instead of DuckDB's `quantile_cont`,
    * whose `lo + (hi−lo)·frac` association can differ in the last ulp
    * on non-terminating fractions (observed at 30×: a replica-aligned
    * tercile bracket with frac = 1/3 flipped one boundary document's
    * `>=` bucket). `ps` carries the SQL literal for each probability
    * so the double parsed by DuckDB is bit-identical to the Scala one.
    *
    * Expects `src(grp, v, …)`; emits `${prefix}n`, `${prefix}r`,
    * `${prefix}thr(grp, <name>…)`.
    */
  def quantileContExactCtes(prefix: String, src: String, grp: String,
                            v: String, ps: Seq[(String, String)]): String = {
    val sel = ps.map { case (name, pLit) =>
      val h = s"($pLit) * (n.n - 1)"
      val lo = s"max(CASE WHEN r.rn = CAST(floor($h) AS BIGINT) + 1 THEN r.v END)"
      val hi = s"max(CASE WHEN r.rn = CAST(ceil($h) AS BIGINT) + 1 THEN r.v END)"
      // the engine's exact fold: equal bracketing VALUES short-circuit
      // (positions may differ — a position-based interpolation of an
      // equal bracket drifts, (w1+w2) != 1 in fp); otherwise
      // (floor+1−idx)·lo + (idx−floor)·hi, the Percentile arithmetic
      s"""    CASE WHEN $lo = $hi THEN $lo
         |      ELSE (floor($h) + 1 - ($h)) * $lo + (($h) - floor($h)) * $hi
         |    END AS $name""".stripMargin
    }.mkString(",\n")
    s"""${prefix}n AS (
       |  SELECT $grp AS g, count(*) AS n FROM $src GROUP BY $grp
       |), ${prefix}r AS (
       |  SELECT $grp AS g, $v AS v,
       |    row_number() OVER (PARTITION BY $grp ORDER BY $v) AS rn
       |  FROM $src
       |), ${prefix}thr AS (
       |  SELECT n.g AS $grp,
       |$sel
       |  FROM ${prefix}n n JOIN ${prefix}r r ON r.g = n.g
       |  GROUP BY n.g, n.n
       |)""".stripMargin
  }

  /** The full [[graft.operators.Trainer]] gradient-descent loop as
    * DuckDB CTEs — `ldocsSelect` is the labeled-corpus SELECT body
    * (columns `doc_id, y, text` over `documents`); returns the FULL
    * statement ending in `SELECT doc_id, y, score FROM gsc`, the
    * final 6-dp scores of ALL labeled rows (term-less docs at the
    * kernel's 0.5). Replays the operator exactly: pinned-order folds
    * for every per-document z, the true rational-sigmoid squared-loss
    * gradient, and the cross-document gradient sum replayed as an
    * EXACT integer: per-occurrence gradients snapped to the 1e-9
    * micro grid and summed as BIGINT→HUGEINT, matching the engine's
    * long sum bit-for-bit regardless of reduction order.
    *
    * The per-term derivation (char-level poly31 fold + mix64 per
    * term) is doc-local and dominates the replay, so it runs through
    * [[residueSharded]]; the iteration folds join the unioned `gtr`,
    * which parallelizes as ordinary hash joins/aggregates.
    */
  def gdTrainerSql(ldocsSelect: String, m: Int, iters: Int, lr: Double): String = {
    val chain =
      s"""ldocs AS (
         |  $ldocsSelect
         |), gtoks AS (
         |  SELECT doc_id, y, list_filter(string_split_regex(lower(${caseFold("text")}), '\\s+'),
         |    t -> t <> '') AS tk
         |  FROM ldocs
         |), gterms AS (
         |  SELECT doc_id, y, tk || [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS ts
         |  FROM gtoks
         |), gtr0 AS (
         |  SELECT doc_id, y, generate_subscripts(ts, 1) AS ord, unnest(ts) AS t FROM gterms
         |), gh1 AS (
         |  SELECT doc_id, y, ord, ${poly31("t")} AS pt FROM gtr0
         |), gtr AS (
         |  SELECT doc_id, y, ord, CAST(${mix64("pt")} % $m AS INT) AS bu FROM gh1
         |)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s""", gcnt AS (
         |  SELECT doc_id, max(y) AS y, CAST(count(*) AS DOUBLE) AS cnt
         |  FROM gtr GROUP BY doc_id
         |), gn AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM gcnt
         |), gw0 AS (
         |  SELECT CAST(unnest(range(0, $m)) AS INT) AS b, 0.0 AS w
         |)""".stripMargin)
    (0 until iters).foreach { i =>
      sb.append(
        s""", gz$i AS (
           |  SELECT g.doc_id, c.y, c.cnt,
           |    (${foldSum("list(w.w ORDER BY g.ord)")} / c.cnt) AS z
           |  FROM gtr g JOIN gw$i w ON w.b = g.bu
           |  JOIN gcnt c ON c.doc_id = g.doc_id
           |  GROUP BY g.doc_id, c.y, c.cnt
           |), gg$i AS (
           |  SELECT b, sum(CAST(CASE WHEN gv >= 0
           |      THEN floor(abs(gv) * 1000000000.0 + 0.5)
           |      ELSE -floor(abs(gv) * 1000000000.0 + 0.5) END AS BIGINT)) AS gs
           |  FROM (SELECT g.bu AS b,
           |          ((((0.5 + 0.5 * (z.z / (1.0 + abs(z.z)))) - z.y) * 0.5
           |            / ((1.0 + abs(z.z)) * (1.0 + abs(z.z)))) / z.cnt) AS gv
           |        FROM gtr g JOIN gz$i z ON z.doc_id = g.doc_id)
           |  GROUP BY b
           |), gw${i + 1} AS (
           |  SELECT w.b, round(w.w - $lr * (CAST(coalesce(g.gs, 0) AS DOUBLE)
           |    / 1000000000.0) / (SELECT n FROM gn), 6) AS w
           |  FROM gw$i w LEFT JOIN gg$i g ON g.b = w.b
           |)""".stripMargin)
    }
    sb.append(
      s""", gzf AS (
         |  SELECT g.doc_id, (${foldSum("list(w.w ORDER BY g.ord)")} / c.cnt) AS z
         |  FROM gtr g JOIN gw$iters w ON w.b = g.bu
         |  JOIN gcnt c ON c.doc_id = g.doc_id
         |  GROUP BY g.doc_id, c.cnt
         |), gl AS (
         |  $ldocsSelect
         |), gsc AS (
         |  SELECT d.doc_id, d.y,
         |    round(CASE WHEN z.z IS NULL THEN 0.5
         |          ELSE 0.5 + 0.5 * (z.z / (1.0 + abs(z.z))) END, 6) AS score
         |  FROM gl d LEFT JOIN gzf z ON z.doc_id = d.doc_id
         |)
         |SELECT doc_id, y, score FROM gsc""".stripMargin)
    residueSharded(chain, outCte = "gtr", finalSql = sb.toString)
  }

  /** The full [[graft.operators.KMeans]] Lloyd's loop as DuckDB CTEs —
    * expects a prior CTE `base(vec_id, embedding FLOAT[])`; emits
    * `vnn` (double-normalized vectors) through `a$iters`, the final
    * assignment `(vec_id, vn, cluster, d)` against the post-`iters`
    * centroids. Replays the operator exactly: index-ordered fold sums
    * for norms and dots, per-iteration means rounded to 6 dp before
    * the renormalize, empty clusters carrying the previous centroid,
    * ties to the lowest cluster.
    */
  /** [[kmeansCtes]] with the IVF-PROBED assignment replayed
    * ([[graft.operators.KMeans.Probe]] /
    * [[graft.plans.Kernels.ivfAssignScoreD]]): per fit round, a coarse
    * Lloyd over the fine-CENTROID table (seeds at indices j·(k/cc),
    * means folded in ascending fine-index order and rounded to 6 dp
    * before the renormalize, empty cells keeping the previous
    * centroid), then each vector probes its `nProbe` best NON-EMPTY
    * cells and takes the best fine centroid among their members. Every
    * ordering is pinned by `row_number() OVER (ORDER BY d DESC,
    * id ASC)` over 0.0-seeded index-order fold dots, so the replay is
    * bit-exact even though the assignment itself is approximate. Emits
    * the same `vnn` … `a$iters` interface as [[kmeansCtes]].
    */
  def ivfKmeansCtes(k: Int, iters: Int, cc: Int, cIters: Int,
                    nProbe: Int): String = {
    val ccEff = math.min(cc, k)
    val step = k / ccEff
    val dotFG = foldSum("[f.c[j] * g.c[j] FOR j IN range(1, len(f.c) + 1)]")
    val dotVG = foldSum("[v.vn[j] * g.c[j] FOR j IN range(1, len(v.vn) + 1)]")
    val dotVF = foldSum("[p.vn[j] * f.c[j] FOR j IN range(1, len(p.vn) + 1)]")
    val sb = new StringBuilder
    sb.append(
      s"""vn0 AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS le FROM base
         |), vnn AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN nrm = 0 THEN le ELSE [x / nrm FOR x IN le] END AS vn
         |  FROM (SELECT vec_id, le, sqrt(${foldSum("[x * x FOR x IN le]")}) AS nrm FROM vn0)
         |), c0 AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, vn AS c
         |  FROM vnn ORDER BY vec_id LIMIT $k
         |)""".stripMargin)
    (0 to iters).foreach { i =>
      sb.append(
        s""", g${i}s0 AS MATERIALIZED (
           |  SELECT CAST(cluster // $step AS INT) AS gc, c FROM c$i
           |  WHERE cluster % $step = 0 AND cluster // $step < $ccEff
           |)""".stripMargin)
      (0 until cIters).foreach { t =>
        sb.append(
          s""", g${i}a$t AS MATERIALIZED (
             |  SELECT cluster, c, gc FROM (
             |    SELECT cluster, c, gc,
             |           row_number() OVER (PARTITION BY cluster ORDER BY d DESC, gc ASC) AS rn
             |    FROM (SELECT f.cluster, f.c, g.gc, $dotFG AS d
             |          FROM c$i f CROSS JOIN g${i}s$t g))
             |  WHERE rn = 1
             |), g${i}m$t AS MATERIALIZED (
             |  SELECT gc, gi, round(${foldSum("list(x ORDER BY cluster)")} / count(*), 6) AS m
             |  FROM (SELECT gc, cluster, generate_subscripts(c, 1) AS gi, unnest(c) AS x
             |        FROM g${i}a$t)
             |  GROUP BY gc, gi
             |), g${i}s${t + 1} AS MATERIALIZED (
             |  SELECT p.gc, coalesce(n.c, p.c) AS c
             |  FROM g${i}s$t p LEFT JOIN (
             |    SELECT gc, CASE WHEN nrm = 0 THEN lm ELSE [x / nrm FOR x IN lm] END AS c
             |    FROM (SELECT gc, lm, sqrt(${foldSum("[x * x FOR x IN lm]")}) AS nrm
             |          FROM (SELECT gc, list(m ORDER BY gi) AS lm FROM g${i}m$t GROUP BY gc))) n
             |  ON n.gc = p.gc
             |)""".stripMargin)
      }
      sb.append(
        s""", g${i}mem AS MATERIALIZED (
           |  SELECT cluster, gc FROM (
           |    SELECT cluster, gc,
           |           row_number() OVER (PARTITION BY cluster ORDER BY d DESC, gc ASC) AS rn
           |    FROM (SELECT f.cluster, g.gc, $dotFG AS d
           |          FROM c$i f CROSS JOIN g${i}s$cIters g))
           |  WHERE rn = 1
           |), p$i AS MATERIALIZED (
           |  SELECT vec_id, vn, gc FROM (
           |    SELECT vec_id, vn, gc,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, gc ASC) AS rn
           |    FROM (SELECT v.vec_id, v.vn, g.gc, $dotVG AS d
           |          FROM vnn v CROSS JOIN (SELECT s.gc, s.c FROM g${i}s$cIters s
           |            WHERE s.gc IN (SELECT DISTINCT gc FROM g${i}mem)) g))
           |  WHERE rn <= $nProbe
           |), a$i AS MATERIALIZED (
           |  SELECT vec_id, vn, cluster, d FROM (
           |    SELECT vec_id, vn, cluster, d,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cluster ASC) AS rn
           |    FROM (SELECT p.vec_id, p.vn, f.cluster, $dotVF AS d
           |          FROM p$i p JOIN g${i}mem mm ON mm.gc = p.gc
           |          JOIN c$i f ON f.cluster = mm.cluster))
           |  WHERE rn = 1
           |)""".stripMargin)
      if (i < iters) {
        sb.append(
          s""", m$i AS MATERIALIZED (
             |  SELECT cluster, gi, round(avg(x), 6) AS m
             |  FROM (SELECT cluster, generate_subscripts(vn, 1) AS gi, unnest(vn) AS x FROM a$i)
             |  GROUP BY cluster, gi
             |), mc$i AS MATERIALIZED (
             |  SELECT cluster, CASE WHEN nrm = 0 THEN lm ELSE [x / nrm FOR x IN lm] END AS c
             |  FROM (SELECT cluster, lm, sqrt(${foldSum("[x * x FOR x IN lm]")}) AS nrm
             |        FROM (SELECT cluster, list(m ORDER BY gi) AS lm FROM m$i GROUP BY cluster))
             |), c${i + 1} AS MATERIALIZED (
             |  SELECT p.cluster, coalesce(n.c, p.c) AS c
             |  FROM c$i p LEFT JOIN mc$i n ON n.cluster = p.cluster
             |)""".stripMargin)
      }
    }
    sb.toString
  }

  def kmeansCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""vn0 AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS le FROM base
         |), vnn AS (
         |  SELECT vec_id, CASE WHEN nrm = 0 THEN le ELSE [x / nrm FOR x IN le] END AS vn
         |  FROM (SELECT vec_id, le, sqrt(${foldSum("[x * x FOR x IN le]")}) AS nrm FROM vn0)
         |), c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, vn AS c
         |  FROM vnn ORDER BY vec_id LIMIT $k
         |)""".stripMargin)
    val dot = foldSum("[v.vn[j] * c.c[j] FOR j IN range(1, len(v.vn) + 1)]")
    (0 to iters).foreach { i =>
      sb.append(
        s""", a$i AS (
           |  SELECT vec_id, vn, cluster, d FROM (
           |    SELECT vec_id, vn, cluster, d,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cluster ASC) AS rn
           |    FROM (SELECT v.vec_id, v.vn, c.cluster, $dot AS d
           |          FROM vnn v CROSS JOIN c$i c))
           |  WHERE rn = 1
           |)""".stripMargin)
      if (i < iters) {
        sb.append(
          s""", m$i AS (
             |  SELECT cluster, gi, round(avg(x), 6) AS m
             |  FROM (SELECT cluster, generate_subscripts(vn, 1) AS gi, unnest(vn) AS x FROM a$i)
             |  GROUP BY cluster, gi
             |), mc$i AS (
             |  SELECT cluster, CASE WHEN nrm = 0 THEN lm ELSE [x / nrm FOR x IN lm] END AS c
             |  FROM (SELECT cluster, lm, sqrt(${foldSum("[x * x FOR x IN lm]")}) AS nrm
             |        FROM (SELECT cluster, list(m ORDER BY gi) AS lm FROM m$i GROUP BY cluster))
             |), c${i + 1} AS (
             |  SELECT p.cluster, coalesce(n.c, p.c) AS c
             |  FROM c$i p LEFT JOIN mc$i n ON n.cluster = p.cluster
             |)""".stripMargin)
      }
    }
    sb.toString
  }

  /** Residue-shard a row-local WITH-chain into `k` parallel UNION ALL
    * branches — the DuckDB-1.x parallelism workaround for oracle
    * replays that fan a few hundred source rows out by `unnest`:
    * DuckDB parallelizes on SOURCE chunks, so a 500-row `documents`
    * parquet (one row group) pins the whole unnest→hash pipeline to a
    * single thread no matter the thread count (measured: q195's
    * sample re-derivation 116 s single-pipeline vs 17 s sharded ×16,
    * bit-identical output). `AS MATERIALIZED` alone does NOT fix it —
    * a materialized CTE's consumer still runs in one pipeline on 1.0.
    *
    * UNION ALL branches, by contrast, are independent pipelines that
    * DuckDB executes concurrently. Requires every derivation in
    * `chain` to be row-local in `key` (each output row of `outCte`
    * depends only on source rows with one `key` value — true for all
    * per-doc signature/sample/pixel re-derivations), so slicing every
    * `FROM $table` by `key % k = r` is exact. Global stages (pair
    * joins, components, corpus folds) belong in `finalSql`, which
    * sees the full union as CTE `outCte`.
    *
    * The union CTE itself IS marked `AS MATERIALIZED`: DuckDB 1.0
    * re-inlines a plain CTE at every reference, and the global stages
    * reference `outCte` 2–4× (both sides of a pair join, the label
    * coalesce, every GD iteration) — unmaterialized, the whole
    * sharded chain re-executes per reference (measured: q197's
    * closure replay at 534 s ≈ 4 re-derivations of a 130 s chain).
    * Downstream single-pipeline consumption is fine here because the
    * materialized rows are signature-sized (one row per doc), so the
    * serial part is a cheap scan, not the re-derivation.
    */
  def residueSharded(chain: String, outCte: String, finalSql: String,
                     k: Int = 32, table: String = "documents",
                     key: String = "doc_id",
                     recursive: Boolean = false): String = {
    require(chain.contains(s"FROM $table"), s"chain never scans $table")
    val branches = (0 until k).map { r =>
      // swap in an aliased filtered subquery so a WHERE already
      // following the scan composes instead of colliding
      val sliced = chain.replace(
        s"FROM $table",
        s"FROM (SELECT * FROM $table WHERE $key % $k = $r) $table")
      s"(WITH $sliced\n SELECT * FROM $outCte)"
    }
    // finalSql may CONTINUE the outer chain (", nextCte AS (…) … SELECT")
    // when global stages need their own CTEs; `recursive` hoists the
    // RECURSIVE keyword to the outer WITH (DuckDB scopes it clause-wide).
    //
    // The union lives under a mangled name with `outCte` as a plain
    // alias: under WITH RECURSIVE, a CTE body of the shape
    // `branch UNION ALL branch-referencing-$outCte` matches the
    // anchor/recursive-part pattern, and DuckDB binds each branch's
    // INNER `$outCte` (its own sub-WITH result) to the outer recursive
    // name instead — turning the shard union into a non-terminating
    // fixpoint iteration (observed: q189 hung >180 s).
    val kw = if (recursive) "WITH RECURSIVE" else "WITH"
    s"$kw ${outCte}__shards AS MATERIALIZED (\n" +
      branches.mkString("\nUNION ALL\n") +
      s"\n), $outCte AS (SELECT * FROM ${outCte}__shards)\n$finalSql"
  }
}
