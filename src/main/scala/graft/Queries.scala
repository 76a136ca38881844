package graft

import graft.functions._
import graft.operators._
import graft.plans.Exprs
import java.io.FileNotFoundException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.CRC32
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.Using

/** The driver-checked query catalog: one entry per operator from
  * SURVEY.md §2 plus the training-data pipeline operators (dedup,
  * similarity search, text analysis). Each query names its covered
  * operators; `oracle` is the DuckDB-equivalent SQL (None → the driver
  * records a rows-only check for non-SQL-expressible ops).
  *
  * Hash-compare discipline (driver sorts columns by name, then hashes
  * values):
  *   - integer outputs are cast to BIGINT on BOTH sides (Spark int vs
  *     DuckDB BIGINT would hash differently);
  *   - double aggregates are only emitted where bit-exact parity holds:
  *     sums of integral doubles, order-pinned running sums, or values
  *     rounded onto the data's own 2-decimal grid;
  *   - column names are aliased identically on both sides.
  */
case class Q(name: String,
             fn: (SparkSession, String) => DataFrame,
             oracle: Option[String],
             covers: String)

object Queries {
  import Tables._

  private val priorityLadder =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** q128/q140/q156/q157's shared nation-trade edge derivation: edge
    * cust_nation -> supp_nation weighted by lineitem count. The heavy,
    * 100TB-relevant part — kept to TWO big-table shuffles:
    * supplier⋈nation broadcasts onto the lineitem scan map-side,
    * orders⋈customer shuffles on custkey, and the two meet once on
    * orderkey before the partial-agg groupBy (inside the graph
    * operators) collapses to nation pairs. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val suppNat = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nation(s, d)
        .select(col("n_nationkey").as("snk"), col("n_name").as("dst"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("dst"))
    val custOrders = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)
        .select(col("n_nationkey").as("cnk"), col("n_name").as("src"))),
        col("c_nationkey") === col("cnk"))
      .select(col("o_orderkey"), col("src"))
    lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .join(custOrders, col("l_orderkey") === col("o_orderkey"))
      .select(col("src"), col("dst"), lit(1L).as("w"))
  }

  /** q128/q156's oracle: three unrolled PageRank rounds as staged CTEs
    * (the kmeansCtes pattern); all rank state is integer micro-mass so
    * the only float op per round is the single 0.85 damping multiply.
    * Shared verbatim by the driver-loop and distributed-loop catalog
    * entries — the whole point is that both branches hash-match it. */
  private lazy val pagerankOracleSql: String = {
    def round(i: Int, prev: String) =
      s"""c$i AS (
         |  SELECT e.dst, sum((r.r * e.w) // ow.wout) AS s
         |  FROM e JOIN $prev r ON r.n = e.src JOIN ow ON ow.src = e.src
         |  GROUP BY e.dst
         |), r$i AS MATERIALIZED (
         |  SELECT nodes.n, 150000000000 // nn.c +
         |    CAST(COALESCE(round(0.85 * CAST(c$i.s AS DOUBLE)), 0) AS BIGINT) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = nodes.n)""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
       |  GROUP BY 1, 2
       |), nodes AS MATERIALIZED (
       |  SELECT src AS n FROM e UNION SELECT dst FROM e
       |), nn AS (SELECT count(*) AS c FROM nodes),
       |ow AS (SELECT src, sum(w) AS wout FROM e GROUP BY src),
       |r0 AS (SELECT n, 1000000000000 // nn.c AS r FROM nodes CROSS JOIN nn),
       |${round(1, "r0")},
       |${round(2, "r1")},
       |${round(3, "r2")}
       |SELECT n AS node, CAST(r AS DOUBLE) / 1e6 AS rank_micro FROM r3""".stripMargin
  }

  /** q140/q157's oracle: four unrolled label-propagation rounds
    * (weighted plurality vote, min-label ties), shared verbatim by the
    * driver-loop and distributed-loop catalog entries. */
  private lazy val labelPropOracleSql: String = {
    def round(i: Int, prev: String) =
      s"""v$i AS (
         |  SELECT e.d, lab.l, sum(e.w) AS w
         |  FROM e JOIN $prev lab ON lab.n = e.s GROUP BY 1, 2
         |), b$i AS (
         |  SELECT d, l FROM (
         |    SELECT d, l, row_number() OVER (PARTITION BY d ORDER BY w DESC, l) AS rn
         |    FROM v$i) WHERE rn = 1
         |), l$i AS MATERIALIZED (
         |  SELECT nodes.n, COALESCE(b$i.l, p.l) AS l
         |  FROM nodes JOIN $prev p ON p.n = nodes.n
         |  LEFT JOIN b$i ON b$i.d = nodes.n)""".stripMargin
    s"""WITH dir AS MATERIALIZED (
       |  SELECT cn.n_name AS s, sn.n_name AS d, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
       |  WHERE cn.n_name <> sn.n_name
       |  GROUP BY 1, 2
       |), e AS MATERIALIZED (
       |  SELECT s, d, sum(w) AS w FROM (
       |    SELECT s, d, w FROM dir UNION ALL SELECT d AS s, s AS d, w FROM dir)
       |  GROUP BY 1, 2
       |), nodes AS MATERIALIZED (SELECT s AS n FROM e UNION SELECT d FROM e),
       |l0 AS (SELECT n, n AS l FROM nodes),
       |${round(1, "l0")},
       |${round(2, "l1")},
       |${round(3, "l2")},
       |${round(4, "l3")}
       |SELECT n AS node, l AS label FROM l4""".stripMargin
  }

  /** q64/q158's oracle: near-dup pairs (the q36 computation) closed
    * transitively with a recursive CTE — cluster_id = min reachable
    * doc id. Shared verbatim by the union-find-cutover and distributed
    * min-label catalog entries. */
  private val dupClustersOracleSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |         list_distinct([array_to_string(tk[i:i+2], ' ')
      |                        FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) AS ss
      |  FROM toks WHERE len(tk) > 0
      |), ex AS MATERIALIZED (
      |  SELECT doc_id, len(ss) AS n, unnest(ss) AS g FROM sh
      |), pr AS (
      |  -- postings hash join, not the O(N^2) list_intersect nested
      |  -- loop: a pair sharing zero shingles has jaccard 0 < 0.12,
      |  -- so counting only co-occurring pairs is exact (and 80x
      |  -- faster in DuckDB at sf0.01)
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
      |         any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM pr WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.12
      |), e AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION
      |  SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT s AS id, s AS r FROM e
      |  UNION
      |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
      |)
      |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id""".stripMargin

  /** Shared DuckDB re-derivation of the MinHash+LSH pipeline (q34/q82):
    * signatures from inlined permutation constants, 4-row band keys,
    * band-bucket candidates, match-fraction estimate. `pairCond` picks
    * the candidate pair space ("a.doc_id < b.doc_id" for the self-join,
    * a corpus/batch split for the incremental check); `selA`/`selB`
    * name the output id columns.
    */
  /** The doc-local sig-derivation CTE chain (toks → shingles → 64
    * mod-2^64 permutation minima → sentinel-filled signatures) — the
    * prefix of every MinHash oracle, ending at `sig(doc_id, p, v)`.
    * Doc-local by construction, so every MinHash oracle runs it
    * through [[OracleSql.residueSharded]] (the 500-row documents
    * parquet pins an unsharded replay to one DuckDB pipeline); the
    * band keys are re-grouped OUTSIDE the shards ([[bandsFromSig]]) —
    * a hash aggregate over the union parallelizes fine, it's only the
    * straight-line unnest→hash projections that don't.
    */
  private def minhashSigChain: String = {
    val shingleHash = OracleSql.mix64(OracleSql.poly31("s"))
    val perms = OracleSql.minhashPerms(64)
    val alist = perms.map(_._1).mkString("[", ",", "]")
    val blist = perms.map(_._2).mkString("[", ",", "]")
    val m64 = OracleSql.M64
    // (a·h + b) mod 2^64 with BOTH factors 64-bit: split h into 32-bit
    // halves so no partial product overflows INT128
    val mulAH = s"CAST(((CAST(a AS HUGEINT) * CAST(h & 4294967295 AS HUGEINT)) % $m64 + " +
      s"((CAST(a AS HUGEINT) * CAST(h >> 32 AS HUGEINT)) % 4294967296) * 4294967296) % $m64 AS UBIGINT)"
    val valU = s"CAST((CAST($mulAH AS HUGEINT) + CAST(b AS HUGEINT)) % $m64 AS UBIGINT)"
    val valS = OracleSql.toSigned(valU)
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
       |    t -> t <> '') AS tk
       |  FROM documents
       |), shs AS (
       |  SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
       |    FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)])) AS s
       |  FROM toks WHERE len(tk) > 0
       |), shh AS (
       |  SELECT doc_id, $shingleHash AS h FROM shs
       |), perms AS (
       |  SELECT p, CAST(al[p+1] AS UBIGINT) AS a, CAST(bl[p+1] AS UBIGINT) AS b
       |  FROM (SELECT unnest(range(64)) AS p), (SELECT $alist AS al, $blist AS bl)
       |), minv AS (
       |  SELECT doc_id, p, min($valS) AS v
       |  FROM shh CROSS JOIN perms GROUP BY doc_id, p
       |), sig AS (
       |  SELECT d.doc_id, pr.p, coalesce(m.v, 9223372036854775807) AS v
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range(64)) AS p) pr
       |  LEFT JOIN minv m ON m.doc_id = d.doc_id AND m.p = pr.p
       |)""".stripMargin
  }

  /** 4-row band keys over the unioned `sig` — the global continuation
    * of [[minhashSigChain]] (see its scaladoc for why it lives outside
    * the residue shards).
    */
  private val bandsFromSig: String =
    """, bands AS (
      |  SELECT doc_id, p // 4 AS band,
      |         array_to_string(list(v ORDER BY p), ',') AS bk
      |  FROM sig GROUP BY doc_id, p // 4
      |)""".stripMargin

  private def minhashOracleSql(pairCond: String, selA: String, selB: String,
                               threshold: Double): String = {
    OracleSql.residueSharded(minhashSigChain, outCte = "sig", finalSql =
    s"""$bandsFromSig, cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND $pairCond
       |), mt AS (
       |  SELECT c.id_a, c.id_b, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS m
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.id_a
       |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p
       |  GROUP BY c.id_a, c.id_b
       |)
       |SELECT id_a AS $selA, id_b AS $selB, round(m / 64.0, 4) AS est_jaccard
       |FROM mt WHERE m / 64.0 >= $threshold""".stripMargin)
  }

  /** DuckDB re-derivation of [[graft.operators.Dedup.minhashCanonical]]:
    * the shared sig/band CTEs, per-bucket min-id anchors, star-edge
    * candidates, signature-agreement verify (same m/64.0 comparison as
    * the pair oracle), recursive min-label closure, singleton
    * coalesce, component-size recount — the q189 oracle shape on
    * MinHash bands.
    */
  private def minhashCanonicalOracleSql(threshold: Double): String = {
    OracleSql.residueSharded(minhashSigChain, outCte = "sig",
      recursive = true, finalSql =
    s"""$bandsFromSig, mn AS (
       |  SELECT band, bk, min(doc_id) AS mid FROM bands GROUP BY band, bk
       |), starc AS (
       |  SELECT DISTINCT mn.mid AS src, b.doc_id AS dst
       |  FROM bands b JOIN mn ON mn.band = b.band AND mn.bk = b.bk
       |  WHERE b.doc_id <> mn.mid
       |), mt AS (
       |  SELECT c.src, c.dst, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS m
       |  FROM starc c
       |  JOIN sig sa ON sa.doc_id = c.src
       |  JOIN sig sb ON sb.doc_id = c.dst AND sb.p = sa.p
       |  GROUP BY c.src, c.dst
       |), star AS (
       |  SELECT src, dst FROM mt WHERE m / 64.0 >= $threshold
       |), e AS (
       |  SELECT src AS s, dst AS d FROM star
       |  UNION
       |  SELECT dst, src FROM star
       |), reach AS (
       |  SELECT s AS id, s AS r FROM e
       |  UNION
       |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
       |), lab AS (
       |  SELECT d.doc_id AS id,
       |    CAST(coalesce(c.comp, d.doc_id) AS BIGINT) AS canonical_id
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  LEFT JOIN (SELECT id, min(r) AS comp FROM reach GROUP BY id) c
       |  ON c.id = d.doc_id
       |)
       |SELECT CAST(l.id AS BIGINT) AS id, l.canonical_id,
       |  CAST(g.cnt AS BIGINT) AS n_members
       |FROM lab l JOIN (
       |  SELECT canonical_id, count(*) AS cnt FROM lab GROUP BY canonical_id) g
       |USING (canonical_id)""".stripMargin)
  }

  /** DuckDB re-derivation of [[graft.operators.Bm25.topDocs]]: full
    * ranked (query_id, doc_id, t_micro, rank ≤ topK) with the SAME
    * literal formulas and operator order as the Spark side
    * (IEEE-identical doubles; micro-int snap before the per-doc sum).
    * Shared by q114 and the q121 hybrid fusion.
    */
  private def bm25RankedSql(probes: Seq[(Long, String)], topK: Int): String = {
    val vals = probes.flatMap { case (id, t) =>
      t.split(" ").distinct.map(w => s"($id, '$w')")
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t <> '') AS tk
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY 1, 2
       |), dl AS (SELECT doc_id, len(tk) AS dl FROM toks
       |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
       |), stats AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM toks
       |), q AS (SELECT * FROM (VALUES $vals) AS q(query_id, term)
       |), sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST(round(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
       |      * (tf.tf * (1.2 + 1))
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) * 1e6, 0)
       |      AS BIGINT) AS s_micro
       |  FROM tf JOIN q USING (term) JOIN dfreq d USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
       |), tot AS (
       |  SELECT query_id, doc_id, sum(s_micro) AS t_micro
       |  FROM sc GROUP BY 1, 2
       |)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, t_micro, rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY t_micro DESC, doc_id) AS rank FROM tot)
       |WHERE rank <= $topK""".stripMargin
  }

  /** q44–q46 scan the committed portal sample (`src/main/resources/portal/`:
    * survey #4, the Basque TSV and the layer-EOV links backup under the
    * reference's file names and layout, carrying FIXTURES.md §2/§5/§8's
    * edge cases), not the `d` corpus. A sample file resolves on the
    * classpath to one absolute path that the Spark read and the DuckDB
    * oracle share. Neither engine reads inside a jar (sbt's forked `run`
    * puts the program on the classpath as one), so a packaged sample is
    * copied out once per content, to `java.io.tmpdir/graft-portal-<crc>/`.
    * Without the sample on the classpath (a build of `src/main/scala`
    * alone) the catalog still loads: those oracles are absent and the
    * queries throw, naming the missing file.
    */
  private def portalSample(file: String): Option[String] =
    Option(getClass.getResource(s"/portal/$file")).map { u =>
      if (u.getProtocol == "file") Paths.get(u.toURI).toString
      else {
        val bytes = Using.resource(u.openStream())(_.readAllBytes())
        val crc = new CRC32
        crc.update(bytes)
        val out = Paths.get(sys.props("java.io.tmpdir"),
          f"graft-portal-${crc.getValue}%08x", file)
        if (!Files.isRegularFile(out)) {
          Files.createDirectories(out.getParent)
          val part = Files.createTempFile(out.getParent, "part", "")
          Files.write(part, bytes)
          Files.move(part, out, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        }
        out.toString
      }
    }

  private def portalFile(file: String): String =
    portalSample(file).getOrElse(throw new FileNotFoundException(
      s"portal/$file is not on the classpath (src/main/resources/portal/$file)"))

  /** `sql` applied to the sample file's path as a quoted SQL literal. */
  private def portalOracle(file: String)(sql: String => String): Option[String] =
    portalSample(file).map(p => sql(s"'${p.replace("'", "''")}'"))

  private val Survey4 = "4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv"
  private val BasqueTsv =
    "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv"
  private val LayerEovs = "layers_layer_eovs.csv"

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------- A1 family
    Q("q01_agg_pricing",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          // money sums are cents-graded longs before the order-
          // unspecified aggregation (exact, partition-order-free); the
          // 10x scale check showed a rounded-double sum drifting past
          // the output rounding at multi-million-row groups
          round(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("sum_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"),
          min(to_date(col("l_shipdate"))).as("first_ship"),
          max(to_date(col("l_shipdate"))).as("last_ship")),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price, avg(l_quantity) AS avg_qty,
             |count(*) AS n, CAST(min(l_shipdate) AS DATE) AS first_ship,
             |CAST(max(l_shipdate) AS DATE) AS last_ship
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "A1,A1a,A1b (group-merge aggregation suite)"),

    // ---------------------------------------------------------- joins
    Q("q02_join_left",
      (s, d) => orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_orderpriority"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT o_orderkey, o_orderpriority, c_name, c_mktsegment
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin),
      "J1,J2,J3 (left equi-join, broadcast)"),

    Q("q03_join_chain",
      (s, d) => customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(round(col("c_acctbal") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("sum_bal")),
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
             |round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_bal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      "J5 (join chain over dims, broadcast both)"),

    Q("q92_anti_join",
      (s, d) => customer(s, d)
        .join(orders(s, d).filter(col("o_orderdate") >= "1998-01-01")
          .select(col("o_custkey")), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '1998-01-01')""".stripMargin),
      "left-anti join (customers with no recent orders; NOT EXISTS twin)"),

    Q("q93_sql_surface",
      (s, d) => {
        // the spark.sql(...) text surface over registered views — the
        // same catalog semantics reachable without the DataFrame DSL
        orders(s, d).createOrReplaceTempView("v_orders")
        customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""SELECT c_mktsegment, o_orderpriority,
                 count(*) AS n,
                 round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
                 FROM v_orders JOIN v_customer ON o_custkey = c_custkey
                 WHERE o_orderdate < DATE '1997-01-01'
                 GROUP BY c_mktsegment, o_orderpriority""")
      },
      Some("""SELECT c_mktsegment, o_orderpriority,
             |count(*) AS n,
             |round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderdate < DATE '1997-01-01'
             |GROUP BY c_mktsegment, o_orderpriority""".stripMargin),
      "SQL-text surface (spark.sql over temp views; join + filter + agg parity)"),

    // ---------------------------------------------------------- filters
    Q("q04_filter_range",
      (s, d) => lineitem(s, d)
        .filter(col("l_quantity") <= 10 && col("l_discount") > 0.05 &&
          col("l_returnflag").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
             |FROM lineitem
             |WHERE l_quantity <= 10 AND l_discount > 0.05 AND l_returnflag IS NOT NULL""".stripMargin),
      "F1,F2,F6 (range + not-null predicates, parquet pushdown)"),

    Q("q05_project_flags",
      (s, d) => customer(s, d).select(
        col("c_custkey"),
        col("c_name").as("name"),
        StringFunctions.flagEquals(col("c_mktsegment"), "AUTOMOBILE").as("is_auto"),
        (col("c_acctbal") > 1000).as("is_big_bal"),
        StringFunctions.naIfBlank(col("c_mktsegment")).as("segment")),
      Some("""SELECT c_custkey, c_name AS name,
             |coalesce(c_mktsegment = 'AUTOMOBILE', FALSE) AS is_auto,
             |c_acctbal > 1000 AS is_big_bal,
             |CASE WHEN trim(c_mktsegment) = '' THEN NULL ELSE c_mktsegment END AS segment
             |FROM customer""".stripMargin),
      "P1-P5,C1,C2,C3 (select+rename, flags, na_if)"),

    Q("q06_union_by_name",
      (s, d) => {
        val a = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        val b = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT o_orderkey, o_orderpriority, CAST(NULL AS VARCHAR) AS o_orderstatus FROM orders
             |UNION ALL
             |SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderpriority, o_orderstatus FROM orders""".stripMargin),
      "U1,U2 (bind_rows / union by name, missing cols → null)"),

    Q("q07_point_update",
      (s, d) => nation(s, d).select(
        col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"),
        when(col("n_name") === "NATION_7", lit(true))
          .otherwise(col("n_regionkey") === 0).as("special")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             |CASE WHEN n_name = 'NATION_7' THEN TRUE ELSE n_regionkey = 0 END AS special
             |FROM nation""".stripMargin),
      "F5 (targeted row update as conditional column)"),

    // ---------------------------------------------------------- scalars
    Q("q08_recode",
      (s, d) => orders(s, d).select(
        col("o_orderkey"),
        StringFunctions.recode(col("o_orderpriority"),
          Map("1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium"))
          .as("priority_recoded"),
        StringFunctions.recodeOrNull(col("o_orderstatus"),
          Map("F" -> "finished", "O" -> "open")).as("status_recoded")),
      Some("""SELECT o_orderkey,
             |CASE o_orderpriority WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
             |  WHEN '3-MEDIUM' THEN 'medium' ELSE o_orderpriority END AS priority_recoded,
             |CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open'
             |  ELSE NULL END AS status_recoded
             |FROM orders""".stripMargin),
      "C5,C6,C7 (recode maps, with and without passthrough)"),

    Q("q09_str_trunc",
      (s, d) => part(s, d).select(
        col("p_partkey"),
        StringFunctions.strTrunc(col("p_name"), 20).as("name_short")),
      Some("""SELECT p_partkey,
             |CASE WHEN length(p_name) > 20 THEN substr(p_name, 1, 17) || '...' ELSE p_name END
             |  AS name_short
             |FROM part""".stripMargin),
      "C4 (str_trunc with ellipsis)"),

    Q("q10_identifier",
      // the make_identifier E1 runs; on ASCII input like p_name its
      // transliteration step is the identity, which the oracle omits
      (s, d) => part(s, d).select(
        col("p_partkey"),
        Identifier.makeIdentifierCol(col("p_name")).as("identifier")),
      Some("""WITH s1 AS (SELECT p_partkey,
             |  regexp_replace(regexp_replace(trim(regexp_replace(lower(p_name),
             |    '[()":'',&/.;]', '', 'g')), '[\s\-]+', '_', 'g'),
             |    '[()":'',&/.;]', '', 'g') AS ident FROM part)
             |SELECT p_partkey,
             |CASE WHEN length(ident) > 58
             |  THEN substr(ident, 1, 29) || substr(ident, length(ident) - 28, 29)
             |  ELSE ident END AS identifier
             |FROM s1""".stripMargin),
      "C14 (make_identifier UDF; ASCII data ⇒ transliteration = id)"),

    Q("q11_make_unique",
      (s, d) => Relational.makeUnique(
        part(s, d).select(col("p_partkey"), col("p_brand")),
        "p_brand", "p_partkey", "brand_uniq"),
      Some("""SELECT p_partkey, p_brand,
             |CASE WHEN rn = 1 THEN p_brand
             |  ELSE p_brand || '_' || CAST(rn - 1 AS VARCHAR) END AS brand_uniq
             |FROM (SELECT p_partkey, p_brand,
             |  row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn FROM part)""".stripMargin),
      "W3,C15 (make.unique suffixing)"),

    Q("q12_dup_report",
      (s, d) => Relational.duplicateReport(
        orders(s, d).select(col("o_orderkey"), col("o_custkey")), "o_custkey"),
      Some("""SELECT o_orderkey, o_custkey FROM
             |(SELECT o_orderkey, o_custkey, count(*) OVER (PARTITION BY o_custkey) AS c FROM orders)
             |WHERE c > 1""".stripMargin),
      "A3 (duplicate detection via window count)"),

    Q("q13_distinct_by_key",
      (s, d) => Relational.distinctByKey(
        customer(s, d).select(col("c_mktsegment"), col("c_custkey"), col("c_name")),
        "c_mktsegment", "c_custkey"),
      Some("""SELECT c_mktsegment, c_custkey, c_name FROM
             |(SELECT c_mktsegment, c_custkey, c_name,
             |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn FROM customer)
             |WHERE rn = 1""".stripMargin),
      "A2 (deterministic distinct-by-key, first per order)"),

    // ---------------------------------------------------------- windows
    Q("q14_row_number",
      (s, d) => Relational.globalRowNumberScalable(
          orders(s, d).select(col("o_orderkey")), "id", col("o_orderkey"))
        .withColumn("id", col("id").cast("long"))
        .withColumn("pk", (lit(2000) + col("id")).cast("long")),
      Some("""SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS id,
             |CAST(2000 + row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS pk
             |FROM orders""".stripMargin),
      "W1,W2 (global row_number in pinned order)"),

    Q("q15_running_sum",
      (s, d) => orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total")),
      Some("""SELECT o_orderkey, o_custkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders""".stripMargin),
      "window frame (running sum, order-pinned ⇒ bit-exact)"),

    Q("q16_top_k",
      (s, d) => orders(s, d)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rank").cast("long").as("rank")),
      Some("""SELECT o_custkey, o_orderkey, CAST(rank AS BIGINT) AS rank FROM
             |(SELECT o_custkey, o_orderkey, row_number() OVER
             |  (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
             |FROM orders) WHERE rank <= 3""".stripMargin),
      "top-k per group (rank window)"),

    Q("q17_ordinal_min",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(Relational.ordinalMin(col("o_orderpriority"), priorityLadder)
          .as("min_priority")),
      Some("""SELECT o_orderstatus,
             |list_extract(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'],
             |  min(list_position(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'],
             |    o_orderpriority))) AS min_priority
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "A1d (ordinal-min over a factor ladder)"),

    Q("q18_concat_agg",
      (s, d) => customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
        .agg(Aggregators.concatDistinctSorted(col("c_mktsegment")).as("segments")),
      Some("""SELECT c_nationkey, string_agg(c_mktsegment, '; ' ORDER BY c_mktsegment) AS segments
             |FROM (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment
             |      FROM customer)
             |GROUP BY c_nationkey""".stripMargin),
      "A1c,C16 (distinct ordered string agg)"),

    Q("q19_bool_explode",
      (s, d) => part(s, d)
        .select(col("p_partkey"),
          explode(transform(filter(array(
            struct(lit(1L).as("id"), (col("p_size") > 25).as("flag")),
            struct(lit(2L).as("id"), (col("p_retailprice") > 1500).as("flag")),
            struct(lit(3L).as("id"), (col("p_brand") === "Brand#13").as("flag"))),
            x => x.getField("flag")), x => x.getField("id"))).as("flag_id")),
      Some("""SELECT p_partkey, CAST(1 AS BIGINT) AS flag_id FROM part WHERE p_size > 25
             |UNION ALL SELECT p_partkey, 2 FROM part WHERE p_retailprice > 1500
             |UNION ALL SELECT p_partkey, 3 FROM part WHERE p_brand = 'Brand#13'""".stripMargin),
      "C22 (boolean flag vector → exploded link rows)"),

    Q("q20_sql_gen",
      (s, d) => customer(s, d).select(
        col("c_custkey"),
        concat(lit("update layers_layer set data_in_obis = "),
          StringFunctions.sqlLiteral(
            StringFunctions.recodeOrNull(col("c_mktsegment"),
              Map("AUTOMOBILE" -> "all", "BUILDING" -> "some"))),
          lit(" where name = '"), col("c_name"), lit("';")).as("stmt")),
      Some("""SELECT c_custkey, 'update layers_layer set data_in_obis = ' ||
             |CASE WHEN seg IS NULL THEN 'null' ELSE '''' || seg || '''' END ||
             |' where name = ''' || c_name || ''';' AS stmt
             |FROM (SELECT c_custkey, c_name,
             |  CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'all' WHEN 'BUILDING' THEN 'some'
             |    ELSE NULL END AS seg FROM customer)""".stripMargin),
      "K7,C17,C21 (SQL-text generation with literal quoting)"),

    Q("q21_year_bounds",
      (s, d) => {
        val y = year(col("o_orderdate")).cast("string")
        orders(s, d).select(col("o_orderkey"),
          DateFunctions.yearStart(y).as("start_date"),
          DateFunctions.yearEnd(y).as("end_date"))
      },
      Some("""SELECT o_orderkey,
             |CAST(CAST(year(o_orderdate) AS VARCHAR) || '-01-01' AS DATE) AS start_date,
             |CAST(CAST(year(o_orderdate) AS VARCHAR) || '-12-31' AS DATE) AS end_date
             |FROM orders""".stripMargin),
      "C8,C9 (year string → Jan 1 / Dec 31 bounds)"),

    Q("q22_split_range",
      (s, d) => {
        val rangeStr = concat(year(col("o_orderdate")).cast("string"), lit("-current"))
        val (start, end) = DateFunctions.splitRange(rangeStr)
        orders(s, d).select(col("o_orderkey"), start.as("start_tok"), end.as("end_tok"))
      },
      Some("""SELECT o_orderkey,
             |list_extract(string_split_regex(CAST(year(o_orderdate) AS VARCHAR) || '-current',
             |  '[^A-Za-z0-9]+'), 1) AS start_tok,
             |list_extract(string_split_regex(CAST(year(o_orderdate) AS VARCHAR) || '-current',
             |  '[^A-Za-z0-9]+'), 2) AS end_tok
             |FROM orders""".stripMargin),
      "C10,C11 (separate on non-alphanumeric run)"),

    Q("q23_mutual_null",
      (s, d) => {
        val a = when(col("l_discount") > 0.08, lit(null)).otherwise(col("l_quantity"))
        val b = when(col("l_tax") > 0.06, lit(null)).otherwise(col("l_extendedprice"))
        val (a2, b2) = DateFunctions.mutualNull(a, b)
        lineitem(s, d).select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          a2.as("lat"), b2.as("lon"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |CASE WHEN a IS NULL OR b IS NULL THEN NULL ELSE a END AS lat,
             |CASE WHEN a IS NULL OR b IS NULL THEN NULL ELSE b END AS lon
             |FROM (SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_discount > 0.08 THEN NULL ELSE l_quantity END AS a,
             |  CASE WHEN l_tax > 0.06 THEN NULL ELSE l_extendedprice END AS b
             |FROM lineitem)""".stripMargin),
      "C12 (mutual null-out of coordinate pair)"),

    // ---------------------------------------------------------- spatial
    Q("q24_wkt_point",
      (s, d) => nation(s, d).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        GeoFunctions.wktPoint(col("n_regionkey").cast("string"),
          col("n_nationkey").cast("string")).as("wkt")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |'POINT (' || n_regionkey || ' ' || n_nationkey || ')' AS wkt
             |FROM nation""".stripMargin),
      "C13,G1,G2 (WKT point construction)"),

    Q("q25_geojson_roundtrip",
      (s, d) => {
        val gj = concat(lit("{\"type\": \"Point\", \"coordinates\": ["),
          col("n_regionkey").cast("string"), lit(", "),
          col("n_nationkey").cast("string"), lit("]}"))
        nation(s, d).select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          GeoFunctions.geojsonType(gj).as("geom_type"),
          GeoFunctions.geojsonToWkt(gj).as("wkt"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |'Point' AS geom_type,
             |'POINT (' || n_regionkey || ' ' || n_nationkey || ')' AS wkt
             |FROM nation""".stripMargin),
      "G4,G5,G6,S8 (GeoJSON parse, type sniff, → WKT; oracle is the independent construction)"),

    Q("q26_multipoint_agg",
      (s, d) => supplier(s, d)
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(Aggregators.multipointWkt(
          col("s_suppkey") % 10, col("s_suppkey") % 7).as("geom")),
      Some("""WITH d AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS s_nationkey,
             |  s_suppkey % 10 AS x, s_suppkey % 7 AS y FROM supplier)
             |SELECT s_nationkey,
             |CASE WHEN count(*) = 1 THEN 'POINT (' || min(x) || ' ' || min(y) || ')'
             |  ELSE 'MULTIPOINT (' || string_agg('(' || x || ' ' || y || ')', ', ' ORDER BY x, y)
             |    || ')' END AS geom
             |FROM d GROUP BY s_nationkey""".stripMargin),
      "A1e,G3 (st_union of points → MULTIPOINT WKT)"),

    Q("q27_linestring_agg",
      (s, d) => events(s, d)
        .groupBy(col("user_id"))
        .agg(Aggregators.linestringWkt(col("event_id"),
          col("event_id") % 100, col("user_id") % 50).as("track")),
      Some("""SELECT user_id, 'LINESTRING (' ||
             |string_agg((event_id % 100) || ' ' || (user_id % 50), ', ' ORDER BY event_id)
             ||| ')' AS track
             |FROM events GROUP BY user_id""".stripMargin),
      "G8 (ordered points → LINESTRING WKT)"),

    Q("q28_utm_inverse",
      (s, d) => supplier(s, d).select(
        col("s_suppkey"),
        round(GeoFunctions.utm30nLon(
          lit(400000.0) + (col("s_suppkey") % 200) * 1000.0,
          lit(4000000.0) + (col("s_suppkey") % 100) * 2000.0), 6).as("lon"),
        round(GeoFunctions.utm30nLat(
          lit(400000.0) + (col("s_suppkey") % 200) * 1000.0,
          lit(4000000.0) + (col("s_suppkey") % 100) * 2000.0), 6).as("lat")),
      // The Snyder inverse-TM series is plain sin/cos/pow arithmetic, so
      // DuckDB can evaluate the same public-domain formulae — an
      // independent cross-engine check of the whole series.
      Some("""WITH inp AS (
             |  SELECT s_suppkey,
             |    400000.0 + (s_suppkey % 200) * 1000.0 - 500000.0 AS x,
             |    4000000.0 + (s_suppkey % 100) * 2000.0 AS y,
             |    6378137.0 AS a, 0.9996 AS k0,
             |    (1.0/298.257223563) * (2 - (1.0/298.257223563)) AS e2
             |  FROM supplier
             |), s2 AS (
             |  SELECT *, e2/(1-e2) AS ep,
             |    (y/k0) / (a * (1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256)) AS mu,
             |    (1 - sqrt(1-e2)) / (1 + sqrt(1-e2)) AS e1
             |  FROM inp
             |), s3 AS (
             |  SELECT *, mu + (3*e1/2 - 27*pow(e1,3)/32)*sin(2*mu)
             |            + (21*e1*e1/16 - 55*pow(e1,4)/32)*sin(4*mu)
             |            + (151*pow(e1,3)/96)*sin(6*mu)
             |            + (1097*pow(e1,4)/512)*sin(8*mu) AS phi1
             |  FROM s2
             |), s4 AS (
             |  SELECT *, sin(phi1) AS sin1, cos(phi1) AS cos1,
             |         sin(phi1)/cos(phi1) AS tan1 FROM s3
             |), s5 AS (
             |  SELECT *, ep*cos1*cos1 AS c1, tan1*tan1 AS t1,
             |         a/sqrt(1 - e2*sin1*sin1) AS n1,
             |         a*(1-e2)/pow(1 - e2*sin1*sin1, 1.5) AS r1
             |  FROM s4
             |), s6 AS (
             |  SELECT *, x/(n1*k0) AS d FROM s5
             |)
             |SELECT s_suppkey,
             |  round(degrees(radians(-3.0) + (d - (1 + 2*t1 + c1)*pow(d,3)/6
             |    + (5 - 2*c1 + 28*t1 - 3*c1*c1 + 8*ep + 24*t1*t1)*pow(d,5)/120)/cos1), 6) AS lon,
             |  round(degrees(phi1 - (n1*tan1/r1)*(d*d/2
             |    - (5 + 3*t1 + 10*c1 - 4*c1*c1 - 9*ep)*pow(d,4)/24
             |    + (61 + 90*t1 + 298*c1 + 45*t1*t1 - 252*ep - 3*c1*c1)*pow(d,6)/720)), 6) AS lat
             |FROM s6""".stripMargin),
      "G7 (UTM 32630 → WGS84 inverse projection; oracle re-evaluates the Snyder series in SQL)"),

    // ---------------------------------------------------------- events/json
    Q("q29_json_extract",
      (s, d) => events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events""".stripMargin),
      "C20,S8 (JSON field access)"),

    Q("q30_events_window",
      (s, d) => events(s, d)
        .groupBy(to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("value") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("sum_value")),
      Some("""SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hr, event_type,
             |count(*) AS n,
             |round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
             |FROM events GROUP BY 1, 2, 3""".stripMargin),
      "tumbling-window agg (batch equivalent of streaming window)"),

    Q("q31_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1L)
              .otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      },
      Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
             |count(*) AS n_events FROM
             |(SELECT user_id, CASE WHEN prev_ts IS NULL
             |  OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session FROM
             |  (SELECT user_id, ts, lag(ts) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events))
             |GROUP BY user_id""".stripMargin),
      "sessionization (lag + gap threshold; streaming-state batch analog)"),

    // ---------------------------------------------------------- dedup
    Q("q32_dedup_exact",
      (s, d) => Dedup.exactDupPairs(documents(s, d), "text", "doc_id"),
      Some("""SELECT canonical_id, dup_id FROM
             |(SELECT min(doc_id) OVER (PARTITION BY text) AS canonical_id, doc_id AS dup_id
             | FROM documents) WHERE dup_id <> canonical_id""".stripMargin),
      "exact dedup (hash-groupBy on content)"),

    Q("q33_dedup_prefix",
      (s, d) => Dedup.exactDupPairs(
        documents(s, d).withColumn("prefix",
          graft.plans.Exprs.prefixTokens(col("text"), 10)),
        "prefix", "doc_id"),
      Some("""SELECT canonical_id, dup_id FROM
             |(SELECT min(doc_id) OVER (PARTITION BY prefix) AS canonical_id, doc_id AS dup_id
             | FROM (SELECT doc_id,
             |   array_to_string(string_split_regex(lower(trim(text)), '\s+')[1:10], ' ') AS prefix
             |   FROM documents))
             |WHERE dup_id <> canonical_id""".stripMargin),
      "exact dedup on normalized key (10-token prefix)"),

    Q("q34_dedup_minhash",
      (s, d) => Dedup.minhashCandidatePairs(documents(s, d), "text", "doc_id",
          shingleK = 3, numPerms = 64, bands = 16, threshold = 0.2)
        .withColumn("est_jaccard", round(col("est_jaccard"), 4)),
      // The whole LSH pipeline is arithmetic — shingle hash =
      // mix64(poly31), permutations a_p·h+b_p mod 2^64 with inlined
      // constants, signed-min signatures, 4-row band keys — so DuckDB
      // re-derives signatures and band buckets from scratch and
      // replays candidate generation + estimation. (Band equality is
      // checked on the raw 4-minhash slice; Spark buckets on
      // xxhash64(slice), identical up to 64-bit hash collisions.)
      Some(minhashOracleSql("a.doc_id < b.doc_id", "id_a", "id_b", 0.2)),
      "MinHash+LSH near-dup candidate pairs (shingle→minhash→band→bucket join; signatures oracle-recomputed in SQL)"),

    Q("q35_dedup_simhash",
      (s, d) => Dedup.simhashPairs(documents(s, d), "text", "doc_id", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long")),
      // The block-combination banding has GUARANTEED recall at
      // Hamming ≤ 3, so the output is exactly "all pairs within
      // Hamming 3 of each other's simhash" — and the simhash itself is
      // arithmetic (mix64 of a base-31 token polynomial, per-bit ±1
      // votes), so DuckDB re-derives every fingerprint from scratch and
      // takes all pairs directly. A full cross-engine check of
      // tokenizer, hash, vote loop, and banding recall at once.
      Some {
        val tokHash = OracleSql.mix64(OracleSql.poly31("tok"))
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
           |    t -> t <> '')) AS tok
           |  FROM documents
           |), th AS (
           |  SELECT doc_id, $tokHash AS h FROM toks
           |), bits AS (
           |  SELECT doc_id, b,
           |         sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS cnt
           |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) GROUP BY doc_id, b
           |), sh0 AS (
           |  SELECT doc_id,
           |         CAST(sum(CASE WHEN cnt > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
           |                  ELSE 0 END) AS UBIGINT) AS sh
           |  FROM bits GROUP BY doc_id
           |), sh AS (
           |  SELECT d.doc_id, coalesce(s.sh, CAST(0 AS UBIGINT)) AS sh
           |  FROM documents d LEFT JOIN sh0 s USING (doc_id)
           |)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin
      },
      "SimHash near-dup pairs (block-combination banding, guaranteed recall at Hamming ≤ 3; fingerprints oracle-recomputed in SQL)"),

    Q("q36_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          shingleK = 3, minJaccard = 0.12)
        .withColumn("jaccard", round(col("jaccard"), 6)),
      // Jaccard over 64-bit shingle hashes equals Jaccard over the
      // distinct shingle strings themselves (collision-free at this
      // scale), so the oracle recomputes it string-side with DuckDB
      // list comprehensions: tokenize → k-gram → distinct → intersect.
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id,
             |         list_distinct([array_to_string(tk[i:i+2], ' ')
             |                        FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) AS ss
             |  FROM toks WHERE len(tk) > 0
             |), ex AS MATERIALIZED (
             |  SELECT doc_id, len(ss) AS n, unnest(ss) AS g FROM sh
             |), pairs AS (
             |  -- postings hash join (zero-overlap pairs can't reach the
             |  -- 0.12 threshold, so counting co-occurring pairs is exact)
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
             |         any_value(a.n) AS na, any_value(b.n) AS nb
             |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard
             |FROM pairs WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.12""".stripMargin),
      "exact n-gram Jaccard pairs via inverted shingle index"),

    Q("q64_dup_clusters",
      // q158 pins the distributed min-label branch to the same oracle
      (s, d) => Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
            shingleK = 3, minJaccard = 0.12)
            .select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id")),
      Some(dupClustersOracleSql),
      "near-dup pairs → canonical clusters (distributed connected components)"),

    Q("q80_line_dedup",
      (s, d) => {
        // the corpus is single-line, so both engines deterministically
        // re-line it first — newline after every 8th token via the
        // single-pass chunkTokens kernel (a backtracking-regex
        // formulation measured ~0.4 ms/doc; an interpreted
        // sequence/slice HOF chain was worse) — then every line
        // occurring anywhere earlier (lower (doc, position)) is
        // dropped and documents are reassembled
        val lined = documents(s, d).select(col("doc_id"),
          graft.plans.Exprs.chunkTokens(col("text"), 8).as("t"))
        Dedup.lineDedup(lined, "t", "doc_id")
          .select(col("id").as("doc_id"), col("n_kept"), col("text_dedup"))
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), lined AS (
             |  SELECT doc_id,
             |    CASE WHEN len(tk) = 0 THEN ['']
             |    ELSE [array_to_string(tk[i*8+1 : i*8+8], ' ')
             |          FOR i IN range(0, greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1))]
             |    END AS lines
             |  FROM toks
             |), lrows AS (
             |  SELECT doc_id, generate_subscripts(lines, 1) - 1 AS pos,
             |         unnest(lines) AS line
             |  FROM lined
             |), kept AS (
             |  SELECT doc_id, pos, line FROM (
             |    SELECT doc_id, pos, line,
             |           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
             |    FROM lrows) WHERE rn = 1
             |), agg AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         array_to_string(list(line ORDER BY pos), chr(10)) AS text_dedup
             |  FROM kept GROUP BY doc_id
             |)
             |SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
             |       coalesce(a.text_dedup, '') AS text_dedup
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin),
      "corpus-wide exact line dedup, C4-style (keep first occurrence, reassemble documents)"),

    Q("q82_minhash_incremental",
      (s, d) => {
        // ingest-time near-dup: docs ≥ 400 are the incoming batch,
        // probed against the existing corpus via broadcast banded keys
        // — the corpus never shuffles (the approximate twin of q74)
        val docs = documents(s, d)
        Dedup.minhashAgainst(docs.filter(col("doc_id") < 400),
            docs.filter(col("doc_id") >= 400), "text", "doc_id",
            shingleK = 3, numPerms = 64, bands = 16, threshold = 0.2)
          .withColumn("est_jaccard", round(col("est_jaccard"), 4))
      },
      Some(minhashOracleSql("a.doc_id < 400 AND b.doc_id >= 400",
        "existing_id", "incoming_id", 0.2)),
      "incremental MinHash near-dup (new batch broadcast against the corpus band index)"),

    Q("q91_cluster_canonical",
      (s, d) => {
        // pairs → clusters → one kept doc per cluster (longest member,
        // ties to the lowest id) — the classic keep-longest canonical
        // rule, on the 10-token-prefix dup pairs of q33
        val docs = documents(s, d)
        val pairs = Dedup.exactDupPairs(
          docs.withColumn("prefix", graft.plans.Exprs.prefixTokens(col("text"), 10)),
          "prefix", "doc_id")
        Dedup.selectCanonical(pairs, "canonical_id", "dup_id",
            docs, "doc_id", "n_chars")
          .select(col("cluster_id").cast("long").as("cluster_id"),
            col("canonical_id").cast("long").as("canonical_id"),
            col("n_members"), col("best_score").cast("long").as("best_score"))
      },
      Some("""WITH RECURSIVE pairs AS (
             |  SELECT canonical_id AS a, dup_id AS b FROM
             |  (SELECT min(doc_id) OVER (PARTITION BY prefix) AS canonical_id,
             |          doc_id AS dup_id
             |   FROM (SELECT doc_id,
             |     array_to_string(string_split_regex(lower(trim(text)), '\s+')[1:10], ' ')
             |       AS prefix
             |     FROM documents))
             |  WHERE dup_id <> canonical_id
             |), e AS (
             |  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
             |), reach AS (
             |  SELECT s AS id, s AS r FROM e
             |  UNION
             |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
             |), comp AS (
             |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
             |), ranked AS (
             |  SELECT c.cluster_id, c.id, d.n_chars,
             |    row_number() OVER (PARTITION BY c.cluster_id
             |      ORDER BY d.n_chars DESC, c.id ASC) AS rn
             |  FROM comp c JOIN documents d ON d.doc_id = c.id
             |)
             |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
             |  CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS canonical_id,
             |  count(*) AS n_members,
             |  CAST(max(n_chars) AS BIGINT) AS best_score
             |FROM ranked GROUP BY cluster_id""".stripMargin),
      "canonical selection per dup cluster (keep-longest, tie lowest id; pairs → CC → max_by)"),

    Q("q74_incremental_dedup",
      (s, d) => {
        val docs = documents(s, d)
        Dedup.exactDupsAgainst(docs.filter(col("doc_id") < 400),
            docs.filter(col("doc_id") >= 400), "text", "doc_id")
          .select(col("incoming_id").cast("long").as("incoming_id"))
      },
      Some("""SELECT DISTINCT i.doc_id AS incoming_id
             |FROM documents i JOIN documents e ON i.text = e.text
             |WHERE i.doc_id >= 400 AND e.doc_id < 400""".stripMargin),
      "incremental exact dedup (new batch vs existing corpus, semi-join on content)"),

    Q("q70_dup_rate",
      (s, d) => Dedup.shingleDupRate(documents(s, d), "text", "doc_id")
        .select(col("id").cast("long").as("doc_id"),
          round(col("dup_rate"), 6).as("dup_rate")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id,
             |         CASE WHEN len(tk) = 0 THEN []
             |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
             |                FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) END AS ss
             |  FROM toks
             |), inv AS (
             |  SELECT doc_id, unnest(ss) AS s FROM sh
             |), dfc AS (
             |  SELECT s, count(*) AS df FROM inv GROUP BY s
             |), dup AS (
             |  SELECT inv.doc_id, sum(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS d
             |  FROM inv JOIN dfc ON inv.s = dfc.s GROUP BY inv.doc_id
             |)
             |SELECT sh.doc_id,
             |  round(CAST(coalesce(dup.d, 0) AS DOUBLE) / greatest(len(sh.ss), 1), 6)
             |    AS dup_rate
             |FROM sh LEFT JOIN dup ON sh.doc_id = dup.doc_id""".stripMargin),
      "per-doc near-dup density (share of shingles occurring elsewhere)"),

    Q("q71_contamination",
      (s, d) => {
        val docs = documents(s, d)
        // first 20 docs stand in for the benchmark set
        Dedup.contaminationRate(docs.filter(col("doc_id") >= 20),
            docs.filter(col("doc_id") < 20), "text", "doc_id")
          .select(col("id").cast("long").as("doc_id"),
            round(col("contamination"), 6).as("contamination"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id,
             |         CASE WHEN len(tk) = 0 THEN []
             |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
             |                FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) END AS ss
             |  FROM toks
             |), bench AS (
             |  SELECT DISTINCT unnest(ss) AS s FROM sh WHERE doc_id < 20
             |), hits AS (
             |  SELECT i.doc_id, count(*) AS h
             |  FROM (SELECT doc_id, unnest(ss) AS s FROM sh WHERE doc_id >= 20) i
             |  JOIN bench ON i.s = bench.s GROUP BY i.doc_id
             |)
             |SELECT sh.doc_id,
             |  round(CAST(coalesce(hits.h, 0) AS DOUBLE) / greatest(len(sh.ss), 1), 6)
             |    AS contamination
             |FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
             |WHERE sh.doc_id >= 20""".stripMargin),
      "benchmark decontamination (shingle overlap with a held-out set)"),

    Q("q81_bloom_prune",
      (s, d) => {
        // benchmark-decontamination pre-filter: bloom built over the
        // first 20 docs' content fingerprints, corpus probed with the
        // codegen bloom_contains expression. mBits=256 is deliberately
        // small so false positives EXIST and are themselves verified —
        // the filter is mix64-deterministic, so the oracle reconstructs
        // the exact bit set and reproduces every flag.
        val docs = documents(s, d)
        val bench = docs.filter(col("doc_id") < 20)
        val corpus = docs.filter(col("doc_id") >= 20)
        val bits = Bloom.build(bench, "text", mBits = 256, k = 3)
        val flags = Bloom.membershipFlags(corpus, bits, mBits = 256, k = 3,
          "text", "doc_id")
        val actual = bench.select(col("text")).distinct()
          .withColumn("_in", lit(1))
        corpus.select(col("doc_id"), col("text"))
          .join(broadcast(actual), Seq("text"), "left")
          .select(col("doc_id"), col("_in").isNotNull.as("actually_in"))
          .join(flags, Seq("doc_id"))
          .select(col("doc_id"), col("flagged"), col("actually_in"))
      },
      Some {
        // probe position i of a document: unsigned mix64(fp + i) mod 256,
        // where fp is the seed-0 base-31 fingerprint of the raw text
        val fp = OracleSql.poly31("text", seed = 0L)
        val pos = OracleSql.mix64(
          s"CAST((CAST(hu AS HUGEINT) + i) % ${OracleSql.M64} AS UBIGINT)") + " % 256"
        s"""WITH fps AS (
           |  SELECT doc_id, text, $fp AS hu FROM documents
           |), pp AS (
           |  SELECT doc_id, i, $pos AS pos
           |  FROM fps, (SELECT unnest(range(3)) AS i)
           |), bench_pos AS (
           |  SELECT DISTINCT pos FROM pp WHERE doc_id < 20
           |), flg AS (
           |  SELECT dp.doc_id, bool_and(bp.pos IS NOT NULL) AS flagged
           |  FROM (SELECT doc_id, pos FROM pp WHERE doc_id >= 20) dp
           |  LEFT JOIN bench_pos bp ON dp.pos = bp.pos
           |  GROUP BY dp.doc_id
           |), act AS (
           |  SELECT c.doc_id,
           |         EXISTS (SELECT 1 FROM documents b
           |                 WHERE b.doc_id < 20 AND b.text = c.text) AS actually_in
           |  FROM documents c WHERE c.doc_id >= 20
           |)
           |SELECT f.doc_id, f.flagged, a.actually_in
           |FROM flg f JOIN act a USING (doc_id)""".stripMargin
      },
      "bloom-filter membership pruning (deterministic bit set; flags incl. false positives oracle-reproduced)"),

    Q("q37_embed_neardup",
      (s, d) => {
        // the raw corpus has no pairs at cosine ≥ 0.85 (max ≈ 0.51), so
        // plant deterministic near-dups — perturbed float32 copies at
        // vec_id+100000 — exactly as the oracle does; the whole
        // pipeline (perturbation, hyperplane signatures, 16-bit band
        // buckets, exact cosine verify) is then checked cross-engine
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val planted = emb.select(
          (col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) +
              lit(0.02) * (pmod(i, lit(7)) - lit(3)).cast("double")))
              .cast("float")).as("embedding"))
        Dedup.embeddingNearDupPairs(emb.unionByName(planted), "embedding", "vec_id",
            minCosine = 0.85)
          .withColumn("cosine", round(col("cosine"), 6))
      },
      // The hyperplane weights are mix64-derived doubles and both the
      // sign-dot and the cosine accumulate sequentially, so DuckDB
      // replays the identical IEEE arithmetic: signature bits, band
      // buckets, candidate join, and exact cosine all match bit-for-bit
      // (ordered list_reduce sums — never SUM(), whose order is
      // unspecified).
      Some {
        val mixpi = OracleSql.mix64("(CAST(p AS UBIGINT) << 32) | CAST(i AS UBIGINT)")
        val w = s"CAST(${OracleSql.toSigned(mixpi)} AS DOUBLE) / 9223372036854775807.0"
        val baseCte =
          """base AS (
            |  SELECT vec_id, embedding FROM embeddings
            |  UNION ALL
            |  SELECT vec_id + 100000,
            |    [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + 0.02 * (((i-1) % 7) - 3)) AS FLOAT)
            |     FOR i IN range(1, len(embedding) + 1)]
            |  FROM embeddings
            |)""".stripMargin
        // the hyperplane dot folds (vec-local) residue-shard; the band
        // join and exact-cosine verify stay global. `pv` re-derives the
        // planted corpus outside the shards — a plain list cast, cheap
        OracleSql.residueSharded(
        s"""$baseCte, w AS (
           |  SELECT p, i, $w AS w
           |  FROM (SELECT unnest(range(64)) AS p), (SELECT unnest(range(64)) AS i)
           |), ex AS (
           |  SELECT vec_id, generate_subscripts(embedding, 1) AS gi,
           |         CAST(unnest(embedding) AS DOUBLE) AS x
           |  FROM base
           |), dots AS (
           |  SELECT vec_id, p,
           |         list_reduce(list_prepend(0.0, list(x * w.w ORDER BY gi)), (a, b) -> a + b) AS dot
           |  FROM ex JOIN w ON w.i = ex.gi - 1
           |  GROUP BY vec_id, p
           |), sig AS (
           |  SELECT vec_id,
           |         CAST(sum(CASE WHEN dot >= 0 THEN CAST(CAST(1 AS UBIGINT) << p AS HUGEINT)
           |                  ELSE 0 END) AS UBIGINT) AS sg
           |  FROM dots GROUP BY vec_id
           |)""".stripMargin,
        outCte = "sig",
        table = "embeddings", key = "vec_id",
        finalSql = s""", ${baseCte.replace("base AS (", "base2 AS (")}, bands AS (
           |  SELECT vec_id, b, (sg >> CAST(16*b AS UBIGINT)) & 65535 AS bk
           |  FROM sig, (SELECT unnest(range(4)) AS b)
           |), cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk AND a.vec_id < b.vec_id
           |), pv AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base2
           |), cosd AS (
           |  SELECT c.id_a, c.id_b,
           |    list_reduce(list_prepend(0.0, [va.v[i] * vb.v[i] FOR i IN range(1, len(va.v)+1)]), (a,b) -> a+b) AS dot,
           |    list_reduce(list_prepend(0.0, [va.v[i] * va.v[i] FOR i IN range(1, len(va.v)+1)]), (a,b) -> a+b) AS na,
           |    list_reduce(list_prepend(0.0, [vb.v[i] * vb.v[i] FOR i IN range(1, len(vb.v)+1)]), (a,b) -> a+b) AS nb
           |  FROM cand c JOIN pv va ON va.vec_id = c.id_a JOIN pv vb ON vb.vec_id = c.id_b
           |), cosv AS (
           |  SELECT id_a, id_b,
           |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cosine
           |  FROM cosd
           |)
           |SELECT id_a, id_b, round(cosine, 6) AS cosine
           |FROM cosv WHERE cosine >= 0.85""".stripMargin)
      },
      "embedding cosine near-dup via hyperplane LSH buckets (planted float32 near-dups; signatures + cosine oracle-recomputed in SQL)"),

    // ---------------------------------------------------------- similarity
    Q("q38_ann_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", k = 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             |CAST(rank AS BIGINT) AS rank FROM
             |(SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |  list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |    CAST(q.embedding AS DOUBLE[])) AS cosine,
             |  row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |      CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
             | FROM embeddings c, embeddings q WHERE q.vec_id < 8)
             |WHERE rank <= 5""".stripMargin),
      "brute-force cosine top-k ANN baseline (broadcast probe set)"),

    Q("q59_ivf_topk",
      (s, d) => {
        val emb = embeddings(s, d)
        // full probe (nProbe = nCentroids) makes IVF exact, so the
        // brute-force SQL oracle applies; partial-probe recall is
        // measured in IvfSpec
        Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 16)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             |CAST(rank AS BIGINT) AS rank FROM
             |(SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |  list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |    CAST(q.embedding AS DOUBLE[])) AS cosine,
             |  row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |      CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
             | FROM embeddings c, embeddings q WHERE q.vec_id < 8)
             |WHERE rank <= 5""".stripMargin),
      "IVF coarse-quantizer ANN (spherical k-means cells; full probe ⇒ exact oracle)"),

    Q("q86_label_centroids",
      (s, d) => Similarity.labelCentroids(embeddings(s, d), "label", "embedding")
        // round(3): float sums accumulate in unspecified order on both
        // engines; the ~1e-13 relative double noise is 10 orders below
        // the rounding granularity
        // + 0.0 normalizes IEEE −0.0 (round of a tiny negative mean) to
        // +0.0 — engines render signed zero differently in text
        .select(col("label").cast("long").as("label"), col("dim"),
          (round(col("centroid"), 3) + lit(0.0)).as("centroid")),
      Some("""SELECT CAST(label AS BIGINT) AS label, dim, round(avg(x), 3) + 0.0 AS centroid
             |FROM (
             |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
             |         CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings)
             |GROUP BY 1, 2""".stripMargin),
      "per-label embedding centroids (prototype vectors; bounded (label×dim) agg state)"),

    Q("q87_retention",
      (s, d) => {
        // cohort retention: users grouped by first-activity day; count
        // distinct active users per (cohort_day, days_since). Exact
        // integer outputs — the standard product-analytics rollup.
        val firstDay = events(s, d).groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("cohort_day"))
        events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
          .join(firstDay, Seq("user_id"))
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("days_since"))
          .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
      },
      Some("""WITH fd AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
             |  FROM events GROUP BY user_id
             |), act AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
             |)
             |SELECT fd.cohort_day,
             |       CAST(date_diff('day', fd.cohort_day, act.day) AS BIGINT) AS days_since,
             |       CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
             |FROM act JOIN fd USING (user_id)
             |GROUP BY 1, 2""".stripMargin),
      "cohort retention rollup (first-activity cohorts × days-since, exact counts)"),

    // ---------------------------------------------------------- text
    Q("q39_text_stats",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextFunctions.charsPerToken(col("text")), 4).as("chars_per_token"),
        round(TextFunctions.meanTokenLength(col("text")), 4).as("mean_token_len")),
      // the tk filter matches the kernel's 0 on empty/whitespace-only
      // text (the q198 edge the round-12 advice flagged); on non-empty
      // trimmed text a \s+ split never yields empty tokens, so values
      // are unchanged where the corpus currently lives
      Some("""WITH tk AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |      t -> t <> '') AS tk
             |  FROM documents
             |)
             |SELECT doc_id,
             |CAST(len(tk) AS BIGINT) AS n_tokens,
             |round(CAST(length(text) AS DOUBLE) /
             |  greatest(len(tk), 1), 4) AS chars_per_token,
             |round(CAST(coalesce(list_sum(list_transform(tk,
             |  x -> length(x))), 0) AS DOUBLE) /
             |  greatest(len(tk), 1), 4) AS mean_token_len
             |FROM tk""".stripMargin),
      "token counting (whitespace), char/token stats"),

    Q("q65_subword_count",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords"),
        round(length(col("text")).cast("double") /
          greatest(TextFunctions.subwordCount(col("text")), lit(1)).cast("double"), 4)
          .as("chars_per_subword")),
      // the closed form of the boundary-regex split: alnum runs + every
      // non-space punctuation char (DuckDB RE2 has no lookarounds, so
      // the oracle counts both classes directly)
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
             |     len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
             |round(CAST(length(text) AS DOUBLE) /
             |  greatest(len(regexp_extract_all(text, '[A-Za-z0-9]+')) +
             |           len(regexp_extract_all(text, '[^A-Za-z0-9 ]')), 1), 4)
             |  AS chars_per_subword
             |FROM documents""".stripMargin),
      "BPE-ish subword counting (tokenizer-load proxy, single-pass kernel)"),

    Q("q69_tfidf_topterms",
      (s, d) => TfIdf.topTerms(documents(s, d), "doc_id", "text", k = 3)
        .withColumn("tf", col("tf").cast("long"))
        .withColumn("rank", col("rank").cast("long")),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '')) AS term
             |  FROM documents
             |), tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
             |), dfq AS (
             |  SELECT term, count(*) AS df FROM tf GROUP BY 1
             |), n AS (
             |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
             |), scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf,
             |         round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
             |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n
             |), r AS (
             |  SELECT *, row_number() OVER
             |    (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
             |  FROM scored
             |)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
             |       CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 3""".stripMargin),
      "TF-IDF top-3 characteristic terms per document"),

    Q("q76_text_clean",
      (s, d) => {
        // plant URLs deterministically so the cleaning verbs have work
        // to do on this corpus; both engines build the same input
        val withUrls = documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit(" see https://example.com/a and http://example.org/b?q=1 end"))
              .otherwise(lit(""))).as("t"))
        withUrls.select(col("doc_id"),
          TextFunctions.urlCount(col("t")).cast("long").as("n_urls"),
          length(TextFunctions.normalizeWhitespace(
            TextFunctions.stripUrls(col("t")))).cast("long").as("clean_len"),
          length(TextFunctions.stripControlChars(col("t"))).cast("long").as("no_ctrl_len"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
             |    THEN ' see https://example.com/a and http://example.org/b?q=1 end'
             |    ELSE '' END AS t
             |  FROM documents
             |)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, 'https?://\S+')) AS BIGINT) AS n_urls,
             |  CAST(length(trim(regexp_replace(
             |    regexp_replace(t, 'https?://\S+', '', 'g'), '\s+', ' ', 'g')))
             |    AS BIGINT) AS clean_len,
             |  CAST(length(regexp_replace(t,
             |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS no_ctrl_len
             |FROM t""".stripMargin),
      "C4-style text cleaning (URL strip/count, whitespace normalize, control chars)"),

    Q("q77_repetition",
      (s, d) => documents(s, d).select(col("doc_id"),
        round(TextFunctions.repeatedNgramFraction(col("text"), 2), 6).as("rep2"),
        round(TextFunctions.repeatedNgramFraction(col("text"), 3), 6).as("rep3"),
        round(TextFunctions.topTokenShare(col("text")), 6).as("top_tok_share")),
      // distinct-over-total positional k-grams and max-token share,
      // recomputed string-side with DuckDB list comprehensions (hash
      // distinct = string distinct, collision-free at this scale)
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), base AS (
             |  SELECT doc_id, tk, len(tk) AS n FROM toks
             |), reps AS (
             |  SELECT doc_id, n,
             |    CASE WHEN n = 0 THEN 0.0 ELSE
             |      (greatest(n - 1, 1) - len(list_distinct(
             |        [array_to_string(tk[i:i+1], ' ')
             |         FOR i IN range(1, greatest(n - 1, 1) + 1)])))
             |      / CAST(greatest(n - 1, 1) AS DOUBLE) END AS rep2,
             |    CASE WHEN n = 0 THEN 0.0 ELSE
             |      (greatest(n - 2, 1) - len(list_distinct(
             |        [array_to_string(tk[i:i+2], ' ')
             |         FOR i IN range(1, greatest(n - 2, 1) + 1)])))
             |      / CAST(greatest(n - 2, 1) AS DOUBLE) END AS rep3
             |  FROM base
             |), tf AS (
             |  SELECT doc_id, t, count(*) AS c
             |  FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY doc_id, t
             |), tts AS (
             |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS s
             |  FROM tf GROUP BY doc_id
             |)
             |SELECT r.doc_id, round(r.rep2, 6) AS rep2, round(r.rep3, 6) AS rep3,
             |       round(tts.s, 6) AS top_tok_share
             |FROM reps r JOIN tts USING (doc_id)""".stripMargin),
      "within-document repetition gates (Gopher-style duplicate k-gram fraction + top-token share)"),

    Q("q78_pii_redact",
      (s, d) => {
        // plant PII deterministically (the corpus has none), same
        // construction in the oracle: counts on the planted original,
        // redaction length after email → IP → phone replacement
        val planted = documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit(" contact bob.smith+x@example-mail.com now"))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              lit(" server at 192.168.1.77 port"))
            .when(pmod(col("doc_id"), lit(4)) === 2,
              lit(" call +1-555-0142 today"))
            .otherwise(lit(""))).as("t"))
        planted.select(col("doc_id"),
          TextFunctions.emailCount(col("t")).cast("long").as("n_emails"),
          TextFunctions.ipv4Count(col("t")).cast("long").as("n_ips"),
          TextFunctions.phoneCount(col("t")).cast("long").as("n_phones"),
          length(TextFunctions.redactPii(col("t"))).cast("long").as("redacted_len"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text || CASE
             |    WHEN doc_id % 4 = 0 THEN ' contact bob.smith+x@example-mail.com now'
             |    WHEN doc_id % 4 = 1 THEN ' server at 192.168.1.77 port'
             |    WHEN doc_id % 4 = 2 THEN ' call +1-555-0142 today'
             |    ELSE '' END AS t
             |  FROM documents
             |)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
             |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
             |FROM t""".stripMargin),
      "PII scrub (email/IPv4/phone detection + placeholder redaction, cross-dialect regexes)"),

    Q("q40_text_quality",
      (s, d) => documents(s, d).select(
        col("doc_id"),
        round(TextFunctions.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        round(TextFunctions.punctRatio(col("text")), 4).as("punct_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality")),
      Some(s"""WITH t AS (SELECT doc_id, text,
             |  string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
             |m AS (SELECT doc_id,
             |  CAST(len(list_filter(toks, x -> list_contains(
             |    [${TextFunctions.Stopwords.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) /
             |    greatest(len(toks), 1) AS stopword_ratio,
             |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
             |    AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
             |  CAST(len(toks) AS DOUBLE) AS n FROM t)
             |SELECT doc_id, round(stopword_ratio, 4) AS stopword_ratio,
             |  round(punct_ratio, 4) AS punct_ratio,
             |  round((least(n / 50, 1) + (1 - least(punct_ratio * 4, 1)) +
             |    least(stopword_ratio * 5, 1)) / 3, 4) AS quality
             |FROM m""".stripMargin),
      "quality scoring (length/punct/stopword heuristics)"),

    Q("q41_langid",
      (s, d) => documents(s, d).select(
        col("doc_id"), TextFunctions.langIdCol(col("text")).as("lang_pred")),
      Some {
        val profiles = TextFunctions.LangProfiles.toSeq.sortBy(_._1)
        val scoreExprs = profiles.map { case (lang, grams) =>
          val hits = grams.map(g => s"CAST(contains(t, '$g') AS INT)").mkString(" + ")
          s"($hits) AS s_$lang"
        }.mkString(", ")
        s"""WITH sc AS (SELECT doc_id, $scoreExprs
           |  FROM (SELECT doc_id, lower(text) AS t FROM documents))
           |SELECT doc_id, CASE
           |  WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
           |  WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
           |  WHEN s_en >= s_de AND s_en > 0 THEN 'en'
           |  WHEN s_de > 0 THEN 'de'
           |  ELSE 'und' END AS lang_pred
           |FROM sc""".stripMargin
      },
      "language-ID (n-gram profile heuristic)"),

    // ---------------------------------------------------- sources/sinks
    Q("q43_to_json",
      (s, d) => nation(s, d).select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        to_json(struct(col("n_name").as("name"),
          col("n_regionkey").cast("long").as("region"))).as("doc")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             |to_json(struct_pack(name := n_name, region := CAST(n_regionkey AS BIGINT))) AS doc
             |FROM nation""".stripMargin),
      "A4 (row-wise struct → JSON document)"),

    Q("q44_csv_scan_survey",
      (s, _) => graft.io.Sources.surveyCsv(s, portalFile(Survey4))
        .select(col("prog_name").as("name"), col("resp_email").as("contact_email"),
          col("duration_start_year").as("start_year")),
      portalOracle(Survey4)(p =>
        s"""SELECT prog_name AS name, resp_email AS contact_email,
           |duration_start_year AS start_year
           |FROM read_csv($p,
           |  header = true, all_varchar = true, nullstr = ['', 'NA'])""".stripMargin),
      "S1,S2,C1 (survey CSV scan of the portal sample: multiline-quoted and \"\"-escaped fields, NA and empty as null; oracle reads the same file)"),

    Q("q45_tsv_scan",
      (s, _) => graft.io.Sources.tsv(s, portalFile(BasqueTsv))
        .select(col("x").cast("double").as("x"), col("y").cast("double").as("y")),
      // nullstr: Sources.tsv reads NA (and empty) as null before the cast
      portalOracle(BasqueTsv)(p =>
        s"""SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
           |FROM read_csv($p,
           |  header = true, delim = '\\t', all_varchar = true, nullstr = ['', 'NA'])""".stripMargin),
      "S6 (TSV scan of the portal sample, an NA coordinate; oracle reads the same file)"),

    Q("q46_csv_scan_links",
      (s, _) => graft.io.Sources.csv(s, portalFile(LayerEovs))
        .groupBy(col("short_name"))
        .agg(count(lit(1)).as("n_links")),
      // explicit dialect: DuckDB's sniffer loses the header on a file
      // ending in the partial line `207`; null_padding reads that line
      // as Spark's PERMISSIVE mode does (missing fields null)
      portalOracle(LayerEovs)(p =>
        s"""SELECT short_name, count(*) AS n_links
           |FROM read_csv($p,
           |  header = true, delim = ',', quote = '"', escape = '"', null_padding = true,
           |  all_varchar = true, nullstr = ['', 'NA'])
           |GROUP BY short_name""".stripMargin),
      "S12 (DB-backup CSV scan of the portal sample, a partial last line + link aggregation; oracle reads the same file)"),

    Q("q47_dedup_keep_first",
      (s, d) => Dedup.exactDedup(documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("n_chars")),
      Some("""SELECT doc_id, n_chars FROM
             |(SELECT doc_id, n_chars, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             | FROM documents) WHERE rn = 1""".stripMargin),
      "exact dedup keep-lowest-id (hash-first shuffle)"),

    // ------------------------------------------------------- multimodal
    Q("q48_image_meta",
      (s, d) => Multimodal.decodeImages(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateImageCol(col("doc_id")).as("content")),
          "doc_id", "content")
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_bytes")),
      // the oracle recomputes the metadata arithmetically, so the
      // binary encode → mapPartitions decode loop is independently
      // checked end-to-end
      Some("""SELECT doc_id, CAST(16 + doc_id % 48 AS BIGINT) AS width,
             |CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height,
             |CAST((16 + doc_id % 48) * (16 + (doc_id * 7) % 48) AS BIGINT) AS n_bytes
             |FROM documents""".stripMargin),
      "multimodal: binary image column decode + typed metadata (partition-batched, stub codec)"),

    Q("q49_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateVideoCol(col("doc_id")).as("content")),
          "doc_id", "content", everyN = 4)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("frame_idx")).cast("long").as("first_idx")),
      Some("""SELECT doc_id, CAST((doc_id % 24) // 4 + 1 AS BIGINT) AS n_sampled,
             |CAST(0 AS BIGINT) AS first_idx
             |FROM documents""".stripMargin),
      "multimodal: video frame sampling → per-frame rows (explode shape)"),

    Q("q72_audio_windows",
      (s, d) => Multimodal.audioWindows(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateAudioCol(col("doc_id")).as("content")),
          "doc_id", "content", windowSamples = 512)
        .groupBy(col("id").as("doc_id"))
        .agg(first(col("sample_rate")).cast("long").as("sample_rate"),
          count(lit(1)).as("n_windows"),
          sum(col("n_samples")).as("total_samples")),
      // header fields and window structure are arithmetic functions of
      // the seed, so the oracle checks the encode → windowed-explode
      // loop end-to-end (like q48/q49); window energies are payload-
      // derived and covered by MultimodalSpec instead
      Some("""SELECT doc_id,
             |CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
             |CAST(((1000 + (doc_id * 11) % 3000) + 511) // 512 AS BIGINT) AS n_windows,
             |CAST(1000 + (doc_id * 11) % 3000 AS BIGINT) AS total_samples
             |FROM documents""".stripMargin),
      "multimodal: audio binary → windowed feature rows (explode shape, stub codec)"),

    Q("q50_binary_embed_topk",
      (s, d) => {
        val imgs = documents(s, d).select(col("doc_id"),
          Multimodal.fabricateImageCol(col("doc_id")).as("content"))
        val emb = Multimodal.embedBinary(imgs, "doc_id", "content", dim = 16)
        Similarity.cosineTopK(emb, emb.filter(col("id") < 4), "id", "embedding",
            "id", "embedding", k = 3)
          .withColumn("rank", col("rank").cast("long"))
          .withColumn("cosine", round(col("cosine"), 4))
      },
      // The stub container and encoder are deterministic arithmetic
      // (mix64 payload bytes, float32 fold into 16 dims, unit-norm), so
      // DuckDB rebuilds every byte and every float32 accumulation step
      // (ordered list_reduce with explicit FLOAT casts — DuckDB FLOAT
      // ops stay in float32, matching JVM strictfp) and replays the
      // brute-force top-k. Note round(round(x,6),4): topKPerQuery
      // rounds to 6 before this query's round to 4 — the oracle must
      // double-round the same way.
      Some {
        val payByte = OracleSql.mix64("CAST(doc_id * 1048576 + j AS UBIGINT)")
        s"""WITH docs AS (
           |  SELECT doc_id, 16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 48 AS h
           |  FROM documents
           |), hdr AS (
           |  SELECT doc_id, i,
           |    CASE i WHEN 0 THEN 71 WHEN 1 THEN 73 WHEN 2 THEN 77 WHEN 3 THEN 71
           |           WHEN 4 THEN 0 WHEN 5 THEN 0 WHEN 6 THEN 0 WHEN 7 THEN w
           |           WHEN 8 THEN 0 WHEN 9 THEN 0 WHEN 10 THEN 0 ELSE h END AS b
           |  FROM docs, (SELECT unnest(range(12)) AS i)
           |), pay AS (
           |  SELECT doc_id, 12 + j AS i,
           |    CAST($payByte & 255 AS BIGINT) AS b
           |  FROM docs, (SELECT unnest(range(4096)) AS j) WHERE j < w * h
           |), allb AS (
           |  SELECT doc_id, i, b FROM hdr UNION ALL SELECT doc_id, i, b FROM pay
           |), terms AS (
           |  SELECT doc_id, i % 16 AS d, i,
           |    CAST(CAST(b AS FLOAT) / CAST(255.0 AS FLOAT) - CAST(0.5 AS FLOAT) AS FLOAT) AS t
           |  FROM allb
           |), acc AS (
           |  SELECT doc_id, d,
           |    list_reduce(list_prepend(CAST(0.0 AS FLOAT), list(t ORDER BY i)),
           |                (a, b) -> CAST(a + b AS FLOAT)) AS v
           |  FROM terms GROUP BY doc_id, d
           |), vecs AS (
           |  SELECT doc_id, list(v ORDER BY d) AS v FROM acc GROUP BY doc_id
           |), normd AS (
           |  SELECT doc_id, v,
           |    CAST(sqrt(list_reduce(list_prepend(0.0, list_transform(v,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS FLOAT) AS nrm
           |  FROM vecs
           |), pv AS (
           |  SELECT doc_id, list_transform(
           |    CASE WHEN nrm = 0 THEN v
           |         ELSE list_transform(v, x -> CAST(x / nrm AS FLOAT)) END,
           |    x -> CAST(x AS DOUBLE)) AS v
           |  FROM normd
           |), scored AS (
           |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
           |    list_reduce(list_prepend(0.0, [c.v[i] * q.v[i] FOR i IN range(1, len(c.v)+1)]), (a,b) -> a+b) /
           |    (sqrt(list_reduce(list_prepend(0.0, [c.v[i] * c.v[i] FOR i IN range(1, len(c.v)+1)]), (a,b) -> a+b)) *
           |     sqrt(list_reduce(list_prepend(0.0, [q.v[i] * q.v[i] FOR i IN range(1, len(q.v)+1)]), (a,b) -> a+b))) AS cosine
           |  FROM pv c, pv q WHERE q.doc_id < 4
           |), r AS (
           |  SELECT query_id, neighbor_id, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
           |  FROM scored
           |)
           |SELECT query_id, neighbor_id, round(round(cosine, 6), 4) AS cosine,
           |       CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 3""".stripMargin
      },
      "multimodal: binary → embedding → cosine top-k (stub encoder oracle-recomputed byte-for-byte in SQL)"),

    Q("q60_stats_agg",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_covar"),
          round(stddev_samp(col("l_extendedprice")), 4).as("price_sd"),
          // Spark's skewness is the population statistic g1 = m3/m2^1.5;
          // the oracle (and R/pandas) report the bias-corrected sample
          // statistic G1 = g1 * sqrt(n(n-1))/(n-2) — apply the correction
          // here so both engines compute the same number.
          round(skewness(col("l_quantity")) *
            sqrt(count(col("l_quantity")) * (count(col("l_quantity")) - 1)) /
            (count(col("l_quantity")) - 2), 6).as("qty_skew")),
      Some("""SELECT l_returnflag,
             |round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
             |round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
             |round(stddev_samp(l_extendedprice), 4) AS price_sd,
             |round(skewness(l_quantity), 6) AS qty_skew
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "statistical aggregates (corr / covar / stddev / skewness, partial+final)"),

    Q("q75_key_skew",
      (s, d) => SkewJoin.keySkewReport(lineitem(s, d), "l_suppkey", topN = 10)
        .select(col("l_suppkey"), col("n_rows"), round(col("share"), 6).as("share")),
      Some("""SELECT l_suppkey, count(*) AS n_rows,
             |round(count(*) / CAST((SELECT count(*) FROM lineitem) AS DOUBLE), 6) AS share
             |FROM lineitem GROUP BY l_suppkey
             |ORDER BY n_rows DESC, l_suppkey LIMIT 10""".stripMargin),
      "join-key skew diagnosis (heavy-hitter report feeding the salted join)"),

    Q("q73_profile",
      (s, d) => Profile.profile(lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""SELECT 'l_quantity' AS col_name, count(l_quantity) AS n,
             |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
             |  CAST(min(l_quantity) AS DOUBLE) AS min, CAST(max(l_quantity) AS DOUBLE) AS max,
             |  round(avg(l_quantity), 6) AS mean FROM lineitem
             |UNION ALL
             |SELECT 'l_extendedprice', count(l_extendedprice),
             |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
             |  round(avg(l_extendedprice), 6) FROM lineitem
             |UNION ALL
             |SELECT 'l_discount', count(l_discount),
             |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE),
             |  round(avg(l_discount), 6) FROM lineitem""".stripMargin),
      "column profiling: one-pass multi-column summary in long format"),

    Q("q61_date_arith",
      (s, d) => orders(s, d).select(
        col("o_orderkey"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(to_date(lit("2000-01-01")), col("o_orderdate"))
          .cast("long").as("days_to_2000"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        add_months(col("o_orderdate"), 3).as("plus_quarter")),
      Some("""SELECT o_orderkey,
             |CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
             |last_day(o_orderdate) AS month_end,
             |CAST(date_diff('day', o_orderdate, DATE '2000-01-01') AS BIGINT) AS days_to_2000,
             |CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             |o_orderdate + INTERVAL 3 MONTH AS plus_quarter
             |FROM orders""".stripMargin),
      "date arithmetic suite (trunc/last_day/diff/dow/add_months)"),

    Q("q62_kmv_distinct",
      (s, d) => {
        // the sketch and the exact count run as SEPARATE aggregations:
        // a countDistinct in the same agg() would make Spark partial-
        // aggregate every other aggregate per (group, DISTINCT value) —
        // one 2 KB KMV buffer per distinct customer instead of per
        // group. Two scans of a 2-column projection are far cheaper.
        val o = orders(s, d)
        val est = o.groupBy(col("o_orderpriority"))
          .agg(round(Sketches.kmvDistinct(col("o_custkey"), k = 256), 4)
            .as("est_custs"))
        val exact = o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).cast("long").as("exact_custs"))
        est.join(exact, Seq("o_orderpriority"))
      },
      // The sketch hash is the arithmetic splitmix64 mixer, so DuckDB
      // re-derives the whole estimate from first principles: hash every
      // customer key, take the k smallest signed hashes per group, and
      // apply the same (k−1)/normalized-kth-min estimator — a full
      // cross-engine check of the KMV value itself, not just a bound.
      Some {
        val h = OracleSql.mix64Signed("o_custkey")
        s"""WITH hs AS (
           |  SELECT DISTINCT o_orderpriority, $h AS h FROM orders
           |), r AS (
           |  SELECT o_orderpriority, h,
           |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn,
           |         count(*) OVER (PARTITION BY o_orderpriority) AS nd
           |  FROM hs
           |), est AS (
           |  SELECT o_orderpriority,
           |         round(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
           |           ELSE 255.0 / ((CAST(h AS DOUBLE) - (-9223372036854775808.0)) /
           |                         (9223372036854775807.0 - (-9223372036854775808.0)))
           |           END, 4) AS est_custs
           |  FROM r WHERE rn = least(nd, 256)
           |)
           |SELECT e.o_orderpriority, e.est_custs,
           |       CAST(x.exact_custs AS BIGINT) AS exact_custs
           |FROM est e JOIN (
           |  SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_custs
           |  FROM orders GROUP BY o_orderpriority) x USING (o_orderpriority)""".stripMargin
      },
      "KMV distinct-count sketch (mergeable k-minimum-values Aggregator; estimate oracle-recomputed in SQL)"),

    Q("q79_heavy_hitters",
      (s, d) => {
        // corpus-wide top-10 tokens via Misra–Gries. Capacity 4096
        // exceeds the distinct-token count of every verify corpus
        // (sf0.01 = 31; the r17 Unicode twin's glue-planting mints
        // ~566), so the sketch is provably exact here and the oracle
        // checks true frequencies; the sub-capacity error bound
        // (n/capacity) is unit-tested in SketchesSpec for the general
        // case.
        //
        // This query is ALSO the representative closure of the DuckDB
        // simple-vs-JVM-full case-mapping boundary (r17 verdict #5):
        // its oracle pre-folds the two divergent mappings into the
        // text before lower() — U+0130 İ → i + U+0307 (JVM's full
        // mapping; DuckDB's simple map gives bare 'i') and word-final
        // Σ → ς (preceded by a letter, not followed by one — the
        // \p{L} approximation of the JVM's cased-context rule, exact
        // on the planted corpora). Both replacements are no-ops on
        // text without İ/Σ, so every other corpus hashes unchanged;
        // on the dedicated case twin (`tools/unicode_corpus.py
        // <src> <dst> case`) this oracle replays GREEN where the other
        // text oracles would diverge — which is why İ / word-final Σ
        // stay excluded from the corpus-wide planting (unicode_corpus
        // default mode) and the boundary is pinned here
        // per-query instead. FunctionsSpec pins the Spark side of the
        // same tokens.
        val toks = documents(s, d).select(
            explode(split(lower(trim(col("text"))), graft.plans.Kernels.WsRun)).as("term"))
          .filter(length(col("term")) > 0)
        Sketches.heavyHitters(toks, "term", capacity = 4096, topN = 10)
      },
      Some(s"""SELECT term, count(*) AS est_count,
             |CAST(row_number() OVER (ORDER BY count(*) DESC, term ASC) AS BIGINT) AS rank
             |FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(
             |          ${OracleSql.caseFold("text")})), '\\s+'),
             |        t -> t <> '')) AS term FROM documents)
             |GROUP BY term ORDER BY rank LIMIT 10""".stripMargin),
      "Misra–Gries heavy hitters (mergeable bounded-counter sketch; exact above capacity ⇒ oracle-checked)"),

    Q("q66_hll_distinct",
      (s, d) => {
        // HLL (approx_count_distinct) is the built-in mergeable sketch
        // beside the KMV Aggregator (q62); like q63, the oracle checks
        // the error bound cross-engine rather than the estimate itself
        // (each engine's sketch differs). Separate aggregations joined
        // on the group key — same q62 rationale: countDistinct in the
        // same agg() would partial-aggregate the sketch per distinct
        // value.
        val o = orders(s, d)
        val est = o.groupBy(col("o_orderpriority"))
          .agg(approx_count_distinct(col("o_custkey"), 0.02).as("_est"))
        val exact = o.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).cast("long").as("_exact"))
        est.join(exact, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("_exact").as("exact_custs"),
            (abs(col("_est") - col("_exact")).cast("double") / col("_exact") <= 0.06)
              .as("within_bound"))
      },
      Some("""SELECT o_orderpriority,
             |CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
             |TRUE AS within_bound
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
      "HLL distinct sketch (approx_count_distinct; rsd bound oracle-checked vs exact)"),

    Q("q68_resample_ffill",
      (s, d) => {
        // hourly forward-filled grid per user; observations pre-averaged
        // per (user, ts) so the as-of carry is tie-free — the oracle is
        // DuckDB's native ASOF LEFT JOIN over generate_series
        val e = events(s, d).groupBy(col("user_id"), col("ts"))
          .agg(avg(col("value")).as("v"))
        // hour-snapped origin: grid points sit on calendar hours, so
        // the two engines' 1μs parquet-timestamp rounding difference
        // (Spark rounds nanos, DuckDB truncates) cannot shift the grid.
        // Gap-emit formulation (round 13): value-identical to the
        // grid-asof forwardFill but the key-partitioned sort runs over
        // events only — measured 100× 35.8 → 12.5 s (ABResample,
        // digest-checked identical on all 104.9M rows)
        Resample.forwardFillGaps(e, Seq("user_id"), "ts", Seq("v"),
            snapOriginTo = Some("hour"))
          .select(col("user_id"), col("grid_ts"), round(col("v"), 6).as("v"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, avg(value) AS v FROM events GROUP BY user_id, ts
             |), b AS (
             |  SELECT user_id, date_trunc('hour', min(ts)) AS lo, max(ts) AS hi
             |  FROM e GROUP BY user_id
             |), g AS (
             |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS grid_ts
             |  FROM b
             |)
             |SELECT g.user_id, g.grid_ts, round(e.v, 6) AS v
             |FROM g ASOF LEFT JOIN e
             |  ON g.user_id = e.user_id AND e.ts <= g.grid_ts""".stripMargin),
      "time-series resample + forward fill (grid explode ∘ as-of join)"),

    Q("q67_stratified_sample",
      (s, d) => {
        // deterministic per-stratum downsampling (corpus curation);
        // like q63/q66 the oracle bound-checks the realized rates
        // against the exact stratum counts — the sample itself is
        // hash-deterministic, so the realized deviation is a fixed
        // property of the data. Bound: max(0.03, 3σ binomial) — the
        // fixed 0.03 governs at sf ≥ 0.01, the 3σ term keeps tiny
        // strata (sf0.001: ~300 rows) from flagging ordinary
        // hash-sampling variance
        val o = orders(s, d)
        val sampled = Sampling.stratifiedHashSample(o, col("o_orderkey"),
          col("o_orderpriority"), Map("1-URGENT" -> 0.1, "5-LOW" -> 0.5),
          default = 0.25)
        val totals = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("_n"))
        val kept = sampled.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("_k"))
        val target = when(col("o_orderpriority") === "1-URGENT", 0.1)
          .when(col("o_orderpriority") === "5-LOW", 0.5)
          .otherwise(0.25)
        val bound = greatest(lit(0.03),
          lit(3.0) * sqrt(target * (lit(1.0) - target) / col("_n")))
        totals.join(kept, Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("_n").as("n_total"),
            (abs(col("_k").cast("double") / col("_n") - target) <= bound)
              .as("rate_in_bound"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_total, TRUE AS rate_in_bound
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
      "deterministic stratified hash-sampling (corpus curation; rates bound-checked)"),

    Q("q85_token_shards",
      (s, d) => Sampling.tokenShards(documents(s, d), "doc_id", "text",
          tokensPerShard = 4000)
        .select(col("doc_id"), col("n_tokens"), col("shard_id")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
             |      AS BIGINT) AS n_tokens
             |  FROM documents
             |), b AS (
             |  SELECT doc_id, n_tokens,
             |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |  FROM t
             |)
             |SELECT doc_id, n_tokens, CAST(before // 4000 AS BIGINT) AS shard_id
             |FROM b""".stripMargin),
      "token-budget sharding (scalable prefix-sum: per-partition sums + driver-folded offsets)"),

    Q("q58_range_join",
      (s, d) => {
        // customers matched to same-nation suppliers whose
        // [acctbal, acctbal+500] interval contains the customer balance
        val pts = customer(s, d).select(
          col("c_custkey"), col("c_nationkey").as("nk"), col("c_acctbal"))
        val ivs = supplier(s, d).select(
          col("s_suppkey"), col("s_nationkey").as("nk"),
          col("s_acctbal").as("lo"), (col("s_acctbal") + 500.0).as("hi"))
        RangeJoin.bucketedRangeJoin(pts, ivs, Seq("nk"), "c_acctbal",
            "lo", "hi", bucketWidth = 500.0)
          .select(col("c_custkey"), col("s_suppkey"),
            col("nk").cast("long").as("nk"))
      },
      Some("""SELECT c_custkey, s_suppkey, CAST(c_nationkey AS BIGINT) AS nk
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |AND c_acctbal BETWEEN s_acctbal AND s_acctbal + 500.0""".stripMargin),
      "bucketized range join (interval containment; oracle is the plain inequality join)"),

    Q("q53_percentiles",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        // one counts-map pass serves both price percentiles
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))").as("_ps"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("qty_p25"))
        .select(col("l_returnflag"),
          round(element_at(col("_ps"), 1), 4).as("p50"),
          round(element_at(col("_ps"), 2), 4).as("p95"),
          col("qty_p25")),
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
             |round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "exact percentiles (sort-based aggregate, linear interpolation both engines)"),

    Q("q63_approx_percentile",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        // the scale path: percentile_approx's sketch state is O(accuracy),
        // not O(distinct values) like exact `percentile`'s counts-map —
        // the variant that survives a continuous 100-TB column. The exact
        // aggregate here is only the tolerance reference for the oracle
        // check (rank error ≤ n/(2·accuracy) ⇒ well inside 1% in value);
        // its cross-engine correctness is itself established by q53.
        .agg(
          count(lit(1)).as("n"),
          // accuracy 2500 bounds rank error to n/(2·2500) = 0.02% of
          // rows at sf0.1 — far inside the 1% value bound below, at a
          // quarter of the sketch state and merge cost of 10000
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(2500)).as("_a"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("_e"))
        .select(col("l_returnflag"), col("n"),
          (abs(element_at(col("_a"), 1) - element_at(col("_e"), 1)) /
            element_at(col("_e"), 1) <= 0.01).as("p50_in_bound"),
          (abs(element_at(col("_a"), 2) - element_at(col("_e"), 2)) /
            element_at(col("_e"), 2) <= 0.01).as("p95_in_bound")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |TRUE AS p50_in_bound, TRUE AS p95_in_bound
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "bounded-memory approx percentile (the q53 scale path; error bound oracle-checked)"),

    Q("q54_rollup",
      (s, d) => customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          grouping(col("r_name")).cast("long").as("g_r"),
          grouping(col("n_name")).cast("long").as("g_n")),
      Some("""SELECT r_name, n_name, count(*) AS n_cust,
             |CAST(grouping(r_name) AS BIGINT) AS g_r,
             |CAST(grouping(n_name) AS BIGINT) AS g_n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),
      "rollup / grouping sets with GROUPING() disambiguation"),

    Q("q55_pivot",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P")),
      Some("""SELECT o_orderpriority,
             |CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
             |CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
             |CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
      "pivot (long → wide) with pinned column set"),

    Q("q56_set_ops",
      (s, d) => {
        val auto = customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_nationkey").cast("long").as("k"))
        val bld = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_nationkey").cast("long").as("k"))
        auto.intersect(bld).withColumn("op", lit("both"))
          .unionByName(auto.except(bld).withColumn("op", lit("auto_only")))
      },
      Some("""SELECT k, 'both' AS op FROM
             |(SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             | INTERSECT
             | SELECT CAST(c_nationkey AS BIGINT) FROM customer WHERE c_mktsegment = 'BUILDING')
             |UNION ALL
             |SELECT k, 'auto_only' AS op FROM
             |(SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             | EXCEPT
             | SELECT CAST(c_nationkey AS BIGINT) FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin),
      "INTERSECT / EXCEPT set operations"),

    Q("q57_window_suite",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          first(col("o_orderkey")).over(w).as("first_order"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |lead(o_orderkey, 1) OVER w AS next_order,
             |lag(o_orderkey, 1) OVER w AS prev_order,
             |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |round(percent_rank() OVER w, 6) AS pct_rank,
             |first_value(o_orderkey) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
      "window-function suite (lead/lag/ntile/percent_rank/first_value, one shared frame)"),

    Q("q52_asof_join",
      (s, d) => {
        // for each click, the most recent prior (or simultaneous) view
        // per user. Right side pre-deduped per (user, ts) so as-of tie
        // resolution is deterministic on both engines.
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts").as("view_ts"))
          .agg(max(col("event_id")).as("view_id"),
            round(max_by(col("value"), col("event_id")), 2).as("view_value"))
        AsofJoin.asofBackward(clicks, views, Seq("user_id"), "ts", "view_ts",
            Seq("view_id", "view_value"))
          .select(col("event_id"), col("user_id"), col("view_id"), col("view_value"))
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             |views AS (SELECT user_id, ts AS view_ts, max(event_id) AS view_id,
             |  round(arg_max(value, event_id), 2) AS view_value
             |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
             |SELECT c.event_id, c.user_id, v.view_id, v.view_value
             |FROM clicks c ASOF LEFT JOIN views v
             |ON c.user_id = v.user_id AND c.ts >= v.view_ts""".stripMargin),
      "as-of backward join (union + running last; oracle is DuckDB's native ASOF JOIN)"),

    Q("q83_funnel",
      (s, d) => {
        // view→click conversion per user: a view converts when SOME
        // click follows it within 30 minutes. next-click-ts is a
        // suffix-min window over clicks only — one shuffle, no
        // view×click product
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        events(s, d)
          .withColumn("_next_click",
            min(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "view")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_views"),
            sum(when(col("_next_click").isNotNull &&
              col("_next_click").cast("double") - col("ts").cast("double") <= 1800,
              1L).otherwise(0L)).as("n_converted"))
      },
      Some("""SELECT user_id, count(*) AS n_views,
             |CAST(sum(CASE WHEN next_click IS NOT NULL
             |  AND epoch(next_click) - epoch(ts) <= 1800 THEN 1 ELSE 0 END) AS BIGINT)
             |  AS n_converted
             |FROM (
             |  SELECT user_id, ts, event_type,
             |    min(CASE WHEN event_type = 'click' THEN ts END) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id
             |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click
             |  FROM events)
             |WHERE event_type = 'view' GROUP BY user_id""".stripMargin),
      "funnel conversion (view→click within window via suffix-min, no event product)"),

    Q("q84_asof_forward",
      (s, d) => {
        // for each view, the NEXT click at-or-after it per user —
        // the forward twin of q52; right side pre-deduped per
        // (user, ts) so tie resolution is deterministic
        val ev = events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_id"),
            round(max_by(col("value"), col("event_id")), 2).as("click_value"))
        AsofJoin.asofForward(views, clicks, Seq("user_id"), "ts", "click_ts",
            Seq("click_id", "click_value"))
          .select(col("event_id"), col("user_id"), col("click_id"), col("click_value"))
      },
      Some("""WITH views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
             |clicks AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id,
             |  round(arg_max(value, event_id), 2) AS click_value
             |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT v.event_id, v.user_id, c.click_id, c.click_value
             |FROM views v ASOF LEFT JOIN clicks c
             |ON v.user_id = c.user_id AND v.ts <= c.click_ts""".stripMargin),
      "as-of forward join (next event at-or-after; oracle is DuckDB's native ASOF with <=)"),

    Q("q51_corpus_clean",
      (s, d) => {
        // the composed training-corpus cleaning pipeline: quality gate →
        // language gate → exact dedup (hash-first) → fingerprint, one
        // lazy DAG — each stage is individually oracle-checked by
        // q40/q41/q47/q42; this query checks their composition
        val toks = split(lower(trim(col("text"))), graft.plans.Kernels.WsRun)
        val tokVals = transform(toks,
          x => (length(x).cast("long") * 7 + ascii(x).cast("long")))
        val scored = documents(s, d).select(col("doc_id"), col("text"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.langIdCol(col("text")).as("lang"))
        val kept = scored.filter(col("quality") >= 0.7 &&
          col("lang").isin("fr", "en"))
        Dedup.exactDedup(kept, "text", "doc_id")
          .select(col("doc_id"), col("quality"), col("lang"),
            aggregate(tokVals, lit(0L),
              (acc, v) => pmod(acc * 31 + v, lit(1000000007L))).as("fingerprint"))
      },
      Some {
        val profiles = TextFunctions.LangProfiles.toSeq.sortBy(_._1)
        val scoreExprs = profiles.map { case (lang, grams) =>
          val hits = grams.map(g => s"CAST(contains(lt, '$g') AS INT)").mkString(" + ")
          s"($hits) AS s_$lang"
        }.mkString(", ")
        s"""WITH t AS (SELECT doc_id, text, lower(${OracleSql.caseFold("text")}) AS lt,
           |  string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+') AS toks FROM documents),
           |m AS (SELECT doc_id, text, lt, toks,
           |  CAST(len(list_filter(toks, x -> list_contains(
           |    [${TextFunctions.Stopwords.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) /
           |    greatest(len(toks), 1) AS stopword_ratio,
           |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
           |    AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
           |  CAST(len(toks) AS DOUBLE) AS n FROM t),
           |q AS (SELECT doc_id, text, lt, toks,
           |  round((least(n / 50, 1) + (1 - least(punct_ratio * 4, 1)) +
           |    least(stopword_ratio * 5, 1)) / 3, 4) AS quality FROM m),
           |l AS (SELECT doc_id, text, toks, quality, $scoreExprs FROM q),
           |lang AS (SELECT doc_id, text, toks, quality, CASE
           |  WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
           |  WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
           |  WHEN s_en >= s_de AND s_en > 0 THEN 'en'
           |  WHEN s_de > 0 THEN 'de'
           |  ELSE 'und' END AS lang FROM l),
           |kept AS (SELECT * FROM lang WHERE quality >= 0.7 AND lang IN ('fr', 'en')),
           |dedup AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           |  FROM kept)
           |SELECT doc_id, quality, lang,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(toks, x -> CAST(length(x) * 7 + ascii(x) AS BIGINT))),
           |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
           |FROM dedup WHERE rn = 1""".stripMargin
      },
      "composed corpus-cleaning pipeline (quality → language → dedup → fingerprint)"),

    Q("q90_length_histogram",
      (s, d) => documents(s, d)
        // corpus length report: 20-token buckets over the document
        // length distribution — the curation dashboard histogram
        .select(graft.plans.Exprs.scanTokens(col("text")).cast("long").as("n"))
        .groupBy((floor(col("n") / 20) * 20).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens")),
      Some("""SELECT CAST((n // 20) * 20 AS BIGINT) AS bucket_lo,
             |count(*) AS n_docs, min(n) AS min_tokens, max(n) AS max_tokens
             |FROM (SELECT CAST(len(list_filter(string_split_regex(text, '\s+'),
             |        x -> x <> '')) AS BIGINT) AS n FROM documents)
             |GROUP BY 1""".stripMargin),
      "corpus length histogram (fixed token buckets, exact counts)"),

    Q("q89_chunk_windows",
      (s, d) => documents(s, d)
        // RAG-prep chunking: 30-token windows, stride 20 (10-token
        // overlap); each chunk becomes its own row with its position
        .select(col("doc_id"),
          posexplode(graft.plans.Exprs.chunkWindows(col("text"), 30, 20))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          TextFunctions.tokenCount(col("chunk")).cast("long").as("n_tokens"),
          length(col("chunk")).cast("long").as("n_chars")),
      // İ/final-Σ pre-fold (r19 case matrix): n_chars counts code
      // points of the LOWERED chunk, where the simple-vs-full mapping
      // differs (1 vs 2 cp); a no-op on İ/Σ-free corpora
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), ch AS (
             |  SELECT doc_id,
             |    [array_to_string(tk[o*20+1 : o*20+30], ' ')
             |     FOR o IN range(0, CAST(ceil(len(tk) / 20.0) AS BIGINT))] AS chunks
             |  FROM toks WHERE len(tk) > 0
             |)
             |SELECT doc_id,
             |  CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
             |  CAST(len(string_split(unnest(chunks), ' ')) AS BIGINT) AS n_tokens,
             |  CAST(length(unnest(chunks)) AS BIGINT) AS n_chars
             |FROM ch""".stripMargin),
      "RAG chunking: overlapping token windows → per-chunk rows (single-pass kernel + posexplode)"),

    Q("q88_curation_pipeline",
      (s, d) => {
        // the COMPLETE modern curation pipeline in one lazy DAG:
        // plant PII → quality gate → language gate → repetition gate →
        // PII redaction → exact dedup (hash-first) → token-budget
        // shards. Every stage is individually oracle-checked
        // (q78/q40/q41/q77/q47/q85); this query checks the composition.
        val planted = documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit(" contact bob.smith+x@example-mail.com now"))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              lit(" server at 192.168.1.77 port"))
            .when(pmod(col("doc_id"), lit(4)) === 2,
              lit(" call +1-555-0142 today"))
            .otherwise(lit(""))).as("t"))
        val gated = planted.select(col("doc_id"), col("t"),
            TextFunctions.qualityScore(col("t")).as("quality"),
            TextFunctions.langIdCol(col("t")).as("lang"),
            round(TextFunctions.repeatedNgramFraction(col("t"), 2), 6).as("rep2"))
          .filter(col("quality") >= 0.7 && col("lang").isin("fr", "en") &&
            col("rep2") <= 0.05)
        val redacted = gated.withColumn("rt", TextFunctions.redactPii(col("t")))
        val deduped = Dedup.exactDedup(redacted, "rt", "doc_id")
        Sampling.tokenShards(deduped, "doc_id", "rt", tokensPerShard = 2000)
          .select(col("doc_id"), col("quality"), col("lang"), col("rep2"),
            col("n_tokens"), col("shard_id"))
      },
      Some {
        val profiles = TextFunctions.LangProfiles.toSeq.sortBy(_._1)
        val scoreExprs = profiles.map { case (lang, grams) =>
          val hits = grams.map(g => s"CAST(contains(lt, '$g') AS INT)").mkString(" + ")
          s"($hits) AS s_$lang"
        }.mkString(", ")
        s"""WITH planted AS (
           |  SELECT doc_id, text || CASE
           |    WHEN doc_id % 4 = 0 THEN ' contact bob.smith+x@example-mail.com now'
           |    WHEN doc_id % 4 = 1 THEN ' server at 192.168.1.77 port'
           |    WHEN doc_id % 4 = 2 THEN ' call +1-555-0142 today'
           |    ELSE '' END AS t
           |  FROM documents
           |), base AS (
           |  SELECT doc_id, t, lower(t) AS lt,
           |    string_split_regex(lower(trim(t)), '\\s+') AS toks,
           |    list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS tk
           |  FROM planted
           |), m AS (
           |  SELECT doc_id, t, lt, toks, tk,
           |    CAST(len(list_filter(toks, x -> list_contains(
           |      [${TextFunctions.Stopwords.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) /
           |      greatest(len(toks), 1) AS stopword_ratio,
           |    CAST(length(t) - length(regexp_replace(t, '[^A-Za-z0-9\\s]', '', 'g'))
           |      AS DOUBLE) / greatest(length(t), 1) AS punct_ratio,
           |    CAST(len(toks) AS DOUBLE) AS n FROM base
           |), q AS (
           |  SELECT doc_id, t, lt, tk,
           |    round((least(n / 50, 1) + (1 - least(punct_ratio * 4, 1)) +
           |      least(stopword_ratio * 5, 1)) / 3, 4) AS quality FROM m
           |), l AS (SELECT doc_id, t, tk, quality, $scoreExprs FROM q
           |), lang AS (
           |  SELECT doc_id, t, tk, quality, CASE
           |    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
           |    WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
           |    WHEN s_en >= s_de AND s_en > 0 THEN 'en'
           |    WHEN s_de > 0 THEN 'de'
           |    ELSE 'und' END AS lang FROM l
           |), rep AS (
           |  SELECT doc_id, t, quality, lang,
           |    round(CASE WHEN len(tk) = 0 THEN 0.0 ELSE
           |      (greatest(len(tk) - 1, 1) - len(list_distinct(
           |        [array_to_string(tk[i:i+1], ' ')
           |         FOR i IN range(1, greatest(len(tk) - 1, 1) + 1)])))
           |      / CAST(greatest(len(tk) - 1, 1) AS DOUBLE) END, 6) AS rep2
           |  FROM lang
           |), gated AS (
           |  SELECT * FROM rep
           |  WHERE quality >= 0.7 AND lang IN ('fr', 'en') AND rep2 <= 0.05
           |), red AS (
           |  SELECT doc_id, quality, lang, rep2,
           |    regexp_replace(regexp_replace(regexp_replace(t,
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
           |      '\\+\\d{1,2}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS rt
           |  FROM gated
           |), dedup AS (
           |  SELECT doc_id, quality, lang, rep2, rt FROM (
           |    SELECT *, row_number() OVER (PARTITION BY rt ORDER BY doc_id) AS rn
           |    FROM red) WHERE rn = 1
           |), counted AS (
           |  SELECT doc_id, quality, lang, rep2,
           |    CAST(len(list_filter(string_split_regex(rt, '\\s+'), x -> x <> ''))
           |      AS BIGINT) AS n_tokens
           |  FROM dedup
           |), sharded AS (
           |  SELECT doc_id, quality, lang, rep2, n_tokens,
           |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
           |  FROM counted
           |)
           |SELECT doc_id, quality, lang, rep2, n_tokens,
           |       CAST(before // 2000 AS BIGINT) AS shard_id
           |FROM sharded""".stripMargin
      },
      "composed curation pipeline v2 (PII plant → quality/lang/repetition gates → redact → dedup → shards)"),

    Q("q42_fingerprint",
      (s, d) => {
        val toks = split(lower(trim(col("text"))), graft.plans.Kernels.WsRun)
        val tokVals = transform(toks,
          x => (length(x).cast("long") * 7 + ascii(x).cast("long")))
        documents(s, d).select(col("doc_id"),
          aggregate(tokVals, lit(0L),
            (acc, v) => pmod(acc * 31 + v, lit(1000000007L))).as("fingerprint"))
      },
      // İ/final-Σ pre-fold (r19 case matrix): the rolling hash reads
      // per-token length AND first code point of the lowered token —
      // both diverge under the simple map; a no-op on İ/Σ-free corpora
      Some(s"""SELECT doc_id,
             |list_reduce(list_prepend(CAST(0 AS BIGINT),
             |  list_transform(string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+'),
             |    x -> CAST(length(x) * 7 + ascii(x) AS BIGINT))),
             |  (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
             |FROM documents""".stripMargin),
      "document fingerprinting (rolling hash over token stream)"),

    // ------------------------------------------------- clustering / scoring
    Q("q94_kmeans",
      (s, d) => {
        // full-corpus Lloyd's: 2 distributed rounds then assignment;
        // the model is pinned to 6 dp per round (see KMeans scaladoc)
        // so the whole iterative process is reproducible cross-engine
        val emb = embeddings(s, d)
        val model = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
        KMeans.assign(emb, "vec_id", "embedding", model)
          .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
            // +0.0 normalizes a potential IEEE −0.0 rounded dot
            (round(col("cos"), 4) + lit(0.0)).as("cos"))
      },
      Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
              |${OracleSql.kmeansCtes(8, 2)}
              |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
              |       round(d, 4) + 0.0 AS cos
              |FROM a2""".stripMargin),
      "distributed spherical k-means (full-corpus Lloyd's; codegen assignment, k·dim agg state, 6-dp-pinned model)"),

    Q("q95_semantic_dedup",
      (s, d) => {
        // the raw corpus has no near-dups (max cosine ≈ 0.51), so plant
        // perturbed float32 copies at vec_id+200000 — exactly as the
        // oracle does (the q37 pattern); clusters then bound the
        // candidate space and exact cosine verifies
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val planted = emb.select(
          (col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) +
              lit(0.015) * (pmod(i, lit(5)) - lit(2)).cast("double")))
              .cast("float")).as("embedding"))
        KMeans.semanticNearDupPairs(emb.unionByName(planted), "vec_id", "embedding",
            k = 8, iters = 1, minCosine = 0.9)
          .select(col("cluster").cast("long").as("cluster"), col("id_a"),
            col("id_b"), round(col("cosine"), 6).as("cosine"))
      },
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 200000,
              |    [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + 0.015 * (((i-1) % 5) - 2)) AS FLOAT)
              |     FOR i IN range(1, len(embedding) + 1)]
              |  FROM embeddings
              |),
              |${OracleSql.kmeansCtes(8, 1)}
              |, pv AS (
              |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
              |), pairs AS (
              |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              |), cosd AS (
              |  SELECT p.cluster, p.id_a, p.id_b,
              |    ${OracleSql.foldSum("[va.v[i] * vb.v[i] FOR i IN range(1, len(va.v)+1)]")} AS dot,
              |    ${OracleSql.foldSum("[va.v[i] * va.v[i] FOR i IN range(1, len(va.v)+1)]")} AS na,
              |    ${OracleSql.foldSum("[vb.v[i] * vb.v[i] FOR i IN range(1, len(vb.v)+1)]")} AS nb
              |  FROM pairs p JOIN pv va ON va.vec_id = p.id_a JOIN pv vb ON vb.vec_id = p.id_b
              |), cosv AS (
              |  SELECT cluster, id_a, id_b,
              |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cosine
              |  FROM cosd
              |)
              |SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b,
              |       round(cosine, 6) AS cosine
              |FROM cosv WHERE cosine >= 0.9""".stripMargin),
      "SemDeDup-style semantic dedup (k-means clusters bound candidates; exact-cosine verify; planted near-dups oracle-reproduced)"),

    Q("q96_quality_classifier",
      (s, d) => QualityClassifier.score(
          documents(s, d).select(col("doc_id"), col("text")), "text",
          QualityClassifier.pseudoWeights(65536))
        .select(col("doc_id"), round(col("score"), 6).as("score")),
      Some {
        // per term t: bucket = mix64(poly31(t)) mod 2^16, then the
        // pseudo-weight family w(b) = ((mix64(b+salt) >> 11)/2^53)·2−1.
        // Staged CTEs (one hash step per projection) — textually
        // nesting mix64∘mix64∘poly31 in ONE expression macro-expands
        // the argument at every reference and blows up evaluation
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
           |    t -> t <> '') AS tk
           |  FROM documents
           |), terms AS (
           |  SELECT doc_id, tk || [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS ts
           |  FROM toks
           |), tr AS (
           |  SELECT doc_id, generate_subscripts(ts, 1) AS ord, unnest(ts) AS t FROM terms
           |), h1 AS (
           |  SELECT doc_id, ord, ${OracleSql.poly31("t")} AS pt FROM tr
           |), h2 AS (
           |  SELECT doc_id, ord, ${OracleSql.mix64("pt")} % 65536 AS bu FROM h1
           |), h3 AS (
           |  SELECT doc_id, ord, ${OracleSql.mix64("CAST(bu + 1000003 AS UBIGINT)")} AS u2 FROM h2
           |), wv AS (
           |  SELECT doc_id, ord,
           |         (CAST((u2 >> 11) AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 AS w
           |  FROM h3
           |), zs AS (
           |  SELECT doc_id, ${OracleSql.foldSum("list(w ORDER BY ord)")} AS z,
           |         count(*) AS cnt
           |  FROM wv GROUP BY doc_id
           |)
           |SELECT t.doc_id,
           |  round(CASE WHEN z.cnt IS NULL OR z.cnt = 0 THEN 0.5
           |        ELSE 0.5 + 0.5 * ((z.z / z.cnt) / (1 + abs(z.z / z.cnt))) END, 6) AS score
           |FROM toks t LEFT JOIN zs z ON z.doc_id = t.doc_id""".stripMargin
      },
      "hashed-feature linear quality classifier (fastText-shaped; injectable weights as a codegen reference object; rational sigmoid for exact cross-engine parity)"),

    Q("q98_covariance",
      (s, d) => Gram.covarianceMatrix(embeddings(s, d), "embedding", 64)
        // round(3): cross-row double sums accumulate in unspecified
        // order on both engines (the q86 precedent); +0.0 folds −0.0
        .select(col("i"), col("j"), (round(col("cov"), 3) + lit(0.0)).as("cov")),
      Some("""WITH ex AS (
             |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |         CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings)
             |SELECT a.i, b.i AS j,
             |       round(sum(a.x * b.x) / count(*) -
             |             (sum(a.x) / count(*)) * (sum(b.x) / count(*)), 3) + 0.0 AS cov
             |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
             |GROUP BY a.i, b.i""".stripMargin),
      "embedding covariance/Gram matrix (one-pass mutable Aggregator, dim² buffer state; PCA-whitening prep)"),

    Q("q99_pq_topk",
      (s, d) => {
        // PQ encode + ADC top-k with the deterministic pseudo-codebook
        // family (the q50 stub-encoder precedent: plumbing — subspace
        // argmin encode, per-query table, lookup-sum scoring, bounded
        // top-k — fully oracle-checked; TRAINED-codebook quality is
        // measured in PqSpec against brute force)
        val emb = embeddings(s, d)
        val cb = Pq.pseudoCodebooks(m = 8, k = 16, dsub = 8)
        val codes = Pq.encode(emb, "vec_id", "embedding", cb)
        Pq.adcTopK(codes, emb.filter(col("vec_id") < 8),
            "vec_id", "vec_id", "embedding", cb, topK = 5)
          .select(col("query_id"), col("neighbor_id"),
            (round(col("adist"), 6) + lit(0.0)).as("adist"),
            col("rank").cast("long").as("rank"))
      },
      Some {
        val hu = OracleSql.mix64("su")
        s"""WITH cbi AS (
           |  SELECT mi, j, t, CAST((mi*16 + j)*8 + t + 777 AS UBIGINT) AS su
           |  FROM (SELECT unnest(range(8)) AS mi),
           |       (SELECT unnest(range(16)) AS j),
           |       (SELECT unnest(range(8)) AS t)
           |), cbh AS (
           |  SELECT mi, j, t, $hu AS hu FROM cbi
           |), cb AS (
           |  SELECT mi, j, t,
           |         (CAST((hu >> 11) AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 AS c
           |  FROM cbh
           |), ex AS (
           |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS t,
           |         CAST(unnest(embedding) AS DOUBLE) AS x
           |  FROM embeddings
           |), exs AS (
           |  SELECT vec_id, t // 8 AS mi, t % 8 AS tt, x FROM ex
           |), dists AS (
           |  SELECT e.vec_id, e.mi, c.j,
           |    ${OracleSql.foldSum("list((e.x - c.c) * (e.x - c.c) ORDER BY e.tt)")} AS d
           |  FROM exs e JOIN cb c ON c.mi = e.mi AND c.t = e.tt
           |  GROUP BY e.vec_id, e.mi, c.j
           |), codes AS (
           |  SELECT vec_id, mi, j AS code FROM (
           |    SELECT vec_id, mi, j,
           |           row_number() OVER (PARTITION BY vec_id, mi ORDER BY d ASC, j ASC) AS rn
           |    FROM dists) WHERE rn = 1
           |), qtab AS (
           |  SELECT vec_id AS query_id, mi, j, d FROM dists WHERE vec_id < 8
           |), adc AS (
           |  SELECT q.query_id, c.vec_id AS neighbor_id,
           |    ${OracleSql.foldSum("list(q.d ORDER BY q.mi)")} AS adist
           |  FROM codes c JOIN qtab q ON q.mi = c.mi AND q.j = c.code
           |  GROUP BY q.query_id, c.vec_id
           |)
           |SELECT query_id, neighbor_id, round(adist, 6) + 0.0 AS adist,
           |       CAST(rank AS BIGINT) AS rank
           |FROM (SELECT query_id, neighbor_id, adist,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY adist ASC, neighbor_id ASC) AS rank
           |      FROM adc)
           |WHERE rank <= 5""".stripMargin
      },
      "product-quantization ANN (codegen encode + per-query ADC table + m-lookup scoring; 32x index memory cut; pseudo-codebooks oracle-reproduced)"),

    Q("q97_stratum_sample",
      (s, d) => Sampling.topNPerStratum(orders(s, d),
          col("o_orderkey"), col("o_orderpriority"), n = 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("rn").cast("long").as("rn")),
      Some(s"""SELECT o_orderpriority, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
              |  SELECT o_orderpriority, o_orderkey,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY ${OracleSql.mix64Signed("o_orderkey")}, o_orderkey) AS rn
              |  FROM orders) WHERE rn <= 3""".stripMargin),
      "fixed-n per-stratum deterministic sample (mix64 order; exact quota per stratum)"),

    Q("q100_cube",
      (s, d) => orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("o_totalprice") * 100).cast("long"))
            .cast("double") / 100.0, 2).as("sum_price"),
          grouping_id().cast("long").as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price,
             |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
      "CUBE grouping sets with GROUPING_ID (single-pass partial-agg expansion)"),

    Q("q101_split_assign",
      (s, d) => Sampling.assignSplits(documents(s, d), col("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"), col("n_chars")),
      Some(s"""WITH h AS (
              |  SELECT doc_id, n_chars,
              |    ((${OracleSql.mix64Signed("doc_id")}) % 1000000 + 1000000) % 1000000 AS hb
              |  FROM documents
              |)
              |SELECT doc_id,
              |  CASE WHEN hb < 800000 THEN 'train'
              |       WHEN hb < 900000 THEN 'val'
              |       ELSE 'test' END AS split, n_chars
              |FROM h""".stripMargin),
      "deterministic train/val/test split assignment (disjoint+exhaustive hash bands; narrow)"),

    Q("q102_sequence_packing",
      (s, d) => Packing.packSequences(
          documents(s, d)
            .withColumn("n_tokens", graft.plans.Exprs.scanTokens(col("text")).cast("long"))
            .select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", capacity = 512, nShards = 8),
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id,
              |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              |      AS BIGINT) AS n_tokens,
              |    ((${OracleSql.mix64Signed("doc_id")}) % 8 + 8) % 8 AS shard
              |  FROM documents
              |), r AS (
              |  SELECT doc_id, n_tokens, shard,
              |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
              |  FROM t
              |), p AS (
              |  SELECT doc_id, n_tokens, shard, rn,
              |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
              |    n_tokens AS used
              |  FROM r WHERE rn = 1
              |  UNION ALL
              |  SELECT r.doc_id, r.n_tokens, r.shard, r.rn,
              |    CASE WHEN p.used + r.n_tokens <= 512 OR p.used = 0
              |         THEN p.seq_id ELSE p.seq_id + 1 END,
              |    CASE WHEN p.used + r.n_tokens <= 512 OR p.used = 0
              |         THEN p.used ELSE CAST(0 AS BIGINT) END,
              |    CASE WHEN p.used + r.n_tokens <= 512 OR p.used = 0
              |         THEN p.used + r.n_tokens ELSE r.n_tokens END
              |  FROM p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1
              |)
              |SELECT doc_id, n_tokens, shard, seq_id, seq_offset FROM p""".stripMargin),
      "greedy next-fit sequence packing (shard-parallel sequential fold; oracle replays it recursively)"),

    Q("q103_knn_label",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.knnClassify(
            emb.filter(col("vec_id") % 25 =!= 0),
            emb.filter(col("vec_id") % 25 === 0),
            "vec_id", "embedding", "label", "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("pred_label").cast("long").as("pred_label"),
            col("votes"))
      },
      Some("""WITH nb AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |        CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
             |  FROM embeddings c, embeddings q
             |  WHERE q.vec_id % 25 = 0 AND c.vec_id % 25 <> 0
             |), v AS (
             |  SELECT query_id, label, count(*) AS votes
             |  FROM nb WHERE rank <= 5 GROUP BY query_id, label
             |)
             |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes FROM (
             |  SELECT query_id, label, votes,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY votes DESC, label ASC) AS rn
             |  FROM v) WHERE rn = 1""".stripMargin),
      "kNN majority-vote label propagation (broadcast top-k back over the corpus; deterministic ties)"),

    Q("q104_winsorize",
      (s, d) => {
        val li = lineitem(s, d)
        // two-pass robust clamp: tiny per-group percentile frame
        // broadcast back over the big scan — the big side never
        // shuffles. Bounds come from the RANK-BASED percentile path
        // (O(bins) agg state at any scale — the built-in percentile's
        // counts map is ∝ distinct values, which on a 100-TB
        // near-unique column IS the data); values are bit-identical to
        // the built-in by StatsSpec, so the quantile_cont oracle is
        // unchanged. q53/q63 stay on the built-in as the documented
        // engine-parity pins.
        val bounds = Stats.groupedExactPercentiles(li, "l_returnflag",
            "l_extendedprice", Seq(0.05, 0.95))
          .select(col("g").as("l_returnflag"),
            col("p_0").as("_lo"), col("p_1").as("_hi"))
        li.join(broadcast(bounds), Seq("l_returnflag"))
          // clamped values snap to exact 1e-4 integer units BEFORE the
          // order-unspecified sum (the repo-wide integer-grading
          // contract): a rounded DOUBLE grid is NOT enough — at 6M+
          // rows the partition-order-dependent FP accumulation drifts
          // past the output rounding and desyncs from the oracle (the
          // 10x scale check caught exactly that)
          .select(col("l_returnflag"),
            round(greatest(col("_lo"), least(col("_hi"), col("l_extendedprice"))), 4).as("_w"))
          .withColumn("_wi", round(col("_w") * 10000).cast("long"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("_wi")).cast("double") / 10000.0, 2).as("sum_w"),
            round(min(col("_w")), 4).as("min_w"),
            round(max(col("_w")), 4).as("max_w"))
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag,
             |    quantile_cont(l_extendedprice, 0.05) AS lo,
             |    quantile_cont(l_extendedprice, 0.95) AS hi
             |  FROM lineitem GROUP BY l_returnflag
             |), w AS (
             |  SELECT l.l_returnflag,
             |    round(greatest(b.lo, least(b.hi, l.l_extendedprice)), 4) AS w
             |  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
             |)
             |SELECT l_returnflag, count(*) AS n,
             |  round(CAST(sum(CAST(round(w * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS sum_w,
             |  round(min(w), 4) AS min_w, round(max(w), 4) AS max_w
             |FROM w GROUP BY l_returnflag""".stripMargin),
      "winsorized (percentile-clamped) aggregation — robust outlier handling, two-pass broadcast"),

    Q("q105_zorder", {
      (s, d) =>
        lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"),
            Layout.zorder2(col("l_partkey"), col("l_suppkey"), 16).as("zval"))
          .groupBy(shiftright(col("zval"), 14).as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
            min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      },
      Some {
        val zsql = (0 until 16).map(i =>
          s"(((l_partkey >> $i) & 1) << ${2 * i + 1}) + (((l_suppkey >> $i) & 1) << ${2 * i})")
          .mkString(" + ")
        s"""WITH z AS (
           |  SELECT l_partkey, l_suppkey, CAST($zsql AS BIGINT) AS zval FROM lineitem
           |)
           |SELECT zval >> 14 AS bucket, count(*) AS n,
           |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
           |FROM z GROUP BY zval >> 14""".stripMargin
      },
      "Z-order (Morton) layout key — per-bucket min/max stay narrow on BOTH dims (file-skipping layout)"),

    Q("q106_bpe_pairs",
      (s, d) => documents(s, d)
        .select(explode(graft.plans.Exprs.chunkWindows(col("text"), 2, 1)).as("pair"))
        // the kernel's trailing 1-token window has no space — drop it
        .filter(col("pair").contains(" "))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20),
      Some(s"""WITH toks AS (
             |  SELECT list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pairs AS (
             |  SELECT unnest([tk[i] || ' ' || tk[i+1]
             |                 FOR i IN range(1, len(tk))]) AS pair
             |  FROM toks
             |)
             |SELECT pair, count(*) AS n FROM pairs
             |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      "adjacent token-pair frequencies, top-20 (the BPE merge-candidate scan; deterministic count/pair order)"),

    Q("q107_fuzzy_edit",
      (s, d) => Dedup.editDistancePairs(documents(s, d), "text", "doc_id",
        maxDist = 10, shingleK = 3, numPerms = 64, bands = 16,
        candThreshold = 0.2),
      // candidate generation is q34's oracle-recomputed LSH pipeline
      // as a derived table; the verify re-runs DuckDB's levenshtein
      // on the same lowercased texts (classic two-phase fuzzy join)
      Some(s"""SELECT c.id_a, c.id_b,
              |  CAST(levenshtein(lower(a.text), lower(b.text)) AS BIGINT) AS edit_dist
              |FROM (${minhashOracleSql("a.doc_id < b.doc_id", "id_a", "id_b", 0.2)}) c
              |JOIN documents a ON a.doc_id = c.id_a
              |JOIN documents b ON b.doc_id = c.id_b
              |WHERE levenshtein(lower(a.text), lower(b.text)) <= 10""".stripMargin),
      "fuzzy dedup by edit distance (LSH candidates, then bounded Levenshtein verify on survivors only)"),

    Q("q108_bigram_lm",
      (s, d) => LanguageModel.bigramScore(documents(s, d), "doc_id", "text"),
      // the oracle retrains the same add-one bigram model in SQL. The
      // per-bigram ln snaps to integer micro-nats so the per-doc total
      // is exact integer arithmetic and the mean is one IEEE division
      // of identical integers in both engines (see LanguageModel
      // scaladoc for why rounding the mean instead structurally fails)
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pt AS (
             |  SELECT doc_id, pair, count(*) AS tf FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS pair
             |    FROM toks) GROUP BY doc_id, pair
             |), bc AS (SELECT pair, sum(tf) AS bc FROM pt GROUP BY pair
             |), ut AS (
             |  SELECT doc_id, term, count(*) AS utf FROM (
             |    SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
             |), uc AS (SELECT term, sum(utf) AS uc FROM ut GROUP BY term
             |), v AS (SELECT count(*) AS v FROM uc
             |), lp AS (
             |  SELECT pt.doc_id, pt.tf,
             |    CAST(round(ln(CAST(bc.bc + 1 AS DOUBLE) / CAST(uc.uc + v.v AS DOUBLE)) * 1e6, 0)
             |      AS BIGINT) AS lp_micro
             |  FROM pt JOIN bc USING (pair)
             |  JOIN uc ON uc.term = string_split(pt.pair, ' ')[1]
             |  CROSS JOIN v
             |)
             |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |  CAST(sum(tf * lp_micro) AS DOUBLE) /
             |    CAST(sum(tf) * 1000000 AS DOUBLE) AS avg_logprob
             |FROM lp GROUP BY doc_id""".stripMargin),
      "corpus-trained bigram LM quality score (KenLM-style gate; in-row gram counts, model re-joined on gram key)"),

    Q("q109_scd2_merge",
      (s, d) => {
        val c = customer(s, d)
        // four deterministic snapshot batches; the 1998-03 batch
        // repeats the 1995-06 state for its keys (a no-op update the
        // collapse must drop), the 1998-09 batch changes both attrs
        def snap(f: org.apache.spark.sql.Column, bal: org.apache.spark.sql.Column,
                 seg: org.apache.spark.sql.Column, eff: String) =
          c.filter(f).select(col("c_custkey"), bal.as("bal"), seg.as("seg"),
            to_date(lit(eff)).as("eff"))
        val snaps =
          snap(lit(true), col("c_acctbal"), col("c_mktsegment"), "1992-01-01")
            .unionByName(snap(col("c_custkey") % 7 === 0,
              col("c_acctbal") + 100.0, col("c_mktsegment"), "1995-06-01"))
            .unionByName(snap(col("c_custkey") % 14 === 0,
              col("c_acctbal") + 100.0, col("c_mktsegment"), "1998-03-01"))
            .unionByName(snap(col("c_custkey") % 21 === 0,
              col("c_acctbal") + 250.0, lit("MACHINERY"), "1998-09-01"))
        Scd.collapseHistory(snaps, Seq("c_custkey"), "eff", Seq("bal", "seg"))
          .select(col("c_custkey"), col("bal"), col("seg"),
            col("valid_from"), col("valid_to"), col("is_current"))
      },
      Some("""WITH snaps AS (
             |  SELECT c_custkey, c_acctbal AS bal, c_mktsegment AS seg,
             |         DATE '1992-01-01' AS eff FROM customer
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal + 100.0, c_mktsegment,
             |         DATE '1995-06-01' FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal + 100.0, c_mktsegment,
             |         DATE '1998-03-01' FROM customer WHERE c_custkey % 14 = 0
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal + 250.0, 'MACHINERY',
             |         DATE '1998-09-01' FROM customer WHERE c_custkey % 21 = 0
             |), lagged AS (
             |  SELECT *, lag(bal) OVER w AS lb, lag(seg) OVER w AS ls,
             |         row_number() OVER w AS rn
             |  FROM snaps WINDOW w AS (PARTITION BY c_custkey ORDER BY eff)
             |), kept AS (
             |  SELECT c_custkey, bal, seg, eff FROM lagged
             |  WHERE rn = 1 OR bal IS DISTINCT FROM lb OR seg IS DISTINCT FROM ls
             |)
             |SELECT c_custkey, bal, seg, eff AS valid_from,
             |  lead(eff) OVER w2 AS valid_to,
             |  lead(eff) OVER w2 IS NULL AS is_current
             |FROM kept WINDOW w2 AS (PARTITION BY c_custkey ORDER BY eff)""".stripMargin),
      "SCD Type-2 history build (no-op updates collapsed, validity intervals; one exchange for both windows)"),

    Q("q110_weighted_sample",
      (s, d) => Sampling.weightedTopNPerStratum(orders(s, d),
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), n = 5)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("rn").cast("long").as("rn")),
      // rank values are floats but rank GAPS dwarf cross-engine pow
      // ulp noise, so only the selected keys + integer rank are output
      Some(s"""WITH u AS (
              |  SELECT o_orderpriority, o_orderkey, o_totalprice,
              |    (((${OracleSql.mix64Signed("o_orderkey")}) % 1000000 + 1000000) % 1000000
              |      + 0.5) / 1000000.0 AS u
              |  FROM orders
              |)
              |SELECT o_orderpriority, o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
              |  SELECT o_orderpriority, o_orderkey,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY pow(u, 1.0 / o_totalprice) DESC, o_orderkey) AS rn
              |  FROM u) WHERE rn <= 5""".stripMargin),
      "weight-proportional per-stratum sample without replacement (Efraimidis-Spirakis A-Res, deterministic)"),

    Q("q111_grid_join",
      (s, d) => {
        // deterministic planar positions in [0,1000)^2 hashed off the
        // keys (offsets decorrelate x/y and the two tables)
        def planted(df: DataFrame, key: String, ox: Long, oy: Long,
                    xc: String, yc: String) =
          df.select(col(key),
            (pmod(graft.plans.Exprs.mix64(col(key) + ox), lit(1000000L))
              .cast("double") / lit(1000.0)).as(xc),
            (pmod(graft.plans.Exprs.mix64(col(key) + oy), lit(1000000L))
              .cast("double") / lit(1000.0)).as(yc))
        val pts = planted(customer(s, d), "c_custkey", 0L, 1000000L, "px", "py")
        val qs = planted(supplier(s, d), "s_suppkey", 777L, 1000777L, "qx", "qy")
        SpatialJoin.radiusJoin(pts, "px", "py", qs, "qx", "qy", 15.0)
          .select(col("s_suppkey"), col("c_custkey"), round(col("dist"), 6).as("dist"))
      },
      // oracle brute-forces the cross join with the IDENTICAL distance
      // expression (same IEEE op order -> same doubles -> same <= verdicts)
      Some(s"""WITH pts AS (
              |  SELECT c_custkey,
              |    (((${OracleSql.mix64Signed("c_custkey")}) % 1000000 + 1000000) % 1000000)
              |      / 1000.0 AS x,
              |    (((${OracleSql.mix64Signed("c_custkey + 1000000")}) % 1000000 + 1000000) % 1000000)
              |      / 1000.0 AS y
              |  FROM customer
              |), qs AS (
              |  SELECT s_suppkey,
              |    (((${OracleSql.mix64Signed("s_suppkey + 777")}) % 1000000 + 1000000) % 1000000)
              |      / 1000.0 AS x,
              |    (((${OracleSql.mix64Signed("s_suppkey + 1000777")}) % 1000000 + 1000000) % 1000000)
              |      / 1000.0 AS y
              |  FROM supplier
              |)
              |SELECT q.s_suppkey, p.c_custkey,
              |  round(sqrt((p.x-q.x)*(p.x-q.x)+(p.y-q.y)*(p.y-q.y)), 6) AS dist
              |FROM qs q JOIN pts p
              |  ON (p.x-q.x)*(p.x-q.x)+(p.y-q.y)*(p.y-q.y) <= 225.0""".stripMargin),
      "planar radius join via grid-cell binning (one cell-key shuffle, 3x3 probe replication, no all-pairs)"),

    Q("q112_countmin", {
      (s, d) => Sketches.cmsPointEstimates(lineitem(s, d), col("l_partkey"),
        probes = (1L to 20L).toSeq, d = 4, w = 1024)
      },
      // the oracle REBUILDS the whole sketch in SQL — the mix64 cell
      // hashing staged through CTE projections (never nested textually),
      // unsigned mod for the bucket, missing cells coalesce to 0 — and
      // takes the same min-over-rows point estimates
      Some {
        val m64 = OracleSql.M64
        val hkPlusR = OracleSql.mix64(s"CAST((CAST(hk AS HUGEINT) + r) % $m64 AS UBIGINT)")
        s"""WITH h1 AS (
           |  SELECT ${OracleSql.mix64("CAST(l_partkey AS UBIGINT)")} AS hk FROM lineitem
           |), hr AS (
           |  SELECT hk, r FROM h1 CROSS JOIN (SELECT unnest(range(4)) AS r)
           |), cells AS (
           |  SELECT r, ($hkPlusR) % 1024 AS c, count(*) AS cnt
           |  FROM hr GROUP BY 1, 2
           |), ph AS (
           |  SELECT probe_key, ${OracleSql.mix64("CAST(probe_key AS UBIGINT)")} AS hk
           |  FROM (SELECT unnest(range(1, 21)) AS probe_key)
           |), pc AS (
           |  SELECT probe_key, r, ($hkPlusR) % 1024 AS c
           |  FROM ph CROSS JOIN (SELECT unnest(range(4)) AS r)
           |)
           |SELECT pc.probe_key, CAST(min(COALESCE(cells.cnt, 0)) AS BIGINT) AS est_count
           |FROM pc LEFT JOIN cells ON cells.r = pc.r AND cells.c = pc.c
           |GROUP BY pc.probe_key""".stripMargin
      },
      "count-min sketch point frequencies (mergeable d x w counter matrix; sketch oracle-rebuilt in SQL)"),

    Q("q113_jaro_winkler",
      (s, d) => {
        // entity resolution: best fuzzy customer-name match per
        // supplier, blocked on nation (the join never goes all-pairs)
        val c = customer(s, d)
          .select(col("c_nationkey").as("nk"), col("c_custkey"), col("c_name"))
        val sup = supplier(s, d)
          .select(col("s_nationkey").as("nk"), col("s_suppkey"), col("s_name"))
        val scored = sup.join(c, "nk")
          .withColumn("jw", round(Exprs.jaroWinkler(col("s_name"), col("c_name")), 6))
        // top-1 as a MAX over (jw, -key): partial-aggregates map-side
        // (one row per supplier crosses the wire) where a rank window
        // would sort every candidate group post-shuffle
        scored.groupBy(col("s_suppkey"))
          .agg(max(struct(col("jw"), (-col("c_custkey")).as("nck"))).as("best"))
          .select(col("s_suppkey"), (-col("best.nck")).as("c_custkey"), col("best.jw").as("jw"))
      },
      // the kernel reproduces DuckDB's jaro_winkler_similarity exactly
      // (same shortcuts, window, boost rule — see Kernels.jaroWinkler);
      // ranking ties break on the 6-dp-rounded score then the key
      Some("""WITH scored AS (
             |  SELECT s.s_suppkey, c.c_custkey,
             |    round(jaro_winkler_similarity(s.s_name, c.c_name), 6) AS jw
             |  FROM supplier s JOIN customer c ON c.c_nationkey = s.s_nationkey
             |)
             |SELECT s_suppkey, c_custkey, jw FROM (
             |  SELECT *, row_number() OVER (PARTITION BY s_suppkey
             |    ORDER BY jw DESC, c_custkey) AS rnk FROM scored)
             |WHERE rnk = 1""".stripMargin),
      "Jaro-Winkler fuzzy match (native codegen expression mirroring DuckDB's; nation-blocked best match)"),

    Q("q114_bm25", {
      val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
        (2L, "window agg group"), (3L, "customer order data"))
      (s: SparkSession, d: String) =>
        Bm25.topDocs(documents(s, d), "doc_id", "text", probes,
          k1 = 1.2, b = 0.75, topK = 5)
      },
      // the oracle rebuilds the whole scorer in SQL with the SAME
      // literal formulas and operator order (IEEE-identical doubles);
      // per-term scores snap to integer micro-units before the per-doc
      // sum (the LanguageModel convention), so ranking compares ints
      Some {
        val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
          (2L, "window agg group"), (3L, "customer order data"))
        s"""SELECT query_id, doc_id, CAST(t_micro AS DOUBLE) / 1e6 AS score,
           |  CAST(rank AS BIGINT) AS rank
           |FROM (${bm25RankedSql(probes, 5)})""".stripMargin
      },
      "Okapi BM25 top-k retrieval (broadcast query probe, in-row tf, length-normalized saturation scoring)"),

    Q("q115_transition_matrix",
      (s, d) => {
        // first-order Markov transitions between consecutive event
        // types per user — funnel/journey mining. One key shuffle for
        // the lag; the matrix is |types|^2, so the probability window
        // runs on a tiny frame
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val pairs = events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        pairs.withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"))
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type, lag(event_type) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events
             |), pairs AS (
             |  SELECT prev_type, event_type AS next_type, count(*) AS n
             |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
             |)
             |SELECT prev_type, next_type, n,
             |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
             |FROM pairs""".stripMargin),
      "Markov event-transition matrix (per-user lag, exact-integer probability division)"),

    Q("q116_rolling_median",
      (s, d) => {
        // rolling robust stats over each user's event-value series:
        // 10-row median + IQR outlier flag (the time-series cleaning
        // primitive). Exact percentile as a WINDOW function — state is
        // the 10-row frame, not the series (q53 establishes the
        // interpolation matches DuckDB's quantile_cont bitwise)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
        events(s, d)
          // ONE windowed percentile call for all three points: the
          // per-row frame buffer+sort runs once instead of three times
          // (100x: 15.1 -> 9.2 s; the remaining cost is the partition
          // sort itself — SCALE.md round 12)
          .withColumn("_q",
            expr("percentile(value, array(0.25D, 0.5D, 0.75D))").over(w))
          .withColumn("q1", col("_q").getItem(0))
          .withColumn("med", col("_q").getItem(1))
          .withColumn("q3", col("_q").getItem(2))
          .withColumn("is_outlier",
            col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
          .select(col("event_id"), col("user_id"), col("value"),
            col("med"), col("q1"), col("q3"), col("is_outlier"))
      },
      Some("""SELECT event_id, user_id, value, med, q1, q3,
             |  value > q3 + (q3 - q1) * 1.5 AS is_outlier
             |FROM (
             |  SELECT event_id, user_id, value,
             |    quantile_cont(value, 0.5) OVER w AS med,
             |    quantile_cont(value, 0.25) OVER w AS q1,
             |    quantile_cont(value, 0.75) OVER w AS q3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))""".stripMargin),
      "rolling median + IQR outlier flags (exact windowed percentiles; frame-bounded state)"),

    Q("q117_posting_lists",
      (s, d) => {
        // inverted-index build: per-term document frequency, corpus
        // frequency, and a BOUNDED postings head (rank-filtered before
        // collect, so agg state is the cap + two counters — never a
        // hot term's full df-sized list; full postings shard on
        // (term, bucket) in a real index)
        val tf = documents(s, d).select(col("doc_id"),
            explode(Exprs.termCounts(col("text"))).as(Seq("term", "tf_i")))
          .select(col("doc_id"), col("term"), col("tf_i").cast("long").as("tf"))
        val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
        tf.withColumn("rn", row_number().over(w))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
            concat_ws(",",
              sort_array(collect_list(when(col("rn") <= 20, col("doc_id")))))
              .as("postings_head"))
      },
      Some(s"""WITH tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(list_filter(
             |      string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'), t -> t <> '')) AS term
             |    FROM documents) GROUP BY 1, 2
             |), r AS (
             |  SELECT doc_id, term, tf,
             |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
             |  FROM tf
             |)
             |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
             |  array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= 20), ',')
             |    AS postings_head
             |FROM r GROUP BY term""".stripMargin),
      "inverted-index posting lists (df/cf per term + rank-capped postings head; bounded agg state)"),

    Q("q118_join_cardinality",
      (s, d) => {
        // self-join-size guard: estimate |events ⋈ events on user_id|
        // from the count-min sketch (one agg pass, no join executed)
        // beside the exact F2 — the optimizer's cardinality check
        val ev = events(s, d)
        val est = Sketches.cmsSelfJoinSize(ev, col("user_id"), d = 4, w = 2048)
        ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).cast("long").as("f2_exact"))
          .select(col("f2_exact"), lit(est).as("f2_cms"),
            (lit(est) - col("f2_exact")).as("overshoot"))
      },
      Some {
        val m64 = OracleSql.M64
        val hkPlusR = OracleSql.mix64(s"CAST((CAST(hk AS HUGEINT) + r) % $m64 AS UBIGINT)")
        s"""WITH h1 AS (
           |  SELECT ${OracleSql.mix64("CAST(user_id AS UBIGINT)")} AS hk FROM events
           |), hr AS (
           |  SELECT hk, r FROM h1 CROSS JOIN (SELECT unnest(range(4)) AS r)
           |), cells AS (
           |  SELECT r, ($hkPlusR) % 2048 AS c, count(*) AS cnt
           |  FROM hr GROUP BY 1, 2
           |), cms AS (
           |  SELECT min(s) AS est FROM (
           |    SELECT r, sum(cnt * cnt) AS s FROM cells GROUP BY r)
           |), f2 AS (
           |  SELECT sum(c * c) AS f FROM (
           |    SELECT count(*) AS c FROM events GROUP BY user_id)
           |)
           |SELECT CAST(f2.f AS BIGINT) AS f2_exact, CAST(cms.est AS BIGINT) AS f2_cms,
           |  CAST(cms.est - f2.f AS BIGINT) AS overshoot
           |FROM f2, cms""".stripMargin
      },
      "join-cardinality guard: self-join size (F2) exact vs count-min inner-product estimate (no join run)"),

    Q("q119_fuzzy_clusters",
      (s, d) => Dedup.connectedComponents(
          Dedup.editDistancePairs(documents(s, d), "text", "doc_id",
            maxDist = 10, candThreshold = 0.2)
            .select(col("id_a"), col("id_b")),
          "id_a", "id_b")
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id")),
      // q107's edges (LSH candidates + Levenshtein verify, oracle-
      // recomputed) closed transitively with q64's recursive CTE.
      // MATERIALIZED is load-bearing: without it DuckDB re-inlines the
      // whole minhash pipeline into the recursion (measured 55 s -> 19 s)
      Some(s"""WITH RECURSIVE pairs AS MATERIALIZED (
              |  SELECT c.id_a, c.id_b
              |  FROM (${minhashOracleSql("a.doc_id < b.doc_id", "id_a", "id_b", 0.2)}) c
              |  JOIN documents a ON a.doc_id = c.id_a
              |  JOIN documents b ON b.doc_id = c.id_b
              |  WHERE levenshtein(lower(a.text), lower(b.text)) <= 10
              |), e AS (
              |  SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION
              |  SELECT id_b, id_a FROM pairs
              |), reach AS (
              |  SELECT s AS id, s AS r FROM e
              |  UNION
              |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
              |)
              |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              |FROM reach GROUP BY id""".stripMargin),
      "fuzzy-edit dedup clusters (edit-distance edges -> distributed connected components)"),

    Q("q120_percentile_normalize",
      (s, d) => {
        // cross-source score calibration: percentile-rank the quality
        // score WITHIN each source so heterogeneous corpora mix on a
        // uniform [0,1] scale. pct = (rank − 0.5)/n is integer-derived
        // — deterministic cross-engine, no float rounding anywhere
        val scored = documents(s, d).select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("score"))
        val w = Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
        val n = Window.partitionBy(col("source"))
        scored.withColumn("pct",
          (row_number().over(w).cast("double") - lit(0.5)) /
            count(lit(1)).over(n).cast("double"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, text,
              |  string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
              |m AS (SELECT doc_id, source,
              |  CAST(len(list_filter(toks, x -> list_contains(
              |    [${TextFunctions.Stopwords.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) /
              |    greatest(len(toks), 1) AS stopword_ratio,
              |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
              |    AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
              |  CAST(len(toks) AS DOUBLE) AS n FROM t),
              |s AS (SELECT doc_id, source,
              |  round((least(n / 50, 1) + (1 - least(punct_ratio * 4, 1)) +
              |    least(stopword_ratio * 5, 1)) / 3, 4) AS score FROM m)
              |SELECT doc_id, source, score,
              |  (CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
              |     AS DOUBLE) - 0.5) /
              |  CAST(count(*) OVER (PARTITION BY source) AS DOUBLE) AS pct
              |FROM s""".stripMargin),
      "per-source percentile-rank normalization (cross-corpus score calibration; integer-exact pct)"),

    Q("q121_hybrid_rrf", {
      val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
        (2L, "window agg group"))
      (s: SparkSession, d: String) => {
        // hybrid search: BM25 lexical ranks fused with embedding-cosine
        // ranks by reciprocal-rank fusion (doc_id ≡ vec_id pairing;
        // query text q and query vector q share an id)
        val lex = Bm25.topDocs(documents(s, d), "doc_id", "text",
            probes.map(p => (p._1, p._2)), topK = 20)
          .select(col("query_id"), col("doc_id").as("id"), col("rank"))
        val emb = embeddings(s, d)
        val vec = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 3),
            "vec_id", "embedding", "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
        Similarity.rrfFuse(Seq(lex, vec), topK = 10)
      }},
      // both retrievers are already oracle-exact (q114/q38); RRF adds
      // only integer-rank rational arithmetic on top
      Some {
        val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
          (2L, "window agg group"))
        s"""WITH lex AS (${bm25RankedSql(probes, 20)}),
           |vec AS (
           |  SELECT query_id, neighbor_id, rank FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
           |          CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
           |    FROM embeddings c, embeddings q WHERE q.vec_id < 3)
           |  WHERE rank <= 20
           |), contrib AS (
           |  SELECT query_id, doc_id AS id, 1.0 / (60 + rank) AS c FROM lex
           |  UNION ALL
           |  SELECT query_id, neighbor_id, 1.0 / (60 + rank) FROM vec
           |), fused AS (
           |  SELECT query_id, id, round(sum(c), 6) AS rrf FROM contrib GROUP BY 1, 2
           |)
           |SELECT CAST(query_id AS BIGINT) AS query_id, id, rrf,
           |  CAST(rank AS BIGINT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY rrf DESC, id) AS rank FROM fused)
           |WHERE rank <= 10""".stripMargin
      },
      "hybrid retrieval: BM25 + embedding-cosine fused by reciprocal-rank fusion (integer-rank rational)"),

    Q("q122_snapshot_diff",
      (s, d) => {
        // deterministic "new snapshot": every 50th key deleted, every
        // 7th rebalanced, every 100th re-keyed above the range (added)
        val c = customer(s, d)
        val newSnap = c.filter(col("c_custkey") % 50 =!= 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal")).as("c_acctbal"),
            col("c_mktsegment"))
          .unionByName(c.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              col("c_acctbal"), col("c_mktsegment")))
        Relational.snapshotDiff(c, newSnap,
            Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
          .filter(col("status") =!= "unchanged")
      },
      Some("""WITH newsnap AS (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
             |         ELSE c_acctbal END AS c_acctbal, c_mktsegment
             |  FROM customer WHERE c_custkey % 50 <> 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
             |  FROM customer WHERE c_custkey % 100 = 0
             |), o AS (SELECT c_custkey, c_acctbal AS old_c_acctbal,
             |         c_mktsegment AS old_c_mktsegment, true AS in_old FROM customer
             |), n AS (SELECT c_custkey, c_acctbal AS new_c_acctbal,
             |         c_mktsegment AS new_c_mktsegment, true AS in_new FROM newsnap
             |)
             |SELECT * FROM (
             |  SELECT c_custkey,
             |    old_c_acctbal, old_c_mktsegment, new_c_acctbal, new_c_mktsegment,
             |    CASE WHEN in_old IS NULL THEN 'added'
             |         WHEN in_new IS NULL THEN 'removed'
             |         WHEN old_c_acctbal IS DISTINCT FROM new_c_acctbal
             |           OR old_c_mktsegment IS DISTINCT FROM new_c_mktsegment
             |           THEN 'changed'
             |         ELSE 'unchanged' END AS status
             |  FROM o FULL OUTER JOIN n USING (c_custkey))
             |WHERE status <> 'unchanged'""".stripMargin),
      "snapshot diff / CDC classification (one co-partitionable full-outer join, null-safe change test)"),

    Q("q123_drift_psi",
      (s, d) => {
        // population-stability-index drift check between the two
        // event-id parity halves: 10 equal-width bins over the global
        // range, Laplace-smoothed shares, per-bin PSI terms snapped to
        // micro-units (integer-exact totals downstream)
        val ev = events(s, d).select(col("event_id"), col("value"))
        val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
        val binned = ev.crossJoin(broadcast(bounds))
          .withColumn("bin", least(floor((col("value") - col("mn")) /
            ((col("mx") - col("mn")) / lit(10.0))), lit(9L)).cast("long"))
          .withColumn("grp", pmod(col("event_id"), lit(2L)))
        val counts = binned.groupBy(col("bin"))
          .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c1"),
            sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c2"))
        val totals = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        counts.crossJoin(broadcast(totals))
          .withColumn("p1", (col("c1") + 0.5) / (col("n1") + 5.0))
          .withColumn("p2", (col("c2") + 0.5) / (col("n2") + 5.0))
          .withColumn("psi_term",
            round((col("p1") - col("p2")) * log(col("p1") / col("p2")) * 1e6)
              .cast("long").cast("double") / 1e6)
          .select(col("bin"), col("c1"), col("c2"), col("psi_term"))
      },
      Some("""WITH b AS (SELECT min(value) AS mn, max(value) AS mx
             |           FROM events),
             |binned AS (
             |  SELECT least(CAST(floor((value - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
             |    AS bin, event_id % 2 AS grp
             |  FROM events, b
             |), c AS (
             |  SELECT bin,
             |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c1,
             |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c2
             |  FROM binned GROUP BY bin
             |), t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c)
             |SELECT bin, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             |  CAST(CAST(round((((c1 + 0.5) / (n1 + 5.0)) - ((c2 + 0.5) / (n2 + 5.0)))
             |    * ln(((c1 + 0.5) / (n1 + 5.0)) / ((c2 + 0.5) / (n2 + 5.0))) * 1e6, 0)
             |    AS BIGINT) AS DOUBLE) / 1e6 AS psi_term
             |FROM c, t""".stripMargin),
      "population-stability-index drift (fixed bins, smoothed shares, micro-unit deterministic PSI terms)"),

    Q("q124_group_ols",
      (s, d) => {
        // per-event-type value trend: OLS slope/intercept over event
        // time. The regressor is CENTERED on the per-group min first —
        // raw epoch seconds (~1.7e9) would put the covariance sums in
        // catastrophic-cancellation territory where cross-engine
        // summation order shows; centered spans keep ~10 clean digits
        // (q60 establishes covar_samp/var_samp agree cross-engine)
        val ev = events(s, d)
          .select(col("event_type"), col("ts").cast("double").as("x"), col("value"))
        val base = ev.groupBy(col("event_type")).agg(min(col("x")).as("x0"))
        ev.join(broadcast(base), "event_type")
          .withColumn("xc", col("x") - col("x0"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(covar_samp(col("xc"), col("value")) / var_samp(col("xc")), 6)
              .as("slope"),
            round(avg(col("value")) -
              covar_samp(col("xc"), col("value")) / var_samp(col("xc")) *
                avg(col("xc")), 6).as("intercept"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, epoch(ts) AS x, value FROM events
             |), b AS (
             |  SELECT event_type, min(x) AS x0 FROM ev GROUP BY event_type
             |), c AS (
             |  SELECT ev.event_type, ev.x - b.x0 AS xc, ev.value
             |  FROM ev JOIN b USING (event_type)
             |)
             |SELECT event_type, count(*) AS n,
             |  round(covar_samp(xc, value) / var_samp(xc), 6) AS slope,
             |  round(avg(value) - covar_samp(xc, value) / var_samp(xc) * avg(xc), 6)
             |    AS intercept
             |FROM c GROUP BY event_type""".stripMargin),
      "per-group OLS trend (centered regressor; single-pass covariance aggregates)"),

    Q("q125_pmi_collocations",
      (s, d) => {
        // collocation mining (word2phrase-style tokenizer prep): PMI of
        // adjacent token pairs, support-filtered. Counts come from the
        // in-row pair/term kernels; totals ride as a broadcast 1-row
        // frame; ln snaps to micro-nats (integer-exact ranking)
        val docs = documents(s, d)
        val pairC = docs.select(explode(Exprs.pairCounts(col("text"))).as(Seq("pair", "c_i")))
          .groupBy(col("pair")).agg(sum(col("c_i").cast("long")).as("c_ab"))
        val termC = docs.select(explode(Exprs.termCounts(col("text"))).as(Seq("term", "c_i")))
          .groupBy(col("term")).agg(sum(col("c_i").cast("long")).as("c_t"))
        val totals = pairC.agg(sum(col("c_ab")).as("n_pairs"))
          .crossJoin(termC.agg(sum(col("c_t")).as("n_toks")))
        pairC.filter(col("c_ab") >= 30)
          .withColumn("w1", substring_index(col("pair"), " ", 1))
          .withColumn("w2", substring_index(col("pair"), " ", -1))
          .join(termC.select(col("term").as("w1"), col("c_t").as("c_a")), "w1")
          .join(termC.select(col("term").as("w2"), col("c_t").as("c_b")), "w2")
          .crossJoin(broadcast(totals))
          .withColumn("pmi_micro",
            round(log((col("c_ab").cast("double") / col("n_pairs").cast("double")) /
              ((col("c_a").cast("double") / col("n_toks").cast("double")) *
                (col("c_b").cast("double") / col("n_toks").cast("double")))) * lit(1e6))
              .cast("long"))
          .select(col("pair"), col("c_ab"),
            (col("pmi_micro").cast("double") / 1e6).as("pmi"))
          .orderBy(col("pmi_micro").desc, col("pair"))
          .limit(20)
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pc AS (
             |  SELECT pair, count(*) AS c_ab FROM (
             |    SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS pair
             |    FROM toks) GROUP BY pair
             |), tc AS (
             |  SELECT term, count(*) AS c_t FROM (
             |    SELECT unnest(tk) AS term FROM toks) GROUP BY term
             |), tot AS (
             |  SELECT (SELECT sum(c_ab) FROM pc) AS n_pairs,
             |         (SELECT sum(c_t) FROM tc) AS n_toks
             |), scored AS (
             |  SELECT pc.pair, pc.c_ab,
             |    CAST(round(ln((CAST(pc.c_ab AS DOUBLE) / CAST(tot.n_pairs AS DOUBLE)) /
             |      ((CAST(a.c_t AS DOUBLE) / CAST(tot.n_toks AS DOUBLE)) *
             |       (CAST(b.c_t AS DOUBLE) / CAST(tot.n_toks AS DOUBLE)))) * 1e6, 0)
             |      AS BIGINT) AS pmi_micro
             |  FROM pc
             |  JOIN tc a ON a.term = string_split(pc.pair, ' ')[1]
             |  JOIN tc b ON b.term = string_split(pc.pair, ' ')[2]
             |  CROSS JOIN tot
             |  WHERE pc.c_ab >= 30
             |)
             |SELECT pair, CAST(c_ab AS BIGINT) AS c_ab,
             |  CAST(pmi_micro AS DOUBLE) / 1e6 AS pmi
             |FROM scored ORDER BY pmi_micro DESC, pair LIMIT 20""".stripMargin),
      "PMI collocation mining (word2phrase prep; in-row gram counts, micro-nat integer ranking)"),

    Q("q126_bpe_train",
      (s, d) => Bpe.trainMerges(documents(s, d), "text", k = 3),
      // the oracle replays the whole merge LOOP in SQL (the kmeansCtes
      // pattern): per round, pair counts -> argmax -> substring-replace
      // fuse, each staged through MATERIALIZED CTEs. Plain `replace`
      // has identical non-overlapping left-to-right semantics in the
      // JVM and DuckDB, so round n's corpus is byte-identical
      Some {
        def pStage(i: Int, src: String) =
          s"""p$i AS (
             |  SELECT pair, count(*) AS c FROM (
             |    SELECT unnest([tk[j] || ' ' || tk[j+1] FOR j IN range(1, len(tk))]) AS pair
             |    FROM (SELECT list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM $src))
             |  GROUP BY pair)""".stripMargin
        def mStage(i: Int) =
          s"""m$i AS MATERIALIZED (SELECT pair, replace(pair, ' ', '_') AS merged, c
             |  FROM p$i ORDER BY c DESC, pair LIMIT 1)""".stripMargin
        def cStage(i: Int, src: String) =
          s"""c$i AS MATERIALIZED (
             |  SELECT replace($src.t, ' ' || m$i.pair || ' ', ' ' || m$i.merged || ' ') AS t
             |  FROM $src, m$i)""".stripMargin
        val stages = Seq(
          s"""c0 AS MATERIALIZED (
            |  SELECT ' ' || array_to_string(list_filter(
            |    string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'), x -> x <> ''), ' ') || ' ' AS t
            |  FROM documents)""".stripMargin,
          pStage(1, "c0"), mStage(1), cStage(1, "c0"),
          pStage(2, "c1"), mStage(2), cStage(2, "c1"),
          pStage(3, "c2"), mStage(3))
        val unions = (1 to 3).map(i =>
          s"SELECT CAST($i AS BIGINT) AS step, pair, merged, CAST(c AS BIGINT) AS c FROM m$i")
        s"WITH ${stages.mkString(",\n")}\n${unions.mkString("\nUNION ALL\n")}"
      },
      "BPE merge training, first 3 rounds (iterative argmax-fuse loop; corpus re-derived per round in SQL)"),

    Q("q127_ndcg", {
      val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
        (2L, "window agg group"))
      (s: SparkSession, d: String) => {
        // retrieval evaluation: NDCG@10 of the BM25 ranking against
        // graded relevance = 21 − rank under a NAIVE ranker (raw
        // query-term frequency, top-20, else 0) — correlated but not
        // identical (BM25 reorders by length normalization and idf),
        // so the metric is non-trivial. Per-position gains snap to
        // micro-units: DCG/IDCG are exact integers, NDCG one division
        import s.implicits._
        val docs = documents(s, d)
        val lex = Bm25.topDocs(docs, "doc_id", "text",
            probes.map(p => (p._1, p._2)), topK = 10)
          .select(col("query_id"), col("doc_id").as("id"), col("rank").as("pos"))
        val qterms = probes.flatMap { case (qid, q) =>
          q.split(" ").distinct.map(t => (qid, t))
        }.toDF("query_id", "term")
        val naiveW = Window.partitionBy(col("query_id"))
          .orderBy(col("s").desc, col("id"))
        val rel = docs.select(col("doc_id").as("id"),
            explode(Exprs.termCounts(col("text"))).as(Seq("term", "tf_i")))
          .join(broadcast(qterms), "term")
          .groupBy(col("query_id"), col("id"))
          .agg(sum(col("tf_i").cast("long")).as("s"))
          .withColumn("rank", row_number().over(naiveW))
          .filter(col("rank") <= 20)
          .select(col("query_id"), col("id"), (lit(21L) - col("rank")).as("rel"))
        val gain = (relC: Column, posC: Column) =>
          round(relC.cast("double") / log2(posC.cast("double") + lit(1.0)) * lit(1e6))
            .cast("long")
        val dcg = lex.join(rel, Seq("query_id", "id"), "left")
          .na.fill(0L, Seq("rel"))
          .groupBy(col("query_id"))
          .agg(sum(gain(col("rel"), col("pos"))).as("dcg_micro"))
        val idealW = Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("id"))
        val idcg = rel.withColumn("pos", row_number().over(idealW))
          .filter(col("pos") <= 10)
          .groupBy(col("query_id"))
          .agg(sum(gain(col("rel"), col("pos"))).as("idcg_micro"))
        dcg.join(idcg, "query_id")
          .select(col("query_id"),
            (col("dcg_micro").cast("double") / 1e6).as("dcg"),
            (col("dcg_micro").cast("double") / col("idcg_micro").cast("double"))
              .as("ndcg"))
      }},
      Some {
        val probes = Seq((0L, "hash join"), (1L, "fast scan filter"),
          (2L, "window agg group"))
        val vals = probes.flatMap { case (id, t) =>
          t.split(" ").distinct.map(w => s"($id, '$w')")
        }.mkString(", ")
        s"""WITH lex AS (${bm25RankedSql(probes, 10)}),
           |tf2 AS (
           |  SELECT doc_id, term, count(*) AS tf FROM (
           |    SELECT doc_id, unnest(list_filter(
           |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
           |    FROM documents) GROUP BY 1, 2
           |), q2 AS (SELECT * FROM (VALUES $vals) AS q(query_id, term)
           |), nv AS (
           |  SELECT query_id, doc_id AS id, sum(tf) AS s
           |  FROM tf2 JOIN q2 USING (term) GROUP BY 1, 2
           |), rel AS (
           |  SELECT query_id, id, 21 - rank AS rel FROM (
           |    SELECT query_id, id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS rank
           |    FROM nv)
           |  WHERE rank <= 20
           |), dcg AS (
           |  SELECT lex.query_id,
           |    sum(CAST(round(CAST(COALESCE(rel.rel, 0) AS DOUBLE)
           |      / log2(CAST(lex.rank AS DOUBLE) + 1.0) * 1e6, 0) AS BIGINT)) AS dcg_micro
           |  FROM lex LEFT JOIN rel ON rel.query_id = lex.query_id AND rel.id = lex.doc_id
           |  GROUP BY lex.query_id
           |), idcg AS (
           |  SELECT query_id,
           |    sum(CAST(round(CAST(rel AS DOUBLE)
           |      / log2(CAST(pos AS DOUBLE) + 1.0) * 1e6, 0) AS BIGINT)) AS idcg_micro
           |  FROM (SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
           |          ORDER BY rel DESC, id) AS pos FROM rel)
           |  WHERE pos <= 10 GROUP BY query_id
           |)
           |SELECT dcg.query_id, CAST(dcg_micro AS DOUBLE) / 1e6 AS dcg,
           |  CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE) AS ndcg
           |FROM dcg JOIN idcg USING (query_id)""".stripMargin
      },
      "NDCG@10 retrieval evaluation (BM25 vs graded cosine relevance; micro-int gains, exact ratio)"),

    Q("q128_pagerank",
      // weighted PageRank over the nation-level trade graph (see
      // tradeEdges for the two-big-shuffle derivation). The rank loop
      // runs over the aggregated graph — nation-keyed, so the bounded
      // driver cutover applies; q156 pins the distributed branch to
      // the same oracle
      (s, d) => Graph.pageRank(tradeEdges(s, d), "src", "dst", "w", iters = 3),
      Some(pagerankOracleSql),
      "weighted PageRank, 3 synchronous rounds (integer micro-mass ranks; edge graph from a 3-join derivation)"),

    Q("q129_assoc_rules",
      // market-basket association rules over brands co-bought in one
      // order — r18: factored into AssocRules.brandRules, which adds
      // the lossless apriori prune and the pair-volume gate on the
      // quadratic basket-depth axis (see its scaladoc; plan shape,
      // caching, dictionary encoding, and integer micro scoring are
      // the audited inline form's, unchanged — oracle bit-identical)
      (s, d) => AssocRules.brandRules(lineitem(s, d), part(s, d)),
      Some("""WITH ob AS MATERIALIZED (
             |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |), pc AS (
             |  SELECT a.b AS b1, b.b AS b2, count(*) AS c_ab
             |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.b < b.b GROUP BY 1, 2
             |), bc AS (SELECT b, count(*) AS c FROM ob GROUP BY b),
             |nn AS (SELECT count(DISTINCT ok) AS n FROM ob)
             |SELECT b1, b2, CAST(c_ab AS BIGINT) AS support,
             |  CAST((1000000 * c_ab) // ba.c AS DOUBLE) / 1e6 AS confidence,
             |  CAST((1000000 * c_ab * nn.n) // (ba.c * bb.c) AS DOUBLE) / 1e6 AS lift
             |FROM pc JOIN bc ba ON ba.b = pc.b1 JOIN bc bb ON bb.b = pc.b2
             |CROSS JOIN nn
             |WHERE c_ab >= 50
             |ORDER BY (1000000 * c_ab * nn.n) // (ba.c * bb.c) DESC, b1, b2
             |LIMIT 25""".stripMargin),
      "market-basket association rules (in-row pair combinations, integer micro confidence/lift)"),

    Q("q130_ewma",
      (s, d) => {
        // per-user EWMA (alpha = 1/2) over a bounded 16-event trailing
        // window. All weights are powers of two, so every fold step
        // (acc + x) / 2 is an exact-scaling IEEE op and the fixed fold
        // order (oldest -> newest, pinned by ts + event_id) makes the
        // double bit-identical in any engine — no micro-grid needed
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-15, 0)
        events(s, d).filter(col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            collect_list(col("value")).over(w).as("l"))
          .select(col("user_id"), col("event_id"),
            expr("aggregate(slice(l, 2, size(l) - 1), element_at(l, 1), " +
              "(acc, x) -> (acc + x) / 2D)").as("ewma"))
      },
      Some("""SELECT user_id, event_id,
             |  list_reduce(l, (acc, x) -> (acc + x) / 2) AS ewma
             |FROM (
             |  SELECT user_id, event_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
             |  FROM events WHERE value IS NOT NULL)""".stripMargin),
      "per-key EWMA smoothing (power-of-two weights -> bit-exact doubles, bounded window frame)"),

    Q("q131_readability",
      (s, d) => {
        // Flesch-style reading ease from three deterministic counts:
        // whitespace tokens (termCounts kernel), [.!?]+ sentence
        // breaks, [aeiouy]+ vowel groups as the syllable heuristic.
        // Score snaps to micro units; the arithmetic tree is mirrored
        // op-for-op in the oracle so each IEEE step agrees
        documents(s, d)
          .select(col("doc_id"), col("text"), Exprs.termCounts(col("text")).as("m"))
          .select(col("doc_id"),
            expr("aggregate(map_values(m), 0L, (a, c) -> a + CAST(c AS BIGINT))").as("words"),
            greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
              .cast("long").as("sentences"),
            regexp_count(lower(col("text")), lit("[aeiouy]+"))
              .cast("long").as("syllables"))
          .filter(col("words") > 0)
          .withColumn("flesch_micro",
            round((lit(206.835)
              - lit(1.015) * (col("words").cast("double") / col("sentences").cast("double"))
              - lit(84.6) * (col("syllables").cast("double") / col("words").cast("double")))
              * lit(1e6)).cast("long"))
          .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
            (col("flesch_micro").cast("double") / 1e6).as("flesch"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '')) AS BIGINT) AS words,
             |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
             |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables,
             |  CAST(CAST(round((206.835
             |    - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
             |    - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))
             |    * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS flesch
             |FROM documents WHERE words > 0""".stripMargin),
      "readability scoring (Flesch-style; regex syllable heuristic, micro-int determinism)"),

    Q("q132_entropy",
      (s, d) => {
        // per-document token Shannon entropy (nats), fully in-row: the
        // termCounts kernel gives the tf map, each term's -p*ln(p)
        // contribution is rounded to micro-nats as a LONG, and longs
        // sum order-free — a map-only plan with zero shuffles vs the
        // oracle's explode + two-level groupBy
        documents(s, d)
          .select(col("doc_id"), Exprs.termCounts(col("text")).as("m"))
          .select(col("doc_id"),
            expr("aggregate(map_values(m), 0L, (a, c) -> a + CAST(c AS BIGINT))").as("n_tokens"),
            col("m"))
          .filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("n_tokens"),
            expr("aggregate(map_values(m), 0L, (acc, c) -> acc + CAST(round(" +
              "-(CAST(c AS DOUBLE) / n_tokens) * ln(CAST(c AS DOUBLE) / n_tokens) * 1e6) AS BIGINT))")
              .as("ent_micro"))
          .select(col("doc_id"), col("n_tokens"),
            (col("ent_micro").cast("double") / 1e6).as("entropy"))
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, term, count(*) AS c FROM (
             |    SELECT doc_id, unnest(list_filter(
             |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
             |    FROM documents) GROUP BY 1, 2
             |), nt AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id)
             |SELECT tf.doc_id, CAST(nt.n AS BIGINT) AS n_tokens,
             |  CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / nt.n)
             |    * ln(CAST(c AS DOUBLE) / nt.n) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS entropy
             |FROM tf JOIN nt ON nt.doc_id = tf.doc_id
             |GROUP BY tf.doc_id, nt.n""".stripMargin),
      "token entropy quality signal (in-row micro-nat kernel vs oracle's exploded two-level agg)"),

    Q("q133_skyline",
      (s, d) => {
        // 2-D skyline (Pareto frontier) of customers maximizing
        // (acctbal, lifetime spend). Distributed shape: coarse
        // integer-bucket prefix-max prunes to a candidate sliver
        // (the per-bucket window is over ~thousands of buckets, and
        // the exact single-partition pass only sees survivors), spend
        // is exact integer cents so no float sum order can bite
        val spend = orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_cents"))
        val pts = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
          .join(spend, col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey"), col("c_acctbal"), col("spend_cents"))
        val b = pts.withColumn("bkt", floor(col("c_acctbal")).cast("long"))
        val wB = Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val bpref = b.groupBy(col("bkt")).agg(max(col("spend_cents")).as("bmax"))
          .withColumn("bstrict", max(col("bmax")).over(wB))
        val cand = b.join(bpref.select(col("bkt"), col("bstrict")), "bkt")
          .filter(col("bstrict").isNull || col("spend_cents") >= col("bstrict"))
        // exact pass over the pruned candidates: a point survives iff
        // it has the max spend at its own acctbal AND beats every
        // strictly-higher acctbal's max
        val pa = cand.groupBy(col("c_acctbal")).agg(max(col("spend_cents")).as("amax"))
        val wA = Window.orderBy(col("c_acctbal").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val pref = pa.withColumn("runmax", max(col("amax")).over(wA))
        cand.join(pref, "c_acctbal")
          .filter((col("runmax").isNull || col("spend_cents") > col("runmax")) &&
            col("spend_cents") === col("amax"))
          .select(col("c_custkey"), col("c_acctbal"), col("spend_cents"))
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
             |  FROM orders GROUP BY 1
             |), pts AS (
             |  SELECT c.c_custkey, c.c_acctbal AS a, sp.s
             |  FROM customer c JOIN spend sp ON sp.o_custkey = c.c_custkey
             |), pa AS (SELECT a, max(s) AS amax FROM pts GROUP BY a),
             |pr AS (SELECT a, amax, max(amax) OVER (ORDER BY a DESC
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax FROM pa)
             |SELECT p.c_custkey, p.a AS c_acctbal, CAST(p.s AS BIGINT) AS spend_cents
             |FROM pts p JOIN pr ON pr.a = p.a
             |WHERE (pr.runmax IS NULL OR p.s > pr.runmax) AND p.s = pr.amax""".stripMargin),
      "2-D skyline / Pareto frontier (bucket prefix-max pruning + exact pass on survivors)"),

    Q("q134_triangles",
      (s, d) => {
        // triangle counting on the supplier co-occurrence graph (two
        // suppliers are adjacent if they co-supplied >= 3 orders).
        // The edge-linear compact-forward scheme (and its scale story:
        // counted broadcast gate, sorted-merge intersect kernel,
        // 2-rows-per-edge credit stream — ~428k at sf0.1 where the
        // per-triangle explode was 13.6M) lives in
        // Graph.triangleParticipation; this body derives the edges
        // (in-row ordered pair generation per order, >= 3 support)
        // and ranks the participants
        val sets = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
        val edges = sets.select(explode(expr(
            "flatten(transform(ss, (x, i) -> " +
              "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS a, y AS b))))"))
            .as("p"))
          .select(col("p.a"), col("p.b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 3)
          .select(col("a"), col("b"))
        Graph.triangleParticipation(edges, "a", "b")
          .orderBy(col("n_triangles").desc, col("v"))
          .limit(20)
          .select(col("v").cast("long").as("s_suppkey"), col("n_triangles"))
      },
      Some("""WITH ob AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
             |), e AS MATERIALIZED (
             |  SELECT a.s AS a, b.s AS b FROM ob a JOIN ob b
             |  ON a.ok = b.ok AND a.s < b.s
             |  GROUP BY 1, 2 HAVING count(*) >= 3
             |), tri AS (
             |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM e e1 JOIN e e2 ON e2.a = e1.b
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
             |)
             |SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
             |  CAST(count(*) AS BIGINT) AS n_triangles
             |FROM (SELECT unnest([x, y, z]) AS s_suppkey FROM tri)
             |GROUP BY 1 ORDER BY n_triangles DESC, s_suppkey LIMIT 20""".stripMargin),
      "triangle counting (ordered wedge join + closing probe; per-node participation top-k)"),

    Q("q136_bootstrap_ci",
      (s, d) => {
        // deterministic multiplier bootstrap for the mean order value:
        // 64 replicas, each row's replica weight in {0,1,2} (mean 1)
        // derived from mix64(orderkey*64 + r) — reproducible across
        // engines, no RNG state. The replica sums come from ONE pass
        // over orders via the mergeable Bootstrap.ReplicaMeans
        // aggregator (2×64-long state per map task) — the previous
        // explode formulation pushed 64×|orders| rows into the hash
        // aggregate before map-side combine could absorb them,
        // measured 4.0 s -> 0.6 s cold at sf0.1 and a 64× row-stream
        // blow-up avoided at any scale. Replica means are exact
        // long/long divisions and the CI is an exact-percentile over
        // 64 values (q53 establishes interpolation parity)
        val reps = orders(s, d)
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .agg(Bootstrap.replicaMeans(col("o_orderkey"), col("cents"), 64).as("ms"))
          .select(explode(col("ms")).as("m"))
        reps.agg(
          count(lit(1)).cast("long").as("n_replicas"),
          round(expr("percentile(m, 0.025)"), 4).as("ci_lo"),
          round(expr("percentile(m, 0.975)"), 4).as("ci_hi"))
      },
      Some {
        val h = OracleSql.mix64("CAST(o_orderkey * 64 + r AS UBIGINT)")
        s"""WITH reps AS (
           |  SELECT r,
           |    CASE WHEN h = 0 THEN 2 WHEN h = 3 THEN 0 ELSE 1 END AS w,
           |    cents
           |  FROM (
           |    SELECT r, $h & 3 AS h,
           |      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |    FROM orders CROSS JOIN (SELECT unnest(range(64)) AS r))
           |), ms AS (
           |  SELECT r, CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
           |  FROM reps GROUP BY r
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           |  round(quantile_cont(m, 0.025), 4) AS ci_lo,
           |  round(quantile_cont(m, 0.975), 4) AS ci_hi
           |FROM ms""".stripMargin
      },
      "bootstrap confidence interval (deterministic hash multiplier weights, 64 replicas, map-side combine)"),

    Q("q137_substring_spans",
      (s, d) =>
        // exact repeated-span mining (the suffix-array-dedup slot):
        // maximal verbatim token runs >= 16 tokens shared by document
        // pairs, from position-ordered shingle hashes + the constant-
        // offset run merge. The oracle rebuilds the same base-31+mix64
        // shingle hashes in SQL, so the whole pipeline (tokenize,
        // hash, df-filter, pair join, run reconstruction) is verified
        // cross-engine, not just row counts
        Dedup.substringSpans(documents(s, d), "text", "doc_id",
            shingleK = 8, minSpanTokens = 16, dfCap = 64)
          .select(col("a").as("doc_a"), col("b").as("doc_b"),
            col("n_spans"), col("max_span_tokens").cast("long").as("max_span_tokens"),
            col("first_start_a").cast("long").as("first_start_a")),
      Some {
        val h = OracleSql.toSigned(OracleSql.mix64(OracleSql.poly31("sg")))
        // the per-shingle char-fold+mix64 (`ph`) dominates and is
        // referenced twice downstream → residue-sharded + materialized
        // (see OracleSql.residueSharded)
        OracleSql.residueSharded(
        s"""toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
           |  FROM documents
           |), sh AS (
           |  SELECT doc_id,
           |    [array_to_string(tk[i:i+7], ' ')
           |     FOR i IN range(1, greatest(len(tk) - 7, 1) + 1)] AS ss
           |  FROM toks WHERE len(tk) > 0
           |), posts AS (
           |  SELECT doc_id, generate_subscripts(ss, 1) AS pos, unnest(ss) AS sg FROM sh
           |), ph AS (
           |  SELECT doc_id, pos, $h AS hh FROM posts
           |)""".stripMargin,
        outCte = "ph",
        finalSql = s""", eligible AS (
           |  SELECT hh FROM ph GROUP BY hh
           |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64
           |), p AS (
           |  SELECT ph.doc_id, ph.pos, ph.hh FROM ph JOIN eligible USING (hh)
           |), pairs AS (
           |  SELECT a.doc_id AS a, b.doc_id AS b, a.pos AS pa, b.pos AS pb
           |  FROM p a JOIN p b ON a.hh = b.hh AND a.doc_id < b.doc_id
           |), runs AS (
           |  SELECT a, b, off, grp, count(*) AS nsh, min(pa) AS start_a
           |  FROM (SELECT a, b, pa, pa - pb AS off,
           |          pa - row_number() OVER (PARTITION BY a, b, pa - pb ORDER BY pa) AS grp
           |        FROM pairs)
           |  GROUP BY 1, 2, 3, 4
           |)
           |SELECT a AS doc_a, b AS doc_b, count(*) AS n_spans,
           |  CAST(max(nsh + 7) AS BIGINT) AS max_span_tokens,
           |  CAST(min(start_a) AS BIGINT) AS first_start_a
           |FROM runs WHERE nsh + 7 >= 16
           |GROUP BY 1, 2""".stripMargin)
      },
      "exact repeated-substring spans across documents (positional shingles, constant-offset run merge)"),

    Q("q138_bpe_encode",
      (s, d) => Bpe.encode(documents(s, d), "doc_id", "text", k = 3),
      // q126's staged train CTEs, extended one stage (c3 applies the
      // 3rd merge) and with doc_id carried through the corpus stages so
      // the ENCODE side is per-document. replace() is byte-identical
      // cross-engine (q126's contract), so both token counts are exact
      Some {
        def pStage(i: Int, src: String) =
          s"""p$i AS (
             |  SELECT pair, count(*) AS c FROM (
             |    SELECT unnest([tk[j] || ' ' || tk[j+1] FOR j IN range(1, len(tk))]) AS pair
             |    FROM (SELECT list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM $src))
             |  GROUP BY pair)""".stripMargin
        def mStage(i: Int) =
          s"""m$i AS MATERIALIZED (SELECT pair, replace(pair, ' ', '_') AS merged, c
             |  FROM p$i ORDER BY c DESC, pair LIMIT 1)""".stripMargin
        def cStage(i: Int, src: String) =
          s"""c$i AS MATERIALIZED (
             |  SELECT doc_id, replace($src.t, ' ' || m$i.pair || ' ', ' ' || m$i.merged || ' ') AS t
             |  FROM $src, m$i)""".stripMargin
        val stages = Seq(
          """c0 AS MATERIALIZED (
            |  SELECT doc_id, ' ' || array_to_string(list_filter(
            |    string_split_regex(lower(text), '\s+'), x -> x <> ''), ' ') || ' ' AS t
            |  FROM documents)""".stripMargin,
          pStage(1, "c0"), mStage(1), cStage(1, "c0"),
          pStage(2, "c1"), mStage(2), cStage(2, "c1"),
          pStage(3, "c2"), mStage(3), cStage(3, "c2"))
        s"""WITH ${stages.mkString(",\n")}
           |SELECT c0.doc_id,
           |  CAST(len(list_filter(string_split(c0.t, ' '), x -> x <> '')) AS BIGINT) AS n_raw,
           |  CAST(len(list_filter(string_split(c3.t, ' '), x -> x <> '')) AS BIGINT) AS n_bpe
           |FROM c0 JOIN c3 USING (doc_id)""".stripMargin
      },
      "BPE deploy half: train 3 merges, encode the corpus in one narrow codegen pass (per-doc token counts)"),

    Q("q139_sorted_neighborhood",
      (s, d) => Dedup.sortedNeighborhoodPairs(documents(s, d), "text", "doc_id",
        windowSize = 8, prefixLen = 4),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    array_to_string((list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> x <> ''))[1:4], ' ') AS k,
             |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> x <> '')) AS tk
             |  FROM documents
             |), r AS (
             |  SELECT doc_id, tk, row_number() OVER (ORDER BY k, doc_id) AS rnk FROM t
             |), p AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    len(list_intersect(a.tk, b.tk)) AS i,
             |    len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS u
             |  FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 8
             |)
             |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter, CAST(u AS BIGINT) AS uni
             |FROM p WHERE u > 0 AND 2 * i >= u""".stripMargin),
      "sorted-neighborhood dedup (range-sorted blocking key, windowSize-bounded candidates, integer Jaccard verify)"),

    Q("q140_label_propagation",
      // community detection over the symmetrized nation trade graph
      // (tradeEdges — the heavy 100TB part is the same two-big-shuffle
      // join tree; the propagation rounds then run on the aggregated,
      // key-space-bounded graph; self-loops drop inside the operator).
      // q157 pins the distributed branch to the same oracle
      (s, d) => Graph.labelPropagation(tradeEdges(s, d), "src", "dst", "w",
        iters = 4),
      Some(labelPropOracleSql),
      "synchronous label propagation, 4 rounds (weighted plurality vote, min-label ties; adaptive driver loop on bounded graphs)"),

    Q("q141_ks_test",
      (s, d) => Stats.ksTest(lineitem(s, d), "l_extendedprice", "l_returnflag",
        "R", "A"),
      // the oracle takes the straight global-window cumulative — the
      // Spark side's two-level prefix decomposition is exact integer
      // arithmetic, so both paths give the same cumulative counts
      Some("""WITH c AS (
             |  SELECT l_extendedprice AS v,
             |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
             |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS cb
             |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
             |), g AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
             |cum AS (
             |  SELECT v,
             |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
             |  FROM c
             |), dd AS (SELECT v, abs(cuma * nb - cumb * na) AS diff FROM cum, g),
             |m AS (SELECT max(diff) AS dint FROM dd)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  round(CAST(dint AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) AS d_stat,
             |  (SELECT min(v) FROM dd, m WHERE diff = dint) AS at_value
             |FROM g, m""".stripMargin),
      "two-sample Kolmogorov-Smirnov D (two-level prefix sum, integer cross-difference sup — no global-order window)"),

    Q("q142_quantile_binning",
      (s, d) => {
        val o = orders(s, d)
        // equal-frequency discretization: global decile edges (tiny
        // 1-row frame, q104's broadcast-bounds pattern) + a codegen
        // comparison-sum bin assignment on the scan — the big side
        // never shuffles until the 10-group final agg
        val edges = o.agg(expr(
          "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("_e"))
        val bin = (1 to 9).map(i =>
          when(col("o_totalprice") > element_at(col("_e"), i), 1).otherwise(0))
          .foldLeft(lit(1))(_ + _)
        o.crossJoin(broadcast(edges))
          .select(bin.cast("long").as("bin"), col("o_totalprice").as("v"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), round(min(col("v")), 2).as("min_v"),
            round(max(col("v")), 2).as("max_v"),
            round(sum(round(col("v") * 100).cast("long"))
              .cast("double") / 100.0, 2).as("sum_v"))
      },
      Some {
        val cases = (1 to 9).map(i =>
          s"(CASE WHEN o_totalprice > q[$i] THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH e AS (SELECT quantile_cont(o_totalprice,
           |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM orders),
           |b AS (SELECT CAST(1 + $cases AS BIGINT) AS bin, o_totalprice AS v
           |      FROM orders, e)
           |SELECT bin, count(*) AS n, round(min(v), 2) AS min_v,
           |  round(max(v), 2) AS max_v,
           |  round(CAST(sum(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_v
           |FROM b GROUP BY bin""".stripMargin
      },
      "equal-frequency decile binning (broadcast interpolated edges, comparison-sum assignment, per-bin profile)"),

    Q("q143_time_weighted_avg",
      (s, d) => Stats.timeWeightedAvg(events(s, d), "user_id", "ts",
        "event_id", "value"),
      Some("""WITH f AS (
             |  SELECT user_id, event_id, value, epoch_us(ts) AS us
             |  FROM events WHERE value IS NOT NULL
             |), l AS (
             |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
             |    (lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) // 1000 AS durms
             |  FROM f
             |)
             |SELECT user_id, count(*) AS n_obs,
             |  round(CAST(sum(cents * durms) AS DOUBLE) /
             |        (CAST(sum(durms) AS DOUBLE) * 100.0), 6) AS twa
             |FROM l GROUP BY user_id HAVING sum(durms) > 0""".stripMargin),
      "per-key time-weighted average of a step series (cent/millisecond integer grading, one shuffle)"),

    Q("q144_chi2_features",
      (s, d) => Stats.chi2Features(documents(s, d), "text",
        col("lang") === "en", minDf = 5, topK = 50),
      Some("""WITH docs AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> x <> '')) AS toks
             |  FROM documents
             |), t AS (SELECT count(*) AS n, sum(y) AS npos FROM docs),
             |g AS (
             |  SELECT unnest(toks) AS tk, y FROM docs
             |), f AS (
             |  SELECT tk, count(*) AS df, sum(y) AS dfpos FROM g GROUP BY tk
             |  HAVING count(*) >= 5
             |), s0 AS (
             |  SELECT tk, df, dfpos,
             |    CAST(dfpos AS DOUBLE) AS a, CAST(df - dfpos AS DOUBLE) AS b,
             |    CAST(npos - dfpos AS DOUBLE) AS c,
             |    CAST(n - df - npos + dfpos AS DOUBLE) AS dd,
             |    CAST(n AS DOUBLE) AS nn
             |  FROM f, t WHERE df < n
             |)
             |SELECT tk AS token, df, CAST(dfpos AS BIGINT) AS df_pos,
             |  round(nn * (a * dd - b * c) * (a * dd - b * c) /
             |    ((a + b) * (c + dd) * (a + c) * (b + dd)), 6) AS chi2
             |FROM s0 ORDER BY chi2 DESC, tk LIMIT 50""".stripMargin),
      "chi-square token/label feature scoring (in-row distinct tokens, one token shuffle, pure rational arithmetic)"),

    Q("q145_benchmark_containment",
      (s, d) => {
        val docs = documents(s, d)
        // first 20 docs stand in for the eval set (q71's convention);
        // output = which eval items leak into which corpus docs
        Dedup.benchmarkContainment(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), sh AS (
             |  SELECT doc_id,
             |         CASE WHEN len(tk) = 0 THEN []
             |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
             |                FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) END AS ss
             |  FROM toks
             |), b AS (
             |  SELECT doc_id AS bench_id, len(ss) AS nb, unnest(ss) AS s
             |  FROM sh WHERE doc_id < 20 AND len(ss) > 0
             |), hits AS (
             |  SELECT i.doc_id, b.bench_id, b.nb, count(*) AS common
             |  FROM (SELECT doc_id, unnest(ss) AS s FROM sh WHERE doc_id >= 20) i
             |  JOIN b ON i.s = b.s
             |  GROUP BY 1, 2, 3
             |)
             |SELECT doc_id, bench_id, CAST(common AS BIGINT) AS common,
             |  round(CAST(common AS DOUBLE) / nb, 6) AS containment
             |FROM hits WHERE common * 2 >= nb""".stripMargin),
      "per-eval-item contamination containment (broadcast benchmark postings, map-side hit counts)"),

    Q("q146_mad",
      (s, d) =>
        // median absolute deviation: the FUSED two-level rank path —
        // median and MAD resolve against ONE cached binned frame (two
        // source scans total, deviations re-binned from pass-1 bounds
        // with no corpus join; see Stats.groupedMedianAbsDeviation).
        // Interpolation is bit-identical to quantile_cont, so the
        // oracle is unchanged from the old two-operator formulation.
        Stats.groupedMedianAbsDeviation(lineitem(s, d), "l_returnflag",
            "l_extendedprice")
          .select(col("g").as("l_returnflag"), col("n"),
            round(col("median"), 4).as("median"), round(col("mad"), 4).as("mad")),
      Some("""WITH m AS (
             |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
             |  FROM lineitem GROUP BY l_returnflag
             |)
             |SELECT l.l_returnflag, count(*) AS n, round(max(m.med), 4) AS median,
             |  round(quantile_cont(abs(l.l_extendedprice - m.med), 0.5), 4) AS mad
             |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
             |GROUP BY l.l_returnflag""".stripMargin),
      "median absolute deviation per group (two-pass broadcast medians, robust dispersion)"),

    Q("q147_rank_percentiles",
      (s, d) => Stats.groupedExactPercentiles(lineitem(s, d), "l_returnflag",
          "l_extendedprice", Seq(0.05, 0.5, 0.95))
        .select(col("g").as("l_returnflag"),
          round(col("p_0"), 4).as("p05"), round(col("p_1"), 4).as("p50"),
          round(col("p_2"), 4).as("p95")),
      // exact interpolated percentiles WITHOUT a counts-map aggregate:
      // bin-count prefix sums locate each order statistic, only target
      // bins rank rows (q53's documented scale path, here as a
      // first-class operator — interpolation is bit-identical, so the
      // plain quantile_cont oracle applies)
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "rank-based exact percentiles (bin prefix sums + target-bin ranking; O(bins) agg state at any scale)"),

    Q("q148_calibration_bins",
      (s, d) => {
        // classifier reliability diagram: q96's scan-speed scores
        // bucketed into 10 fixed bins, per-bin mean score vs empirical
        // positive rate. Integer-only: scores snap to micro units
        // BEFORE the order-unspecified sum, the gap is an integer
        // division — per-bin state is 3 longs, one shuffle on the bin
        val scored = QualityClassifier.score(
            documents(s, d).select(col("doc_id"), col("text"), col("lang")),
            "text", QualityClassifier.pseudoWeights(65536))
          .select((col("lang") === "en").cast("long").as("y"),
            col("score"),
            round(col("score") * 1000000).cast("long").as("_sm"),
            least(lit(9), floor(col("score") * 10).cast("int")).cast("long").as("bin"))
        scored.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("_sm")).as("sum_score_micro"),
            sum(col("y")).as("n_pos"))
          .withColumn("gap_micro",
            expr("abs(sum_score_micro - 1000000 * n_pos) div n"))
      },
      Some {
        // q96's staged score re-derivation + the binning tail
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'),
           |    t -> t <> '') AS tk
           |  FROM documents
           |), terms AS (
           |  SELECT doc_id, tk || [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS ts
           |  FROM toks
           |), tr AS (
           |  SELECT doc_id, generate_subscripts(ts, 1) AS ord, unnest(ts) AS t FROM terms
           |), h1 AS (
           |  SELECT doc_id, ord, ${OracleSql.poly31("t")} AS pt FROM tr
           |), h2 AS (
           |  SELECT doc_id, ord, ${OracleSql.mix64("pt")} % 65536 AS bu FROM h1
           |), h3 AS (
           |  SELECT doc_id, ord, ${OracleSql.mix64("CAST(bu + 1000003 AS UBIGINT)")} AS u2 FROM h2
           |), wv AS (
           |  SELECT doc_id, ord,
           |         (CAST((u2 >> 11) AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 AS w
           |  FROM h3
           |), zs AS (
           |  SELECT doc_id, ${OracleSql.foldSum("list(w ORDER BY ord)")} AS z,
           |         count(*) AS cnt
           |  FROM wv GROUP BY doc_id
           |), scored AS (
           |  SELECT t.doc_id,
           |    CASE WHEN z.cnt IS NULL OR z.cnt = 0 THEN 0.5
           |         ELSE 0.5 + 0.5 * ((z.z / z.cnt) / (1 + abs(z.z / z.cnt))) END AS score
           |  FROM toks t LEFT JOIN zs z ON z.doc_id = t.doc_id
           |), lab AS (
           |  SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, s.score
           |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
           |)
           |SELECT CAST(least(9, CAST(floor(score * 10) AS INT)) AS BIGINT) AS bin,
           |  count(*) AS n,
           |  CAST(sum(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT) AS sum_score_micro,
           |  CAST(sum(y) AS BIGINT) AS n_pos,
           |  CAST(abs(sum(CAST(round(score * 1000000) AS BIGINT)) - 1000000 * sum(y))
           |       // count(*) AS BIGINT) AS gap_micro
           |FROM lab GROUP BY 1""".stripMargin
      },
      "classifier calibration / reliability bins (micro-int score sums, integer gap; ECE inputs per bin)"),

    Q("q149_auc",
      (s, d) => {
        // exact ROC AUC by rank-sum (Mann–Whitney U) with tie
        // correction, all in integers: scores snap to micro units, so
        // the distinct-score frame is ≤ 1e6+1 rows at ANY corpus size
        // — its global-order window is bounded by the score
        // granularity, not the data. U2 = Σ pos(s)·(2·negBelow + neg(s))
        // is an exact long (ties contribute half — kept doubled);
        // AUC = U2 / (2·npos·nneg) is the single closing division.
        val scored = QualityClassifier.score(
            documents(s, d).select(col("doc_id"), col("text"), col("lang")),
            "text", QualityClassifier.pseudoWeights(65536))
          .select((col("lang") === "en").cast("long").as("y"),
            round(col("score") * 1000000).cast("long").as("sm"))
        val c = scored.groupBy(col("sm"))
          .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
        val w = Window.orderBy(col("sm")).rowsBetween(Window.unboundedPreceding, -1)
        c.withColumn("negb", coalesce(sum(col("neg")).over(w), lit(0L)))
          .agg(sum(col("pos") * (col("negb") * 2 + col("neg"))).as("_u2"),
            sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
          .select(col("n_pos"), col("n_neg"),
            round(col("_u2").cast("double") /
              (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
              6).as("auc"))
      },
      Some {
        s"""WITH ${OracleSql.classifierScoreCtes},
           |lab AS (
           |  SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
           |    CAST(round(s.score * 1000000) AS BIGINT) AS sm
           |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
           |), c AS (
           |  SELECT sm, sum(y) AS pos, count(*) - sum(y) AS neg FROM lab GROUP BY sm
           |), cum AS (
           |  SELECT pos, neg, coalesce(sum(neg) OVER (ORDER BY sm
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negb
           |  FROM c
           |)
           |SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
           |  round(CAST(sum(pos * (negb * 2 + neg)) AS DOUBLE) /
           |        (2.0 * CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6) AS auc
           |FROM cum""".stripMargin
      },
      "exact ROC AUC via tie-corrected rank-sum (micro-int scores bound the distinct frame at any scale)"),

    Q("q150_isotonic_calibration",
      (s, d) => {
        // monotone (non-decreasing) calibration of per-bin positive
        // rates via the minimax closed form of isotonic regression:
        // fit(i) = max_{j≤i} min_{k≥i} rate(j..k). The bin frame is
        // CONSTANT-size (10 rows), so the closed form is three tiny
        // joins over interval cumulative sums — no PAVA iteration, no
        // driver loop, and the interval rates are exact-integer-ratio
        // doubles, identical cross-engine.
        val scored = QualityClassifier.score(
            documents(s, d).select(col("doc_id"), col("text"), col("lang")),
            "text", QualityClassifier.pseudoWeights(65536))
          .select((col("lang") === "en").cast("long").as("y"),
            least(lit(9), floor(col("score") * 10).cast("int")).cast("long").as("bin"))
        val bins = scored.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        val wc = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
        val cum = bins
          .withColumn("cn", sum(col("n")).over(wc))
          .withColumn("cp", sum(col("pos")).over(wc))
          .select(col("bin"), col("n"), col("pos"), col("cn"), col("cp"))
        // interval rate(j..k) from cumulative differences; j uses the
        // previous row's cumulative (0 at the start)
        val iv = cum.select(col("bin").as("j"), (col("cn") - col("n")).as("cnj"),
            (col("cp") - col("pos")).as("cpj"))
          .join(cum.select(col("bin").as("k"), col("cn").as("cnk"), col("cp").as("cpk")),
            col("k") >= col("j"))
          .select(col("j"), col("k"),
            ((col("cpk") - col("cpj")).cast("double") /
              (col("cnk") - col("cnj")).cast("double")).as("rate"))
        val fit = cum.select(col("bin"))
          .join(iv, col("j") <= col("bin") && col("k") >= col("bin"))
          .groupBy(col("bin"), col("j")).agg(min(col("rate")).as("_mn"))
          .groupBy(col("bin")).agg(max(col("_mn")).as("_fit"))
        bins.join(fit, "bin")
          .select(col("bin"), col("n"), col("pos"),
            round(col("pos").cast("double") / col("n").cast("double"), 6).as("raw_rate"),
            round(col("_fit"), 6).as("iso_rate"))
      },
      Some {
        s"""WITH ${OracleSql.classifierScoreCtes},
           |lab AS (
           |  SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
           |    least(9, CAST(floor(s.score * 10) AS INT)) AS bin
           |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
           |), bins AS (
           |  SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n, sum(y) AS pos
           |  FROM lab GROUP BY 1
           |), cum AS (
           |  SELECT bin, n, pos,
           |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
           |    sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
           |  FROM bins
           |), iv AS (
           |  SELECT a.bin AS j, b.bin AS k,
           |    CAST(b.cp - (a.cp - a.pos) AS DOUBLE) /
           |    CAST(b.cn - (a.cn - a.n) AS DOUBLE) AS rate
           |  FROM cum a JOIN cum b ON b.bin >= a.bin
           |), m1 AS (
           |  SELECT c.bin, x.j, min(x.rate) AS mn
           |  FROM cum c JOIN iv x ON x.j <= c.bin AND x.k >= c.bin
           |  GROUP BY 1, 2
           |), fit AS (
           |  SELECT bin, max(mn) AS f FROM m1 GROUP BY bin
           |)
           |SELECT b.bin, CAST(b.n AS BIGINT) AS n, CAST(b.pos AS BIGINT) AS pos,
           |  round(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate,
           |  round(f.f, 6) AS iso_rate
           |FROM bins b JOIN fit f ON f.bin = b.bin""".stripMargin
      },
      "isotonic calibration via the minimax closed form over constant-size bins (no PAVA loop, exact rational rates)"),

    Q("q151_kaplan_meier",
      (s, d) => {
        // Kaplan–Meier time-to-event: death = the user's first LARGE
        // purchase (value > 150), measured in days from their first
        // activity; users who never convert are right-censored at the
        // window end (67 deaths / 83 censored at sf0.01 — genuinely
        // mixed). ONE keyed shuffle builds both dates (conditional
        // min); the day frame is bounded by the CALENDAR span, so its
        // global-order window and the packed factor array are
        // constant-size at any corpus scale. Survival products fold
        // left over the day-ordered factor list — the same fixed-order
        // fold both engines run, so the doubles are bit-identical
        // (foldSum's multiplicative sibling; never a window product or
        // exp∘Σlog)
        val per = events(s, d).groupBy(col("user_id"))
          .agg(to_date(min(col("ts"))).as("fd"),
            to_date(min(when(col("event_type") === "purchase" && col("value") > 150,
              col("ts")))).as("bd"))
        val gmax = events(s, d).agg(to_date(max(col("ts"))).as("_gm"))
        val byDay = per.crossJoin(broadcast(gmax))
          .select(
            when(col("bd").isNotNull, datediff(col("bd"), col("fd")))
              .otherwise(datediff(col("_gm"), col("fd"))).cast("long").as("t"),
            when(col("bd").isNotNull, 0L).otherwise(1L).as("cen"))
          .groupBy(col("t"))
          .agg(sum(lit(1L) - col("cen")).as("deaths"), sum(col("cen")).as("censored"))
        val total = byDay.agg(sum(col("deaths") + col("censored")).as("_total"))
        val wD = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
        val risk = byDay.crossJoin(broadcast(total))
          .withColumn("n_risk",
            col("_total") - coalesce(sum(col("deaths") + col("censored")).over(wD), lit(0L)))
          .withColumn("_f",
            lit(1.0) - col("deaths").cast("double") / col("n_risk").cast("double"))
        risk.agg(sort_array(collect_list(
            struct(col("t"), col("deaths"), col("censored"), col("n_risk"), col("_f")))).as("rs"))
          .select(col("rs"), posexplode(col("rs")).as(Seq("i", "r")))
          .select(col("r.t").as("t"), col("r.deaths").as("deaths"),
            col("r.censored").as("censored"), col("r.n_risk").as("n_risk"),
            expr("round(aggregate(slice(transform(rs, x -> x._f), 1, i + 1), " +
              "CAST(1.0 AS DOUBLE), (a, x) -> a * x), 6)").as("survival"))
      },
      Some("""WITH per AS (
             |  SELECT user_id, CAST(min(ts) AS DATE) AS fd,
             |    CAST(min(CASE WHEN event_type = 'purchase' AND value > 150
             |             THEN ts END) AS DATE) AS bd
             |  FROM events GROUP BY 1
             |), g AS (SELECT CAST(max(ts) AS DATE) AS gm FROM events),
             |byday AS (
             |  SELECT CAST(CASE WHEN bd IS NOT NULL THEN date_diff('day', fd, bd)
             |              ELSE date_diff('day', fd, gm) END AS BIGINT) AS t,
             |    sum(CASE WHEN bd IS NOT NULL THEN 1 ELSE 0 END) AS deaths,
             |    sum(CASE WHEN bd IS NOT NULL THEN 0 ELSE 1 END) AS censored
             |  FROM per, g GROUP BY 1
             |), tot AS (SELECT sum(deaths + censored) AS total FROM byday),
             |risk AS (
             |  SELECT t, deaths, censored,
             |    total - coalesce(sum(deaths + censored) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
             |  FROM byday, tot
             |), fs AS (
             |  SELECT list(1 - CAST(deaths AS DOUBLE) / n_risk ORDER BY t) AS l,
             |         list(t ORDER BY t) AS ts
             |  FROM risk
             |)
             |SELECT r.t, CAST(r.deaths AS BIGINT) AS deaths,
             |  CAST(r.censored AS BIGINT) AS censored, CAST(r.n_risk AS BIGINT) AS n_risk,
             |  round(list_reduce(list_prepend(1.0, l[1:list_position(ts, r.t)]),
             |    (a, b) -> a * b), 6) AS survival
             |FROM risk r, fs""".stripMargin),
      "Kaplan-Meier survival curve (censoring-aware; calendar-bounded day frame, fixed-order factor fold)"),

    Q("q152_ab_ztest",
      (s, d) => {
        // two-proportion z-test for a hash-bucketed A/B split (variant
        // = user_id mod 2, conversion = any purchase). ONE user-keyed
        // shuffle; the test statistic is pure rational arithmetic over
        // exact counts plus a single sqrt — IEEE-754 requires sqrt
        // correctly rounded, so the whole expression is engine-portable
        // with the SAME tree on both sides
        val per = events(s, d).groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
          .select(pmod(col("user_id"), lit(2)).as("variant"), col("conv"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        val a = per.filter(col("variant") === 0)
          .select(col("n").as("n_a"), col("c").as("conv_a"))
        val b = per.filter(col("variant") === 1)
          .select(col("n").as("n_b"), col("c").as("conv_b"))
        a.crossJoin(b)
          .withColumn("_p1", col("conv_a").cast("double") / col("n_a").cast("double"))
          .withColumn("_p2", col("conv_b").cast("double") / col("n_b").cast("double"))
          .withColumn("_pp", (col("conv_a") + col("conv_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"))
          .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
            round((col("_p1") - col("_p2")) /
              sqrt(col("_pp") * (lit(1.0) - col("_pp")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))), 6).as("z"))
      },
      Some("""WITH per AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
             |  FROM events GROUP BY 1
             |), v AS (
             |  SELECT user_id % 2 AS variant, count(*) AS n, sum(conv) AS c
             |  FROM per GROUP BY 1
             |), a AS (SELECT n AS n_a, c AS conv_a FROM v WHERE variant = 0),
             |b AS (SELECT n AS n_b, c AS conv_b FROM v WHERE variant = 1),
             |j AS (
             |  SELECT n_a, conv_a, n_b, conv_b,
             |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
             |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
             |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
             |  FROM a, b
             |)
             |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
             |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
             |  round((p1 - p2) / sqrt(pp * (1.0 - pp) *
             |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
             |FROM j""".stripMargin),
      "two-proportion A/B z-test (hash-bucketed variants, exact counts, correctly-rounded sqrt)"),

    Q("q153_welch_ttest",
      (s, d) => {
        // Welch's unequal-variance t between two groups' prices,
        // snapped to whole dollars so Σx and Σx² are EXACT longs
        // (cents² would overflow; dollar² · 600k rows ≈ 6e13 ≪ 2^63).
        // Sample variance from the exact sums is an integer-ratio
        // double; t and the Welch–Satterthwaite df are the mirrored
        // rational trees + IEEE sqrt
        val g = lineitem(s, d)
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("g"),
            round(col("l_extendedprice") / 100).cast("long").as("x"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"))
          .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
          .withColumn("var",
            (col("n").cast("double") * col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double")) /
              (col("n").cast("double") * (col("n") - 1).cast("double")))
        val a = g.filter(col("g") === "R").select(col("n").as("n_a"),
          col("mean").as("m_a"), col("var").as("v_a"))
        val b = g.filter(col("g") === "A").select(col("n").as("n_b"),
          col("mean").as("m_b"), col("var").as("v_b"))
        a.crossJoin(b)
          .withColumn("_se2", col("v_a") / col("n_a").cast("double") +
            col("v_b") / col("n_b").cast("double"))
          .select(col("n_a"), col("n_b"),
            round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
            round((col("m_a") - col("m_b")) / sqrt(col("_se2")), 6).as("t"),
            round(col("_se2") * col("_se2") /
              (col("v_a") * col("v_a") /
                (col("n_a").cast("double") * col("n_a").cast("double") *
                  (col("n_a") - 1).cast("double")) +
                col("v_b") * col("v_b") /
                  (col("n_b").cast("double") * col("n_b").cast("double") *
                    (col("n_b") - 1).cast("double"))), 2).as("df"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag AS g, count(*) AS n,
             |    sum(CAST(round(l_extendedprice / 100) AS BIGINT)) AS s1,
             |    sum(CAST(round(l_extendedprice / 100) AS BIGINT) *
             |        CAST(round(l_extendedprice / 100) AS BIGINT)) AS s2
             |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
             |), m AS (
             |  SELECT g, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
             |     CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
             |  FROM g
             |), a AS (SELECT n AS n_a, mean AS m_a, var AS v_a FROM m WHERE g = 'R'),
             |b AS (SELECT n AS n_b, mean AS m_b, var AS v_b FROM m WHERE g = 'A'),
             |j AS (
             |  SELECT n_a, n_b, m_a, m_b, v_a, v_b,
             |    v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE) AS se2
             |  FROM a, b
             |)
             |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
             |  round((m_a - m_b) / sqrt(se2), 6) AS t,
             |  round(se2 * se2 /
             |    (v_a * v_a / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE) *
             |                  CAST(n_a - 1 AS DOUBLE)) +
             |     v_b * v_b / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE) *
             |                  CAST(n_b - 1 AS DOUBLE))), 2) AS df
             |FROM j""".stripMargin),
      "Welch unequal-variance t-test + Satterthwaite df (dollar-snapped exact moment sums, mirrored rational trees)"),

    Q("q154_cusum_changepoint",
      (s, d) => {
        // CUSUM changepoint scan over the daily purchase-revenue
        // series. Day frame is CALENDAR-bounded, so its global-order
        // window is constant-size at any corpus scale; the one wide
        // shuffle is the day aggregation (cents sums — exact longs).
        // The deviation cusum is kept integer by scaling with the day
        // count: S_k = n·Σ_{i≤k}x_i − k·Σx (never a float mean), so
        // the argmax day is engine-exact; ties break to the earliest
        // day via the unique (|S|, −day) ordering key
        val daily = events(s, d).filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("rev_cents"))
        val tot = daily.agg(count(lit(1)).as("_n"), sum(col("rev_cents")).as("_tot"))
        val wD = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
        val cus = daily.crossJoin(broadcast(tot))
          .withColumn("_k", count(lit(1)).over(wD))
          .withColumn("_cum", sum(col("rev_cents")).over(wD))
          .withColumn("cusum_scaled", col("_n") * col("_cum") - col("_k") * col("_tot"))
        val cp = cus.agg(max_by(col("day"), struct(abs(col("cusum_scaled")),
          -datediff(col("day"), to_date(lit("1970-01-01"))))).as("_cpd"))
        cus.crossJoin(broadcast(cp))
          .select(col("day"), col("rev_cents"), col("cusum_scaled"),
            (col("day") === col("_cpd")).as("is_changepoint"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1
             |), t AS (SELECT count(*) AS n, sum(rev_cents) AS tot FROM daily),
             |c AS (
             |  SELECT day, rev_cents,
             |    CAST(n * sum(rev_cents) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
             |    (row_number() OVER (ORDER BY day)) * tot AS BIGINT) AS cusum_scaled
             |  FROM daily, t
             |), cp AS (
             |  SELECT day AS cpd FROM c
             |  ORDER BY abs(cusum_scaled) DESC, day LIMIT 1
             |)
             |SELECT c.day, c.rev_cents, c.cusum_scaled,
             |  c.day = cp.cpd AS is_changepoint
             |FROM c, cp""".stripMargin),
      "CUSUM changepoint scan (calendar-bounded day series, integer-scaled deviations, exact argmax day)"),

    Q("q155_dbscan",
      (s, d) =>
        // density clustering over the embeddings' first two dims (the
        // post-PCA-projection shape); eps/minPts picked so sf0.01 has
        // a genuine core/border/noise mix (141 cores of 500). The
        // ε-graph comes from the grid-cell radius join — the oracle
        // re-derives it brute-force and closes it with the q64
        // recursive-CTE pattern
        Density.dbscan(
          embeddings(s, d).select(col("vec_id"),
            element_at(col("embedding"), 1).as("e0"),
            element_at(col("embedding"), 2).as("e1")),
          "vec_id", "e0", "e1", eps = 0.02, minPts = 6),
      Some("""WITH RECURSIVE pts AS (
             |  SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
             |         CAST(embedding[2] AS DOUBLE) AS y
             |  FROM embeddings
             |), pairs AS (
             |  SELECT a.id AS ia, b.id AS ib FROM pts a JOIN pts b
             |  ON a.id <> b.id AND
             |     (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0004
             |), core AS (
             |  SELECT ia AS id FROM pairs GROUP BY ia HAVING count(*) + 1 >= 6
             |), ce AS (
             |  SELECT p.ia AS s, p.ib AS d FROM pairs p
             |  JOIN core ca ON ca.id = p.ia JOIN core cb ON cb.id = p.ib
             |), reach AS (
             |  SELECT s AS id, s AS r FROM ce
             |  UNION
             |  SELECT ce.s, reach.r FROM ce JOIN reach ON ce.d = reach.id
             |), cc AS (
             |  SELECT id, min(r) AS component FROM reach GROUP BY id
             |), corec AS (
             |  SELECT core.id, coalesce(cc.component, core.id) AS cluster
             |  FROM core LEFT JOIN cc ON cc.id = core.id
             |), border AS (
             |  SELECT p.ia AS id, min(corec.cluster) AS bc
             |  FROM pairs p JOIN corec ON corec.id = p.ib
             |  WHERE p.ia NOT IN (SELECT id FROM core)
             |  GROUP BY p.ia
             |)
             |SELECT pts.id, corec.id IS NOT NULL AS is_core,
             |  CAST(coalesce(corec.cluster, border.bc, -1) AS BIGINT) AS cluster
             |FROM pts LEFT JOIN corec ON corec.id = pts.id
             |LEFT JOIN border ON border.id = pts.id""".stripMargin),
      "planar DBSCAN (grid-cell eps-graph, CC core collapse, deterministic min-core border assignment, noise = -1)"),

    // ---- distributed-branch twins: the adaptive graph operators take
    // their driver cutover at every bench SF (the aggregated graphs are
    // key-space-bounded), so these entries force the cutover OFF and
    // pin the distributed joins/aggregations to the SAME oracles —
    // driver-verified coverage of the code paths a 100-TB graph would
    // actually run

    Q("q156_pagerank_dist",
      (s, d) => Graph.pageRank(tradeEdges(s, d), "src", "dst", "w",
        iters = 3, driverEdgeLimit = 0),
      Some(pagerankOracleSql),
      "q128's distributed rank loop (driver cutover disabled): per-round edges⋈ranks shuffle join + groupBy(dst), identical integer micro-mass arithmetic"),

    Q("q157_labelprop_dist",
      (s, d) => Graph.labelPropagation(tradeEdges(s, d), "src", "dst", "w",
        iters = 4, driverEdgeLimit = 0),
      Some(labelPropOracleSql),
      "q140's distributed vote loop (driver cutover disabled): per-round edges⋈labels join + min_by plurality argmax, identical tie-break semantics"),

    Q("q158_dup_clusters_dist",
      (s, d) => Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
            shingleK = 3, minJaccard = 0.12)
            .select(col("id_a"), col("id_b")),
          "id_a", "id_b", driverEdgeLimit = 0)
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("cluster_id")),
      Some(dupClustersOracleSql),
      "q64's distributed min-label CC (union-find cutover disabled): fused first round + per-round skinny (id,label) shuffles, sum-of-labels convergence certificate"),

    Q("q159_ks_matrix",
      // q141's pairwise generalization: ONE corpus pass computes the
      // KS drift statistic for every returnflag pair (the dashboard
      // shape: which populations moved vs which). Same two-level
      // prefix scheme, G cumulative states in the same two windows
      (s, d) => Stats.ksMatrix(lineitem(s, d), "l_extendedprice",
        "l_returnflag"),
      Some {
        // groups are l_returnflag's fixed domain (A < N < R, matching
        // ksMatrix's sorted driver collect); cum CDFs for all three in
        // one window pass, one UNION ALL branch per pair
        val gs = Seq("A", "N", "R")
        val idx = gs.indices
        val cs = idx.map(i =>
          s"    sum(CASE WHEN l_returnflag = '${gs(i)}' THEN 1 ELSE 0 END) AS c$i")
          .mkString(",\n")
        val ns = idx.map(i => s"sum(c$i) AS n$i").mkString(", ")
        val us = idx.map(i => s"sum(c$i) OVER w AS u$i").mkString(",\n    ")
        val pairs = for { i <- idx; j <- idx if i < j } yield (i, j)
        val ds = pairs.map { case (i, j) =>
          s"abs(u$i * n$j - u$j * n$i) AS d${i}$j" }.mkString(",\n    ")
        val ms = pairs.map { case (i, j) => s"max(d${i}$j) AS m${i}$j" }.mkString(", ")
        val branches = pairs.map { case (i, j) =>
          s"""SELECT '${gs(i)}' AS g_a, '${gs(j)}' AS g_b,
             |  CAST(n$i AS BIGINT) AS n_a, CAST(n$j AS BIGINT) AS n_b,
             |  round(CAST(m${i}$j AS DOUBLE) / (CAST(n$i AS DOUBLE) * CAST(n$j AS DOUBLE)), 9) AS d_stat,
             |  (SELECT min(v) FROM dd, m WHERE d${i}$j = m${i}$j) AS at_value
             |FROM g, m""".stripMargin }.mkString("\nUNION ALL\n")
        s"""WITH c AS (
           |  SELECT l_extendedprice AS v,
           |$cs
           |  FROM lineitem GROUP BY 1
           |), g AS (SELECT $ns FROM c),
           |cum AS (
           |  SELECT v,
           |    $us
           |  FROM c
           |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |), dd AS (
           |  SELECT v,
           |    $ds
           |  FROM cum, g
           |), m AS (SELECT $ms FROM dd)
           |$branches""".stripMargin
      },
      "all-pairs KS drift matrix (one corpus pass, G merged CDFs in two shared windows, per-pair integer sup)"),

    Q("q160_mixture_allocate",
      // α=1/2 temperature mixing over the language distribution: the
      // skewed lang domain (en dominates) shows the flattening — en's
      // share of the 1000-doc budget drops below its corpus share
      (s, d) => Sampling.temperatureAllocate(documents(s, d), col("lang"), 1000L),
      // full re-derivation: graded sqrt (IEEE sqrt is correctly rounded
      // in both engines; graded to micro-units before any sum), then
      // exact integer Hamilton apportionment with the same (rem DESC,
      // source ASC) tie-break
      Some("""WITH c AS (
             |  SELECT lang AS source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang
             |), g AS (
             |  SELECT source, n_docs,
             |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000, 0) AS BIGINT) AS s
             |  FROM c
             |), t AS (SELECT CAST(sum(s) AS BIGINT) AS total FROM g),
             |f AS (
             |  SELECT source, n_docs, s,
             |    s * 1000000 // total AS weight_ppm,
             |    1000 * s // total AS fl,
             |    1000 * s % total AS rem
             |  FROM g CROSS JOIN t
             |), l AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS leftover FROM f),
             |r AS (
             |  SELECT *, row_number() OVER (ORDER BY rem DESC, coalesce(source, '')) AS rn
             |  FROM f
             |)
             |SELECT source, n_docs, CAST(weight_ppm AS BIGINT) AS weight_ppm,
             |  CAST(fl + CASE WHEN rn <= (SELECT leftover FROM l) THEN 1 ELSE 0 END
             |    AS BIGINT) AS alloc
             |FROM r""".stripMargin),
      "temperature-smoothed (α=0.5) mixture allocation: graded-sqrt weights + exact integer Hamilton apportionment, sum(alloc)=budget"),

    Q("q161_k_anonymity",
      (s, d) => Privacy.kAnonymityAudit(customer(s, d),
        Seq(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment").as("mktsegment")),
        floor(col("c_acctbal") / 1000).cast("long"), k = 5, l = 3),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             |  c_mktsegment AS mktsegment,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
             |    AS n_sensitive,
             |  CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS k_ok,
             |  CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3
             |    THEN 1 ELSE 0 END AS BIGINT) AS l_ok
             |FROM customer GROUP BY 1, 2""".stripMargin),
      "k-anonymity / l-diversity release audit: per-QI-group size + sensitive-domain diversity verdicts (one hash agg, bounded output)"),

    Q("q162_image_neardup",
      // perceptual image dedup over the binary column: decode → dHash
      // → guaranteed-recall banded Hamming join. The fabricated corpus
      // plants near-dup groups (doc_id mod 200 shares a pixel base;
      // 1/64 of pixels perturbed per doc), so pairs are within-group
      // with small nonzero Hamming distances — the "same image,
      // different encode" structure the operator exists to find
      (s, d) => Multimodal.imageNearDup(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateNearDupImageCol(col("doc_id"), 200).as("content")),
          "doc_id", "content", maxHamming = 4)
        .withColumn("hamming", col("hamming").cast("long")),
      // the oracle re-derives every sampled PIXEL from the fabrication
      // arithmetic (splitmix64 via OracleSql.mix64), rebuilds each
      // 64-bit dHash, and takes ALL pairs within Hamming 4 directly —
      // valid because the block-combination banding has guaranteed
      // recall at Hamming ≤ 4, so the Spark output is exactly that set
      Some {
        def pix(pos: String): String = {
          val payload =
            s"(${OracleSql.mix64(s"CAST(b * 1048576 + $pos AS UBIGINT)")} & 255)"
          val perturb =
            s"CASE WHEN (${OracleSql.mix64(s"CAST(doc_id * 8191 + $pos AS UBIGINT)")} & 63) = 0 THEN 32 ELSE 0 END"
          s"CAST((($payload + $perturb) & 255) AS BIGINT)"
        }
        s"""WITH dims AS (
           |  SELECT doc_id, doc_id % 200 AS b,
           |    16 + (doc_id % 200) % 48 AS w,
           |    16 + ((doc_id % 200) * 7) % 48 AS h
           |  FROM documents
           |), bits AS (
           |  SELECT doc_id, j,
           |    ${pix("((j * (w*h - 1)) // 64)")} AS pa,
           |    ${pix("(((j+1) * (w*h - 1)) // 64)")} AS pb
           |  FROM dims CROSS JOIN (SELECT unnest(range(64)) AS j)
           |), sh AS (
           |  SELECT doc_id,
           |    CAST(coalesce(sum(CASE WHEN pa < pb
           |      THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT) ELSE 0 END),
           |      0) AS UBIGINT) AS sh
           |  FROM bits GROUP BY doc_id
           |)
           |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           |  CAST(bit_count(xor(a.sh, b2.sh)) AS BIGINT) AS hamming
           |FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
           |WHERE bit_count(xor(a.sh, b2.sh)) <= 4""".stripMargin
      },
      "multimodal perceptual near-dup: binary decode → 64-bit dHash → banded Hamming pairs (hashes oracle-recomputed pixel-by-pixel in SQL)"),

    Q("q163_mixture_interleave",
      // turn the q160 quotas into an actual global training order:
      // stride keys (2i-1)/(2n_s) spread each lang at its allocated
      // rate from position 1; global rank via the zero-window
      // driver-folded row-number path (q14's structure)
      (s, d) => Sampling.mixtureInterleave(documents(s, d), col("lang"),
        col("doc_id"), 1000L),
      // full re-derivation: the q160 Hamilton CTEs give per-source
      // quotas; the per-source draw replays mix64 order; the stride key
      // is ONE exact-integer IEEE division so the global row_number
      // agrees bit-for-bit; ties break (coalesce(source,''), src_idx)
      Some(s"""WITH c AS (
             |  SELECT lang AS source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang
             |), g AS (
             |  SELECT source, n_docs,
             |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000, 0) AS BIGINT) AS s
             |  FROM c
             |), t AS (SELECT CAST(sum(s) AS BIGINT) AS total FROM g),
             |f AS (
             |  SELECT source, s, 1000 * s // total AS fl, 1000 * s % total AS rem
             |  FROM g CROSS JOIN t
             |), l AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS leftover FROM f),
             |r AS (
             |  SELECT source, fl,
             |    row_number() OVER (ORDER BY rem DESC, coalesce(source, '')) AS rn
             |  FROM f
             |), a AS (
             |  SELECT source,
             |    fl + CASE WHEN rn <= (SELECT leftover FROM l) THEN 1 ELSE 0 END AS alloc
             |  FROM r
             |), docs AS (
             |  SELECT doc_id, lang AS source,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY ${OracleSql.mix64Signed("doc_id")}, doc_id) AS BIGINT)
             |      AS src_idx
             |  FROM documents
             |), sel AS (
             |  SELECT d.doc_id, d.source, d.src_idx, a.alloc
             |  FROM docs d JOIN a ON d.source IS NOT DISTINCT FROM a.source
             |  WHERE d.src_idx <= a.alloc
             |)
             |SELECT CAST(row_number() OVER (
             |    ORDER BY CAST(2 * src_idx - 1 AS DOUBLE) / CAST(2 * alloc AS DOUBLE),
             |      coalesce(source, ''), src_idx) AS BIGINT) AS pos,
             |  source, src_idx, doc_id AS id
             |FROM sel""".stripMargin),
      "stride-scheduled mixture interleave: α=0.5 quotas → deterministic per-source draw → evenly-spread global training order (zero-window global rank)"),

    Q("q164_jl_projection",
      // 64-dim float embeddings → 16-dim integer-graded JL sign
      // projection: the preprocessing that makes high-dim embedding
      // columns affordable to band/bucket at corpus scale
      (s, d) => Similarity.jlProject(embeddings(s, d), "vec_id", "embedding",
        inDim = 64, outDim = 16),
      // sign matrix re-derived from mix64(j*64 + i-1) bit 0; inputs
      // graded to micro-units BEFORE the sum so the projection is exact
      // integer math in both engines (no FP accumulation order)
      // vec-local end-to-end → sharded whole over embeddings
      // (OracleSql.residueSharded)
      Some(OracleSql.residueSharded(
        s"""g AS (
           |  SELECT vec_id,
           |    [CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
           |     FOR x IN embedding] AS gv
           |  FROM embeddings
           |), vout AS (
           |  SELECT vec_id, CAST(j AS BIGINT) AS j,
           |    CAST(sum((((${OracleSql.mix64Signed("j * 64 + i - 1")}) & 1) * 2 - 1)
           |      * gv[i]) AS BIGINT) AS comp
           |  FROM g
           |  CROSS JOIN (SELECT unnest(range(16)) AS j)
           |  CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
           |  GROUP BY vec_id, j
           |)""".stripMargin,
        outCte = "vout", finalSql = "SELECT * FROM vout",
        table = "embeddings", key = "vec_id")),
      "Johnson-Lindenstrauss ±1 random projection (map-only, exact integer micro-unit arithmetic, sign matrix re-derived in SQL)"),

    Q("q165_perplexity_gate",
      // compose the two proven pieces: q108's bigram LM scores + the
      // rank-based per-group percentile — drop each language's worst
      // decile (the KenLM-style curation gate, per-lang thresholds)
      (s, d) => LanguageModel.perplexityGate(documents(s, d), "doc_id", "text",
          "lang", dropFrac = 0.10)
        .withColumnRenamed("grp", "lang"),
      // q108's oracle CTEs verbatim, then quantile_cont per lang and
      // the >= filter; scores are exact integer micro-nat sums divided
      // once, so both engines compare identical doubles (equal-bracket
      // cutoffs are returned exactly by both interpolations)
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pt AS (
             |  SELECT doc_id, pair, count(*) AS tf FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS pair
             |    FROM toks) GROUP BY doc_id, pair
             |), bc AS (SELECT pair, sum(tf) AS bc FROM pt GROUP BY pair
             |), ut AS (
             |  SELECT doc_id, term, count(*) AS utf FROM (
             |    SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
             |), uc AS (SELECT term, sum(utf) AS uc FROM ut GROUP BY term
             |), v AS (SELECT count(*) AS v FROM uc
             |), lp AS (
             |  SELECT pt.doc_id, pt.tf,
             |    CAST(round(ln(CAST(bc.bc + 1 AS DOUBLE) / CAST(uc.uc + v.v AS DOUBLE)) * 1e6, 0)
             |      AS BIGINT) AS lp_micro
             |  FROM pt JOIN bc USING (pair)
             |  JOIN uc ON uc.term = string_split(pt.pair, ' ')[1]
             |  CROSS JOIN v
             |), score AS (
             |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |    CAST(sum(tf * lp_micro) AS DOUBLE) /
             |      CAST(sum(tf) * 1000000 AS DOUBLE) AS avg_logprob
             |  FROM lp GROUP BY doc_id
             |), sl AS (
             |  SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logprob
             |  FROM score s JOIN documents d USING (doc_id)
             |), """.stripMargin +
        // decile cutoff replays the engine's exact Percentile fold
        // (see quantileContExactCtes — the q180 30× lesson)
        OracleSql.quantileContExactCtes("qg", "sl", "lang", "avg_logprob",
          Seq(("cutoff", "0.10"))) + """
             |SELECT sl.doc_id, sl.lang, sl.n_bigrams, sl.avg_logprob
             |FROM sl JOIN qgthr USING (lang)
             |WHERE sl.avg_logprob >= qgthr.cutoff""".stripMargin),
      "perplexity-gate curation: corpus-trained bigram LM + per-language rank-percentile cutoff, worst decile dropped (no global window)"),

    Q("q166_source_overlap",
      (s, d) => Dedup.sourceOverlapMatrix(documents(s, d), "source", "text",
        shingleK = 3),
      // string-side re-derivation (q36's shingle CTE): hash-Jaccard
      // equals string-Jaccard collision-free at 64 bits
      Some("""WITH toks AS (
             |  SELECT source,
             |         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
             |  FROM documents
             |), sh AS (
             |  SELECT DISTINCT source,
             |         unnest([array_to_string(tk[i:i+2], ' ')
             |                 FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) AS sgl
             |  FROM toks WHERE len(tk) > 0
             |), n AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
             |), inter AS (
             |  SELECT a.source AS src_a, b.source AS src_b,
             |         CAST(count(*) AS BIGINT) AS n_shared
             |  FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.source < b.source
             |  GROUP BY 1, 2
             |)
             |SELECT i.src_a, i.src_b, i.n_shared, na.n AS n_a, nb.n AS n_b,
             |  round(CAST(i.n_shared AS DOUBLE) / least(na.n, nb.n), 6) AS containment,
             |  round(CAST(i.n_shared AS DOUBLE) / (na.n + nb.n - i.n_shared), 6) AS jaccard
             |FROM inter i JOIN n na ON i.src_a = na.source
             |JOIN n nb ON i.src_b = nb.source""".stripMargin),
      "cross-source shingle overlap matrix: one corpus pass, in-row pair fold, C(|sources|,2)-bounded output (no all-pairs doc join)"),

    Q("q167_hard_negatives",
      (s, d) => {
        val emb = embeddings(s, d)
        Similarity.hardNegatives(
            emb.filter(col("vec_id") % 25 =!= 0),
            emb.filter(col("vec_id") % 25 === 0),
            "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
          .withColumn("rank", col("rank").cast("long"))
      },
      Some("""SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             |CAST(rank AS BIGINT) AS rank FROM
             |(SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |  list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |    CAST(q.embedding AS DOUBLE[])) AS cosine,
             |  row_number() OVER (PARTITION BY q.vec_id
             |    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             |      CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank
             | FROM embeddings c, embeddings q
             | WHERE q.vec_id % 25 = 0 AND c.vec_id % 25 <> 0 AND c.label <> q.label)
             |WHERE rank <= 5""".stripMargin),
      "hard-negative mining: top-k most-similar DIFFERENT-label rows per probe (broadcast probes, label filter before the bounded heap)"),

    Q("q168_leakage_split",
      // cluster-consistent splits: q64's near-dup clusters + q101's
      // hash-band assignment, keyed on the CLUSTER so near-dups never
      // straddle train/eval; 1/size soft-dedup weights ride along
      (s, d) => {
        val docs = documents(s, d)
        Sampling.leakageSafeSplits(docs, "doc_id",
            Dedup.ngramJaccardPairs(docs, "text", "doc_id",
              shingleK = 3, minJaccard = 0.12)
              .select(col("id_a"), col("id_b")),
            "id_a", "id_b",
            Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
          .select(col("id").as("doc_id"), col("cluster"), col("cluster_size"),
            col("split"), col("weight"))
      },
      // q64's recursive closure CTEs + singleton coalesce + q101's
      // mix64 hash bands on the cluster label + exact 1/size weights
      Some(s"""WITH RECURSIVE toks AS (
              |  SELECT doc_id,
              |         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
              |  FROM documents
              |), sh AS (
              |  SELECT doc_id,
              |         list_distinct([array_to_string(tk[i:i+2], ' ')
              |                        FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)]) AS ss
              |  FROM toks WHERE len(tk) > 0
              |), ex AS MATERIALIZED (
              |  SELECT doc_id, len(ss) AS n, unnest(ss) AS g FROM sh
              |), pr AS (
              |  -- postings hash join (zero-overlap pairs can't reach 0.12)
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
              |         any_value(a.n) AS na, any_value(b.n) AS nb
              |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2
              |), pairs AS (
              |  SELECT id_a, id_b FROM pr WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.12
              |), e AS (
              |  SELECT id_a AS s, id_b AS d FROM pairs
              |  UNION
              |  SELECT id_b, id_a FROM pairs
              |), reach AS (
              |  SELECT s AS id, s AS r FROM e
              |  UNION
              |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
              |), cl AS (
              |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
              |  FROM reach GROUP BY id
              |), alldocs AS (
              |  SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
              |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
              |), sz AS (
              |  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
              |  FROM alldocs GROUP BY cluster
              |), j AS (
              |  SELECT a.doc_id, a.cluster, s.cluster_size,
              |    ((${OracleSql.mix64Signed("a.cluster")}) % 1000000 + 1000000) % 1000000 AS hb
              |  FROM alldocs a JOIN sz s ON a.cluster = s.cluster
              |)
              |SELECT doc_id, cluster, cluster_size,
              |  CASE WHEN hb < 800000 THEN 'train'
              |       WHEN hb < 900000 THEN 'val'
              |       ELSE 'test' END AS split,
              |  round(1.0 / cluster_size, 6) AS weight
              |FROM j""".stripMargin),
      "leakage-safe splits: near-dup clusters share one hash-band split; 1/cluster_size soft-dedup weights (cluster frame is dup-docs-only)"),

    Q("q169_winnowing",
      (s, d) => Dedup.winnowingPairs(documents(s, d), "text", "doc_id",
        k = 5, w = 4, minShared = 2),
      // full re-derivation: positional k-gram rolling hashes (q42's
      // arithmetic), w-window list_min selection, distinct fingerprints,
      // shared-fingerprint pairs — DuckDB list slices are inclusive so
      // tk[i:i+4] is the 5-gram and hs[i:i+3] the 4-window
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), kg AS (
             |  SELECT doc_id,
             |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(tk[i:i+4],
             |          x -> CAST(length(x) * 7 + ascii(x) AS BIGINT))),
             |      (a, b) -> (a * 31 + b) % 1000000007)
             |     FOR i IN range(1, len(tk) - 5 + 2)] AS hs
             |  FROM toks WHERE len(tk) >= 8
             |), fp AS (
             |  SELECT doc_id,
             |    list_distinct([list_min(hs[i:i+3])
             |                   FOR i IN range(1, len(hs) - 4 + 2)]) AS fps
             |  FROM kg
             |), nf AS (
             |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS nf FROM fp
             |), ex AS (
             |  SELECT doc_id, unnest(fps) AS f FROM fp
             |), pr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         CAST(count(*) AS BIGINT) AS n_shared
             |  FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |)
             |SELECT pr.id_a, pr.id_b, pr.n_shared, na.nf AS nf_a, nb.nf AS nf_b,
             |  round(CAST(pr.n_shared AS DOUBLE) / least(na.nf, nb.nf), 6) AS score
             |FROM pr JOIN nf na ON pr.id_a = na.doc_id
             |JOIN nf nb ON pr.id_b = nb.doc_id
             |WHERE pr.n_shared >= 2""".stripMargin),
      "winnowing (MOSS) fingerprint pairs: in-row window-min selection, 8-byte inverted index, guaranteed detection of shared k+w-1 token runs"),

    Q("q170_sprt",
      // Wald SPRT per experiment cell: H0 p=0.4 vs H1 p=0.6 on the
      // value>=5 success indicator, α=β=0.05. The micro-nat constants
      // are precomputed integer literals in BOTH engines (ln never
      // evaluates at query time): ln(1.5)e6=405465, ln(19)e6=2944439
      (s, d) => Stats.sprt(events(s, d),
          col("user_id") % 8, "ts", "event_id",
          col("value") >= 5.0,
          c1Micro = 405465L, c0Micro = -405465L,
          aMicro = 2944439L, bMicro = -2944439L)
        .withColumn("key", col("key").cast("long")),
      Some("""WITH walked AS (
             |  SELECT user_id % 8 AS key,
             |    sum(CASE WHEN value >= 5.0 THEN 405465 ELSE -405465 END)
             |      OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr,
             |    row_number() OVER (PARTITION BY user_id % 8
             |                       ORDER BY ts, event_id) AS n
             |  FROM events
             |), dec AS (
             |  SELECT key, llr, n,
             |    CASE WHEN CAST(llr AS BIGINT) >= 2944439 THEN 'accept_h1'
             |         WHEN CAST(llr AS BIGINT) <= -2944439 THEN 'accept_h0' END AS d
             |  FROM walked
             |), firsts AS (
             |  SELECT key, min(n) AS nd FROM dec WHERE d IS NOT NULL GROUP BY key
             |), tot AS (
             |  SELECT key, CAST(count(*) AS BIGINT) AS n_seen,
             |    max_by(llr, n) AS llr_final
             |  FROM dec GROUP BY key
             |)
             |SELECT CAST(t.key AS BIGINT) AS key, t.n_seen,
             |  coalesce(dd.d, 'continue') AS decision,
             |  CAST(f.nd AS BIGINT) AS n_at_decision,
             |  CAST(coalesce(dd.llr, t.llr_final) AS BIGINT) AS llr_micro
             |FROM tot t
             |LEFT JOIN firsts f ON t.key = f.key
             |LEFT JOIN dec dd ON dd.key = t.key AND dd.n = f.nd""".stripMargin),
      "Wald SPRT sequential A/B stop rule: exact integer micro-nat LLR walk, one key shuffle, first-crossing decision per cell"),

    Q("q171_dsir_weights",
      // DSIR importance weighting (Xie et al. 2023): score every doc by
      // how much more likely its hashed-bigram features are under the
      // English slice (the stand-in "high-quality target") than under
      // the raw pool. FIT is one bucket-count scan folded to a literal
      // weight map on the driver; SCORE is the returned map-only pass.
      (s, d) => Dsir.importanceWeights(documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 4096, shingleK = 2,
        alpha = 1.0),
      // Full re-derivation: same tokenizer as the dedup family, bigram
      // shingles WITH the short-text edge (1 token -> 1 shingle, the
      // greatest(...) guard), bucket = mix64(poly31) mod 2^12, add-1
      // smoothed micro-nat weights rounded half-up exactly as the
      // driver fold does, then the per-doc integer sum.
      Some {
        val bhash = s"CAST(${OracleSql.mix64(OracleSql.poly31("sgl"))} % 4096 AS BIGINT)"
        s"""WITH toks AS (
           |  SELECT doc_id, (lang = 'en') AS tgt,
           |         list_filter(string_split_regex(lower(${OracleSql.caseFold("text")}), '\\s+'), t -> t <> '') AS tk
           |  FROM documents
           |), sg AS (
           |  SELECT doc_id, tgt, unnest([array_to_string(tk[i:i+1], ' ')
           |                              FOR i IN range(1, greatest(len(tk) - 1, 1) + 1)]) AS sgl
           |  FROM toks WHERE len(tk) > 0
           |), bk AS (
           |  SELECT doc_id, tgt, $bhash AS b FROM sg
           |), cnt AS (
           |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
           |         sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS rc
           |  FROM bk GROUP BY b
           |), tot AS (
           |  SELECT sum(tc) + 4096.0 AS dent, sum(rc) + 4096.0 AS denr FROM cnt
           |), w AS (
           |  SELECT b, CAST(round((ln((tc + 1.0) / tot.dent) -
           |                        ln((rc + 1.0) / tot.denr)) * 1000000, 0) AS BIGINT) AS w
           |  FROM cnt CROSS JOIN tot
           |), sc AS (
           |  SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams, sum(w.w) AS micro
           |  FROM bk JOIN w USING (b) GROUP BY bk.doc_id
           |)
           |SELECT d.doc_id, coalesce(sc.n_grams, 0) AS n_grams,
           |  CAST(coalesce(sc.micro, 0) AS DOUBLE) / 1000000.0 AS logw
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
      },
      "DSIR hashed-ngram importance weights: bucket-count fit folded to a literal map, map-only integer-graded scoring (two scans, no joins, no windows)"),

    Q("q172_rendezvous_shard",
      // HRW routing at n=8 and n=9 on the customer key: the catalog row
      // pins BOTH assignments plus the moved flag, so the oracle
      // verifies argmax + signed compare + first-position ties AND the
      // minimal-movement property on real keys (moved => winner is the
      // NEW shard; LayoutSpec asserts that structurally).
      (s, d) => customer(s, d)
        .select(col("c_custkey"),
          Layout.rendezvousShard(col("c_custkey"), 8).cast("long").as("shard8"),
          Layout.rendezvousShard(col("c_custkey"), 9).cast("long").as("shard9"))
        .withColumn("moved", col("shard8") =!= col("shard9")),
      // Staged re-derivation (the q96 pattern — mix64 nests macro-expand,
      // so each hash stage is its own projection): h = mix64(key), nine
      // unsigned scores mix64(h XOR s), signed reinterpretation, then
      // greatest() + a first-match CASE = argmax with lowest-id ties.
      Some {
        val hh = OracleSql.mix64("CAST(c_custkey AS UBIGINT)")
        val us = (0 until 9).map(s => s"${OracleSql.mix64(s"xor(hh, $s)")} AS u$s").mkString(",\n         ")
        val ss = (0 until 9).map(s => s"${OracleSql.toSigned(s"u$s")} AS s$s").mkString(",\n         ")
        def argmax(n: Int): String = {
          val m = (0 until n).map(s => s"s$s").mkString("greatest(", ", ", ")")
          (0 until n).map(s => s"WHEN s$s = $m THEN $s").mkString("CASE ", " ", " END")
        }
        s"""WITH h AS (
           |  SELECT c_custkey, $hh AS hh FROM customer
           |), un AS (
           |  SELECT c_custkey,
           |         $us
           |  FROM h
           |), sgn AS (
           |  SELECT c_custkey,
           |         $ss
           |  FROM un
           |), sh AS (
           |  SELECT c_custkey,
           |         CAST(${argmax(8)} AS BIGINT) AS shard8,
           |         CAST(${argmax(9)} AS BIGINT) AS shard9
           |  FROM sgn
           |)
           |SELECT c_custkey, shard8, shard9, shard8 <> shard9 AS moved
           |FROM sh""".stripMargin
      },
      "rendezvous (HRW) shard routing: per-row codegen'd mix64 score argmax, signed compare, first-position ties; n->n+1 moves only winner-changed keys"),

    Q("q173_unimax_allocate",
      // UniMax water-filling over the (skewed) language counts:
      // caps = 2 epochs, budget 700 < sum(caps) = 1000 so the level
      // actually binds — fr/de saturate, es/zh/en split the residual
      (s, d) => Sampling.unimaxAllocate(documents(s, d), col("lang"),
        budget = 700L, maxEpochs = 2L),
      // full integer re-derivation: ascending-cap ranks, the per-row
      // prefix fit test (provably equivalent to the iterative
      // water-filling — failure is monotone in rank), integer level +
      // mod split with leftover units to the first unsaturated keys
      Some("""WITH counts AS (
             |  SELECT lang AS source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang
             |), caps AS (
             |  SELECT source, n_docs, n_docs * 2 AS cap FROM counts
             |), ord AS (
             |  SELECT *,
             |    row_number() OVER (ORDER BY cap, coalesce(source, '')) AS rk,
             |    count(*) OVER () AS ns,
             |    coalesce(sum(cap) OVER (ORDER BY cap, coalesce(source, '')
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
             |  FROM caps
             |), st AS (
             |  SELECT *, cap * (ns - rk + 1) <= 700 - pre AS sat FROM ord
             |), agg AS (
             |  SELECT coalesce(sum(cap) FILTER (WHERE sat), 0) AS presat,
             |         count(*) FILTER (WHERE NOT sat) AS m
             |  FROM st
             |), lvl AS (
             |  SELECT CASE WHEN m = 0 THEN 0 ELSE (700 - presat) // m END AS level,
             |         CASE WHEN m = 0 THEN 0 ELSE (700 - presat) % m END AS rem
             |  FROM agg
             |), ur AS (
             |  SELECT source,
             |    row_number() OVER (ORDER BY coalesce(source, '')) AS urank
             |  FROM st WHERE NOT sat
             |)
             |SELECT st.source, st.n_docs, CAST(st.cap AS BIGINT) AS cap,
             |  CAST(CASE WHEN st.sat THEN st.cap
             |       ELSE lvl.level + CASE WHEN ur.urank <= lvl.rem THEN 1 ELSE 0 END
             |       END AS BIGINT) AS alloc
             |FROM st CROSS JOIN lvl
             |LEFT JOIN ur ON ur.source IS NOT DISTINCT FROM st.source""".stripMargin),
      "UniMax epoch-capped uniform allocation: water-filling level over per-source caps, exact integer arithmetic, one groupBy + bounded driver fold"),

    Q("q174_blocklist",
      // Aho-Corasick blocklist scan: single-word, phrase, and
      // overlapping-capable patterns over the corpus vocabulary; the
      // automaton is a plan constant, the scan one codegen pass
      (s, d) => {
        val hits = TextFunctions.blocklistHits(col("text"),
          Seq("slow", "big query", "scan sort", "a a"))
        documents(s, d).select(col("doc_id"),
          element_at(hits, 1).as("n_hits"),
          element_at(hits, 2).as("n_patterns"))
      },
      // oracle counts START positions per pattern with an inclusive-
      // slice probe — identical to AC's end-position firing (overlaps
      // included for the self-overlapping "a a" pattern)
      Some("""WITH pats AS (
             |  SELECT unnest(['slow', 'big query', 'scan sort', 'a a']) AS p
             |), t AS (
             |  SELECT doc_id, lower(text) AS t FROM documents
             |), hits AS (
             |  SELECT doc_id, p,
             |    len([i FOR i IN range(1, len(t) - len(p) + 2)
             |         IF t[i:i+len(p)-1] = p]) AS c
             |  FROM t CROSS JOIN pats
             |)
             |SELECT doc_id, CAST(coalesce(sum(c), 0) AS BIGINT) AS n_hits,
             |  CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS n_patterns
             |FROM hits GROUP BY doc_id""".stripMargin),
      "Aho-Corasick blocklist scan: O(chars+matches) multi-pattern kernel, per-JVM automaton cache, overlap-exact counts (curation domain/keyword filter)"),

    Q("q175_semantic_dedup_scaled",
      (s, d) => {
        // q95's SemDeDup with the SCALE-SAFE dial oracle-checked:
        // k ∝ N (constant expected cluster size ~500) instead of the
        // fixed k=8 whose within-cluster pairs densify quadratically
        // (SCALE.md: 155.6 s vs 8.62 s at 30×). The corpus count is
        // one cheap action; the floor of 16 keeps tiny corpora from
        // degenerating to a handful of mega-clusters AND pins k=16 at
        // the sf0.01 oracle scale — a k the fixed-k entry never
        // exercises, so the arbitrary-k Lloyd replay is now evidence,
        // not extrapolation. Same planted near-dups as q95.
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val planted = emb.select(
          (col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) +
              lit(0.015) * (pmod(i, lit(5)) - lit(2)).cast("double")))
              .cast("float")).as("embedding"))
        // the DEFAULT overload: k = max(16, N/500), and past k=64 the
        // assignment switches to the IVF probe (q188 pins that path at
        // oracle scale; this row pins the dial itself at k=16/flat)
        val corpus = emb.unionByName(planted)
        KMeans.semanticNearDupPairs(corpus, "vec_id", "embedding",
            minCosine = 0.9)
          .select(col("cluster").cast("long").as("cluster"), col("id_a"),
            col("id_b"), round(col("cosine"), 6).as("cosine"))
      },
      // the oracle replays Lloyd at k=16 — valid wherever N/500 <= 16
      // (sf0.01: N=1000 -> k=16); scaled runs move k with N on the
      // Spark side, which is exactly the dial under test
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 200000,
              |    [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + 0.015 * (((i-1) % 5) - 2)) AS FLOAT)
              |     FOR i IN range(1, len(embedding) + 1)]
              |  FROM embeddings
              |),
              |${OracleSql.kmeansCtes(16, 1)}
              |, pv AS (
              |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
              |), pairs AS (
              |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              |), cosd AS (
              |  SELECT p.cluster, p.id_a, p.id_b,
              |    ${OracleSql.foldSum("[va.v[i] * vb.v[i] FOR i IN range(1, len(va.v)+1)]")} AS dot,
              |    ${OracleSql.foldSum("[va.v[i] * va.v[i] FOR i IN range(1, len(va.v)+1)]")} AS na,
              |    ${OracleSql.foldSum("[vb.v[i] * vb.v[i] FOR i IN range(1, len(vb.v)+1)]")} AS nb
              |  FROM pairs p JOIN pv va ON va.vec_id = p.id_a JOIN pv vb ON vb.vec_id = p.id_b
              |), cosv AS (
              |  SELECT cluster, id_a, id_b,
              |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cosine
              |  FROM cosd
              |)
              |SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b,
              |       round(cosine, 6) AS cosine
              |FROM cosv WHERE cosine >= 0.9""".stripMargin),
      "SemDeDup at the scale-safe parametrization: k grows with N (constant cluster size), oracle-checked at k=16 (the 100-TB dial, not the densifying fixed-k)"),

    Q("q176_triangles_split",
      (s, d) => {
        // triangle counting via the HIGH-DEGREE SPLIT path on the part
        // co-occurrence graph (support >= 2 keeps it sparse with a
        // skewed 1..13 degree spread at sf0.01): parts above degree 6
        // take the ordered wedge-join route, the low-degree subgraph
        // the in-row sorted-merge route — both credit streams union
        // into counts the oracle re-derives with NO knowledge of the
        // split, which is the point: the threshold moves work between
        // plans, never results
        val sets = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("ss"))
        val edges = sets.select(explode(expr(
            "flatten(transform(ss, (x, i) -> " +
              "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS a, y AS b))))"))
            .as("p"))
          .select(col("p.a"), col("p.b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2)
          .select(col("a"), col("b"))
        Graph.triangleParticipationSplit(edges, "a", "b", degreeThreshold = 6)
          .select(col("v").cast("long").as("p_partkey"), col("n_triangles"))
      },
      Some("""WITH ob AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
             |), e AS MATERIALIZED (
             |  SELECT a.p AS a, b.p AS b FROM ob a JOIN ob b
             |  ON a.ok = b.ok AND a.p < b.p
             |  GROUP BY 1, 2 HAVING count(*) >= 2
             |), tri AS (
             |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM e e1 JOIN e e2 ON e2.a = e1.b
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
             |)
             |SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
             |  CAST(count(*) AS BIGINT) AS n_triangles
             |FROM (SELECT unnest([x, y, z]) AS p_partkey FROM tri)
             |GROUP BY p_partkey""".stripMargin),
      "triangle counting via the high-degree split (hub wedge-joins + low-degree in-row merge; the split-blind oracle proves path equivalence)"),

    Q("q177_dup_spans",
      (s, d) => Dedup.dupSpanStats(documents(s, d), "text", "doc_id",
          L = 8, maxGramDf = 1000000L)
        .withColumnRenamed("id", "doc_id"),
      // string-side re-derivation (the q36/q166 equivalence: the
      // engine's 64-bit gram-hash grouping equals gram-STRING grouping
      // collision-free): stride-1 8-token grams with positions,
      // cross-document hot grams (count(DISTINCT doc) >= 2), then the
      // per-doc island merge replayed with list comprehensions: gaps
      // > L start a new span, coverage = L + sum(min(gap, L))
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), nt AS (
             |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
             |), ex2 AS (
             |  SELECT doc_id, u.p AS pos, u.g AS g FROM (
             |    SELECT doc_id,
             |      unnest([{'p': i, 'g': array_to_string(tk[i:i+7], ' ')}
             |              FOR i IN range(1, len(tk) - 8 + 2)]) AS u
             |    FROM toks WHERE len(tk) >= 8)
             |), hot AS (
             |  SELECT g FROM ex2 GROUP BY g
             |  HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 1000000
             |), dp AS (
             |  SELECT e.doc_id, list_sort(list(e.pos)) AS ps
             |  FROM ex2 e JOIN hot USING (g)
             |  GROUP BY e.doc_id
             |), st AS (
             |  SELECT doc_id,
             |    CAST(len(ps) AS BIGINT) AS n_dup_grams,
             |    CAST(1 + len(list_filter(
             |      [ps[i+1] - ps[i] FOR i IN range(1, len(ps))],
             |      d -> d > 8)) AS BIGINT) AS n_spans,
             |    CAST(8 + coalesce(list_sum(list_transform(
             |      [ps[i+1] - ps[i] FOR i IN range(1, len(ps))],
             |      d -> least(d, 8))), 0) AS BIGINT) AS dup_tokens
             |  FROM dp
             |)
             |SELECT nt.doc_id, nt.n_tokens,
             |  CAST(coalesce(st.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
             |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(coalesce(st.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             |  CASE WHEN nt.n_tokens > 0
             |    THEN round(CAST(coalesce(st.dup_tokens, 0) AS DOUBLE)
             |               / nt.n_tokens, 6)
             |    ELSE 0.0 END AS dup_frac
             |FROM nt LEFT JOIN st USING (doc_id)""".stripMargin),
      "exact duplicated-substring stats (Lee et al. 2022): stride-1 L-gram inverted index + in-row maximal-span island merge; per-doc duplicated-token fraction"),

    Q("q178_gd_classifier",
      // train the q96 hashed-feature linear model IN the engine
      // (full-batch GD, 3 iterations, rational sigmoid, squared loss,
      // is-English label) and apply the trained vector back through
      // the scan-speed codegen kernel — the whole label→train→gate
      // loop; the oracle replays every iteration's weights to 6 dp
      (s, d) => Trainer.trainAndScore(
        documents(s, d).withColumn("y",
          when(col("lang") === "en", 1.0).otherwise(0.0)),
        "text", "y", keepCols = Seq("doc_id"),
        m = 1024, iters = 6, lr = 16.0),
      Some(OracleSql.gdTrainerSql(
        """SELECT doc_id,
          |    CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
          |    text
          |  FROM documents""".stripMargin, 1024, 6, 16.0)),
      "distributed classifier training (full-batch GD over hashed bag-of-terms, exact-IEEE rational sigmoid) + scan-speed apply of the trained weights"),

    Q("q179_dup_span_trim",
      (s, d) => Dedup.dupSpanTrim(documents(s, d), "text", "doc_id",
          L = 8, maxGramDf = 1000000L)
        .withColumnRenamed("id", "doc_id"),
      // q177's string-side gram index, plus: owner = min(doc_id) per
      // hot gram, occurrences with owner < doc_id expand to their L
      // covered positions, and the kept tokens are rejoined — the
      // oracle rebuilds the trimmed TEXT itself, not just the counts
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), nt AS (
             |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
             |), ex2 AS (
             |  SELECT doc_id, u.p AS pos, u.g AS g FROM (
             |    SELECT doc_id,
             |      unnest([{'p': i, 'g': array_to_string(tk[i:i+7], ' ')}
             |              FOR i IN range(1, len(tk) - 8 + 2)]) AS u
             |    FROM toks WHERE len(tk) >= 8)
             |), own AS (
             |  SELECT g, min(doc_id) AS owner FROM ex2 GROUP BY g
             |  HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 1000000
             |), rem AS (
             |  SELECT DISTINCT doc_id, rp FROM (
             |    SELECT e.doc_id, unnest(range(e.pos, e.pos + 8)) AS rp
             |    FROM ex2 e JOIN own o USING (g)
             |    WHERE o.owner < e.doc_id)
             |), rps AS (
             |  SELECT doc_id, list_sort(list(rp)) AS rps FROM rem GROUP BY doc_id
             |)
             |SELECT n.doc_id, n.n_tokens,
             |  CAST(coalesce(len(r.rps), 0) AS BIGINT) AS n_removed,
             |  CASE WHEN n.n_tokens = 0 THEN ''
             |    ELSE coalesce(array_to_string(list_transform(
             |      list_filter(range(1, len(n.tk) + 1),
             |        i -> NOT list_contains(coalesce(r.rps, []), i)),
             |      i -> n.tk[i]), ' '), '') END AS trimmed_text
             |FROM nt n LEFT JOIN rps r USING (doc_id)""".stripMargin),
      "duplicated-span removal (Lee et al. ExactSubstr keep-one policy): min-id gram ownership, coverage expansion, in-row token-stream rebuild of the trimmed text"),

    Q("q180_ccnet_buckets",
      // CCNet head/middle/tail stratification: q108's bigram LM scores
      // + per-language terciles as an ASSIGNMENT (q165 is the filter)
      (s, d) => LanguageModel.perplexityBuckets(documents(s, d),
          "doc_id", "text", "lang")
        .withColumnRenamed("grp", "lang"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pt AS (
             |  SELECT doc_id, pair, count(*) AS tf FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS pair
             |    FROM toks) GROUP BY doc_id, pair
             |), bc AS (SELECT pair, sum(tf) AS bc FROM pt GROUP BY pair
             |), ut AS (
             |  SELECT doc_id, term, count(*) AS utf FROM (
             |    SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
             |), uc AS (SELECT term, sum(utf) AS uc FROM ut GROUP BY term
             |), v AS (SELECT count(*) AS v FROM uc
             |), lp AS (
             |  SELECT pt.doc_id, pt.tf,
             |    CAST(round(ln(CAST(bc.bc + 1 AS DOUBLE) / CAST(uc.uc + v.v AS DOUBLE)) * 1e6, 0)
             |      AS BIGINT) AS lp_micro
             |  FROM pt JOIN bc USING (pair)
             |  JOIN uc ON uc.term = string_split(pt.pair, ' ')[1]
             |  CROSS JOIN v
             |), score AS (
             |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |    CAST(sum(tf * lp_micro) AS DOUBLE) /
             |      CAST(sum(tf) * 1000000 AS DOUBLE) AS avg_logprob
             |  FROM lp GROUP BY doc_id
             |), sl AS (
             |  SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logprob
             |  FROM score s JOIN documents d USING (doc_id)
             |), """.stripMargin +
        // tercile cutoffs replay Spark's Percentile arithmetic exactly
        // (quantile_cont's association flips a frac=1/3 bracket at 30×)
        OracleSql.quantileContExactCtes("qt", "sl", "lang", "avg_logprob",
          Seq(("c1", "1.0/3"), ("c2", "2.0/3"))) + """
             |SELECT sl.doc_id, sl.lang, sl.n_bigrams, sl.avg_logprob,
             |  CASE WHEN sl.avg_logprob >= qtthr.c2 THEN 'head'
             |       WHEN sl.avg_logprob >= qtthr.c1 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM sl JOIN qtthr USING (lang)""".stripMargin),
      "CCNet perplexity stratification (Wenzek et al. 2020): per-language LM terciles as head/middle/tail assignment, rank-based exact percentiles, broadcast cutoffs"),

    Q("q181_gopher_rules",
      // the Gopher curation rule set (Rae et al. 2021 Table A1, the
      // document-level rules a single-line corpus can express): word
      // count bounds, mean-word-length band, symbol-to-word ratio,
      // alpha-bearing-word fraction, distinct-stopword minimum —
      // per-rule flags plus the conjunction, so a pipeline can both
      // gate and audit WHY a doc fell
      (s, d) => {
        val tk = filter(split(trim(col("text")), graft.plans.Kernels.WsRun),
          (x: Column) => x =!= "")
        val n = size(tk)
        val meanLen = aggregate(transform(tk, t => length(t).cast("long")),
          lit(0L), (a, v) => a + v).cast("double") / greatest(n, lit(1)).cast("double")
        val alphaFrac = size(filter(tk,
          (t: Column) => t.rlike("[A-Za-z]"))).cast("double") /
          greatest(n, lit(1)).cast("double")
        val symbols = (length(col("text")) -
          length(regexp_replace(col("text"), "#", ""))) +
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3)
        val symbolFrac = symbols.cast("double") / greatest(n, lit(1)).cast("double")
        val stops = typedLit(Seq("the", "be", "to", "of", "and", "that", "have", "with"))
        val stopCount = size(array_intersect(array_distinct(transform(tk,
          t => lower(t))), stops))
        val f1 = n >= 50 && n <= 100000
        val f2 = meanLen >= 3.0 && meanLen <= 10.0
        val f3 = symbolFrac <= 0.1
        val f4 = alphaFrac >= 0.8
        val f5 = stopCount >= 2
        documents(s, d).select(col("doc_id"),
          n.cast("long").as("n_tokens"),
          f1.as("wc_ok"), f2.as("mwl_ok"), f3.as("sym_ok"),
          f4.as("alpha_ok"), f5.as("stop_ok"),
          (f1 && f2 && f3 && f4 && f5).as("keep"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '') AS tk,
             |    (length(text) - length(regexp_replace(text, '#', '', 'g'))) +
             |    (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
             |      AS symbols
             |  FROM documents
             |), m AS (
             |  SELECT doc_id,
             |    CAST(len(tk) AS BIGINT) AS n_tokens,
             |    CAST(coalesce(list_sum(list_transform(tk, x -> CAST(length(x) AS BIGINT))), 0)
             |      AS DOUBLE) / greatest(len(tk), 1) AS mean_len,
             |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
             |      AS DOUBLE) / greatest(len(tk), 1) AS alpha_frac,
             |    CAST(symbols AS DOUBLE) / greatest(len(tk), 1) AS symbol_frac,
             |    len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
             |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stops
             |  FROM t
             |)
             |SELECT doc_id, n_tokens,
             |  (n_tokens >= 50 AND n_tokens <= 100000) AS wc_ok,
             |  (mean_len >= 3.0 AND mean_len <= 10.0) AS mwl_ok,
             |  (symbol_frac <= 0.1) AS sym_ok,
             |  (alpha_frac >= 0.8) AS alpha_ok,
             |  (n_stops >= 2) AS stop_ok,
             |  (n_tokens >= 50 AND n_tokens <= 100000 AND mean_len >= 3.0
             |   AND mean_len <= 10.0 AND symbol_frac <= 0.1
             |   AND alpha_frac >= 0.8 AND n_stops >= 2) AS keep
             |FROM m""".stripMargin),
      "Gopher document-quality rules (Rae et al. 2021): per-rule audit flags + conjunction gate, one codegen-friendly scan, no UDF"),

    Q("q182_int8_quantize",
      // per-vector symmetric int8 quantization audit: scale, ordered-
      // fold reconstruction MSE (micro-scaled onto the 6-dp compare
      // grid), and two integer code checksums that pin every code
      // value and position without shipping the codes
      (s, d) => {
        val st = Exprs.quantizeInt8Stats(col("embedding"))
        embeddings(s, d).select(col("vec_id"), st.as("st"))
          .select(col("vec_id"),
            round(element_at(col("st"), 1), 6).as("scale"),
            round(element_at(col("st"), 2) * lit(1e6), 4).as("mse_micro"),
            element_at(col("st"), 3).cast("long").as("code_l2"),
            element_at(col("st"), 4).cast("long").as("code_chk"))
      },
      Some(s"""WITH xd AS (
             |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
             |  FROM embeddings
             |), sc AS (
             |  SELECT vec_id, v,
             |    list_max([abs(x) FOR x IN v]) / 127.0 AS scale
             |  FROM xd
             |), cd AS (
             |  SELECT vec_id, v, scale,
             |    CASE WHEN scale > 0
             |      THEN [floor(x / scale + 0.5) FOR x IN v]
             |      ELSE [CAST(0.0 AS DOUBLE) FOR x IN v] END AS c
             |  FROM sc
             |), st AS (
             |  SELECT vec_id,
             |    CASE WHEN scale > 0 THEN scale ELSE 0.0 END AS scale,
             |    CASE WHEN scale > 0 THEN
             |      ${OracleSql.foldSum("[(v[j] - c[j] * scale) * (v[j] - c[j] * scale) FOR j IN range(1, len(v) + 1)]")}
             |        / len(v) ELSE 0.0 END AS mse,
             |    CASE WHEN scale > 0 THEN
             |      ${OracleSql.foldSum("[c[j] * c[j] FOR j IN range(1, len(v) + 1)]")}
             |      ELSE 0.0 END AS l2,
             |    CASE WHEN scale > 0 THEN
             |      ${OracleSql.foldSum("[c[j] * j FOR j IN range(1, len(v) + 1)]")}
             |      ELSE 0.0 END AS chk
             |  FROM cd
             |)
             |SELECT vec_id, round(scale, 6) AS scale,
             |  round(mse * 1e6, 4) AS mse_micro,
             |  CAST(l2 AS BIGINT) AS code_l2,
             |  CAST(chk AS BIGINT) AS code_chk
             |FROM st""".stripMargin),
      "symmetric int8 embedding quantization audit: exact integer codes via floor-half-up, ordered-fold reconstruction MSE, positional code checksums, map-only scan"),

    Q("q183_kneser_ney",
      // the real perplexity-filter smoothing (KenLM's default):
      // interpolated Kneser-Ney with d=0.75 — exact in binary, so the
      // whole probability is a pinned-order rational of integer counts
      (s, d) => LanguageModel.kneserNeyScore(documents(s, d), "doc_id", "text"),
      // pt/bw are MATERIALIZED (r18 verdict #5): DuckDB inlines
      // multiply-referenced CTEs here, re-deriving the tokenize +
      // pair-count chain per consumer — super-linearly in distinct
      // pair TYPES, which planted corpora mint per document. Measured
      // on the planted 100x 10-residue slice (25k docs): ~1,303 s
      // un-hinted -> 1.7 s with pt+bw materialized, hash-identical
      // (3-residue slice: 56.7 -> 0.4 s). The full 10-residue q183
      // at-scale replay is affordable again (nRes=3 was the r18 cap).
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), pt AS MATERIALIZED (
             |  SELECT doc_id, pair, count(*) AS tf FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS pair
             |    FROM toks) GROUP BY doc_id, pair
             |), bw AS MATERIALIZED (
             |  SELECT pair, c, string_split(pair, ' ')[1] AS w1,
             |         string_split(pair, ' ')[2] AS w2
             |  FROM (SELECT pair, sum(tf) AS c FROM pt GROUP BY pair)
             |), ctx AS (
             |  SELECT w1, sum(c) AS cw1, count(*) AS n1fw FROM bw GROUP BY w1
             |), cont AS (
             |  SELECT w2, count(*) AS n1pw FROM bw GROUP BY w2
             |), tt AS (SELECT count(*) AS tt FROM bw
             |), lp AS (
             |  SELECT pt.doc_id, pt.tf,
             |    CAST(round(ln(
             |      (CAST(bw.c AS DOUBLE) - 0.75) / CAST(ctx.cw1 AS DOUBLE) +
             |      (0.75 * CAST(ctx.n1fw AS DOUBLE) / CAST(ctx.cw1 AS DOUBLE)) *
             |      (CAST(cont.n1pw AS DOUBLE) / CAST(tt.tt AS DOUBLE))
             |    ) * 1e6, 0) AS BIGINT) AS lp_micro
             |  FROM pt JOIN bw USING (pair)
             |  JOIN ctx ON ctx.w1 = bw.w1
             |  JOIN cont ON cont.w2 = bw.w2
             |  CROSS JOIN tt
             |)
             |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |  CAST(sum(tf * lp_micro) AS DOUBLE) /
             |    CAST(sum(tf) * 1000000 AS DOUBLE) AS avg_logprob_kn
             |FROM lp GROUP BY doc_id""".stripMargin),
      "interpolated Kneser-Ney bigram LM scoring (d=0.75): distinct-continuation statistics as three vocabulary-keyed hash aggs, integer micro-nat determinism"),

    Q("q184_blocklist_redact",
      // the ACTION to q174's report: union of all pattern-occurrence
      // spans masked, each maximal covered run collapsing to ONE
      // <blocked> token — same cached Aho-Corasick automaton, one
      // codegen pass; the oracle rebuilds the redacted STRING itself
      (s, d) => {
        val pats = Seq("slow", "big query", "scan sort", "a a")
        documents(s, d).select(col("doc_id"),
          element_at(TextFunctions.blocklistHits(col("text"), pats), 1)
            .as("n_hits"),
          TextFunctions.blocklistRedact(col("text"), pats).as("redacted"))
      },
      Some(s"""WITH pats AS (
             |  SELECT unnest(['slow', 'big query', 'scan sort', 'a a']) AS p
             |), t AS (
             |  SELECT doc_id, lower(${OracleSql.caseFold("text")}) AS t FROM documents
             |), hits AS (
             |  SELECT doc_id,
             |    CAST(coalesce(sum(len([i FOR i IN range(1, len(t) - len(p) + 2)
             |                           IF t[i:i+len(p)-1] = p])), 0) AS BIGINT) AS n_hits
             |  FROM t CROSS JOIN pats GROUP BY doc_id
             |), cv AS (
             |  SELECT DISTINCT doc_id, pos FROM (
             |    SELECT doc_id, unnest(flatten(
             |      [range(i, i + len(p)) FOR i IN range(1, len(t) - len(p) + 2)
             |       IF t[i:i+len(p)-1] = p])) AS pos
             |    FROM t CROSS JOIN pats)
             |), cl AS (
             |  SELECT doc_id, list_sort(list(pos)) AS cvl FROM cv GROUP BY doc_id
             |)
             |SELECT t.doc_id, h.n_hits,
             |  CASE WHEN cl.cvl IS NULL THEN t.t
             |  ELSE coalesce(array_to_string([
             |    CASE WHEN NOT list_contains(cl.cvl, i) THEN t.t[i:i]
             |         WHEN i = 1 OR NOT list_contains(cl.cvl, i - 1) THEN '<blocked>'
             |         ELSE '' END
             |    FOR i IN range(1, len(t.t) + 1)], ''), '') END AS redacted
             |FROM t LEFT JOIN cl USING (doc_id)
             |JOIN hits h USING (doc_id)""".stripMargin),
      "blocklist span redaction (q174's action): overlap-union coverage, maximal runs to one mask token, same cached Aho-Corasick automaton, oracle rebuilds the string"),

    Q("q185_intra_dup_spans",
      // the WITHIN-doc half of the ExactSubstr family: q177 mines
      // cross-doc duplication (needs the gram shuffle); this one is a
      // pure map-side kernel — a position is a repeat if its 8-gram
      // occurred earlier in the SAME doc, islands fuse exactly like
      // q177's. The self-repetition profile trimming/repetition gates
      // threshold on, at scan speed.
      (s, d) => {
        val st = Exprs.intraDupSpanStats(col("text"), 8)
        documents(s, d).select(col("doc_id"),
            element_at(st, 1).as("n_tokens"),
            element_at(st, 2).as("n_rep_grams"),
            element_at(st, 3).as("n_spans"),
            element_at(st, 4).as("rep_tokens"))
          .withColumn("rep_frac",
            when(col("n_tokens") > 0,
              round(col("rep_tokens").cast("double") /
                col("n_tokens").cast("double"), 6)).otherwise(lit(0.0)))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), gs AS (
             |  SELECT doc_id,
             |    [array_to_string(tk[i:i+7], ' ')
             |     FOR i IN range(1, len(tk) - 8 + 2)] AS gs
             |  FROM toks WHERE len(tk) >= 8
             |), rp AS (
             |  SELECT doc_id,
             |    [i FOR i IN range(1, len(gs) + 1)
             |     IF list_contains(gs[1:i-1], gs[i])] AS ps
             |  FROM gs
             |), st AS (
             |  SELECT doc_id,
             |    CAST(len(ps) AS BIGINT) AS n_rep_grams,
             |    CAST(CASE WHEN len(ps) = 0 THEN 0
             |      ELSE 1 + len(list_filter(
             |        [ps[i+1] - ps[i] FOR i IN range(1, len(ps))],
             |        d -> d > 8)) END AS BIGINT) AS n_spans,
             |    CAST(CASE WHEN len(ps) = 0 THEN 0
             |      ELSE 8 + coalesce(list_sum(list_transform(
             |        [ps[i+1] - ps[i] FOR i IN range(1, len(ps))],
             |        d -> least(d, 8))), 0) END AS BIGINT) AS rep_tokens
             |  FROM rp
             |)
             |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(st.n_rep_grams, 0) AS BIGINT) AS n_rep_grams,
             |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(coalesce(st.rep_tokens, 0) AS BIGINT) AS rep_tokens,
             |  CASE WHEN len(t.tk) > 0
             |    THEN round(CAST(coalesce(st.rep_tokens, 0) AS DOUBLE)
             |               / len(t.tk), 6)
             |    ELSE 0.0 END AS rep_frac
             |FROM toks t LEFT JOIN st USING (doc_id)""".stripMargin),
      "within-doc repetition spans (intra-doc ExactSubstr): map-only kernel, zero shuffle, island-merged self-repetition profile for trimming gates"),

    Q("q186_curation_funnel",
      // the END-TO-END curation pipeline (rule gate → exact dedup →
      // ExactSubstr trim → per-language LM decile gate), each stage
      // trained/derived from the previous stage's survivors, reported
      // as the per-source survival funnel — one call, four proven
      // operators composed; the oracle chains all four stages' proven
      // CTE fragments over the same survivor sets
      (s, d) => Curation.funnel(documents(s, d)),
      Some("""WITH t0 AS (
             |  SELECT doc_id, text, lang, source FROM documents
             |), tok1 AS (
             |  SELECT doc_id, text, lang, source,
             |    list_filter(string_split_regex(trim(text), '\s+'),
             |      x -> x <> '') AS tk
             |  FROM t0
             |), s1 AS (
             |  SELECT doc_id, text, lang, source FROM tok1
             |  WHERE len(tk) >= 50 AND len(tk) <= 100000
             |    AND CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
             |        AS DOUBLE) / greatest(len(tk), 1) >= 0.8
             |    AND length(text) <= 20000000
             |), s2 AS (
             |  SELECT s1.* FROM s1
             |  JOIN (SELECT text, min(doc_id) AS keep FROM s1 GROUP BY text) k
             |  ON s1.doc_id = k.keep
             |), ftoks AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |      t -> t <> '') AS tk
             |  FROM s2
             |), fnt AS (
             |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM ftoks
             |), fex AS (
             |  SELECT doc_id, u.p AS pos, u.g AS g FROM (
             |    SELECT doc_id,
             |      unnest([{'p': i, 'g': array_to_string(tk[i:i+7], ' ')}
             |              FOR i IN range(1, len(tk) - 8 + 2)]) AS u
             |    FROM ftoks WHERE len(tk) >= 8)
             |), fown AS (
             |  SELECT g, min(doc_id) AS owner FROM fex GROUP BY g
             |  HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= 1000000
             |), frem AS (
             |  SELECT DISTINCT doc_id, rp FROM (
             |    SELECT e.doc_id, unnest(range(e.pos, e.pos + 8)) AS rp
             |    FROM fex e JOIN fown o USING (g)
             |    WHERE o.owner < e.doc_id)
             |), frps AS (
             |  SELECT doc_id, list_sort(list(rp)) AS rps FROM frem GROUP BY doc_id
             |), ftr AS (
             |  SELECT n.doc_id, n.n_tokens,
             |    CAST(coalesce(len(r.rps), 0) AS BIGINT) AS n_removed,
             |    CASE WHEN n.n_tokens = 0 THEN ''
             |      ELSE coalesce(array_to_string(list_transform(
             |        list_filter(range(1, len(n.tk) + 1),
             |          i -> NOT list_contains(coalesce(r.rps, []), i)),
             |        i -> n.tk[i]), ' '), '') END AS trimmed
             |  FROM fnt n LEFT JOIN frps r USING (doc_id)
             |), s3 AS (
             |  SELECT s2.doc_id, s2.lang, s2.source, ftr.trimmed
             |  FROM s2 JOIN ftr USING (doc_id)
             |  WHERE ftr.n_removed * 2 <= ftr.n_tokens
             |), ltoks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(trimmed), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM s3
             |), lpt AS (
             |  SELECT doc_id, pair, count(*) AS tf FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS pair
             |    FROM ltoks) GROUP BY doc_id, pair
             |), lbc AS (SELECT pair, sum(tf) AS bc FROM lpt GROUP BY pair
             |), lut AS (
             |  SELECT doc_id, term, count(*) AS utf FROM (
             |    SELECT doc_id, unnest(tk) AS term FROM ltoks) GROUP BY doc_id, term
             |), luc AS (SELECT term, sum(utf) AS uc FROM lut GROUP BY term
             |), lv AS (SELECT count(*) AS v FROM luc
             |), llp AS (
             |  SELECT lpt.doc_id, lpt.tf,
             |    CAST(round(ln(CAST(lbc.bc + 1 AS DOUBLE) / CAST(luc.uc + lv.v AS DOUBLE)) * 1e6, 0)
             |      AS BIGINT) AS lp_micro
             |  FROM lpt JOIN lbc USING (pair)
             |  JOIN luc ON luc.term = string_split(lpt.pair, ' ')[1]
             |  CROSS JOIN lv
             |), lscore AS (
             |  SELECT doc_id,
             |    CAST(sum(tf * lp_micro) AS DOUBLE) /
             |      CAST(sum(tf) * 1000000 AS DOUBLE) AS alp
             |  FROM llp GROUP BY doc_id
             |), lsl AS (
             |  SELECT s.doc_id, d.lang, d.source, s.alp
             |  FROM lscore s JOIN s3 d USING (doc_id)
             |), """.stripMargin +
        OracleSql.quantileContExactCtes("lq", "lsl", "lang", "alp",
          Seq(("cutoff", "0.10"))) + """
             |, s4 AS (
             |  SELECT lsl.doc_id, lsl.source FROM lsl JOIN lqthr USING (lang)
             |  WHERE lsl.alp >= lqthr.cutoff
             |), c0 AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM t0 GROUP BY source
             |), c1 AS (SELECT source, count(*) AS n FROM s1 GROUP BY source
             |), c2 AS (SELECT source, count(*) AS n FROM s2 GROUP BY source
             |), c3 AS (SELECT source, count(*) AS n FROM s3 GROUP BY source
             |), c4 AS (SELECT source, count(*) AS n FROM s4 GROUP BY source
             |)
             |SELECT c0.source, c0.n_docs,
             |  CAST(coalesce(c1.n, 0) AS BIGINT) AS n_rules,
             |  CAST(coalesce(c2.n, 0) AS BIGINT) AS n_exact,
             |  CAST(coalesce(c3.n, 0) AS BIGINT) AS n_trim,
             |  CAST(coalesce(c4.n, 0) AS BIGINT) AS n_lm
             |FROM c0 LEFT JOIN c1 USING (source) LEFT JOIN c2 USING (source)
             |LEFT JOIN c3 USING (source) LEFT JOIN c4 USING (source)""".stripMargin),
      "end-to-end curation funnel (Gopher rules -> exact dedup -> ExactSubstr trim -> per-lang LM decile gate), each stage derived from the previous stage's survivors; per-source survival report"),

    Q("q187_vocab_growth",
      // Heaps'-law vocabulary growth over 10 id-ordered corpus
      // prefixes: term -> min(doc_id) is one vocab-keyed agg, the
      // grid is exact Long arithmetic (no percentile interpolation,
      // no global window), each term joins the broadcast grid once
      (s, d) => Profile.vocabGrowth(documents(s, d), "doc_id", "text",
        points = 10),
      Some("""WITH mm AS (
             |  SELECT CAST(min(doc_id) AS BIGINT) AS mn,
             |         CAST(max(doc_id) AS BIGINT) AS mx
             |  FROM documents
             |), bounds AS (
             |  SELECT CAST(t.k AS BIGINT) AS k,
             |         mn + ((mx - mn) * t.k) // 10 AS b
             |  FROM mm, (SELECT unnest(range(1, 11)) AS k) t
             |), toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
             |    t -> t <> '') AS tk
             |  FROM documents
             |), tmin AS (
             |  SELECT term, min(doc_id) AS md FROM (
             |    SELECT DISTINCT doc_id, unnest(tk) AS term FROM toks)
             |  GROUP BY term
             |)
             |SELECT b.k, CAST(b.b AS BIGINT) AS b,
             |  CAST(count(*) AS BIGINT) AS n_terms
             |FROM tmin t JOIN bounds b ON t.md <= b.b
             |GROUP BY b.k, b.b""".stripMargin),
      "Heaps'-law vocabulary-growth curve: distinct terms per id-ordered corpus prefix, one vocab-keyed agg + broadcast grid join (crawl-saturation health check)"),

    Q("q188_semantic_dedup_ivf",
      (s, d) => {
        // SemDeDup through the IVF-PROBED assignment — the scale path
        // the k∝N dial switches to past k=64, exercised HERE at oracle
        // scale: k=64 over N=2000 forces cc=8 coarse cells, 2 coarse
        // Lloyd rounds, 2 probes, so each vector scores ~8+2·8 centroid
        // dots instead of 64 (at 100×: ~2·29 instead of 800 — the
        // difference between N^1.5 and N²/500). The probing is
        // APPROXIMATE by design; the oracle replays the exact same
        // deterministic probe (row_number-pinned orderings over
        // 0.0-seeded fold dots), so a green row proves the scale path
        // computes precisely what it claims. Same planted near-dups as
        // q95/q175.
        val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val planted = emb.select(
          (col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) +
              lit(0.015) * (pmod(i, lit(5)) - lit(2)).cast("double")))
              .cast("float")).as("embedding"))
        KMeans.semanticNearDupPairs(emb.unionByName(planted), "vec_id", "embedding",
            k = 64, iters = 1, minCosine = 0.9,
            probe = Some(KMeans.Probe(cc = 8, cIters = 2, nProbe = 2)))
          .select(col("cluster").cast("long").as("cluster"), col("id_a"),
            col("id_b"), round(col("cosine"), 6).as("cosine"))
      },
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 200000,
              |    [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + 0.015 * (((i-1) % 5) - 2)) AS FLOAT)
              |     FOR i IN range(1, len(embedding) + 1)]
              |  FROM embeddings
              |),
              |${OracleSql.ivfKmeansCtes(64, 1, 8, 2, 2)}
              |, pv AS (
              |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
              |), pairs AS (
              |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM a1 a JOIN a1 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              |), cosd AS (
              |  SELECT p.cluster, p.id_a, p.id_b,
              |    ${OracleSql.foldSum("[va.v[i] * vb.v[i] FOR i IN range(1, len(va.v)+1)]")} AS dot,
              |    ${OracleSql.foldSum("[va.v[i] * va.v[i] FOR i IN range(1, len(va.v)+1)]")} AS na,
              |    ${OracleSql.foldSum("[vb.v[i] * vb.v[i] FOR i IN range(1, len(vb.v)+1)]")} AS nb
              |  FROM pairs p JOIN pv va ON va.vec_id = p.id_a JOIN pv vb ON vb.vec_id = p.id_b
              |), cosv AS (
              |  SELECT cluster, id_a, id_b,
              |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS cosine
              |  FROM cosd
              |)
              |SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b,
              |       round(cosine, 6) AS cosine
              |FROM cosv WHERE cosine >= 0.9""".stripMargin),
      "SemDeDup via IVF-probed assignment (coarse cells over the fine centroids, nProbe best cells per vector): the O(N·√k) scale path, bit-exactly replayed by the oracle"),

    Q("q189_image_canonical",
      // q162's LINEAR-OUTPUT twin: at 100× the fabricated corpus holds
      // 2,500-copy image groups, so the all-pairs list is Θ(G²) ≈ 625M
      // rows BY DEFINITION (SCALE.md round 12). This path never
      // enumerates pairs: each banded bucket emits Hamming-verified
      // STAR edges to its min id (O(members) per bucket) and min-label
      // components collapse the star graph — one row per image
      (s, d) => Multimodal.imageNearDupCanonical(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateNearDupImageCol(col("doc_id"), 200).as("content")),
          "doc_id", "content", maxHamming = 4),
      // full re-derivation: q162's pixel-level dHash rebuild, then the
      // 35 block-combination band keys (7 blocks of the 64 bits, every
      // 3-subset), per-bucket arg-min anchors, Hamming-verified star
      // edges, and a recursive min-label closure; singletons coalesce
      // to themselves and component sizes are re-counted
      Some {
        def pix(pos: String): String = {
          val payload =
            s"(${OracleSql.mix64(s"CAST(b * 1048576 + $pos AS UBIGINT)")} & 255)"
          val perturb =
            s"CASE WHEN (${OracleSql.mix64(s"CAST(doc_id * 8191 + $pos AS UBIGINT)")} & 63) = 0 THEN 32 ELSE 0 END"
          s"CAST((($payload + $perturb) & 255) AS BIGINT)"
        }
        val nBlocks = 7 // maxHamming + 3
        val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
        val keyStructs = (0 until nBlocks).combinations(3).toSeq.zipWithIndex
          .map { case (blocks, tid) =>
            val k = blocks.foldLeft("CAST(0 AS UBIGINT)") { (acc, bi) =>
              val lo = bounds(bi); val width = bounds(bi + 1) - lo
              val mask = (BigInt(1) << width) - 1
              s"(($acc << $width) | ((sh >> $lo) & $mask))"
            }
            s"{'t': $tid, 'k': $k}"
          }.mkString(",\n           |      ")
        // doc-local dHash rebuild sharded into parallel UNION ALL
        // pipelines (see OracleSql.residueSharded); band keys, star
        // edges and the recursive closure stay global
        OracleSql.residueSharded(
          s"""dims AS (
             |  SELECT doc_id, doc_id % 200 AS b,
             |    16 + (doc_id % 200) % 48 AS w,
             |    16 + ((doc_id % 200) * 7) % 48 AS h
             |  FROM documents
             |), bits AS (
             |  SELECT doc_id, j,
             |    ${pix("((j * (w*h - 1)) // 64)")} AS pa,
             |    ${pix("(((j+1) * (w*h - 1)) // 64)")} AS pb
             |  FROM dims CROSS JOIN (SELECT unnest(range(64)) AS j)
             |), sh AS (
             |  SELECT doc_id,
             |    CAST(coalesce(sum(CASE WHEN pa < pb
             |      THEN CAST(CAST(1 AS UBIGINT) << j AS HUGEINT) ELSE 0 END),
             |      0) AS UBIGINT) AS sh
             |  FROM bits GROUP BY doc_id
             |)""".stripMargin,
          outCte = "sh",
          recursive = true,
          finalSql = s""", keyed AS (
           |  SELECT doc_id, sh, u.t AS t, u.k AS k FROM (
           |    SELECT doc_id, sh, unnest([
           |      $keyStructs]) AS u
           |    FROM sh)
           |), mn AS (
           |  SELECT t, k, min(doc_id) AS mid, arg_min(sh, doc_id) AS msh
           |  FROM keyed GROUP BY t, k
           |), star AS (
           |  SELECT DISTINCT mn.mid AS id_a, ky.doc_id AS id_b
           |  FROM keyed ky JOIN mn ON mn.t = ky.t AND mn.k = ky.k
           |  WHERE ky.doc_id <> mn.mid AND bit_count(xor(mn.msh, ky.sh)) <= 4
           |), e AS (
           |  SELECT id_a AS s, id_b AS d FROM star
           |  UNION
           |  SELECT id_b, id_a FROM star
           |), reach AS (
           |  SELECT s AS id, s AS r FROM e
           |  UNION
           |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
           |), lab AS (
           |  SELECT s.doc_id AS id,
           |    CAST(coalesce(c.comp, s.doc_id) AS BIGINT) AS canonical_id
           |  FROM sh s LEFT JOIN (
           |    SELECT id, min(r) AS comp FROM reach GROUP BY id) c
           |  ON c.id = s.doc_id
           |)
           |SELECT CAST(l.id AS BIGINT) AS id, l.canonical_id,
           |  CAST(g.cnt AS BIGINT) AS n_members
           |FROM lab l JOIN (
           |  SELECT canonical_id, count(*) AS cnt FROM lab GROUP BY canonical_id) g
           |USING (canonical_id)""".stripMargin)
      },
      "canonical-collapse image dedup (dHash star edges + min-label components): q162's linear-output twin for giant duplicate groups — never materializes the quadratic pair list"),

    Q("q190_boilerplate_lines",
      // RefinedWeb-style per-SOURCE boilerplate removal over the q80
      // re-lining (8-token lines): any line in ≥2 distinct docs of one
      // source is template chrome and is dropped EVERYWHERE it occurs
      (s, d) => {
        val lined = documents(s, d).select(col("doc_id"), col("source"),
          graft.plans.Exprs.chunkTokens(col("text"), 8).as("t"))
        Dedup.boilerplateLines(lined, "t", "doc_id", "source", minDf = 2)
          .select(col("id").as("doc_id"), col("n_lines"), col("n_removed"),
            col("text_clean"))
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+'),
             |           t -> t <> '') AS tk
             |  FROM documents
             |), lined AS (
             |  SELECT doc_id, source,
             |    CASE WHEN len(tk) = 0 THEN ['']
             |    ELSE [array_to_string(tk[i*8+1 : i*8+8], ' ')
             |          FOR i IN range(0, greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1))]
             |    END AS lines
             |  FROM toks
             |), lrows AS (
             |  SELECT doc_id, source, generate_subscripts(lines, 1) - 1 AS pos,
             |         unnest(lines) AS line
             |  FROM lined
             |), hot AS (
             |  SELECT source, line
             |  FROM lrows GROUP BY source, line
             |  HAVING count(DISTINCT doc_id) >= 2
             |), kept AS (
             |  SELECT l.doc_id, l.pos, l.line
             |  FROM lrows l ANTI JOIN hot h
             |    ON l.source = h.source AND l.line = h.line
             |), agg AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
             |  FROM kept GROUP BY doc_id
             |), n AS (
             |  SELECT doc_id, count(*) AS n_lines FROM lrows GROUP BY doc_id
             |)
             |SELECT n.doc_id, n.n_lines,
             |       n.n_lines - coalesce(a.n_kept, 0) AS n_removed,
             |       coalesce(a.text_clean, '') AS text_clean
             |FROM n LEFT JOIN agg a USING (doc_id)""".stripMargin),
      "per-source boilerplate line removal (RefinedWeb line-wise corrections): lines in >=2 distinct docs of a source are template chrome, dropped everywhere"),

    Q("q191_audio_vad",
      // VAD-style activity segmentation over the binary audio column:
      // integer mean-square test per 256-sample window, consecutive
      // active windows merged in-row. Unlike q72 (whose oracle checks
      // the container structure only), this oracle re-derives EVERY
      // 8-bit sample, window verdict, and island from the splitmix64
      // payload — the multimodal family's first payload-level oracle
      (s, d) => Multimodal.audioSegments(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateAudioCol(col("doc_id")).as("content")),
          "doc_id", "content", windowSamples = 256, meanSqThreshold = 5500L)
        .select(col("id").as("doc_id"), col("sample_rate"), col("n_windows"),
          col("n_active"), col("n_segments"), col("longest_run")),
      Some {
        val sv = s"(${OracleSql.mix64("CAST(doc_id * 65536 + i AS UBIGINT)")} & 255)"
        // doc-local end-to-end → sharded whole (OracleSql.residueSharded)
        OracleSql.residueSharded(
        s"""dims AS (
           |  SELECT doc_id,
           |    8000 + (doc_id % 3) * 4000 AS rate,
           |    1000 + (doc_id * 11) % 3000 AS n
           |  FROM documents
           |), idx AS (
           |  SELECT doc_id, rate, unnest(range(n)) AS i FROM dims
           |), samples AS (
           |  SELECT doc_id, rate, i // 256 AS w,
           |    CASE WHEN sv > 127 THEN sv - 256 ELSE sv END AS s
           |  FROM (SELECT doc_id, rate, i, CAST($sv AS BIGINT) AS sv FROM idx)
           |), act AS (
           |  SELECT doc_id, rate, w,
           |    sum(s * s) >= 5500 * count(*) AS a
           |  FROM samples GROUP BY doc_id, rate, w
           |), runs AS (
           |  SELECT doc_id,
           |    w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
           |  FROM act WHERE a
           |), seg AS (
           |  SELECT doc_id, count(*) AS run_len FROM runs GROUP BY doc_id, grp
           |), segagg AS (
           |  SELECT doc_id, count(*) AS n_segments, max(run_len) AS longest_run
           |  FROM seg GROUP BY doc_id
           |), base AS (
           |  SELECT doc_id, any_value(rate) AS rate, count(*) AS n_windows,
           |    count(*) FILTER (a) AS n_active
           |  FROM act GROUP BY doc_id
           |), vout AS (
           |  SELECT b.doc_id, CAST(b.rate AS BIGINT) AS sample_rate,
           |    CAST(b.n_windows AS BIGINT) AS n_windows,
           |    CAST(b.n_active AS BIGINT) AS n_active,
           |    CAST(coalesce(g.n_segments, 0) AS BIGINT) AS n_segments,
           |    CAST(coalesce(g.longest_run, 0) AS BIGINT) AS longest_run
           |  FROM base b LEFT JOIN segagg g USING (doc_id)
           |)""".stripMargin,
        outCte = "vout", finalSql = "SELECT * FROM vout")
      },
      "VAD-style audio segmentation (integer mean-square gate + in-row island merge, map-only): per-clip activity profile with a full payload-level oracle"),

    Q("q192_video_scene_cuts",
      // hard-cut detection over the binary video column: consecutive-
      // frame SAD (exact integer) vs threshold, in-row longest-shot
      // scan. The fabricated corpus plants real shot structure (base
      // pixels keyed on frame/shotLen + sparse jitter), and the oracle
      // re-derives every pixel, SAD, and shot island — payload-level,
      // like q191
      (s, d) => Multimodal.videoSceneCuts(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateShotVideoCol(col("doc_id")).as("content")),
          "doc_id", "content", cutThreshold = 2000L)
        .select(col("id").as("doc_id"), col("n_frames"), col("n_cuts"),
          col("longest_shot")),
      Some {
        val base = s"(${OracleSql.mix64("CAST(doc_id * 1048576 + shot * 4096 + p AS UBIGINT)")} & 255)"
        val jit = s"CASE WHEN (${OracleSql.mix64("CAST(doc_id * 8191 + f * 64 + p AS UBIGINT)")} & 15) = 0 THEN 16 ELSE 0 END"
        // doc-local end-to-end → sharded whole (OracleSql.residueSharded)
        OracleSql.residueSharded(
        s"""dims AS (
           |  SELECT doc_id,
           |    8 + doc_id % 17 AS n,
           |    3 + (doc_id * 7) % 5 AS slen
           |  FROM documents
           |), fp AS (
           |  SELECT doc_id, slen, unnest(range(n)) AS f FROM dims
           |), fpp AS (
           |  SELECT doc_id, f, f // slen AS shot, unnest(range(64)) AS p
           |  FROM fp
           |), px AS MATERIALIZED (
           |  SELECT doc_id, f, p,
           |    CAST((($base + $jit) & 255) AS BIGINT) AS px
           |  FROM fpp
           |), sad AS (
           |  SELECT a.doc_id, a.f, sum(abs(a.px - b.px)) AS sad
           |  FROM px a JOIN px b
           |    ON b.doc_id = a.doc_id AND b.p = a.p AND b.f = a.f - 1
           |  GROUP BY a.doc_id, a.f
           |), flags AS (
           |  SELECT fr.doc_id, fr.f,
           |    CASE WHEN s.sad >= 2000 THEN 1 ELSE 0 END AS cut
           |  FROM (SELECT doc_id, unnest(range(n)) AS f FROM dims) fr
           |  LEFT JOIN sad s ON s.doc_id = fr.doc_id AND s.f = fr.f
           |), shots AS (
           |  SELECT doc_id, f,
           |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot_id
           |  FROM flags
           |), runs AS (
           |  SELECT doc_id, count(*) AS run_len
           |  FROM shots GROUP BY doc_id, shot_id
           |), vout AS (
           |  SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_frames,
           |    CAST((SELECT count(*) FROM flags f2
           |          WHERE f2.doc_id = d.doc_id AND f2.cut = 1) AS BIGINT) AS n_cuts,
           |    CAST((SELECT max(run_len) FROM runs r
           |          WHERE r.doc_id = d.doc_id) AS BIGINT) AS longest_shot
           |  FROM dims d
           |)""".stripMargin,
        outCte = "vout", finalSql = "SELECT * FROM vout")
      },
      "video hard-cut detection (integer consecutive-frame SAD + in-row longest-shot scan, map-only): shot profile with a full payload-level oracle"),

    Q("q193_alignment_gate",
      // LAION-style cross-modal filter: stub image embedding (q50's
      // encoder at dim 64) vs the text-side embeddings table, cosine
      // gate at 0.05. The oracle rebuilds every image byte, replays
      // the float32 encoder fold, and scores the identical double
      // cosine — both stub-encoder determinism AND table-embedding
      // cosine in one cross-modal join
      (s, d) => Multimodal.alignmentGate(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateImageCol(col("doc_id")).as("content")),
          "doc_id", "content",
          embeddings(s, d), "vec_id", "embedding",
          dim = 64, minCosine = 0.05)
        .select(col("id").as("doc_id"), col("cosine"), col("kept")),
      Some {
        val payByte = OracleSql.mix64("CAST(doc_id * 1048576 + j AS UBIGINT)")
        s"""WITH docs AS (
           |  SELECT doc_id, 16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 48 AS h
           |  FROM documents
           |), hdr AS (
           |  SELECT doc_id, i,
           |    CASE i WHEN 0 THEN 71 WHEN 1 THEN 73 WHEN 2 THEN 77 WHEN 3 THEN 71
           |           WHEN 4 THEN 0 WHEN 5 THEN 0 WHEN 6 THEN 0 WHEN 7 THEN w
           |           WHEN 8 THEN 0 WHEN 9 THEN 0 WHEN 10 THEN 0 ELSE h END AS b
           |  FROM docs, (SELECT unnest(range(12)) AS i)
           |), pay AS (
           |  SELECT doc_id, 12 + j AS i,
           |    CAST($payByte & 255 AS BIGINT) AS b
           |  FROM docs, (SELECT unnest(range(4096)) AS j) WHERE j < w * h
           |), allb AS (
           |  SELECT doc_id, i, b FROM hdr UNION ALL SELECT doc_id, i, b FROM pay
           |), terms AS (
           |  SELECT doc_id, i % 64 AS d, i,
           |    CAST(CAST(b AS FLOAT) / CAST(255.0 AS FLOAT) - CAST(0.5 AS FLOAT) AS FLOAT) AS t
           |  FROM allb
           |), acc AS (
           |  SELECT doc_id, d,
           |    list_reduce(list_prepend(CAST(0.0 AS FLOAT), list(t ORDER BY i)),
           |                (a, b) -> CAST(a + b AS FLOAT)) AS v
           |  FROM terms GROUP BY doc_id, d
           |), vecs AS (
           |  SELECT doc_id, list(v ORDER BY d) AS v FROM acc GROUP BY doc_id
           |), normd AS (
           |  SELECT doc_id, v,
           |    CAST(sqrt(list_reduce(list_prepend(0.0, list_transform(v,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS FLOAT) AS nrm
           |  FROM vecs
           |), pv AS (
           |  SELECT doc_id, list_transform(
           |    CASE WHEN nrm = 0 THEN v
           |         ELSE list_transform(v, x -> CAST(x / nrm AS FLOAT)) END,
           |    x -> CAST(x AS DOUBLE)) AS v
           |  FROM normd
           |), tv AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |), cosd AS (
           |  SELECT p.doc_id,
           |    list_reduce(list_prepend(0.0, [p.v[i] * t.v[i] FOR i IN range(1, len(p.v)+1)]), (a,b) -> a+b) AS dot,
           |    list_reduce(list_prepend(0.0, [p.v[i] * p.v[i] FOR i IN range(1, len(p.v)+1)]), (a,b) -> a+b) AS na,
           |    list_reduce(list_prepend(0.0, [t.v[i] * t.v[i] FOR i IN range(1, len(t.v)+1)]), (a,b) -> a+b) AS nb
           |  FROM pv p JOIN tv t ON t.vec_id = p.doc_id
           |), cosv AS (
           |  SELECT doc_id,
           |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
           |          ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS cosine
           |  FROM cosd
           |)
           |SELECT doc_id, cosine, cosine >= 0.05 AS kept FROM cosv""".stripMargin
      },
      "CLIP-style image-text alignment gate (stub image encoder replayed byte-for-byte + table embedding, one id-keyed join, codegen cosine): the LAION filtering primitive"),

    Q("q194_shot_keyframes",
      // keyframe extraction: q192's cut segmentation + per-shot argmax
      // of integer frame detail (64·Σp² − (Σp)², ties to the earliest
      // frame) — ONE representative frame per shot, the cut-aligned
      // alternative to every-Nth sampling (q49). Map-only; the oracle
      // re-derives every pixel, SAD, shot island, and argmax
      (s, d) => Multimodal.shotKeyframes(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateShotVideoCol(col("doc_id")).as("content")),
          "doc_id", "content", cutThreshold = 2000L)
        .select(col("id").as("doc_id"), col("shot_idx"), col("start_frame"),
          col("n_frames_in_shot"), col("keyframe_idx"), col("detail")),
      Some {
        val base = s"(${OracleSql.mix64("CAST(doc_id * 1048576 + shot * 4096 + p AS UBIGINT)")} & 255)"
        val jit = s"CASE WHEN (${OracleSql.mix64("CAST(doc_id * 8191 + f * 64 + p AS UBIGINT)")} & 15) = 0 THEN 16 ELSE 0 END"
        // doc-local end-to-end → sharded whole (OracleSql.residueSharded)
        OracleSql.residueSharded(
        s"""dims AS (
           |  SELECT doc_id,
           |    8 + doc_id % 17 AS n,
           |    3 + (doc_id * 7) % 5 AS slen
           |  FROM documents
           |), fp AS (
           |  SELECT doc_id, slen, unnest(range(n)) AS f FROM dims
           |), fpp AS (
           |  SELECT doc_id, f, f // slen AS shot, unnest(range(64)) AS p
           |  FROM fp
           |), px AS MATERIALIZED (
           |  SELECT doc_id, f, p,
           |    CAST((($base + $jit) & 255) AS BIGINT) AS px
           |  FROM fpp
           |), det AS (
           |  SELECT doc_id, f, 64 * sum(px * px) - sum(px) * sum(px) AS detail
           |  FROM px GROUP BY doc_id, f
           |), sad AS (
           |  SELECT a.doc_id, a.f, sum(abs(a.px - b.px)) AS sad
           |  FROM px a JOIN px b
           |    ON b.doc_id = a.doc_id AND b.p = a.p AND b.f = a.f - 1
           |  GROUP BY a.doc_id, a.f
           |), flags AS (
           |  SELECT fr.doc_id, fr.f,
           |    CASE WHEN s.sad >= 2000 THEN 1 ELSE 0 END AS cut
           |  FROM (SELECT doc_id, unnest(range(n)) AS f FROM dims) fr
           |  LEFT JOIN sad s ON s.doc_id = fr.doc_id AND s.f = fr.f
           |), shots AS (
           |  SELECT doc_id, f,
           |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot_id
           |  FROM flags
           |), ranked AS (
           |  SELECT s.doc_id, s.shot_id, s.f, d.detail,
           |    row_number() OVER (PARTITION BY s.doc_id, s.shot_id
           |                       ORDER BY d.detail DESC, s.f ASC) AS rn,
           |    count(*) OVER (PARTITION BY s.doc_id, s.shot_id) AS n_in_shot,
           |    min(s.f) OVER (PARTITION BY s.doc_id, s.shot_id) AS start_frame
           |  FROM shots s JOIN det d ON d.doc_id = s.doc_id AND d.f = s.f
           |), vout AS (
           |  SELECT doc_id, CAST(shot_id AS BIGINT) AS shot_idx,
           |    CAST(start_frame AS BIGINT) AS start_frame,
           |    CAST(n_in_shot AS BIGINT) AS n_frames_in_shot,
           |    CAST(f AS BIGINT) AS keyframe_idx,
           |    CAST(detail AS BIGINT) AS detail
           |  FROM ranked WHERE rn = 1
           |)""".stripMargin,
        outCte = "vout", finalSql = "SELECT * FROM vout")
      },
      "per-shot keyframe extraction (cut segmentation + integer-variance argmax, map-only): one representative frame per shot for vision-language sampling"),

    Q("q195_audio_neardup",
      // the THIRD modality on the shared banded-Hamming machinery:
      // decode → 64-bit energy-delta fingerprint (integer window
      // energies, exact comparisons) → guaranteed-recall banded join.
      // The fabricated corpus plants re-encode groups (PCM base keyed
      // on doc_id % 200, 1/64 samples perturbed) like q162's images.
      // Oracle = brute-force Hamming ball over SQL-re-derived
      // fingerprints — valid because banding is guaranteed-recall
      (s, d) => Multimodal.audioNearDup(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateNearDupAudioCol(col("doc_id"), 200).as("content")),
          "doc_id", "content", maxHamming = 4)
        .withColumn("hamming", col("hamming").cast("long")),
      Some {
        val raw = s"(${OracleSql.mix64("CAST((doc_id % 200) * 65536 + i AS UBIGINT)")} & 255)"
        val perturb = s"CASE WHEN (${OracleSql.mix64("CAST(doc_id * 8191 + i AS UBIGINT)")} & 63) = 0 THEN 8 ELSE 0 END"
        // the per-doc sample→fingerprint chain is doc-local, so it
        // residue-shards into parallel UNION ALL pipelines (116→17 s
        // at sf0.01 — see OracleSql.residueSharded); only the pair
        // join below sees the whole corpus
        OracleSql.residueSharded(
          s"""idx AS (
             |  SELECT doc_id, unnest(range(4160)) AS i FROM documents
             |), samples AS (
             |  SELECT doc_id, i // 64 AS w,
             |    CASE WHEN sv > 127 THEN sv - 256 ELSE sv END AS s
             |  FROM (SELECT doc_id, i,
             |          CAST((($raw + $perturb) & 255) AS BIGINT) AS sv
             |        FROM idx)
             |), e AS (
             |  SELECT doc_id, w, sum(s * s) AS e FROM samples GROUP BY doc_id, w
             |), dlt AS (
             |  SELECT doc_id, w, e,
             |    lead(e) OVER (PARTITION BY doc_id ORDER BY w) AS en
             |  FROM e
             |), sh AS (
             |  SELECT doc_id,
             |    CAST(coalesce(sum(CASE WHEN en > e
             |      THEN CAST(CAST(1 AS UBIGINT) << w AS HUGEINT) ELSE 0 END),
             |      0) AS UBIGINT) AS sh
             |  FROM dlt WHERE w < 64 GROUP BY doc_id
             |)""".stripMargin,
          outCte = "sh",
          finalSql =
            s"""SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
               |  CAST(bit_count(xor(a.sh, b2.sh)) AS BIGINT) AS hamming
               |FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
               |WHERE bit_count(xor(a.sh, b2.sh)) <= 4""".stripMargin)
      },
      "perceptual audio near-dup: 64-bit energy-delta fingerprint + banded Hamming pairs (fingerprints oracle-recomputed sample-by-sample in SQL)"),

    Q("q196_multimodal_gate",
      // the cross-modality record gate (q186's sibling for LAION-style
      // assembly): text token band + image-text alignment + audio
      // activity + video cut-count, each the proven operator, one
      // verdict row per record. The oracle chains all four modality
      // re-derivations (q193's encoder fold, q191's samples, q192's
      // pixels) over the same corpus
      (s, d) => Curation.multimodalGate(
          documents(s, d).select(col("doc_id"), col("text"),
            Multimodal.fabricateImageCol(col("doc_id")).as("img"),
            Multimodal.fabricateAudioCol(col("doc_id")).as("aud"),
            Multimodal.fabricateShotVideoCol(col("doc_id")).as("vid")),
          "doc_id", "text", "img", "aud", "vid",
          embeddings(s, d), "vec_id", "embedding",
          minTokens = 25, maxTokens = 100000, minCosine = 0.05)
        .select(col("id").as("doc_id"), col("ok_text"), col("ok_image"),
          col("ok_audio"), col("ok_video"), col("kept")),
      Some {
        val payByte = OracleSql.mix64("CAST(doc_id * 1048576 + j AS UBIGINT)")
        val asv = s"(${OracleSql.mix64("CAST(doc_id * 65536 + i AS UBIGINT)")} & 255)"
        val vbase = s"(${OracleSql.mix64("CAST(doc_id * 1048576 + shot * 4096 + p AS UBIGINT)")} & 255)"
        val vjit = s"CASE WHEN (${OracleSql.mix64("CAST(doc_id * 8191 + f * 64 + p AS UBIGINT)")} & 15) = 0 THEN 16 ELSE 0 END"
        // every modality re-derivation AND the final verdict join are
        // doc-local → the whole chain residue-shards into parallel
        // UNION ALL pipelines (the embeddings probe inside a branch
        // stays whole-table; joining it to a doc-sliced ipv is exact)
        OracleSql.residueSharded(
        s"""txt AS (
           |  SELECT doc_id,
           |    len(list_filter(string_split_regex(trim(text), '\\s+'),
           |      t -> t <> '')) BETWEEN 25 AND 100000 AS ok_text
           |  FROM documents
           |), idocs AS (
           |  SELECT doc_id, 16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 48 AS h
           |  FROM documents
           |), ihdr AS (
           |  SELECT doc_id, i,
           |    CASE i WHEN 0 THEN 71 WHEN 1 THEN 73 WHEN 2 THEN 77 WHEN 3 THEN 71
           |           WHEN 4 THEN 0 WHEN 5 THEN 0 WHEN 6 THEN 0 WHEN 7 THEN w
           |           WHEN 8 THEN 0 WHEN 9 THEN 0 WHEN 10 THEN 0 ELSE h END AS b
           |  FROM idocs, (SELECT unnest(range(12)) AS i)
           |), ipay AS (
           |  SELECT doc_id, 12 + j AS i,
           |    CAST($payByte & 255 AS BIGINT) AS b
           |  FROM idocs, (SELECT unnest(range(4096)) AS j) WHERE j < w * h
           |), iallb AS (
           |  SELECT doc_id, i, b FROM ihdr UNION ALL SELECT doc_id, i, b FROM ipay
           |), iterms AS (
           |  SELECT doc_id, i % 64 AS d, i,
           |    CAST(CAST(b AS FLOAT) / CAST(255.0 AS FLOAT) - CAST(0.5 AS FLOAT) AS FLOAT) AS t
           |  FROM iallb
           |), iacc AS (
           |  SELECT doc_id, d,
           |    list_reduce(list_prepend(CAST(0.0 AS FLOAT), list(t ORDER BY i)),
           |                (a, b) -> CAST(a + b AS FLOAT)) AS v
           |  FROM iterms GROUP BY doc_id, d
           |), ivecs AS (
           |  SELECT doc_id, list(v ORDER BY d) AS v FROM iacc GROUP BY doc_id
           |), inormd AS (
           |  SELECT doc_id, v,
           |    CAST(sqrt(list_reduce(list_prepend(0.0, list_transform(v,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS FLOAT) AS nrm
           |  FROM ivecs
           |), ipv AS (
           |  SELECT doc_id, list_transform(
           |    CASE WHEN nrm = 0 THEN v
           |         ELSE list_transform(v, x -> CAST(x / nrm AS FLOAT)) END,
           |    x -> CAST(x AS DOUBLE)) AS v
           |  FROM inormd
           |), itv AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |), icosd AS (
           |  SELECT p.doc_id,
           |    list_reduce(list_prepend(0.0, [p.v[i] * t.v[i] FOR i IN range(1, len(p.v)+1)]), (a,b) -> a+b) AS dot,
           |    list_reduce(list_prepend(0.0, [p.v[i] * p.v[i] FOR i IN range(1, len(p.v)+1)]), (a,b) -> a+b) AS na,
           |    list_reduce(list_prepend(0.0, [t.v[i] * t.v[i] FOR i IN range(1, len(t.v)+1)]), (a,b) -> a+b) AS nb
           |  FROM ipv p JOIN itv t ON t.vec_id = p.doc_id
           |), img AS (
           |  SELECT doc_id,
           |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
           |          ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) >= 0.05 AS ok_image
           |  FROM icosd
           |), adims AS (
           |  SELECT doc_id, 1000 + (doc_id * 11) % 3000 AS n FROM documents
           |), aidx AS (
           |  SELECT doc_id, unnest(range(n)) AS i FROM adims
           |), asamples AS (
           |  SELECT doc_id, i // 256 AS w,
           |    CASE WHEN sv > 127 THEN sv - 256 ELSE sv END AS s
           |  FROM (SELECT doc_id, i, CAST($asv AS BIGINT) AS sv FROM aidx)
           |), aact AS (
           |  SELECT doc_id, w, sum(s * s) >= 5500 * count(*) AS actv
           |  FROM asamples GROUP BY doc_id, w
           |), aud AS (
           |  SELECT doc_id,
           |    2 * count(*) FILTER (actv) >= count(*) AS ok_audio
           |  FROM aact GROUP BY doc_id
           |), vdims AS (
           |  SELECT doc_id,
           |    8 + doc_id % 17 AS n,
           |    3 + (doc_id * 7) % 5 AS slen
           |  FROM documents
           |), vfp AS (
           |  SELECT doc_id, slen, unnest(range(n)) AS f FROM vdims
           |), vfpp AS (
           |  SELECT doc_id, f, f // slen AS shot, unnest(range(64)) AS p
           |  FROM vfp
           |), vpx AS MATERIALIZED (
           |  SELECT doc_id, f, p,
           |    CAST((($vbase + $vjit) & 255) AS BIGINT) AS px
           |  FROM vfpp
           |), vsad AS (
           |  SELECT a.doc_id, a.f, sum(abs(a.px - b.px)) AS sad
           |  FROM vpx a JOIN vpx b
           |    ON b.doc_id = a.doc_id AND b.p = a.p AND b.f = a.f - 1
           |  GROUP BY a.doc_id, a.f
           |), vid AS (
           |  SELECT d.doc_id,
           |    coalesce((SELECT count(*) FROM vsad s
           |              WHERE s.doc_id = d.doc_id AND s.sad >= 2000), 0) >= 3 AS ok_video
           |  FROM vdims d
           |), gate AS (
           |  SELECT t.doc_id, t.ok_text,
           |    coalesce(i.ok_image, false) AS ok_image, au.ok_audio, v.ok_video,
           |    (t.ok_text AND coalesce(i.ok_image, false) AND au.ok_audio
           |     AND v.ok_video) AS kept
           |  FROM txt t LEFT JOIN img i USING (doc_id)
           |  JOIN aud au USING (doc_id)
           |  JOIN vid v USING (doc_id)
           |)""".stripMargin,
          outCte = "gate",
          finalSql = "SELECT * FROM gate")
      },
      "multimodal record gate (text band + image-text alignment + audio activity + video cut-count, all proven operators, one verdict row per record): the LAION assembly step"),

    Q("q197_audio_canonical",
      // q195's linear-output twin, exactly as q189 is q162's: the
      // canonical-collapse machinery is modality-generic. Star edges
      // to bucket minima + min-label components over the audio
      // fingerprint — one row per clip, no quadratic pair list
      (s, d) => Multimodal.audioNearDupCanonical(
          documents(s, d).select(col("doc_id"),
            Multimodal.fabricateNearDupAudioCol(col("doc_id"), 200).as("content")),
          "doc_id", "content", maxHamming = 4),
      // full re-derivation: q195's sample-level fingerprint rebuild,
      // then q189's closure structure (35 block-combination band keys,
      // arg-min anchors, Hamming-verified star edges, recursive
      // min-label closure)
      Some {
        val raw = s"(${OracleSql.mix64("CAST((doc_id % 200) * 65536 + i AS UBIGINT)")} & 255)"
        val perturb = s"CASE WHEN (${OracleSql.mix64("CAST(doc_id * 8191 + i AS UBIGINT)")} & 63) = 0 THEN 8 ELSE 0 END"
        val nBlocks = 7 // maxHamming + 3
        val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
        val keyStructs = (0 until nBlocks).combinations(3).toSeq.zipWithIndex
          .map { case (blocks, tid) =>
            val k = blocks.foldLeft("CAST(0 AS UBIGINT)") { (acc, bi) =>
              val lo = bounds(bi); val width = bounds(bi + 1) - lo
              val mask = (BigInt(1) << width) - 1
              s"(($acc << $width) | ((sh >> $lo) & $mask))"
            }
            s"{'t': $tid, 'k': $k}"
          }.mkString(",\n           |      ")
        // doc-local fingerprint rebuild sharded into parallel UNION ALL
        // pipelines (the q195 pathology — see OracleSql.residueSharded);
        // band keys, star edges and the recursive closure stay global
        OracleSql.residueSharded(
          s"""idx AS (
             |  SELECT doc_id, unnest(range(4160)) AS i FROM documents
             |), samples AS (
             |  SELECT doc_id, i // 64 AS w,
             |    CASE WHEN sv > 127 THEN sv - 256 ELSE sv END AS s
             |  FROM (SELECT doc_id, i,
             |          CAST((($raw + $perturb) & 255) AS BIGINT) AS sv
             |        FROM idx)
             |), en AS (
             |  SELECT doc_id, w, sum(s * s) AS e FROM samples GROUP BY doc_id, w
             |), dlt AS (
             |  SELECT doc_id, w, e,
             |    lead(e) OVER (PARTITION BY doc_id ORDER BY w) AS enx
             |  FROM en
             |), sh AS (
             |  SELECT doc_id,
             |    CAST(coalesce(sum(CASE WHEN enx > e
             |      THEN CAST(CAST(1 AS UBIGINT) << w AS HUGEINT) ELSE 0 END),
             |      0) AS UBIGINT) AS sh
             |  FROM dlt WHERE w < 64 GROUP BY doc_id
             |)""".stripMargin,
          outCte = "sh",
          recursive = true,
          finalSql = s""", keyed AS (
           |  SELECT doc_id, sh, u.t AS t, u.k AS k FROM (
           |    SELECT doc_id, sh, unnest([
           |      $keyStructs]) AS u
           |    FROM sh)
           |), mn AS (
           |  SELECT t, k, min(doc_id) AS mid, arg_min(sh, doc_id) AS msh
           |  FROM keyed GROUP BY t, k
           |), star AS (
           |  SELECT DISTINCT mn.mid AS id_a, ky.doc_id AS id_b
           |  FROM keyed ky JOIN mn ON mn.t = ky.t AND mn.k = ky.k
           |  WHERE ky.doc_id <> mn.mid AND bit_count(xor(mn.msh, ky.sh)) <= 4
           |), e AS (
           |  SELECT id_a AS s, id_b AS d FROM star
           |  UNION
           |  SELECT id_b, id_a FROM star
           |), reach AS (
           |  SELECT s AS id, s AS r FROM e
           |  UNION
           |  SELECT e.s, reach.r FROM e JOIN reach ON e.d = reach.id
           |), lab AS (
           |  SELECT s.doc_id AS id,
           |    CAST(coalesce(c.comp, s.doc_id) AS BIGINT) AS canonical_id
           |  FROM sh s LEFT JOIN (
           |    SELECT id, min(r) AS comp FROM reach GROUP BY id) c
           |  ON c.id = s.doc_id
           |)
           |SELECT CAST(l.id AS BIGINT) AS id, l.canonical_id,
           |  CAST(g.cnt AS BIGINT) AS n_members
           |FROM lab l JOIN (
           |  SELECT canonical_id, count(*) AS cnt FROM lab GROUP BY canonical_id) g
           |USING (canonical_id)""".stripMargin)
      },
      "canonical-collapse audio dedup (fingerprint star edges + min-label components): q195's linear-output twin — the canonical machinery is modality-generic"),

    Q("q198_corpus_datasheet",
      // the "datasheet for datasets" release report: per-source docs,
      // exact token totals, mean/median length, language mix and the
      // dominant language's share — two source-keyed hash aggs + one
      // catalog-scale join; every number exact or a pinned-order
      // derivation (integer sums, q53-parity percentile, argmax with
      // lang-ASC ties). The median runs through the rank-based exact
      // path (groupedExactPercentiles) rather than the built-in
      // `percentile()` aggregate, whose per-group value-counts map is
      // state ∝ distinct lengths — per-source groups are CORPUS-scale,
      // so at 100 TB that buffer IS the data; the rank path's agg
      // state is bounded (groups × bins) and the interpolation is
      // bit-identical (q53 pins it equal to DuckDB's quantile_cont).
      (s, d) => {
        val base = documents(s, d).select(col("source"), col("lang"),
          col("n_chars"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("ntok"))
        val main = base.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          round(sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"))
        // summary-sized LocalRelation (one row per source) — the join
        // back onto `main` broadcasts by size
        val p50 = Stats.groupedExactPercentiles(
            documents(s, d).select(col("source"), col("n_chars")),
            "source", "n_chars", Seq(0.5))
          .select(col("g").as("source"), col("p_0").as("p50_chars"))
        val top = base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source")).agg(
            min(struct((-col("c")).as("nc"), col("lang"))).as("m"),
            sum(col("c")).as("tot"))
          .select(col("source"), col("m.lang").as("top_lang"),
            round((-col("m.nc")).cast("double") / col("tot").cast("double"), 6)
              .as("top_lang_share"))
        // LEFT: groupedExactPercentiles drops all-NULL groups, but the
        // datasheet keeps every source row (p50_chars null there) —
        // matching the oracle's quantile_cont-inside-main semantics
        main.join(broadcast(p50), Seq("source"), "left").join(top, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("avg_chars"), col("p50_chars"), col("n_langs"),
            col("top_lang"), col("top_lang_share"))
      },
      Some("""WITH base AS (
             |  SELECT source, lang, n_chars,
             |    len(list_filter(string_split_regex(trim(text), '\s+'),
             |      t -> t <> '')) AS ntok
             |  FROM documents
             |), main AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(ntok) AS BIGINT) AS n_tokens,
             |    round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
             |    quantile_cont(n_chars, 0.5) AS p50_chars,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |  FROM base GROUP BY source
             |), lc AS (
             |  SELECT source, lang, count(*) AS c FROM base GROUP BY source, lang
             |), tot AS (
             |  SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM lc GROUP BY source
             |), top AS (
             |  SELECT source, lang AS top_lang, c FROM (
             |    SELECT source, lang, c,
             |      row_number() OVER (PARTITION BY source
             |                         ORDER BY c DESC, lang) AS rn
             |    FROM lc) WHERE rn = 1
             |)
             |SELECT m.source, m.n_docs, m.n_tokens, m.avg_chars, m.p50_chars,
             |  m.n_langs, t.top_lang,
             |  round(CAST(t.c AS DOUBLE) / tt.tot, 6) AS top_lang_share
             |FROM main m JOIN top t USING (source) JOIN tot tt USING (source)""".stripMargin),
      "per-source corpus datasheet (docs, exact token totals, mean/median length, language mix, dominant-language share): the dataset release report as two hash aggs"),

    Q("q199_ks_matrix_batched",
      // the wide-grid KS drift matrix: 25 nation groups is PAST
      // ksMatrix's 16-group / 120-pair codegen envelope, so this runs
      // the batched pass algebra (SCALE.md §ksMatrix as an API) —
      // batches of 8, six concurrent cross passes (each ≤ 16 groups;
      // batch internals harvested by the first pass touching the
      // batch), every unordered pair emitted by exactly one pass. The
      // oracle computes all 300 pairs monolithically (SQL has no
      // codegen envelope): equality IS the proof that the batch
      // decomposition is exact
      (s, d) => Stats.ksMatrixBatched(customer(s, d), "c_acctbal",
        "c_nationkey", batchSize = 8),
      Some {
        // ksMatrix sorts group keys AS STRINGS — mirror that order
        val gs = (0 until 25).map(_.toString).sorted
        val idx = gs.indices
        val cs = idx.map(i =>
          s"    sum(CASE WHEN CAST(c_nationkey AS VARCHAR) = '${gs(i)}' THEN 1 ELSE 0 END) AS c$i")
          .mkString(",\n")
        val ns = idx.map(i => s"sum(c$i) AS n$i").mkString(", ")
        val us = idx.map(i => s"sum(c$i) OVER w AS u$i").mkString(",\n    ")
        val pairs = for { i <- idx; j <- idx if i < j } yield (i, j)
        val ds = pairs.map { case (i, j) =>
          s"abs(u$i * n$j - u$j * n$i) AS d_${i}_$j" }.mkString(",\n    ")
        val ms = pairs.map { case (i, j) => s"max(d_${i}_$j) AS m_${i}_$j" }
          .mkString(", ")
        // all 300 sup locations in ONE dd scan (min v among the argmax
        // rows — ksMatrix's tie-break), instead of 300 correlated
        // subqueries. The compared d/m values re-type through CAST:
        // exact (they are integers < 2^53) and it keeps the HUGEINT
        // taint lint's conservative scan out of the CASE arm, whose
        // actual result is the DOUBLE v
        val ats = pairs.map { case (i, j) =>
          s"min(CASE WHEN CAST(dd.d_${i}_$j AS DOUBLE) = " +
            s"CAST(m.m_${i}_$j AS DOUBLE) THEN v END) AS a_${i}_$j" }
          .mkString(",\n    ")
        val branches = pairs.map { case (i, j) =>
          s"""SELECT '${gs(i)}' AS g_a, '${gs(j)}' AS g_b,
             |  CAST(n$i AS BIGINT) AS n_a, CAST(n$j AS BIGINT) AS n_b,
             |  round(CAST(m_${i}_$j AS DOUBLE) / (CAST(n$i AS DOUBLE) * CAST(n$j AS DOUBLE)), 9) AS d_stat,
             |  a_${i}_$j AS at_value
             |FROM g, m, att""".stripMargin }.mkString("\nUNION ALL\n")
        s"""WITH c AS MATERIALIZED (
           |  SELECT c_acctbal AS v,
           |$cs
           |  FROM customer GROUP BY 1
           |), g AS MATERIALIZED (SELECT $ns FROM c),
           |cum AS MATERIALIZED (
           |  SELECT v,
           |    $us
           |  FROM c
           |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |), dd AS MATERIALIZED (
           |  SELECT v,
           |    $ds
           |  FROM cum, g
           |), m AS MATERIALIZED (SELECT $ms FROM dd),
           |att AS MATERIALIZED (
           |  SELECT
           |    $ats
           |  FROM dd, m
           |)
           |$branches""".stripMargin
      },
      "wide-grid batched KS drift matrix (G=25 > the codegen envelope): the SCALE.md batch algebra as an API, 300 pairs across six bounded concurrent passes, oracle-proved exact against one monolithic SQL pass"),

    Q("q200_text_canonical",
      // TEXT's linear-output canonical collapse — the q189/q197
      // machinery on MinHash bands, completing the modality triple:
      // band buckets emit star edges to their min id (O(members) per
      // bucket, never a pair list), edges verified by the q34
      // signature-agreement estimate, min-label components collapse
      // the star graph. q34/q64 stay the pair-list oracle rows; this
      // is their giant-duplicate-group scale path
      (s, d) => Dedup.minhashCanonical(documents(s, d), "text", "doc_id",
          shingleK = 3, numPerms = 64, bands = 16, threshold = 0.2)
        .select(col("id").cast("long").as("id"),
          col("canonical_id").cast("long").as("canonical_id"),
          col("n_members").cast("long").as("n_members")),
      Some(minhashCanonicalOracleSql(0.2)),
      "canonical-collapse MinHash text dedup (band star edges + min-label components): q34/q64's linear-output twin for giant duplicate groups — never materializes the quadratic pair list"),

    Q("q201_repetition_profile",
      // the Gopher REPETITION rules (Rae et al. 2021 Table A1's
      // within-document half — q181 covers the document rules):
      // duplicate-line fraction / duplicate-line CHAR fraction over
      // the deterministic q80 re-lining, plus the top word-2-gram's
      // character coverage, each at its published threshold
      // (0.30 / 0.20 / 0.20) and the conjunction as `kept`. Line
      // metrics are pure in-row array arithmetic (no shuffle); only
      // the top-2-gram takes the corpus-standard doc-keyed agg
      (s, d) => Curation.repetitionProfile(documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines"),
          col("dup_line_frac"), col("dup_char_frac"),
          col("top_bigram"), col("top_bigram_cov"), col("kept")),
      // İ/final-Σ pre-fold (r19 case matrix): the re-lined strings and
      // bigram keys are built from the lowered tokens, so the
      // dup-char fractions and `kept` shift under the simple map; a
      // no-op on İ/Σ-free corpora
      Some(s"""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(${OracleSql.caseFold("text")})), '\\s+'),
             |      t -> t <> '') AS tk
             |  FROM documents
             |), lined AS (
             |  SELECT doc_id, tk,
             |    CASE WHEN len(tk) = 0 THEN ['']
             |    ELSE [array_to_string(tk[i*8+1 : i*8+8], ' ')
             |          FOR i IN range(0, greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1))]
             |    END AS lines
             |  FROM toks
             |), lm AS (
             |  SELECT doc_id, tk,
             |    CAST(len(lines) AS BIGINT) AS n_lines,
             |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_distinct,
             |    CAST(coalesce(list_sum(list_transform(lines,
             |      l -> CAST(length(l) AS BIGINT))), 0) AS BIGINT) AS c_total,
             |    CAST(coalesce(list_sum(list_transform(list_distinct(lines),
             |      l -> CAST(length(l) AS BIGINT))), 0) AS BIGINT) AS c_distinct
             |  FROM lined
             |), bc AS (
             |  SELECT doc_id, g, count(*) AS c FROM (
             |    SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
             |                           FOR i IN range(1, len(tk))]) AS g
             |    FROM toks WHERE len(tk) >= 2)
             |  GROUP BY doc_id, g
             |), tp AS (
             |  SELECT doc_id, g AS top_bigram,
             |    CAST(c * length(g) AS BIGINT) AS top_chars
             |  FROM (SELECT doc_id, g, c,
             |          row_number() OVER (PARTITION BY doc_id
             |                             ORDER BY c DESC, g ASC) AS rn
             |        FROM bc) WHERE rn = 1
             |), fr AS (
             |  SELECT m.doc_id, m.n_lines,
             |    round(CAST(m.n_lines - m.n_distinct AS DOUBLE)
             |      / greatest(m.n_lines, 1), 6) AS dup_line_frac,
             |    round(CAST(m.c_total - m.c_distinct AS DOUBLE)
             |      / greatest(m.c_total, 1), 6) AS dup_char_frac,
             |    t.top_bigram,
             |    round(CAST(coalesce(t.top_chars, 0) AS DOUBLE)
             |      / greatest(m.c_total, 1), 6) AS top_bigram_cov
             |  FROM lm m LEFT JOIN tp t USING (doc_id)
             |)
             |SELECT doc_id, n_lines, dup_line_frac, dup_char_frac,
             |  top_bigram, top_bigram_cov,
             |  (dup_line_frac <= 0.30 AND dup_char_frac <= 0.20
             |   AND top_bigram_cov <= 0.20) AS kept
             |FROM fr""".stripMargin),
      "Gopher repetition rules (duplicate-line fraction, duplicate-char fraction, top-2-gram coverage — Rae et al. Table A1): the within-document repetition gate, line metrics shuffle-free in-row")
  )

  val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
