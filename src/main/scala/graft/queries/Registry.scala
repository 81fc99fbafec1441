package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry binding every declared operator (SURVEY.md §2.3/§2.4) to
  * a runnable query and, where SQL-expressible, its DuckDB oracle.
  *
  * Contract (driver): column names/aliases must match between the Spark
  * result and the oracle SQL; every query ends with a deterministic ORDER BY.
  * Entries without oracle SQL (engine-specific hashes / sketches) get the
  * driver's weaker rows-only check.
  */
object Registry {

  type QueryFn = (SparkSession, String) => DataFrame

  final case class Entry(fn: QueryFn, oracle: Option[String])

  // ---- oracle SQL builders mirroring Pipeline's portable LSH bucketing ----

  /** DuckDB mirror of `Pipeline.planeWeight`: same quadratic-parity ±1. */
  private def planeWeightSql(p: Int): String =
    s"(CASE WHEN (1 + $p * 64 + d) * (1 + $p * 64 + d) * 2654435761" +
      " % 1000000007 % 2 = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"

  /** Sequential left-to-right dot(dvec, w_p) — same summation order as
    * Spark's `aggregate` over `zip_with`, so the sign bits agree exactly. */
  private def planeDotSql(p: Int): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(0, 63), d -> dvec[d + 1] * ${planeWeightSql(p)})), (a, x) -> a + x)"

  private def bucketSql(nPlanes: Int): String =
    (0 until nPlanes)
      .map(p => s"(CASE WHEN ${planeDotSql(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")

  /** DuckDB mirror of the `MinHashSignature` + banding pipeline's shared
    * CTE prefix (through `bands(doc_id, b, key)`): the same polynomial
    * token/shingle hashes, affine permutations, and band keys —
    * bit-identical to the native expressions. */
  private def minhashBandsCte: String = {
    val M = graft.plans.MinHashSignature.Mod
    import graft.plans.MinHashSignature.{PermA0, PermAStep, PermB0, PermBStep}
    val sigCols = (0 until 16)
      .map(p => s"min((shh * ${PermA0 + PermAStep * p} + ${PermB0 + PermBStep * p}) % $M) AS h$p")
      .mkString(", ")
    def poly4(hs: Seq[String]) = hs.reduce((a, h) => s"($a * 31 + $h) % $M")
    val keys = (0 until 4)
      .map(b => poly4((0 until 4).map(j => s"h${b * 4 + j}")))
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       |t AS (SELECT doc_id,
       |             list_transform(tk, t -> list_reduce(
       |               list_prepend(CAST(0 AS BIGINT),
       |                 list_transform(string_split_regex(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |               (h, c) -> (h * 31 + c) % $M)) AS th
       |      FROM d),
       |sh AS (SELECT doc_id, ((th[i] * 31 + th[i+1]) % $M * 31 + th[i+2]) % $M AS shh
       |       FROM t, generate_series(1, 2000) g(i)
       |       WHERE i <= CASE WHEN len(th) - 2 > 2000
       |                       THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
       |                       ELSE len(th) - 2 END),
       |sigs AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, b, [$keys][b + 1] AS key
       |          FROM sigs, generate_series(0, 3) g(b))""".stripMargin
  }

  /** The e2 truth derivation as renamed CTEs (`j*` prefix, collision-free
    * with the minhash CTEs), ending in per-pair exact Jaccard `jx`. Shared
    * by the e24 recall and e26 calibration oracles. */
  private def jaccardTruthCtes: String =
    """jtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |jsh0 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |         FROM jtoks, generate_series(1, 2000) g(i)
      |         WHERE i <= CASE WHEN len(tk) - 2 > 2000
      |                         THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
      |                         ELSE len(tk) - 2 END),
      |jrare AS (SELECT s FROM jsh0 GROUP BY s HAVING count(*) <= 128),
      |jsh AS (SELECT jsh0.doc_id, jsh0.s FROM jsh0 JOIN jrare ON jsh0.s = jrare.s),
      |jsz AS (SELECT doc_id, count(*) AS n FROM jsh0 GROUP BY doc_id),
      |jpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |           FROM jsh a JOIN jsh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jx AS (SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jexact
      |       FROM jpairs JOIN jsz sa ON doc_a = sa.doc_id
      |                   JOIN jsz sb ON doc_b = sb.doc_id)""".stripMargin

  /** e24 oracle: the e2b candidate CTE and the e2 truth CTE (renamed to
    * avoid name collisions) joined into recall/precision counts. */
  private def lshRecallOracleSql: String =
    s"""$minhashBandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |$jaccardTruthCtes,
       |truth AS (SELECT doc_a, doc_b FROM jx WHERE jexact >= 0.5)
       |SELECT (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(*) FROM truth) AS n_truth,
       |       (SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) AS n_hit,
       |       round((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) * 1.0
       |             / (SELECT count(*) FROM truth), 6) AS recall,
       |       round((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) * 1.0
       |             / (SELECT count(*) FROM cand), 6) AS precision""".stripMargin

  /** The deterministic IVF coarse quantizer replayed relationally —
    * shared by the e3e/e29 probe oracle and the e31 SemDeDup oracle. */
  private def ivfQuantizerCtes: String =
    """cents0 AS (SELECT label AS cell, d,
      |                  round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS cv
      |           FROM embeddings, generate_series(1, 64) g(d) GROUP BY label, d),
      |cents AS (SELECT cell, list(cv ORDER BY d) AS centroid FROM cents0 GROUP BY cell),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
      |      FROM embeddings),
      |sims AS (SELECT vec_id, dvec, cell,
      |                list_inner_product(dvec, centroid)
      |                  / (sqrt(list_inner_product(dvec, dvec))
      |                     * sqrt(list_inner_product(centroid, centroid))) AS sim
      |         FROM v, cents),
      |ranked AS (SELECT vec_id, dvec, cell,
      |                  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rk
      |           FROM sims),
      |assigned AS (SELECT vec_id, dvec, cell FROM ranked WHERE rk = 1)""".stripMargin

  /** Shared by e3e (rebuild-per-query IVF) and e29 (persisted IVF): the
    * deterministic quantizer, 2-cell probes, and in-cell top-5 replayed
    * relationally — both entries must produce this exact result. */
  private def ivfOracleSql: String =
    s"""WITH $ivfQuantizerCtes,
      |probes AS (SELECT vec_id AS qid, dvec AS qvec, cell
      |           FROM ranked WHERE vec_id < 5 AND rk <= 2),
      |cand AS (SELECT qid, vec_id,
      |                list_inner_product(dvec, qvec)
      |                  / (sqrt(list_inner_product(dvec, dvec))
      |                     * sqrt(list_inner_product(qvec, qvec))) AS cos
      |         FROM assigned JOIN probes USING (cell) WHERE vec_id <> qid),
      |r AS (SELECT qid, vec_id, cos,
      |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
      |      FROM cand)
      |SELECT qid, rk, vec_id, round(cos, 5) AS cos_sim
      |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** e31 oracle: the SemDeDup in-cell pair sweep brute-force replayed —
    * same quantizer, same keep-lowest-id removal rule. */
  private def semDedupOracleSql: String =
    s"""WITH $ivfQuantizerCtes,
      |pairs AS (SELECT a.cell, b.vec_id AS vb,
      |                 list_inner_product(a.dvec, b.dvec)
      |                   / (sqrt(list_inner_product(a.dvec, a.dvec))
      |                      * sqrt(list_inner_product(b.dvec, b.dvec))) AS cos
      |          FROM assigned a JOIN assigned b
      |            ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |removed AS (SELECT DISTINCT cell, vb FROM pairs WHERE cos >= 0.3),
      |nv AS (SELECT cell, count(*) AS n_vectors FROM assigned GROUP BY cell),
      |nr AS (SELECT cell, count(*) AS n_removed FROM removed GROUP BY cell)
      |SELECT cell, n_vectors,
      |       coalesce(n_removed, 0) AS n_removed,
      |       n_vectors - coalesce(n_removed, 0) AS n_kept
      |FROM nv LEFT JOIN nr USING (cell) ORDER BY cell""".stripMargin

  /** e26 oracle: sketch-estimated vs exact Jaccard over the candidate set.
    * Mirrors the engine's integer-domain aggregation (sum of long match
    * counts; per-row floor(x*1e9) fixed-point snapping of jexact and the
    * error) so the result is float-summation-order independent on BOTH
    * engines — the 4-dp output is a function of exact integer sums, not of
    * task completion order. */
  private def minhashCalibrationOracleSql: String = {
    val matches = (0 until 16)
      .map(p => s"(CASE WHEN sa.h$p = sb.h$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$minhashBandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
       |est AS (SELECT doc_a, doc_b, CAST(($matches) AS BIGINT) AS m
       |        FROM cand JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id),
       |$jaccardTruthCtes,
       |j AS (SELECT m, coalesce(jexact, 0) AS jexact FROM est LEFT JOIN jx USING (doc_a, doc_b))
       |SELECT count(*) AS n_pairs,
       |       round(sum(m) / (count(*) * 16.0), 4) AS mean_est,
       |       round(sum(CAST(floor(jexact * 1e9) AS BIGINT)) / (count(*) * 1e9), 4) AS mean_exact,
       |       round(sum(CAST(floor(abs(m / 16.0 - jexact) * 1e9) AS BIGINT)) / (count(*) * 1e9), 4) AS mae
       |FROM j""".stripMargin
  }

  /** Full e2b oracle: bit-identical LSH candidate pairs. */
  private def minhashOracleSql: String =
    s"""$minhashBandsCte
       |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** e8b oracle: arrivals (odd ids) with no band-key collision against the
    * corpus (even ids). */
  private def incrementalNearDupOracleSql: String =
    s"""$minhashBandsCte,
       |flagged AS (SELECT DISTINCT a.doc_id FROM bands a
       |            JOIN bands c ON a.b = c.b AND a.key = c.key AND c.doc_id % 2 = 0
       |            WHERE a.doc_id % 2 = 1)
       |SELECT DISTINCT doc_id FROM bands
       |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM flagged)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the SimHash bit votes over the portable token hash. */
  private def simhashOracleSql: String = {
    val M = graft.plans.MinHashSignature.Mod
    val bits = (0 until 16)
      .map(j => s"(CASE WHEN len(list_filter(th, h -> (h >> $j) & 1 = 1)) * 2 > len(th)" +
        s" THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id,
       |             list_transform(string_split(text, ' '), t -> list_reduce(
       |               list_prepend(CAST(0 AS BIGINT),
       |                 list_transform(string_split_regex(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |               (h, c) -> (h * 31 + c) % $M)) AS th
       |      FROM documents)
       |SELECT doc_id, $bits AS simhash16 FROM t ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of `TextAnalysis.langScore`: same markers, same order,
    * same left-to-right double sum. */
  private def langScoreSql(markers: Seq[String]): String =
    markers
      .map(m => s"CAST(length(text) - length(replace(text, '$m', '')) AS DOUBLE) / ${m.length}")
      .mkString(" + ")

  /** DuckDB replay of `Pipeline.e17Kmeans`: two unrolled Lloyd iterations
    * with the identical deterministic seeding, cosine argmax (cell-id
    * tie-break), and 6-dp centroid rounding after each mean update. */
  private def kmeansOracleSql: String = {
    def assignCte(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, dvec, cell,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY
         |              list_inner_product(dvec, centroid)
         |                / (sqrt(list_inner_product(dvec, dvec))
         |                   * sqrt(list_inner_product(centroid, centroid))) DESC,
         |              cell) AS rk
         |      FROM v, $cents)""".stripMargin
    def updateCtes(m: String, c: String, a: String) =
      s"""$m AS (SELECT cell, d, round(avg(dvec[d]), 6) AS cv
         |      FROM $a, generate_series(1, 64) g(d) WHERE rk = 1 GROUP BY cell, d),
         |$c AS (SELECT cell, list(cv ORDER BY d) AS centroid FROM $m GROUP BY cell)""".stripMargin
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
       |           FROM embeddings),
       |seed AS (SELECT vec_id, dvec FROM v ORDER BY vec_id LIMIT 8),
       |cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |                  list_transform(dvec, x -> round(x, 6)) AS centroid
       |           FROM seed),
       |${assignCte("a0", "cents0")},
       |${updateCtes("m0", "cents1", "a0")},
       |${assignCte("a1", "cents1")},
       |${updateCtes("m1", "cents2", "a1")},
       |${assignCte("a2", "cents2")}
       |SELECT f.cell, f.n_members, round(c.centroid[1], 6) AS c1
       |FROM (SELECT cell, count(*) AS n_members FROM a2 WHERE rk = 1 GROUP BY cell) f
       |JOIN cents2 c USING (cell)
       |ORDER BY cell""".stripMargin
  }

  val entries: Map[String, Entry] = Map(
    // ---- versioning layer end-to-end (Q2/Q3/Q26) ----
    "q02_scan_orc" -> Entry(
      Versioned.q02ScanOrc,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_totalprice > 250000 ORDER BY o_orderkey""".stripMargin)),
    "q03_versioned_insert" -> Entry(
      Versioned.q03SnapshotInsert,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
             |WHERE l_extendedprice > 40000
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),
    "q03b_partitioned_insert" -> Entry(
      Versioned.q03bPartitionedInsert,
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 25
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q26_time_travel" -> Entry(
      Versioned.q26TimeTravel,
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity <= 25
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q31_compact" -> Entry(
      Versioned.q31Compact,
      // compaction must be row-invisible: the oracle is the original insert
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 30
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q30_version_diff" -> Entry(
      Versioned.q30VersionDiff,
      // the diff surfaces only the rewritten 'R' partition's v2 contents
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q55_sql_table_changes" -> Entry(
      Versioned.q55SqlTableChanges,
      // SQL TVF over the row-level feed: the rewritten 'R' partition's old
      // contents surface as deletes, its new contents as inserts
      Some("""SELECT _change_type, l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT 'delete' AS _change_type, l_returnflag, l_quantity
             |  FROM lineitem WHERE l_returnflag = 'R'
             |  UNION ALL
             |  SELECT 'insert' AS _change_type, l_returnflag, l_quantity
             |  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type, l_returnflag
             |ORDER BY _change_type, l_returnflag""".stripMargin)),
    "q68_constraints" -> Entry(
      Versioned.q68Constraints,
      // only the conforming slice is in the table: the violating batch
      // rejected pre-commit (asserted in-query)
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity <= 30
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q69_column_mapping" -> Entry(
      Versioned.q69ColumnMapping,
      // rename is row-invisible: the unified mapped read equals the plain
      // full-table aggregate (the renamed column carries l_quantity values)
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q71_feed_incremental_agg" -> Entry(
      Versioned.q71FeedIncrementalAgg,
      // delta-maintained aggregate == full recompute of the final state
      // (A minus its DV-hidden rows, N untouched, R as rewritten)
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'A' AND l_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'N'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q70_dv_maintenance" -> Entry(
      Versioned.q70DvMaintenance,
      // every maintenance step (scoped OPTIMIZE absorb, tombstones,
      // squash) must be row-invisible beyond the three deletes themselves
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_orderkey % 10 NOT IN (0, 1, 2)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q67_dv_change_feed" -> Entry(
      Versioned.q67DvChangeFeed,
      // the feed spanning a partition rewrite AND a deletion-vector delete
      // in an untouched partition: old-R + newly-hidden-A rows delete,
      // new-R rows insert — the logical diff the oracle recomputes from
      // the same source slice
      Some("""SELECT _change_type, l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT 'delete' AS _change_type, l_returnflag, l_quantity
             |  FROM lineitem WHERE l_returnflag = 'R'
             |  UNION ALL
             |  SELECT 'delete' AS _change_type, l_returnflag, l_quantity
             |  FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT 'insert' AS _change_type, l_returnflag, l_quantity
             |  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type, l_returnflag
             |ORDER BY _change_type, l_returnflag""".stripMargin)),
    "q77c_tracked_change_feed" -> Entry(
      Versioned.q77cTrackedChangeFeed,
      // keyless classification by engine row ids: ONLY the value-changed
      // rows surface (as update pairs) plus the DV deletes — the oracle
      // recomputes the three classes from the same source slice
      Some("""SELECT _change_type, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM (
             |  SELECT 'delete' AS _change_type, l_quantity, l_extendedprice
             |  FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT 'update_preimage', l_quantity, l_extendedprice
             |  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
             |  UNION ALL
             |  SELECT 'update_postimage', l_quantity, l_extendedprice * 0.9
             |  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type ORDER BY _change_type""".stripMargin)),
    "q77_keyed_change_feed" -> Entry(
      Versioned.q77KeyedChangeFeed,
      // the minimal keyed diff: rewrite no-ops vanish, in-place changes
      // pair as update pre/post images, DV hides and re-keys classify as
      // plain delete/insert — the oracle recomputes all four classes from
      // the same source slice
      Some("""WITH base AS (
             |  SELECT l_orderkey, l_linenumber, l_returnflag,
             |         max(l_quantity) AS l_quantity,
             |         max(l_extendedprice) AS l_extendedprice
             |  FROM lineitem GROUP BY 1, 2, 3)
             |SELECT _change_type, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM (
             |  SELECT 'delete' AS _change_type, l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'A' AND l_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT 'delete', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity <= 20
             |  UNION ALL
             |  SELECT 'insert', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity <= 10
             |  UNION ALL
             |  SELECT 'update_preimage', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |  UNION ALL
             |  SELECT 'update_postimage', l_quantity, l_extendedprice * 0.9
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type ORDER BY _change_type""".stripMargin)),
    "q78_materialized_view" -> Entry(
      Versioned.q78MaterializedView,
      // the incrementally-maintained MV == a full recompute of its
      // definition over the final source state (A minus the DV-hidden
      // rows, N untouched, R as rewritten), WHERE applied
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'A' AND l_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'N'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) WHERE l_quantity > 5
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q78c_star_mv" -> Entry(
      Versioned.q78cStarMv,
      // the star MV's final state == its defining fact ⋈ dim aggregate
      // over the final fact state (R rewritten to qty>40, %7 DV-thinned)
      Some("""SELECT p_brand, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       min(l_quantity) AS min_qty
             |FROM (
             |  SELECT l_partkey, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R' AND l_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT l_partkey, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40 AND l_orderkey % 7 <> 0
             |) f JOIN part p ON f.l_partkey = p.p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    "q78b_mv_shapes" -> Entry(
      Versioned.q78bMvShapes,
      // the widened-algebra MV (avg/min/max + count/sum) == a full
      // recompute of its definition over the final source state
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       min(l_quantity) AS min_qty,
             |       max(l_extendedprice) AS max_price
             |FROM (
             |  SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem
             |  WHERE l_returnflag = 'A' AND l_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem
             |  WHERE l_returnflag = 'N'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) WHERE l_quantity > 5
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q79_multi_table_txn" -> Entry(
      Versioned.q79MultiTableTxn,
      // the summary table, committed atomically WITH its detail table twice
      // (full load, then R-partition refresh): final state = A/N full + R
      // filtered, rolled up
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q80_storage_partitioned_join" -> Entry(
      Versioned.q80StoragePartitionedJoin,
      // the exchange-free co-partitioned join must be row-identical to the
      // relational replay of the same join
      Some("""WITH b AS (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
             |           WHERE l_quantity > 10),
             |     s AS (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
             |           WHERE l_quantity <= 10)
             |SELECT b.l_returnflag, count(*) AS n_pairs,
             |       round(sum(b.l_quantity + s.l_quantity), 2) AS sum_qty
             |FROM b JOIN s ON b.l_returnflag = s.l_returnflag
             |              AND b.l_orderkey = s.l_orderkey
             |GROUP BY b.l_returnflag ORDER BY b.l_returnflag""".stripMargin)),
    "q81_generated_columns" -> Entry(
      Versioned.q81GeneratedColumns,
      // the engine-derived partition column must equal the relational
      // banding recomputed from the raw data
      Some("""SELECT CASE WHEN l_quantity <= 20 THEN 'low'
             |            WHEN l_quantity <= 40 THEN 'mid'
             |            ELSE 'high' END AS qty_band,
             |       count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q82_copy_into" -> Entry(
      Versioned.q82CopyInto,
      // two idempotent ingests (A+N files, then one R file) — final state
      // equals the union of the landed slices, each loaded exactly once
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q84_partition_evolution" -> Entry(
      Versioned.q84PartitionEvolution,
      // final state: the DV-thinned rows re-partitioned by linestatus,
      // with partition O replaced by the new-era qty>45 overwrite
      Some("""SELECT l_linestatus, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_linestatus, l_quantity FROM lineitem
             |  WHERE l_linestatus <> 'O' AND l_orderkey % 11 <> 0
             |  UNION ALL
             |  SELECT l_linestatus, l_quantity FROM lineitem
             |  WHERE l_linestatus = 'O' AND l_quantity > 45
             |) GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),
    "q84b_metadata_evolution" -> Entry(
      Versioned.q84bMetadataEvolution,
      // final state: full era-1 rows plus the era-2 high-qty re-insert,
      // DV-thinned by the %13 delete spanning both eras, grouped under
      // the post-boundary scheme (identical before/after consolidation)
      Some("""SELECT l_linestatus, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_linestatus, l_quantity FROM lineitem
             |  WHERE l_orderkey % 13 <> 0
             |  UNION ALL
             |  SELECT l_linestatus, l_quantity FROM lineitem
             |  WHERE l_quantity > 45 AND l_orderkey % 13 <> 0
             |) GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),
    "q85_mor_delete" -> Entry(
      Versioned.q85MorDelete,
      // two stacked merge-on-read deletes: the visible state is the base
      // load minus both predicates; zero rewrites (pinned in-query)
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem
             |WHERE l_orderkey % 7 <> 0 AND l_quantity <= 48
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q86_mor_insert" -> Entry(
      Versioned.q86MorInsert,
      // two stacked merge-on-read appends derived from the table itself:
      // the visible state is base + both batches; zero partition rewrites
      // (fold bit-equality pinned in-query)
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity + 1000 FROM lineitem WHERE l_orderkey % 97 = 0
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity + 5000 FROM lineitem WHERE l_orderkey % 97 = 0
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q87_mor_update" -> Entry(
      Versioned.q87MorUpdate,
      // scattered value update + partition-column migration, both
      // merge-on-read: preimages vector-hidden, postimages overlaid /
      // re-landed; original dirs pinned untouched in-query
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT CASE WHEN l_orderkey % 1000 = 1 THEN 'Z' ELSE l_returnflag END AS l_returnflag,
             |         CASE WHEN l_orderkey % 11 = 0 THEN l_quantity + 100 ELSE l_quantity END AS l_quantity
             |  FROM lineitem
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q89_subquery_dml" -> Entry(
      Versioned.q89SubqueryDml,
      // DELETE with IN-subquery (CoW), UPDATE with IN-subquery (MOR,
      // pointer-move-free pinned in-query), MERGE with a subquery-filtered
      // source, then CORRELATED EXISTS delete (CoW) and update (MOR) —
      // the subqueries read a second graft table mirroring the orders keys
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), hot AS (
             |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 25 = 0
             |), d AS (
             |  SELECT * FROM agg WHERE l_orderkey NOT IN
             |    (SELECT o_orderkey FROM hot WHERE o_orderstatus = 'F')
             |), u AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_orderkey IN
             |             (SELECT o_orderkey FROM hot WHERE o_orderstatus = 'O')
             |           THEN qty + 100 ELSE qty END AS qty
             |  FROM d
             |), m AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_orderkey IN
             |             (SELECT o_orderkey FROM hot WHERE o_orderstatus = 'P')
             |           THEN qty + 10000 ELSE qty END AS qty
             |  FROM u
             |), c1 AS (
             |  SELECT * FROM m WHERE NOT EXISTS (
             |    SELECT 1 FROM hot h
             |    WHERE h.o_orderkey = m.l_orderkey AND h.o_orderstatus = 'O'
             |      AND m.qty > 200)
             |), c2 AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN EXISTS (
             |             SELECT 1 FROM hot h
             |             WHERE h.o_orderkey = c1.l_orderkey AND h.o_orderstatus = 'P')
             |           THEN qty + 1000 ELSE qty END AS qty
             |  FROM c1
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM c2 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q90_column_defaults" -> Entry(
      Versioned.q90ColumnDefaults,
      // SET DEFAULT lifecycle: pre-declaration rows keep 'base'; the
      // Scala no-column batch, MOR append, SQL column-list INSERT and the
      // DEFAULT keyword all fill 'late'; existing rows never rewritten
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), final AS (
             |  SELECT 'base' AS src, qty FROM agg
             |  UNION ALL
             |  SELECT 'late' AS src, qty FROM agg WHERE l_orderkey % 100 = 0
             |  UNION ALL
             |  SELECT 'late' AS src, qty FROM agg WHERE l_orderkey % 97 = 0
             |  UNION ALL
             |  SELECT 'late' AS src, qty FROM agg WHERE l_orderkey % 101 = 0
             |  UNION ALL
             |  SELECT 'late' AS src, qty FROM agg WHERE l_orderkey % 103 = 0
             |)
             |SELECT src, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY src ORDER BY src""".stripMargin)),

    "q91_replace_where" -> Entry(
      Versioned.q91ReplaceWhere,
      // INSERT INTO … REPLACE WHERE, both tiers: partition-scoped 'A'
      // (zero-read dynamic overwrite, qty+5 recomputation) then a general
      // row predicate replacing the {N, key%10=0} region with its qty>30
      // subset at doubled qty — net deletion inside the region
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), r1 AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_returnflag = 'A' THEN qty + 5 ELSE qty END AS qty
             |  FROM agg
             |), r2 AS (
             |  SELECT * FROM r1
             |  WHERE NOT (l_returnflag = 'N' AND l_orderkey % 10 = 0)
             |  UNION ALL
             |  SELECT l_orderkey, l_returnflag, qty * 2 AS qty FROM r1
             |  WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0 AND qty > 30
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM r2 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q92_generated_pruning" -> Entry(
      Versioned.q92GeneratedPruning,
      // generated-column partition pruning: the query bounds only the base
      // timestamp; the derived ship_month partition filter is pinned
      // in-query against the physical plan
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-06-15 00:00:00'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q93_symlink_manifest" -> Entry(
      Versioned.q93SymlinkManifest,
      // GENERATE symlink_format_manifest: the query consumes the table
      // the Hive-connector way (bare files + partition value from the
      // manifest dir); the A partition was rewritten (+5) so the stale
      // dir on disk must be absent — file-set equality pinned in-query
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), final AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_returnflag = 'A' THEN qty + 5 ELSE qty END AS qty
             |  FROM agg
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q94_merge_evolution" -> Entry(
      Versioned.q94MergeEvolution,
      // MERGE schema evolution (autoMergeSchema): the source's new
      // 'priority' column widens the schema mid-statement — %40 keys
      // update with it, shifted %89 keys insert with it, every other row
      // reads NULL; the metadata-only widening commit is pinned in-query
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), u AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_orderkey % 40 = 0 THEN qty + 500 ELSE qty END AS qty,
             |         CASE WHEN l_orderkey % 40 = 0 THEN l_orderkey % 5 END AS priority
             |  FROM agg
             |), final AS (
             |  SELECT * FROM u
             |  UNION ALL
             |  SELECT l_orderkey + 60000000, l_returnflag, qty,
             |         (l_orderkey + 60000000) % 5 AS priority
             |  FROM agg WHERE l_orderkey % 89 = 0
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty,
             |       count(priority) AS n_prio,
             |       CAST(sum(priority) AS BIGINT) AS sum_prio
             |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q95_branch_sql" -> Entry(
      Versioned.q95BranchSql,
      // branch/tag SQL DDL over WAP: CREATE TAG pins v1 (even keys),
      // CREATE BRANCH + staged full load + VERSION AS OF audit + PUBLISH
      // BRANCH exposes the full recompute; DROP BRANCH/TAG retire refs —
      // all invariants pinned in-query, the published state replayed here
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q109_auto_type_widening" -> Entry(
      Versioned.q109AutoTypeWidening,
      // automatic type widening on ingest: the table declares
      // graft.dml.typeWidening=true, a MERGE source carrying bigint
      // leaves (top-level qty + struct meta.cnt) widens the table
      // metadata-only instead of failing the ANSI down-cast — audit
      // trail, declared-wide schema, and narrow time travel pinned
      // in-query; the oracle replays both generations' arithmetic
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 1000
             |                     ELSE o_orderkey * 1000000000 END) AS BIGINT) AS sum_qty,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 500
             |                     ELSE o_orderkey * 1000000000 END) AS BIGINT) AS sum_cnt
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q107b_array_widening" -> Entry(
      Versioned.q107bArrayWidening,
      // TYPE widening through array elements (xs.element, frames.element
      // .cnt): even-key v1 arrays stay narrow-int and upcast at scan,
      // odd-key v2 stores bigint-only values; zero-rewrite + narrow time
      // travel pinned in-query; the oracle replays the array arithmetic
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 100 + 1
             |                     ELSE o_orderkey * 1000000000 + 1 END) AS BIGINT) AS sum_xs,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 50
             |                     ELSE o_orderkey * 1000000000 END) AS BIGINT) AS sum_cnt
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q107c_map_widening" -> Entry(
      Versioned.q107cMapWidening,
      // TYPE widening through map keys AND values (m.key / m.value):
      // even-key v1 maps stay narrow-int and upcast at scan (injective
      // key widening preserves key identity), odd-key v2 stores
      // bigint-only entries; zero-rewrite + narrow time travel pinned
      // in-query; the oracle replays the map arithmetic
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 100
             |                     ELSE o_orderkey * 1000000000 END) AS BIGINT) AS sum_k,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
             |                     THEN o_orderkey % 50
             |                     ELSE o_orderkey * 2000000000 END) AS BIGINT) AS sum_v
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q110_array_element_rename" -> Entry(
      Versioned.q110ArrayElementRename,
      // nested RENAME/DROP through array elements: v1 (even keys) writes
      // x under the original name, the rename is metadata-only (transform
      // -lambda rebuild serves old files under `score`), v2 (odd keys)
      // writes the logical name, a MERGE (keys % 10 = 4) crosses the
      // rename setting score=555, the note field drops; frozen physical
      // names, time travel and rebirth refusal pinned in-query; the
      // oracle replays all three generations' element arithmetic
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 10 = 4 THEN 555
             |                     WHEN o_orderkey % 2 = 0 THEN o_orderkey % 100
             |                     ELSE o_orderkey % 77 END) AS BIGINT) AS sum_score
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q111_column_reorder" -> Entry(
      Versioned.q111ColumnReorder,
      // COLUMN REORDER: two metadata-only position moves (custkey FIRST,
      // totalprice AFTER custkey), v2 inserted POSITIONALLY under the new
      // declaration, zero-rewrite + audit + order time travel pinned
      // in-query; both observed orders ride the output as literals, so
      // the oracle hash pins them (the compare is order-blind by design)
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
             |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |       'o_custkey,o_totalprice,o_orderkey,o_orderstatus' AS cur_order,
             |       'o_orderkey,o_totalprice,o_custkey,o_orderstatus' AS v1_order
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q112_column_comments" -> Entry(
      Versioned.q112ColumnComments,
      // COLUMN COMMENTS: CREATE-time + ALTER-time comments ride their
      // audit commits, decorate DESCRIBE, and
      // replay from the SHOW CREATE script onto a second table — all
      // pinned in-query; the declared set rides the output as a literal
      Some("""SELECT c_mktsegment, count(*) AS n,
             |       round(sum(c_acctbal), 2) AS sum_bal,
             |       'c_acctbal=account balance, USD; c_custkey=customer surrogate key' AS declared_comments
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "q113_rename_travel" -> Entry(
      Versioned.q113RenameTravel,
      // RENAME TRAVEL: the returned frame aggregates the PRE-RENAME state
      // through `VERSION AS OF` under the post-rename logical name — the
      // frozen physical column resolves through the rename lineage, so
      // the sums carry REAL values (a NULL-blanked column would zero
      // them); AS OF shallow clone + current deep clone completeness
      // pinned in-query
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_returnflag <> 'R'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q108_show_create" -> Entry(
      Versioned.q108ShowCreate,
      // SHOW CREATE TABLE round-trip: the emitted DDL script (CREATE +
      // one ALTER per declaration) replays re-pointed onto a second
      // table whose declaration lists must reproduce exactly (pinned
      // in-query); the customer load then runs through the RECREATED
      // table's identity/generation/constraint machinery, so this
      // oracle match is the round-trip proof
      Some("""SELECT c_mktsegment, lower(c_mktsegment) AS seg_lower,
             |       count(*) AS n, count(*) AS n_ids,
             |       round(sum(c_acctbal), 2) AS sum_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "q107_nested_widening" -> Entry(
      Versioned.q107NestedWidening,
      // nested TYPE widening: ALTER COLUMN meta.cnt/price widens struct
      // leaves int→bigint / float→double metadata-only (zero-rewrite
      // pinned in-query); even-key v1 files stay narrow and upcast at
      // scan, odd-key v2 stores wide-only values, a DELETE crosses the
      // mixed-width state, time travel at v1 reads the narrow leaves —
      // the oracle replays both generations (float-cast min/max are
      // order-independent, sums integral)
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 1000
             |              ELSE o_orderkey * 1000000000 END AS cnt,
             |         CASE WHEN o_orderkey % 2 = 0
             |              THEN CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
             |              ELSE CAST(o_totalprice AS DOUBLE) END AS price
             |  FROM orders WHERE o_orderkey % 19 <> 0
             |)
             |SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(cnt) AS BIGINT) AS sum_cnt,
             |       min(price) AS min_price, max(price) AS max_price
             |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q96_nested_evolution" -> Entry(
      Versioned.q96NestedEvolution,
      // nested-field schema evolution: ALTER ADD meta.cust widens the
      // struct in place (even-key v1 files read NULL), odd-key v2 carries
      // it, a MERGE under autoMergeSchema widens meta AGAIN with 'flag'
      // (%20 keys update with cust='M', shifted %97 keys insert); time
      // travel reads each addressed commit's struct shape — pinned
      // in-query; the oracle replays the flattened final contents
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_orderpriority AS prio,
             |         CASE WHEN o_orderkey % 2 = 1
             |              THEN CAST(o_custkey AS VARCHAR) END AS cust
             |  FROM orders
             |), upd AS (
             |  SELECT k, prio,
             |         CASE WHEN k % 20 = 0 THEN 'M' ELSE cust END AS cust,
             |         CASE WHEN k % 20 = 0 THEN 'upd' END AS flag
             |  FROM base
             |), final AS (
             |  SELECT * FROM upd
             |  UNION ALL
             |  SELECT o_orderkey + 30000000, o_orderpriority,
             |         CAST(o_custkey AS VARCHAR), 'new'
             |  FROM orders WHERE o_orderkey % 97 = 0
             |)
             |SELECT prio, count(*) AS n, count(cust) AS n_cust,
             |       count(flag) AS n_flag
             |FROM final GROUP BY prio ORDER BY prio""".stripMargin)),

    "q97_mor_replace_where" -> Entry(
      Versioned.q97MorReplaceWhere,
      // merge-on-read REPLACE WHERE: the {N, key%10=0} region is replaced
      // by its qty>30 subset at doubled qty with ZERO pointer moves
      // (region behind deletion vectors, incoming rows on the overlay) —
      // fold equality pinned in-query; the oracle replays the replacement
      Some("""WITH t AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), final AS (
             |  SELECT l_orderkey, l_returnflag, qty FROM t
             |  WHERE NOT (l_returnflag = 'N' AND l_orderkey % 10 = 0)
             |  UNION ALL
             |  SELECT l_orderkey, l_returnflag, qty * 2 FROM t
             |  WHERE l_returnflag = 'N' AND l_orderkey % 10 = 0 AND qty > 30
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q98_sql_txn" -> Entry(
      Versioned.q98SqlTxn,
      // SQL multi-table transactions: the detail+summary pair commits
      // atomically twice (full load, then R refresh), with staged-write
      // invisibility, rollback, and the WAL-marker count pinned in-query;
      // the final cross-table-consistent summary replayed here
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q99_copy_evolution" -> Entry(
      Versioned.q99CopyEvolution,
      // COPY INTO schema evolution: batch 2 arrives with a new 'disc'
      // column — the declared schema widens (audit commit pinned
      // in-query), batch-1 rows read NULL; the oracle replays the
      // two-generation union
      Some("""WITH final AS (
             |  SELECT l_orderkey, l_quantity, l_returnflag,
             |         CAST(NULL AS DOUBLE) AS disc
             |  FROM lineitem WHERE l_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT l_orderkey, l_quantity, l_returnflag, l_discount
             |  FROM lineitem WHERE l_orderkey % 2 = 1
             |)
             |SELECT l_returnflag, count(*) AS n_rows, count(disc) AS n_disc,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(coalesce(disc, 0.0)), 4) AS sum_disc
             |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q100_generalized_merge" -> Entry(
      Versioned.q100GeneralizedMerge,
      // MERGE ON with a differing-name equi key (t.l_orderkey = s.src_key)
      // plus a residual conjunct (s.status = 'F'): residual-failing source
      // rows are NOT matched — they insert under shifted keys into 'X' —
      // while residual-passing ones update in place; the oracle replays
      // the same ON semantics with an explicit join
      Some("""WITH t AS (
             |  SELECT l_orderkey, min(l_returnflag) AS flag,
             |         round(sum(l_quantity), 2) AS qty
             |  FROM lineitem GROUP BY 1
             |), s AS (
             |  SELECT o_orderkey AS src_key, o_orderstatus AS status
             |  FROM orders WHERE o_orderkey % 30 = 0
             |), m AS (
             |  SELECT src_key FROM s JOIN t ON t.l_orderkey = s.src_key
             |  WHERE s.status = 'F'
             |), final AS (
             |  SELECT flag,
             |         qty + CASE WHEN l_orderkey IN (SELECT src_key FROM m)
             |                    THEN 1000 ELSE 0 END AS qty
             |  FROM t
             |  UNION ALL
             |  SELECT 'X', 1.0 FROM s
             |  WHERE src_key NOT IN (SELECT src_key FROM m)
             |)
             |SELECT flag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY flag ORDER BY flag""".stripMargin)),

    "q101_nested_dml" -> Entry(
      Versioned.q101NestedDml,
      // nested-field DML over a metadata struct: copy-on-write UPDATE sets
      // meta.prio, a merge-on-read UPDATE tags meta.cust (zero pointer
      // moves, pinned in-query), a MERGE nested SET overwrites prio on the
      // %13 keys — untouched struct fields carry through every rebuild
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_orderpriority AS prio0,
             |         CAST(o_custkey AS VARCHAR) AS cust0
             |  FROM orders
             |), final AS (
             |  SELECT CASE WHEN k % 13 = 0 THEN 'M13'
             |              WHEN k % 10 = 0 THEN 'HOT'
             |              ELSE prio0 END AS prio,
             |         CASE WHEN k % 7 = 0 THEN 'c' || cust0 ELSE cust0 END AS cust
             |  FROM base
             |)
             |SELECT prio, count(*) AS n,
             |       count(CASE WHEN substr(cust, 1, 1) = 'c' THEN 1 END) AS n_tagged
             |FROM final GROUP BY prio ORDER BY prio""".stripMargin)),

    "q102_partition_migrate" -> Entry(
      Versioned.q102PartitionMigrate,
      // copy-on-write partition-column UPDATE: every 5th 'N' key migrates
      // into a new 'M' partition, then ALL of 'A' migrates (qty doubled)
      // and the emptied 'A' drops in the same commit — untouched pointers
      // pinned in-query; the oracle replays both statements in order
      Some("""WITH t AS (
             |  SELECT l_orderkey, l_returnflag AS flag0,
             |         round(sum(l_quantity), 2) AS qty0
             |  FROM lineitem GROUP BY 1, 2
             |), final AS (
             |  SELECT CASE WHEN flag0 = 'A' THEN 'M'
             |              WHEN flag0 = 'N' AND l_orderkey % 5 = 0 THEN 'M'
             |              ELSE flag0 END AS flag,
             |         CASE WHEN flag0 = 'A' THEN qty0 * 2 ELSE qty0 END AS qty
             |  FROM t
             |)
             |SELECT flag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY flag ORDER BY flag""".stripMargin)),

    "q103_convert" -> Entry(
      Versioned.q103Convert,
      // CONVERT TO GRAFT adopts a plain partitioned parquet dir in place
      // (rename-only, no byte copy), then the adopted table runs SQL
      // DELETE and serves time travel to the converted state (pinned
      // in-query); the oracle replays the surviving rows
      Some("""SELECT c_mktsegment, count(*) AS n_cust,
             |       round(sum(c_acctbal), 2) AS sum_bal
             |FROM customer WHERE c_custkey % 3 <> 0
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "q104_deep_clone" -> Entry(
      Versioned.q104DeepClone,
      // deep clone = independent physical copy of the RESOLVED state
      // (DV-hidden %3 rows gone from the clone's files, zero sidecar
      // debt, no vacuum coupling — all pinned in-query); post-clone %7
      // deletes land on the clone only
      Some("""SELECT 'source' AS section, o_orderstatus AS grp,
             |       count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
             |FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 2
             |UNION ALL
             |SELECT 'clone', o_orderstatus, count(*), round(sum(o_totalprice), 2)
             |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0
             |GROUP BY 2
             |ORDER BY section, grp""".stripMargin)),

    "q105_tblproperties" -> Entry(
      Versioned.q105TblProperties,
      // per-table mergeOnRead: %4 delete + %10=5 update ride vectors and
      // the overlay (fold equality pinned, no session conf), the property
      // flips off via ALTER SET TBLPROPERTIES, the %9 delete rewrites
      // copy-on-write (pointer move pinned); the oracle replays survivors
      Some("""SELECT o_orderstatus, count(*) AS n_rows,
             |       round(sum(CASE WHEN o_orderkey % 10 = 5
             |                      THEN o_totalprice + 1 ELSE o_totalprice END), 2) AS total
             |FROM orders
             |WHERE o_orderkey % 4 <> 0 AND o_orderkey % 9 <> 0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q106_truncate_ordinal" -> Entry(
      Versioned.q106TruncateOrdinal,
      // TRUNCATE = one metadata commit (pre-truncate state stays
      // addressable by its DESCRIBE HISTORY index, pinned in-query along
      // with ordinal AS OF reads), then the table refills with odd keys
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderkey % 2 = 1
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q88_mor_merge" -> Entry(
      Versioned.q88MorMerge,
      // merge-on-read MERGE over a per-orderkey rollup: qty>100 matches
      // delete, the rest update (flag migrates to 'R'), unmatched source
      // keys insert; every pre-existing partition's version dir pinned
      // untouched in-query
      Some("""WITH t AS (
             |  SELECT l_orderkey, min(l_returnflag) AS flag,
             |         count(*) AS n_lines, round(sum(l_quantity), 2) AS qty
             |  FROM lineitem GROUP BY l_orderkey
             |), s AS (
             |  SELECT l_orderkey, 'R' AS flag, n_lines + 10000 AS n_lines, qty
             |  FROM t WHERE l_orderkey % 50 = 0
             |), merged AS (
             |  SELECT CASE WHEN s.l_orderkey IS NOT NULL THEN s.flag ELSE t.flag END AS flag,
             |         CASE WHEN s.l_orderkey IS NOT NULL THEN s.n_lines ELSE t.n_lines END AS n_lines,
             |         t.qty AS qty
             |  FROM t LEFT JOIN s USING (l_orderkey)
             |  WHERE NOT (s.l_orderkey IS NOT NULL AND t.qty > 100)
             |), ins AS (
             |  SELECT 'Z' AS flag, CAST(1 AS BIGINT) AS n_lines, CAST(0.0 AS DOUBLE) AS qty
             |  FROM t WHERE l_orderkey % 200 = 0
             |), final AS (
             |  SELECT * FROM merged UNION ALL SELECT * FROM ins
             |)
             |SELECT flag, count(*) AS n_keys, CAST(sum(n_lines) AS BIGINT) AS sum_lines,
             |       round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY flag ORDER BY flag""".stripMargin)),
    "q82c_copy_orc_nested" -> Entry(
      Versioned.q82cCopyOrcNested,
      // nested-glob ORC ingest: final state is the union of the landed
      // nested slices, each loaded exactly once; the top-level decoy and
      // the nested non-orc file never ingest
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q82b_copy_csv" -> Entry(
      Versioned.q82bCopyCsv,
      // CSV ingests with the registered schema pinned + PATTERN scoping:
      // final state equals the union of the landed csv slices, each
      // loaded exactly once, the foreign .json file invisible
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag <> 'R'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q83_identity_columns" -> Entry(
      Versioned.q83IdentityColumns,
      // the ids' invariants (global uniqueness, cross-batch monotonicity,
      // ALWAYS rejection) are asserted in-query; the oracle value-checks
      // the data the ids were assigned to
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q83b_sql_identity" -> Entry(
      Versioned.q83bSqlIdentity,
      // the SQL-declared identity column's invariants (uniqueness,
      // batch monotonicity) are asserted in-query; the oracle
      // value-checks the ingested data
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q43_file_skipping" -> Entry(
      Versioned.q43FileSkipping,
      // zone-map pruning must be row-invisible: the pruned scan + row
      // predicate returns exactly the full-scan filter result
      Some("""SELECT count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 7000""".stripMargin)),
    "q47_partitioned_skipping" -> Entry(
      Versioned.q47PartitionedSkipping,
      // zone + partition pruning must be row-invisible
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_orderkey BETWEEN 2000 AND 9000
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q60_timetravel_skipping" -> Entry(
      Versioned.q60TimeTravelSkipping,
      // the AS OF v1 pruned read must see v1's FULL contents — the current
      // state's refreshed R partition must leak into neither the sidecar
      // nor the file list
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_orderkey BETWEEN 2000 AND 9000
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q59_incremental_stats" -> Entry(
      Versioned.q59IncrementalStats,
      // the final state: A/N from the full load, R from the refresh — the
      // incremental sidecar must answer the pruned read over exactly this
      Some("""WITH fin AS (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
             |             WHERE l_returnflag <> 'R'
             |             UNION ALL
             |             SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
             |             WHERE l_returnflag = 'R' AND l_quantity > 40)
             |SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM fin WHERE l_orderkey BETWEEN 2000 AND 9000
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q58_bloom_skipping" -> Entry(
      Versioned.q58BloomSkipping,
      // bloom pruning must be row-invisible: false positives only ever
      // widen the scan, never change the answer
      Some("""SELECT p_partkey, p_brand, p_type, p_size, p_retailprice
             |FROM part WHERE p_partkey IN (42, 1337)
             |ORDER BY p_partkey""".stripMargin)),
    "q76_auto_compact" -> Entry(
      Versioned.q76AutoCompact,
      // auto-compaction must be row-invisible: the post-compaction state
      // aggregates exactly like the raw data
      Some("""SELECT l_returnflag AS grp, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q75_type_widening" -> Entry(
      Versioned.q75TypeWidening,
      // both generations replayed relationally; float-cast min/max are
      // order-independent (no float-summation hazard), sums integral
      Some("""SELECT 'even' AS par, count(*) AS n_rows,
             |       CAST(sum(p_size) AS BIGINT) AS sum_n,
             |       CAST(min(CAST(p_retailprice AS FLOAT)) AS DOUBLE) AS min_x,
             |       CAST(max(CAST(p_retailprice AS FLOAT)) AS DOUBLE) AS max_x
             |FROM part WHERE p_partkey % 2 = 0
             |UNION ALL
             |SELECT 'odd', count(*),
             |       CAST(sum(CAST(p_size AS BIGINT) * 1000000000) AS BIGINT),
             |       min(p_retailprice), max(p_retailprice)
             |FROM part WHERE p_partkey % 2 = 1
             |ORDER BY par""".stripMargin)),
    "q74_metadata_tables" -> Entry(
      Versioned.q74MetadataTables,
      // counts come from reading exactly the TVF-listed files; the oracle
      // recomputes both states' per-partition counts from the data
      Some("""SELECT 'current' AS section, l_returnflag AS grp,
             |       count(*) AS n_rows
             |FROM lineitem GROUP BY 2
             |UNION ALL
             |SELECT 'v1', l_returnflag, count(*)
             |FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 2
             |ORDER BY section, grp""".stripMargin)),
    "q73_shallow_clone" -> Entry(
      Versioned.q73ShallowClone,
      // source = its latest full write; clone = the cloned even-key state
      // with partition O replaced by the clone's own odd-key write
      Some("""SELECT 'source' AS section, o_orderstatus AS grp,
             |       count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY 2
             |UNION ALL
             |SELECT 'clone', o_orderstatus, count(*), round(sum(o_totalprice), 2)
             |FROM orders
             |WHERE (o_orderstatus <> 'O' AND o_orderkey % 2 = 0)
             |   OR (o_orderstatus = 'O' AND o_orderkey % 2 = 1)
             |GROUP BY 2
             |ORDER BY section, grp""".stripMargin)),
    "q73b_clone_dv" -> Entry(
      Versioned.q73bCloneDv,
      // fork with live DVs (%3 hidden at clone time), then diverging
      // post-fork deletes: %5 source-only, %7 clone-only
      Some("""SELECT 'source' AS section, o_orderstatus AS grp,
             |       count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
             |FROM orders
             |WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
             |GROUP BY 2
             |UNION ALL
             |SELECT 'clone', o_orderstatus, count(*), round(sum(o_totalprice), 2)
             |FROM orders
             |WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0
             |GROUP BY 2
             |ORDER BY section, grp""".stripMargin)),
    "q72_occ_rebase" -> Entry(
      Versioned.q72OccRebase,
      // each partition's final content = its LAST successful writer's
      // filter; the refused stale rewrite leaves no trace
      Some("""SELECT l_returnflag AS grp, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS total
             |FROM lineitem
             |WHERE (l_returnflag = 'A' AND l_quantity > 25)
             |   OR (l_returnflag = 'N' AND l_quantity <= 25)
             |   OR (l_returnflag = 'R' AND l_orderkey % 2 = 0)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q57_multi_writer" -> Entry(
      Versioned.q57MultiWriterConflict,
      // the surviving sequence: disjoint partition writers union; of the
      // racing snapshot writers, the refused writer's RETRY state is final
      Some("""SELECT 'partitioned' AS section, l_returnflag AS grp,
             |       count(*) AS n_rows, round(sum(l_quantity), 2) AS total
             |FROM lineitem GROUP BY 2
             |UNION ALL
             |SELECT 'snapshot', o_orderstatus, count(*), round(sum(o_totalprice), 2)
             |FROM orders WHERE o_orderstatus = 'O'
             |GROUP BY 2
             |ORDER BY section, grp""".stripMargin)),
    "q56_equality_skipping" -> Entry(
      Versioned.q56EqualitySkipping,
      // distinct-value-sketch pruning must be row-invisible: the one-file
      // scan answers exactly the unpruned relational query
      Some("""SELECT count(*) AS n_parts,
             |       round(sum(p_retailprice), 2) AS sum_price,
             |       count(DISTINCT p_type) AS n_types
             |FROM part WHERE p_brand = 'Brand#1'""".stripMargin)),
    "q42_incremental_agg" -> Entry(
      Versioned.q42IncrementalAgg,
      // the oracle FULL-recomputes the aggregate over the final source
      // state; matching it proves the incremental maintenance exact
      Some("""WITH fin AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
             |             WHERE o_orderkey % 3 <> 0 AND o_orderstatus <> 'O'
             |             UNION ALL
             |             SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
             |             WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q53_timestamp_travel" -> Entry(
      Versioned.q53TimestampTravel,
      // an instant between the commits resolves to v1
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity <= 25
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q54_sql_optimize" -> Entry(
      Versioned.q54SqlOptimize,
      // SQL OPTIMIZE + VACUUM must be row-invisible: the oracle is the
      // original insert
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 30
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q48_log_checkpoint" -> Entry(
      Versioned.q48LogCheckpoint,
      // a checkpoint must be invisible to current-state reads: every insert
      // touches every flag partition, so the current state is v3's rows
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 30
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q41_durable_log" -> Entry(
      Versioned.q41DurableLog,
      // same contents as q03b, resolved through the re-opened durable log
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 25
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q40_vacuum" -> Entry(
      Versioned.q40Vacuum,
      // GC must be invisible to the current version: the oracle is v3
      Some("""SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem WHERE l_quantity > 30
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q65_wap" -> Entry(
      Versioned.q65Wap,
      // after publish the table serves the full staged recompute
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q64_deletion_vectors" -> Entry(
      Versioned.q64DeletionVectors,
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem
             |WHERE NOT (l_orderkey % 97 = 0) AND NOT (l_partkey % 89 = 0)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q66_sql_dv_scan" -> Entry(
      Versioned.q66SqlDvScan,
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem
             |WHERE NOT (l_orderkey % 101 = 0) AND NOT (l_partkey % 83 = 0)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q62_alter_add_column" -> Entry(
      Versioned.q62AlterAddColumn,
      // even keys inserted pre-ALTER (disc NULL), odd keys post-ALTER
      // (disc = l_discount)
      Some("""WITH evolved AS (
             |  SELECT l_orderkey, l_quantity, l_returnflag, NULL::DOUBLE AS disc
             |  FROM lineitem WHERE l_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT l_orderkey, l_quantity, l_returnflag, l_discount AS disc
             |  FROM lineitem WHERE l_orderkey % 2 = 1)
             |SELECT l_returnflag, count(*) AS n_items, count(disc) AS n_disc,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(coalesce(disc, 0.0)), 4) AS sum_disc
             |FROM evolved GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q63_ctas" -> Entry(
      Versioned.q63Ctas,
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_totalprice > 100000.0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q61_conditional_merge" -> Entry(
      Versioned.q61ConditionalMerge,
      // relational replay of the clause algebra in first-match order:
      // matched & price<50k → +100; else matched & price>400k → delete;
      // unmatched source 'O' rows → insert at +5; base rows with no even
      // key match & key%5=0 → price zeroed
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |              FROM orders WHERE o_orderkey % 3 <> 0),
             |src AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |        FROM orders WHERE o_orderkey % 2 = 0),
             |marked AS (SELECT b.*,
             |                  CASE WHEN s.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS m
             |           FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey),
             |applied AS (SELECT o_orderkey, o_custkey,
             |                   CASE WHEN m = 1 AND o_totalprice < 50000.0 THEN o_totalprice + 100.0
             |                        WHEN m = 0 AND o_orderkey % 5 = 0 THEN 0.0
             |                        ELSE o_totalprice END AS o_totalprice,
             |                   o_orderstatus
             |            FROM marked
             |            WHERE NOT (m = 1 AND NOT (o_totalprice < 50000.0)
             |                       AND o_totalprice > 400000.0)),
             |ins AS (SELECT s.o_orderkey, s.o_custkey,
             |               s.o_totalprice + 5.0 AS o_totalprice, s.o_orderstatus
             |        FROM src s
             |        WHERE s.o_orderstatus = 'O'
             |          AND s.o_orderkey NOT IN (SELECT o_orderkey FROM base)),
             |final AS (SELECT * FROM applied UNION ALL SELECT * FROM ins)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q39_sql_dml" -> Entry(
      Versioned.q39SqlDml,
      // relational replay of the statement sequence: base → UPDATE (+1000
      // on %5 keys) → DELETE (%7 keys) → MERGE (even 'O' upsert, source
      // prices from the ORIGINAL orders +1000)
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |              FROM orders WHERE o_orderkey % 3 <> 0),
             |upd AS (SELECT o_orderkey, o_custkey,
             |               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             |                    ELSE o_totalprice END AS o_totalprice,
             |               o_orderstatus
             |        FROM base),
             |del AS (SELECT * FROM upd WHERE o_orderkey % 7 <> 0),
             |src AS (SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             |               o_orderstatus
             |        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0),
             |merged AS (SELECT * FROM del
             |           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |           UNION ALL SELECT * FROM src)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q38_zorder_compact" -> Entry(
      Versioned.q38ZorderCompact,
      // z-order is row-invisible: the oracle is the original insert
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem WHERE l_quantity > 35
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    "q36_merge_upsert" -> Entry(
      Versioned.q36MergeUpsert,
      // replay of the upsert: matched base rows drop in favor of their
      // source row, unmatched source rows insert (o_orderkey is unique, so
      // NOT IN over the source keys is exactly the anti-join)
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
             |              FROM orders WHERE o_orderkey % 3 <> 0),
             |src AS (SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             |               o_orderstatus
             |        FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0),
             |merged AS (SELECT * FROM base
             |           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |           UNION ALL SELECT * FROM src)
             |SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q37_schema_evolution" -> Entry(
      Versioned.q37SchemaEvolution,
      // v2 overwrote the whole 'R' partition, so v1's R rows are gone; the
      // old partitions surface qty_band as NULL under the merged schema
      Some("""WITH v1 AS (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
             |            WHERE l_quantity <= 25),
             |v2 AS (SELECT l_orderkey, l_quantity, l_returnflag,
             |              CAST(floor(l_quantity / 10) AS BIGINT) AS qty_band
             |       FROM lineitem WHERE l_quantity > 40 AND l_returnflag = 'R'),
             |merged AS (SELECT l_orderkey, l_quantity, l_returnflag, NULL AS qty_band
             |           FROM v1 WHERE l_returnflag <> 'R'
             |           UNION ALL SELECT * FROM v2)
             |SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       count(qty_band) AS n_banded,
             |       CAST(coalesce(sum(qty_band), 0) AS BIGINT) AS sum_band
             |FROM merged GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- relational surface (Q1–Q25) ----
    "q01_scan_filter" -> Entry(
      Relational.q01ScanFilter,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),
    "q04_project_expr" -> Entry(
      Relational.q04ProjectExpr,
      Some("""SELECT l_orderkey, l_linenumber,
             |       l_extendedprice * (1.0 - l_discount) AS revenue,
             |       l_quantity * l_tax AS taxed_qty
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue, taxed_qty""".stripMargin)),
    "q05_filter_predicates" -> Entry(
      Relational.q05FilterPredicates,
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
             |WHERE l_returnflag IN ('A', 'R') AND l_quantity BETWEEN 10 AND 20
             |  AND l_linestatus = 'F' AND l_shipdate IS NOT NULL
             |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin)),
    "q06_join_multi" -> Entry(
      Relational.q06JoinMulti,
      Some("""SELECT r_name, o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, o_orderstatus ORDER BY r_name, o_orderstatus""".stripMargin)),
    "q06b_join_left" -> Entry(
      Relational.q06bJoinLeft,
      Some("""SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    "q06c_join_full" -> Entry(
      Relational.q06cJoinFull,
      Some("""SELECT n_name, count(s_suppkey) AS n_supp
             |FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
             |GROUP BY n_name ORDER BY n_name NULLS FIRST""".stripMargin)),
    "q07_semi" -> Entry(
      Relational.q07Semi,
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),
    "q07b_anti" -> Entry(
      Relational.q07bAnti,
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),
    "q08_nonequi_join" -> Entry(
      Relational.q08NonEquiJoin,
      Some("""SELECT r_name, count(*) AS n_nations_le
             |FROM region JOIN nation ON n_regionkey <= r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    "q08b_cross_join" -> Entry(
      Relational.q08bCrossJoin,
      Some("""SELECT r_name, count(*) AS n_pairs FROM region CROSS JOIN nation
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    "q09_agg_tpch1" -> Entry(
      Relational.q09AggTpch1,
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_base_price,
             |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       round(avg(l_discount), 6) AS avg_disc,
             |       count(*) AS count_order,
             |       count(DISTINCT l_suppkey) AS supp_cnt
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    "q10_rollup" -> Entry(
      Relational.q10Rollup,
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    "q10b_cube" -> Entry(
      Relational.q10bCube,
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    "q10c_grouping_sets" -> Entry(
      Relational.q10cGroupingSets,
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    // q11's HLL estimate is engine-specific, so the oracle checks the exact
    // count and asserts the estimate stayed within 2σ (10%) of it — the
    // engine computes the boolean, the oracle claims TRUE; sketch drift
    // fails the row hash. (Upgraded from rows-only in round 9.)
    "q11_approx_distinct" -> Entry(
      Relational.q11ApproxDistinct,
      Some("""SELECT event_type, count(DISTINCT user_id) AS exact_users,
             |       TRUE AS approx_within_2sd
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "q12_window_rank" -> Entry(
      Relational.q12WindowRank,
      Some("""SELECT event_type, event_id, value, rn, rk, drk, quartile FROM (
             |  SELECT event_type, event_id, value,
             |         row_number() OVER w AS rn, rank() OVER w AS rk,
             |         dense_rank() OVER w AS drk, ntile(4) OVER w AS quartile
             |  FROM events
             |  WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)) t
             |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin)),
    "q12b_sessionize" -> Entry(
      Relational.q12bSessionize,
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts,
             |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, ts,
             |         CASE WHEN prev_ts IS NULL
             |                   OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
             |              THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |sess AS (
             |  SELECT user_id,
             |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
             |  FROM m)
             |SELECT user_id,
             |       CAST(max(sess_id) AS BIGINT) AS n_sessions,
             |       count(*) AS n_events,
             |       round(CAST(count(*) AS DOUBLE) / max(sess_id), 6) AS events_per_session
             |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "q13_window_frames" -> Entry(
      Relational.q13WindowFrames,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |       sum(l_quantity) OVER run AS running_qty,
             |       lag(l_quantity, 1) OVER w AS prev_qty,
             |       lead(l_quantity, 1) OVER w AS next_qty,
             |       first_value(l_quantity) OVER w AS first_qty
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_orderkey
             |             ORDER BY l_linenumber, l_quantity, l_extendedprice),
             |       run AS (PARTITION BY l_orderkey
             |               ORDER BY l_linenumber, l_quantity, l_extendedprice
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),
    "q13b_window_range" -> Entry(
      Relational.q13bWindowRange,
      Some("""SELECT event_id, event_type, user_id,
             |       round(sum(value) OVER (PARTITION BY event_type ORDER BY user_id
             |             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW), 2) AS range_sum
             |FROM events ORDER BY event_id""".stripMargin)),
    "q14_topk" -> Entry(
      Relational.q14TopK,
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    "q15_setops" -> Entry(
      Relational.q15SetOps,
      Some("""WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000),
             |     b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
             |SELECT 'union' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b) u
             |UNION ALL SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b) i
             |UNION ALL SELECT 'except' AS op, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b) e
             |UNION ALL SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) ia
             |UNION ALL SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) ea
             |ORDER BY op, k""".stripMargin)),
    "q16_distinct" -> Entry(
      Relational.q16Distinct,
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    "q17_string" -> Entry(
      Relational.q17String,
      Some("""SELECT p_partkey, upper(substr(p_name, 1, 8)) AS name8,
             |       length(p_name) AS name_len,
             |       p_brand || '#' || p_type AS brand_type,
             |       regexp_replace(p_name, ' ', '_', 'g') AS name_us,
             |       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
             |       len(string_split(p_name, ' ')) AS n_tokens
             |FROM part ORDER BY p_partkey""".stripMargin)),
    "q18_datetime" -> Entry(
      Relational.q18DateTime,
      Some("""SELECT o_orderkey, year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
             |       day(o_orderdate) AS o_day, CAST(o_orderdate AS DATE) AS odate,
             |       date_trunc('month', o_orderdate) AS omonth,
             |       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
             |       CAST(o_orderdate AS DATE) + 30 AS due_date,
             |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
    "q18b_event_time" -> Entry(
      Relational.q18bEventTime,
      Some("""SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
             |       min(ts) AS first_ts, max(ts) AS last_ts
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),
    "q19_math" -> Entry(
      Relational.q19Math,
      Some("""SELECT l_orderkey, l_linenumber, round(l_extendedprice, 1) AS price_r,
             |       CAST(floor(l_discount * 100) AS BIGINT) AS disc_f,
             |       CAST(ceil(l_tax * 100) AS BIGINT) AS tax_c,
             |       abs(l_extendedprice - 1000.0) AS abs_diff,
             |       sqrt(l_quantity) AS qty_sqrt,
             |       round(ln(l_extendedprice), 6) AS log_price
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),
    "q20_array" -> Entry(
      Relational.q20Array,
      Some("""SELECT vec_id, len(embedding) AS dim, embedding[1] AS first_val,
             |       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 5) AS esum,
             |       round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 5) AS esum8,
             |       list_min(embedding) AS emin, list_max(embedding) AS emax
             |FROM embeddings ORDER BY vec_id""".stripMargin)),
    "q20b_posexplode" -> Entry(
      Relational.q20bPosExplode,
      Some("""SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, embedding[i] AS val
             |FROM embeddings, generate_series(1, 4) AS g(i)
             |ORDER BY vec_id, pos""".stripMargin)),
    "q21_struct_map" -> Entry(
      Relational.q21StructMap,
      Some("""SELECT c_custkey, c_acctbal AS bal, c_mktsegment AS seg,
             |       CAST(1 AS BIGINT) AS keys_n
             |FROM customer ORDER BY c_custkey""".stripMargin)),
    "q22_json" -> Entry(
      Relational.q22Json,
      Some("""SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
             |       min(k) AS min_k, max(k) AS max_k, round(avg(k), 6) AS avg_k
             |FROM (SELECT event_type,
             |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |      FROM events) t
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "q23_conditional" -> Entry(
      Relational.q23Conditional,
      Some("""SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
             |            WHEN c_acctbal < 5000 THEN 'mid'
             |            ELSE 'high' END AS bucket,
             |       coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg2,
             |       count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal_sum
             |FROM customer GROUP BY 1, 2 ORDER BY bucket, seg2""".stripMargin)),
    "q27_asof_join" -> Entry(
      Relational.q27AsOfJoin,
      // DuckDB's native ASOF JOIN is the oracle for the union+window impl
      Some("""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             |r AS (SELECT user_id, ts, max(value) AS view_value FROM events
             |      WHERE event_type = 'view' GROUP BY user_id, ts)
             |SELECT l.event_id, l.user_id, round(r.view_value, 4) AS asof_view_value
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
             |ORDER BY l.event_id""".stripMargin)),
    "q29_skew_join" -> Entry(
      Relational.q29SkewJoin,
      // the salt must be invisible in the result — the oracle is the plain
      // unsalted join
      Some("""SELECT p_brand, count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    "q28_range_join" -> Entry(
      Relational.q28RangeJoin,
      Some("""SELECT p.event_id, p.user_id, s.ts AS signup_ts
             |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
             |  ON p.user_id = s.user_id
             | AND p.ts BETWEEN s.ts AND s.ts + INTERVAL 30 MINUTE
             |ORDER BY p.event_id, signup_ts""".stripMargin)),
    "q24_subquery" -> Entry(Relational.q24Subquery, Some(Relational.q24Sql)),
    "q25_sql_text" -> Entry(Relational.q25SqlText, Some(Relational.q25Sql)),

    // ---- LLM-pipeline surface (E1–E6) ----
    "e1_exact_dedup" -> Entry(
      Pipeline.e1ExactDedup,
      // oracle groups by raw text — equivalent to grouping by sha2(text)
      // modulo hash collisions
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
             |GROUP BY text ORDER BY doc_id""".stripMargin)),
    "e2_jaccard_neardup" -> Entry(
      Pipeline.e2JaccardNearDup,
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
             |        FROM toks, generate_series(1, 2000) g(i)
             |        WHERE i <= CASE WHEN len(tk) - 2 > 2000
             |                        THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
             |                        ELSE len(tk) - 2 END),
             |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 128),
             |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare ON sh0.s = rare.s),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT doc_a, doc_b, round(j, 6) AS jaccard
             |FROM (SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
             |      FROM pairs JOIN sz sa ON doc_a = sa.doc_id
             |                 JOIN sz sb ON doc_b = sb.doc_id) t
             |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),
    "e2b_minhash_lsh" -> Entry(Pipeline.e2bMinHashLsh, Some(minhashOracleSql)),
    "e37_edit_distance_dedup" -> Entry(
      Pipeline.e37EditDistanceDedup,
      // LSH candidates verified by Levenshtein; the keep test is exact
      // integer arithmetic (dist*4 <= maxlen), distances are integers,
      // and rel_dist is a pure per-row ratio — hash-exact across engines
      Some(s"""$minhashBandsCte,
              |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
              |         FROM bands a JOIN bands c
              |           ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id),
              |sc AS (SELECT doc_a, doc_b,
              |              levenshtein(da.text, db.text) AS dist,
              |              greatest(len(da.text), len(db.text)) AS mx
              |       FROM cand JOIN documents da ON doc_a = da.doc_id
              |                 JOIN documents db ON doc_b = db.doc_id)
              |SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS edit_dist,
              |       round(CAST(dist AS DOUBLE) / mx, 6) AS rel_dist
              |FROM sc WHERE dist * 4 <= mx
              |ORDER BY doc_a, doc_b""".stripMargin)),
    "e2c_simhash" -> Entry(Pipeline.e2cSimHash, Some(simhashOracleSql)),
    "e3_cosine_topk" -> Entry(
      Pipeline.e3CosineTopK,
      Some("""WITH n AS (SELECT vec_id,
             |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             |                  list_sum(list_transform(embedding,
             |                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
             |s AS (SELECT qid, vec_id,
             |             list_inner_product(v, qv) / (sqrt(nrm) * sqrt(qn)) AS cos
             |      FROM n, q WHERE vec_id <> qid),
             |r AS (SELECT qid, vec_id, cos,
             |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
             |      FROM s)
             |SELECT qid, rk, vec_id, round(cos, 5) AS cos_sim
             |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin)),
    "e3b_lsh_ann" -> Entry(
      Pipeline.e3bLshAnn,
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
              |           FROM embeddings),
              |b AS (SELECT vec_id, dvec, ${bucketSql(8)} AS bucket FROM v),
              |q AS (SELECT vec_id AS qid, dvec AS qvec, bucket FROM b WHERE vec_id < 5),
              |c AS (SELECT qid, vec_id, list_inner_product(dvec, qvec) AS cos
              |      FROM b JOIN q USING (bucket) WHERE vec_id <> qid),
              |r AS (SELECT qid, vec_id,
              |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
              |      FROM c)
              |SELECT qid, rk, vec_id FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),
    "e3e_ivf_ann" -> Entry(Pipeline.e3eIvfAnn, Some(ivfOracleSql)),
    "e31_semdedup" -> Entry(Pipeline.e31SemDedup, Some(semDedupOracleSql)),
    "e32_shard_export" -> Entry(
      Pipeline.e32ShardExport,
      // the oracle computes the identical seeded shard + in-shard position
      // arithmetic — reproducible shuffle, value-checked per document
      Some("""WITH t AS (SELECT doc_id, n_chars,
             |                 (doc_id * 2654435761 + 97) % 1000000007 AS h
             |          FROM documents)
             |SELECT h % 8 AS shard,
             |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
             |            AS BIGINT) AS pos,
             |       doc_id, n_chars
             |FROM t ORDER BY shard, pos""".stripMargin)),
    "e33_sequence_packing" -> Entry(
      Pipeline.e33SequencePacking,
      // identical per-shard concat-and-chunk replay: offsets, slices,
      // boundary-straddling docs and the partial last sequence all match
      Some("""WITH t AS (SELECT doc_id,
             |                 (doc_id * 2654435761 + 97) % 1000000007 AS h,
             |                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |          FROM documents),
             |s AS (SELECT doc_id, h, n_tok, h % 8 AS shard,
             |             COALESCE(SUM(n_tok) OVER (PARTITION BY h % 8
             |               ORDER BY h, doc_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |               0) AS off
             |      FROM t),
             |x AS (SELECT shard, doc_id, off, n_tok,
             |             unnest(generate_series(CAST(off // 128 AS BIGINT),
             |               CAST((off + n_tok - 1) // 128 AS BIGINT))) AS seq_id
             |      FROM s)
             |SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(LEAST(off + n_tok, (seq_id + 1) * 128)
             |                - GREATEST(off, seq_id * 128)) AS BIGINT) AS n_tokens,
             |       min(doc_id) AS first_doc
             |FROM x GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin)),
    // e29 persists the SAME quantizer as versioned tables and answers the
    // SAME probes from the index — so the e3e oracle verifies the whole
    // build→commit→partition-pruned-read round trip byte-for-byte
    "e29_persisted_ivf" -> Entry(Versioned.e29PersistedIvf, Some(ivfOracleSql)),
    // e30 maintains e29's index INCREMENTALLY (base build + MERGE ingest of
    // the arriving batch into only its touched cells); sharing the full-
    // rebuild oracle is exactly the incremental == full-rebuild proof
    "e30_ivf_ingest" -> Entry(Versioned.e30IvfIngest, Some(ivfOracleSql)),
    "e3d_label_centroids" -> Entry(
      Pipeline.e3dLabelCentroids,
      Some("""SELECT label,
             |       round(avg(CAST(embedding[1] AS DOUBLE)), 5) AS c1,
             |       round(avg(CAST(embedding[2] AS DOUBLE)), 5) AS c2,
             |       round(avg(CAST(embedding[3] AS DOUBLE)), 5) AS c3,
             |       round(avg(CAST(embedding[4] AS DOUBLE)), 5) AS c4
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),
    "e3c_cosine_native" -> Entry(
      Pipeline.e3cCosineNative,
      // identical semantics (and oracle) to e3_cosine_topk; scored by the
      // native codegen expression instead of higher-order functions
      Some("""WITH n AS (SELECT vec_id,
             |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             |                  list_sum(list_transform(embedding,
             |                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
             |           FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
             |s AS (SELECT qid, vec_id,
             |             list_inner_product(v, qv) / (sqrt(nrm) * sqrt(qn)) AS cos
             |      FROM n, q WHERE vec_id <> qid),
             |r AS (SELECT qid, vec_id, cos,
             |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
             |      FROM s)
             |SELECT qid, rk, vec_id, round(cos, 5) AS cos_sim
             |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin)),
    "e4_multimodal_meta" -> Entry(
      Pipeline.e4MultimodalMeta,
      Some("""SELECT doc_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
             |       sha256(text) AS payload_sha,
             |       CAST(ascii(substr(text, 1, 1)) + 16 AS INTEGER) AS width_px,
             |       CAST(ascii(substr(text, 2, 1)) + 16 AS INTEGER) AS height_px,
             |       CAST(octet_length(encode(text)) % 8 + 1 AS INTEGER) AS frames
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "e2d_embedding_neardup" -> Entry(
      Pipeline.e2dEmbeddingNearDup,
      Some(s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
              |           FROM embeddings),
              |b AS (SELECT vec_id, dvec, ${bucketSql(2)} AS bucket FROM v),
              |p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
              |             list_inner_product(a.dvec, c.dvec)
              |               / (sqrt(list_inner_product(a.dvec, a.dvec))
              |                  * sqrt(list_inner_product(c.dvec, c.dvec))) AS cos
              |      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
              |SELECT vec_a, vec_b, round(cos, 5) AS cos_sim
              |FROM p WHERE cos >= 0.3 ORDER BY vec_a, vec_b""".stripMargin)),
    "e4b_frame_sample" -> Entry(
      Pipeline.e4bFrameSample,
      Some("""SELECT doc_id, CAST(i AS BIGINT) AS frame_idx
             |FROM documents, generate_series(0, 8) g(i)
             |WHERE i <= octet_length(encode(text)) % 8 AND i % 2 = 0
             |ORDER BY doc_id, frame_idx""".stripMargin)),
    "e4c_resize" -> Entry(
      Pipeline.e4cResize,
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         octet_length(encode(text)) AS len,
             |         LEAST(1.0, 64.0 / GREATEST(ascii(substr(text, 1, 1)) + 16,
             |                                    ascii(substr(text, 2, 1)) + 16)) AS sc
             |  FROM documents)
             |SELECT doc_id,
             |       GREATEST(1, CAST(trunc(len * sc * sc) AS BIGINT)) AS resized_bytes
             |FROM t ORDER BY doc_id""".stripMargin)),
    "e4f_real_codec" -> Entry(
      Pipeline.e4fRealCodec,
      // PNG is lossless and the pixel generator is integer arithmetic, so
      // the oracle recomputes the REAL codec's outputs exactly: any pixel
      // the encode→decode→halve→decode chain corrupts breaks a channel sum
      Some("""WITH d AS (SELECT doc_id, 16 + doc_id % 32 AS w, 16 + doc_id % 24 AS h
             |           FROM documents),
             |px AS (SELECT doc_id, w, h, x, y
             |       FROM d, generate_series(0, 46) gx(x), generate_series(0, 38) gy(y)
             |       WHERE x < w AND y < h),
             |fullsum AS (SELECT doc_id, w, h,
             |                   sum((doc_id * 7 + x * 3 + y * 5) % 256) AS sum_r,
             |                   sum((x * 11 + y) % 256) AS sum_g,
             |                   sum((doc_id + x + y * 13) % 256) AS sum_b
             |            FROM px GROUP BY doc_id, w, h),
             |hpx AS (SELECT doc_id, (w + 1) // 2 AS hw, (h + 1) // 2 AS hh, x, y
             |        FROM d, generate_series(0, 23) gx(x), generate_series(0, 19) gy(y)
             |        WHERE x < (w + 1) // 2 AND y < (h + 1) // 2),
             |halfsum AS (SELECT doc_id, hw, hh,
             |                   sum((doc_id * 7 + (2 * x) * 3 + (2 * y) * 5) % 256) AS half_sum_r
             |            FROM hpx GROUP BY doc_id, hw, hh)
             |SELECT f.doc_id, CAST(f.w AS BIGINT) AS width_px,
             |       CAST(f.h AS BIGINT) AS height_px,
             |       CAST(f.sum_r AS BIGINT) AS sum_r,
             |       CAST(f.sum_g AS BIGINT) AS sum_g,
             |       CAST(f.sum_b AS BIGINT) AS sum_b,
             |       CAST(hs.hw AS BIGINT) AS half_width_px,
             |       CAST(hs.hh AS BIGINT) AS half_height_px,
             |       CAST(hs.half_sum_r AS BIGINT) AS half_sum_r
             |FROM fullsum f JOIN halfsum hs USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),
    "e4e_perceptual_dedup" -> Entry(
      Pipeline.e4ePerceptualDedup,
      // 16 equal-span byte blocks (0-based byte i → block i*16/n, spelled
      // (i-1)*16//n over DuckDB's 1-based series); bit b set when block b's
      // mean exceeds the payload mean — integer sums and one double
      // division per block keep every bit reproducible
      Some("""WITH ch AS (SELECT doc_id, i, ascii(substr(text, i, 1)) AS b,
             |                   length(text) AS n
             |            FROM documents, generate_series(1, 700) g(i)
             |            WHERE i <= CASE WHEN length(text) > 700
             |                            THEN CAST(error('doc exceeds 700-char oracle cap') AS BIGINT)
             |                            ELSE length(text) END),
             |bm AS (SELECT doc_id, ((i - 1) * 16) // n AS blk, avg(b) AS bmean
             |       FROM ch GROUP BY doc_id, ((i - 1) * 16) // n),
             |om AS (SELECT doc_id, avg(b) AS omean FROM ch GROUP BY doc_id),
             |ph AS (SELECT bm.doc_id,
             |              CAST(sum(CASE WHEN bmean > omean
             |                            THEN CAST(1 AS BIGINT) << CAST(blk AS INT)
             |                            ELSE 0 END) AS BIGINT) AS phash
             |       FROM bm JOIN om ON bm.doc_id = om.doc_id GROUP BY bm.doc_id)
             |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
             |FROM ph a JOIN ph c ON a.phash = c.phash AND a.doc_id < c.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin)),
    "e4d_byte_entropy" -> Entry(
      Pipeline.e4dByteEntropy,
      // text payloads are ASCII, so per-char codepoints ARE the payload
      // bytes; both sides round to 6 dp, far above float-order noise
      Some("""WITH ch AS (SELECT doc_id, ascii(substr(text, i, 1)) AS b
             |            FROM documents, generate_series(1, 700) g(i)
             |            WHERE i <= CASE WHEN length(text) > 700
             |                            THEN CAST(error('doc exceeds 700-char oracle cap') AS BIGINT)
             |                            ELSE length(text) END),
             |h AS (SELECT doc_id, b, count(*) AS c FROM ch GROUP BY doc_id, b),
             |t AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM h GROUP BY doc_id)
             |SELECT h.doc_id, round(-sum((c / n) * log2(c / n)), 6) AS entropy_bits
             |FROM h JOIN t ON h.doc_id = t.doc_id
             |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin)),
    "e5_token_stats" -> Entry(
      Pipeline.e5TokenStats,
      Some("""SELECT doc_id, n_chars,
             |       len(string_split(text, ' ')) AS n_tokens,
             |       len(list_distinct(string_split(text, ' '))) AS n_uniq,
             |       round(CAST(len(list_filter(string_split(text, ' '),
             |                 x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
             |             / len(string_split(text, ' ')), 6) AS stop_ratio,
             |       round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |             / len(string_split(text, ' ')), 6) AS ttr
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "e5b_lang_stats" -> Entry(
      Pipeline.e5bLangStats,
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       round(avg(n_chars), 4) AS avg_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    "e5c_token_freq" -> Entry(
      Pipeline.e5cTokenFreq,
      Some("""SELECT token, count(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),
    "e5d_regex_tokens" -> Entry(
      Pipeline.e5dRegexTokens,
      Some("""SELECT doc_id, len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpeish
             |FROM documents ORDER BY doc_id""".stripMargin)),
    "e5e_lang_guess" -> Entry(
      Pipeline.e5eLangGuess,
      // argmax(score, lang) with ties to the alphabetically-last lang —
      // mirrored by checking candidates in reverse-alphabetical order
      Some(s"""WITH s AS (SELECT doc_id,
              |  ${langScoreSql(Seq("ch", "ei", "en", "sch"))} AS sde,
              |  ${langScoreSql(Seq("th", "he", "in", "er"))} AS sen,
              |  ${langScoreSql(Seq("ll", "os", "as", "ión"))} AS ses,
              |  ${langScoreSql(Seq("ou", "le", "es", "que"))} AS sfr,
              |  ${langScoreSql(Seq("zh", "ng", "xi", "ao"))} AS szh
              |  FROM documents),
              |g AS (SELECT CASE
              |  WHEN szh >= sde AND szh >= sen AND szh >= ses AND szh >= sfr THEN 'zh'
              |  WHEN sfr >= sde AND sfr >= sen AND sfr >= ses THEN 'fr'
              |  WHEN ses >= sde AND ses >= sen THEN 'es'
              |  WHEN sen >= sde THEN 'en'
              |  ELSE 'de' END AS lang_guess FROM s)
              |SELECT lang_guess, count(*) AS n_docs
              |FROM g GROUP BY lang_guess ORDER BY lang_guess""".stripMargin)),
    "e25_lang_confusion" -> Entry(
      Pipeline.e25LangConfusion,
      // the e5e scoring CTE with the truth label carried through
      Some(s"""WITH s AS (SELECT doc_id, lang,
              |  ${langScoreSql(Seq("ch", "ei", "en", "sch"))} AS sde,
              |  ${langScoreSql(Seq("th", "he", "in", "er"))} AS sen,
              |  ${langScoreSql(Seq("ll", "os", "as", "ión"))} AS ses,
              |  ${langScoreSql(Seq("ou", "le", "es", "que"))} AS sfr,
              |  ${langScoreSql(Seq("zh", "ng", "xi", "ao"))} AS szh
              |  FROM documents),
              |g AS (SELECT lang, CASE
              |  WHEN szh >= sde AND szh >= sen AND szh >= ses AND szh >= sfr THEN 'zh'
              |  WHEN sfr >= sde AND sfr >= sen AND sfr >= ses THEN 'fr'
              |  WHEN ses >= sde AND ses >= sen THEN 'es'
              |  WHEN sen >= sde THEN 'en'
              |  ELSE 'de' END AS lang_guess FROM s)
              |SELECT lang, lang_guess, count(*) AS n_docs
              |FROM g GROUP BY lang, lang_guess ORDER BY lang, lang_guess""".stripMargin)),
    "e5f_doc_quality" -> Entry(
      Pipeline.e5fDocQuality,
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |              FROM documents),
             |freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY token)
             |SELECT doc_id, round(avg(ln(CAST(tf AS DOUBLE))), 6) AS mean_log_tf
             |FROM toks JOIN freq USING (token)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "e9_stratified_sample" -> Entry(
      Pipeline.e9StratifiedSample,
      Some("""WITH c AS (SELECT *, (doc_id * 2654435761 + 40503) % 1000000007 % 1000 AS cell
             |           FROM documents)
             |SELECT lang, count(*) AS n_sampled,
             |       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM c
             |WHERE (lang = 'en' AND cell < 100) OR (lang <> 'en' AND cell < 300)
             |GROUP BY lang ORDER BY lang""".stripMargin)),
    "e8_incremental_dedup" -> Entry(
      Pipeline.e8IncrementalDedup,
      // text equality ≡ sha2 equality modulo collisions (same note as e1)
      Some("""SELECT doc_id, n_chars FROM documents b
             |WHERE doc_id % 2 = 1 AND NOT EXISTS (
             |  SELECT 1 FROM documents c WHERE c.doc_id % 2 = 0 AND c.text = b.text)
             |ORDER BY doc_id""".stripMargin)),
    "e15_corpus_prep" -> Entry(
      Pipeline.e15CorpusPrep,
      // the full prep pipeline replayed relationally; text equality ≡ sha2
      // equality modulo collisions (same note as e1)
      Some("""WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
             |kept AS (SELECT d.doc_id, d.source, d.n_chars,
             |                len(string_split(d.text, ' ')) AS n_tokens,
             |                CAST(len(list_filter(string_split(d.text, ' '),
             |                      x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
             |                  / len(string_split(d.text, ' ')) AS stop_ratio
             |         FROM documents d JOIN canon USING (doc_id)
             |         WHERE d.lang = 'en')
             |SELECT source, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       round(avg(n_tokens), 4) AS avg_tokens
             |FROM kept
             |WHERE stop_ratio >= 0.05 AND n_chars >= 100
             |  AND (doc_id * 2654435761 + 40503) % 1000000007 % 1000 < 500
             |GROUP BY source ORDER BY source""".stripMargin)),
    "e16_chunking" -> Entry(
      Pipeline.e16Chunking,
      // chunk i covers tokens [i*48+1, i*48+64]; ⌈(n−64)/48⌉+1 chunks per
      // doc (one chunk when n ≤ 64); list slices clamp at the end exactly
      // like Spark's slice
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |c AS (SELECT doc_id, i AS chunk_idx, tk[i * 48 + 1 : i * 48 + 64] AS chunk
             |      FROM t, generate_series(0, 200) g(i)
             |      WHERE i <= CASE WHEN len(tk) > 64 + 48 * 200
             |                      THEN CAST(error('doc exceeds 200-chunk oracle cap') AS BIGINT)
             |                      ELSE greatest(0, CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT)) END)
             |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
             |       array_to_string(chunk, ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    "e24_lsh_recall" -> Entry(
      Pipeline.e24LshRecall, Some(lshRecallOracleSql)),
    "e26_minhash_calibration" -> Entry(
      Pipeline.e26MinhashCalibration, Some(minhashCalibrationOracleSql)),
    "e27_neardup_removal" -> Entry(
      Pipeline.e27NearDupRemoval,
      // transitive closure of the verified pair graph; survivors = each
      // component's least doc_id plus every unpaired doc
      Some(s"""WITH RECURSIVE $jaccardTruthCtes,
              |pairs AS (SELECT doc_a, doc_b FROM jx WHERE jexact >= 0.5),
              |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |        UNION SELECT doc_b, doc_a FROM pairs),
              |reach(a, b) AS (SELECT a, b FROM und
              |                UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
              |dropped AS (SELECT a AS doc_id FROM reach GROUP BY a
              |            HAVING least(a, min(b)) <> a)
              |SELECT source, count(*) AS n_docs,
              |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
              |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
              |GROUP BY source ORDER BY source""".stripMargin)),
    "e28_quality_dedup" -> Entry(
      Pipeline.e28QualityDedup,
      // same transitive closure as e27, but each component keeps its
      // highest-distinct-token member (tie: lowest id) — integer score,
      // no FP surface
      Some(s"""WITH RECURSIVE $jaccardTruthCtes,
              |pairs AS (SELECT doc_a, doc_b FROM jx WHERE jexact >= 0.5),
              |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |        UNION SELECT doc_b, doc_a FROM pairs),
              |reach(a, b) AS (SELECT a, b FROM und
              |                UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
              |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
              |q AS (SELECT doc_id, count(DISTINCT tok) AS q
              |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              |      GROUP BY doc_id),
              |ranked AS (SELECT c.doc_id,
              |                  row_number() OVER (PARTITION BY c.cluster
              |                                     ORDER BY q.q DESC, c.doc_id) AS rk
              |           FROM comp c JOIN q ON c.doc_id = q.doc_id),
              |dropped AS (SELECT doc_id FROM ranked WHERE rk <> 1)
              |SELECT source, count(*) AS n_docs,
              |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
              |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
              |GROUP BY source ORDER BY source""".stripMargin)),
    "e22_ngram_novelty" -> Entry(
      Pipeline.e22NgramNovelty,
      // ln is shared; integer counts make the per-bigram ratios exact and
      // 4-dp rounding absorbs mean-summation order
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
             |           WHERE len(string_split(text, ' ')) >= 2),
             |bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
             |       FROM t, generate_series(1, 2000) g(i)
             |       WHERE i <= CASE WHEN len(tk) - 1 > 2000
             |                       THEN CAST(error('doc exceeds 2000-bigram oracle cap') AS BIGINT)
             |                       ELSE len(tk) - 1 END),
             |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
             |cp AS (SELECT w1, count(*) AS cp FROM bg GROUP BY w1)
             |SELECT doc_id, count(*) AS n_bigrams,
             |       round(avg(ln(CAST(cp AS DOUBLE) / cb)), 4) AS avg_surprise
             |FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "e23_containment_dedup" -> Entry(
      Pipeline.e23ContainmentDedup,
      // e2's inverted-index derivation with the directional denominators;
      // same DF cap, same pre-cap set sizes
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
             |        FROM toks, generate_series(1, 2000) g(i)
             |        WHERE i <= CASE WHEN len(tk) - 2 > 2000
             |                        THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
             |                        ELSE len(tk) - 2 END),
             |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 128),
             |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare ON sh0.s = rare.s),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(CAST(c AS DOUBLE) / sa.n, 6) AS cont_a,
             |       round(CAST(c AS DOUBLE) / sb.n, 6) AS cont_b
             |FROM p JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
             |WHERE CAST(c AS DOUBLE) / sa.n >= 0.8 OR CAST(c AS DOUBLE) / sb.n >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin)),
    "e21_temperature_mix" -> Entry(
      Pipeline.e21TemperatureMix,
      // same arithmetic, same operation order; integer thresholds make the
      // kept set exact across engines
      Some("""WITH bs AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n_src
             |            FROM documents GROUP BY source),
             |z AS (SELECT sum(sqrt(n_src)) AS z, sum(n_src) AS n_tot FROM bs),
             |r AS (SELECT source,
             |             CAST(least(1000.0,
             |                  round(1000.0 * 0.3 * n_tot * sqrt(n_src)
             |                        / (z * n_src), 0)) AS BIGINT) AS thr
             |      FROM bs, z),
             |kept AS (SELECT d.source, d.n_chars, r.thr
             |         FROM documents d JOIN r USING (source)
             |         WHERE (d.doc_id * 2654435761 + 40503) % 1000000007 % 1000 < r.thr)
             |SELECT source, count(*) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |       any_value(thr) AS thr
             |FROM kept GROUP BY source ORDER BY source""".stripMargin)),
    "e20_sequence_packing" -> Entry(
      Pipeline.e20SequencePacking,
      // the same shard-windowed prefix-sum assignment, replayed in SQL
      Some("""WITH d AS (SELECT doc_id, doc_id % 32 AS shard,
             |                  len(string_split(text, ' ')) AS n_tokens FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |                                 ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM d),
             |sq AS (SELECT shard, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq,
             |              n_tokens
             |       FROM c)
             |SELECT shard, seq, count(*) AS n_docs,
             |       CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
             |       greatest(0, 2048 - CAST(sum(n_tokens) AS BIGINT)) AS pad_tokens
             |FROM sq GROUP BY shard, seq ORDER BY shard, seq""".stripMargin)),
    "e19_span_dedup" -> Entry(
      Pipeline.e19SpanDedup,
      // same portable token hash as the minhash CTE; spans are
      // non-overlapping 32-token windows, polynomial-combined
      Some("""WITH t AS (SELECT doc_id,
             |             list_transform(string_split(text, ' '), tok -> list_reduce(
             |               list_prepend(CAST(0 AS BIGINT),
             |                 list_transform(string_split_regex(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
             |               (h, c) -> (h * 31 + c) % 1000000007)) AS th
             |      FROM documents),
             |sp AS (SELECT doc_id,
             |              list_reduce(list_prepend(CAST(0 AS BIGINT), th[i * 32 + 1 : i * 32 + 32]),
             |                          (h, x) -> (h * 31 + x) % 1000000007) AS sh
             |       FROM t, generate_series(0, 200) g(i)
             |       WHERE i <= CASE WHEN len(th) > 32 + 32 * 200
             |                       THEN CAST(error('doc exceeds 200-span oracle cap') AS BIGINT)
             |                       ELSE greatest(0, CAST(ceil((len(th) - 32) / 32.0) AS BIGINT)) END),
             |dup AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2)
             |SELECT doc_id, count(*) AS n_spans,
             |       count(CASE WHEN sh IN (SELECT sh FROM dup) THEN 1 END) AS n_dup_spans,
             |       round(count(CASE WHEN sh IN (SELECT sh FROM dup) THEN 1 END) * 1.0
             |             / count(*), 4) AS dup_ratio
             |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "e18_quantized_ann" -> Entry(
      Pipeline.e18QuantizedAnn,
      // integer code dots are exact in doubles: scores replay bit-identical
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
             |           FROM embeddings),
             |s AS (SELECT vec_id, dv,
             |             list_max(list_transform(dv, x -> abs(x))) / 127.0 AS sc FROM v),
             |codes AS (SELECT vec_id,
             |                 CASE WHEN sc = 0 THEN list_transform(dv, x -> CAST(0 AS DOUBLE))
             |                      ELSE list_transform(dv, x -> round(x / sc, 0)) END AS qv
             |          FROM s),
             |n AS (SELECT vec_id, qv, list_inner_product(qv, qv) AS qn FROM codes
             |      WHERE list_inner_product(qv, qv) > 0),
             |q AS (SELECT vec_id AS qid, qv AS qq, qn AS qqn FROM n WHERE vec_id < 5),
             |sc2 AS (SELECT qid, vec_id,
             |               list_inner_product(qv, qq) / sqrt(qn * qqn) AS cos
             |        FROM n, q WHERE vec_id <> qid),
             |r AS (SELECT qid, vec_id, cos,
             |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
             |      FROM sc2)
             |SELECT qid, rk, vec_id, round(cos, 5) AS qcos
             |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin)),
    "e17_kmeans" -> Entry(
      Pipeline.e17Kmeans,
      // both Lloyd iterations unrolled: same seeding (k lowest vec_ids),
      // same cosine argmax with cell-id tie-break, same 6-dp centroid
      // rounding after every update, so assignments replay exactly
      Some(kmeansOracleSql)),
    "e8b_incremental_neardup" -> Entry(
      Pipeline.e8bIncrementalNearDup, Some(incrementalNearDupOracleSql)),
    "e7_dup_clusters" -> Entry(
      Pipeline.e7DupClusters,
      // transitive closure of the e2 pair graph via recursive CTE; the
      // pair derivation is the e2 oracle verbatim
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
             |        FROM toks, generate_series(1, 2000) g(i)
             |        WHERE i <= CASE WHEN len(tk) - 2 > 2000
             |                        THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
             |                        ELSE len(tk) - 2 END),
             |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 128),
             |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN rare ON sh0.s = rare.s),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
             |pairs AS (SELECT doc_a, doc_b FROM (
             |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) p
             |  JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
             |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
             |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |        UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (SELECT a, b FROM und
             |                UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
             |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin)),

    "q32_pivot" -> Entry(
      Relational.q32Pivot,
      Some("""SELECT o_orderstatus,
             |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_n,
             |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent_rev,
             |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high_n,
             |  round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS high_rev,
             |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium_n,
             |  round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium_rev,
             |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS unspec_n,
             |  round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS unspec_rev,
             |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low_n,
             |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS low_rev
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "q33_percentiles" -> Entry(
      Relational.q33Percentiles,
      Some("""SELECT l_returnflag,
             |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q34_stats" -> Entry(
      Relational.q34Stats,
      Some("""SELECT l_returnflag,
             |       round(stddev_samp(l_quantity), 6) AS sd_qty,
             |       round(var_samp(l_discount), 8) AS var_disc,
             |       round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price,
             |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "q35_stringagg" -> Entry(
      Relational.q35StringAgg,
      Some("""SELECT r_name,
             |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |       count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    "q44_unpivot" -> Entry(
      Relational.q44Unpivot,
      // melt replayed as a UNION ALL of single-measure projections
      Some("""WITH m AS (
             |  SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
             |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
             |SELECT metric, count(*) AS n_values, round(sum(v), 2) AS sum_v,
             |       round(min(v), 2) AS min_v, round(max(v), 2) AS max_v
             |FROM m GROUP BY metric ORDER BY metric""".stripMargin)),

    "q52_grouping_id" -> Entry(
      Relational.q52GroupingId,
      Some("""SELECT o_orderstatus, o_orderpriority,
             |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
             |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
             |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
             |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    "q51_window_dist" -> Entry(
      Relational.q51WindowDist,
      Some("""SELECT o_orderkey, o_orderstatus,
             |       round(percent_rank() OVER (PARTITION BY o_orderstatus
             |                                  ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
             |       round(cume_dist() OVER (PARTITION BY o_orderstatus
             |                               ORDER BY o_totalprice, o_orderkey), 6) AS cume
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
    "q49_scan_csv" -> Entry(
      Relational.q49ScanCsv,
      Some("""SELECT n_regionkey, count(*) AS n_nations,
             |       string_agg(n_name, ',' ORDER BY n_name) AS names
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),
    "q50_scan_json" -> Entry(
      Relational.q50ScanJson,
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    "q45_window_ignore_nulls" -> Entry(
      Relational.q45WindowIgnoreNulls,
      // ts reads as nanos-long in Spark and TIMESTAMP in DuckDB — ordering
      // is identical; (ts, event_id) makes every frame deterministic
      Some("""SELECT event_id,
             |       last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
             |         OVER (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click,
             |       lead(CASE WHEN event_type = 'click' THEN value END, 1 IGNORE NULLS)
             |         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_click,
             |       nth_value(value, 2)
             |         OVER (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_val
             |FROM events ORDER BY event_id""".stripMargin)),
    "q46_lateral" -> Entry(
      Relational.q46Lateral, Some(Relational.q46Sql)),

    "e34_bm25" -> Entry(
      Pipeline.e34Bm25,
      // per-(doc, term) contributions are micro-scaled BIGINTs, so sums and
      // ranks are integer-exact across engines; arithmetic shape mirrored
      // operation-for-operation
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |              FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             |q AS (SELECT DISTINCT qid, token FROM (
             |        SELECT doc_id // 7 AS qid,
             |               unnest(list_slice(string_split(text, ' '), 1, 4)) AS token
             |        FROM documents WHERE doc_id % 7 = 0 AND doc_id < 28)),
             |sc AS (SELECT q.qid, tf.doc_id,
             |              CAST(round(1000000.0 *
             |                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
             |                   (tf * 2.2) /
             |                   (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl)), 0) AS BIGINT) AS c
             |       FROM tf JOIN q USING (token) JOIN dfreq USING (token)
             |            JOIN dl ON tf.doc_id = dl.doc_id, stats),
             |agg AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
             |        FROM sc GROUP BY 1, 2),
             |r AS (SELECT qid, doc_id, score_micro,
             |             row_number() OVER (PARTITION BY qid
             |                                ORDER BY score_micro DESC, doc_id) AS rk
             |      FROM agg)
             |SELECT qid, rk, doc_id, score_micro FROM r WHERE rk <= 3
             |ORDER BY qid, rk""".stripMargin)),
    "e35_bigram_lm" -> Entry(
      Pipeline.e35BigramLm,
      // the LM trains on the whole corpus, scores the sampled docs; bigram
      // log-probs are micro-scaled BIGINTs so per-doc sums are exact
      Some("""WITH d2 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
             |            WHERE len(string_split(text, ' ')) >= 2),
             |bg AS (SELECT doc_id,
             |              unnest(list_transform(generate_series(1, len(tk) - 1),
             |                                    i -> tk[i])) AS w1,
             |              unnest(list_transform(generate_series(1, len(tk) - 1),
             |                                    i -> tk[i + 1])) AS w2
             |       FROM d2),
             |c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
             |c1c AS (SELECT w1, count(*) AS c1
             |        FROM (SELECT unnest(tk) AS w1 FROM d2) GROUP BY 1),
             |v AS (SELECT count(*) AS v FROM c1c),
             |sc AS (SELECT bg.doc_id,
             |              CAST(round(1000000.0 *
             |                   ln((c12 + 0.5) / (c1 + 0.5 * v)), 0) AS BIGINT) AS lp
             |       FROM bg JOIN c2 USING (w1, w2) JOIN c1c USING (w1), v
             |       WHERE bg.doc_id % 25 = 0)
             |SELECT doc_id, count(*) AS n_bigrams,
             |       CAST(sum(lp) AS BIGINT) AS logprob_micro
             |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    "e36_hybrid_rrf" -> Entry(
      Pipeline.e36HybridRrf,
      // reciprocal-rank fusion of the BM25 and cosine top-10s; fusion
      // arithmetic is integer-exact, only the dense rank order is FP (the
      // e3-family posture)
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |              FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             |q AS (SELECT DISTINCT qid, token FROM (
             |        SELECT doc_id // 7 AS qid,
             |               unnest(list_slice(string_split(text, ' '), 1, 4)) AS token
             |        FROM documents WHERE doc_id % 7 = 0 AND doc_id < 28)),
             |sc AS (SELECT q.qid, tf.doc_id,
             |              CAST(round(1000000.0 *
             |                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
             |                   (tf * 2.2) /
             |                   (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl)), 0) AS BIGINT) AS c
             |       FROM tf JOIN q USING (token) JOIN dfreq USING (token)
             |            JOIN dl ON tf.doc_id = dl.doc_id, stats),
             |agg AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
             |        FROM sc GROUP BY 1, 2),
             |lexr AS (SELECT qid, doc_id,
             |                row_number() OVER (PARTITION BY qid
             |                                   ORDER BY score_micro DESC, doc_id) AS rank_lex
             |         FROM agg),
             |lex AS (SELECT qid, doc_id, rank_lex FROM lexr WHERE rank_lex <= 10),
             |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             |             list_sum(list_transform(embedding,
             |                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
             |      FROM embeddings),
             |qv AS (SELECT vec_id // 7 AS qid, v AS qvec, nrm AS qn FROM n
             |       WHERE vec_id % 7 = 0 AND vec_id < 28),
             |sc2 AS (SELECT qid, vec_id AS doc_id,
             |               list_inner_product(v, qvec) / (sqrt(nrm) * sqrt(qn)) AS cos
             |        FROM n, qv),
             |dr AS (SELECT qid, doc_id,
             |              row_number() OVER (PARTITION BY qid
             |                                 ORDER BY cos DESC, doc_id) AS rank_dense
             |       FROM sc2),
             |dense AS (SELECT qid, doc_id, rank_dense FROM dr WHERE rank_dense <= 10),
             |fused AS (SELECT coalesce(lex.qid, dense.qid) AS qid,
             |                 coalesce(lex.doc_id, dense.doc_id) AS doc_id,
             |                 coalesce(CAST(round(1000000.0 / (rank_lex + 60), 0) AS BIGINT), 0)
             |               + coalesce(CAST(round(1000000.0 / (rank_dense + 60), 0) AS BIGINT), 0)
             |                 AS rrf_micro
             |          FROM lex FULL OUTER JOIN dense
             |               ON lex.qid = dense.qid AND lex.doc_id = dense.doc_id),
             |fr AS (SELECT qid, doc_id, rrf_micro,
             |              row_number() OVER (PARTITION BY qid
             |                                 ORDER BY rrf_micro DESC, doc_id) AS rk
             |       FROM fused)
             |SELECT qid, rk, doc_id, rrf_micro FROM fr WHERE rk <= 3
             |ORDER BY qid, rk""".stripMargin)),
    "e10_tfidf" -> Entry(
      Pipeline.e10TfIdf,
      // ranking keys are integers (tf desc, df asc, token) so the top-3 set
      // is engine-exact; only the reported score is FP (4 dp, ln is shared)
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |              FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |r AS (SELECT doc_id, token, tf, df,
             |             row_number() OVER (PARTITION BY doc_id
             |                                ORDER BY tf DESC, df, token) AS rk
             |      FROM tf JOIN dfreq USING (token))
             |SELECT doc_id, rk, token,
             |       round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
             |FROM r, n WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ---- streaming surface (EXT) ----
    "s03_stream_dedup" -> Entry(
      StreamingQueries.s03StreamDedup,
      // the 60-day watermark covers the fixture's whole event-time span, so
      // the emitted first-occurrences are exactly the distinct key pairs
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    "s09_stream_static_join" -> Entry(
      StreamingQueries.s09StreamStaticJoin,
      // stream-side enrichment must be invisible: the oracle is the batch
      // join + aggregation over the same tables
      Some("""SELECT c_mktsegment, event_type, count(*) AS n_events,
             |       round(sum(value), 4) AS sum_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment, event_type
             |ORDER BY c_mktsegment, event_type""".stripMargin)),

    "s11_stream_materialized_view" -> Entry(
      StreamingQueries.s11StreamMaterializedView,
      // full recompute of the final MV state: A/N groups from the base
      // load, R from the refresh — incremental streaming == full
      Some("""WITH fin AS (SELECT l_quantity, l_returnflag FROM lineitem
             |             WHERE l_quantity <= 25 AND l_returnflag <> 'R'
             |             UNION ALL
             |             SELECT l_quantity, l_returnflag FROM lineitem
             |             WHERE l_returnflag = 'R' AND l_quantity > 40)
             |SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s13_stream_ivf_ingest" -> Entry(
      StreamingQueries.s13StreamIvfIngest,
      // the streamed, incrementally-merged index must answer the probe
      // exactly like a from-scratch build — the shared full-rebuild oracle
      Some(ivfOracleSql)),
    "s12_stream_merge_sink" -> Entry(
      StreamingQueries.s12StreamMergeSink,
      // replay of the upsert sequence: v1 bootstraps the keys, the R delta
      // overrides matching keys and inserts the rest — kept v1 rows are the
      // NOT EXISTS remainder
      Some("""WITH base AS (SELECT l_orderkey, l_returnflag,
             |                     round(sum(l_quantity), 2) AS qty,
             |                     count(*) AS n_items
             |              FROM lineitem GROUP BY 1, 2),
             |v1 AS (SELECT * FROM base WHERE l_orderkey % 3 <> 0),
             |d AS (SELECT l_orderkey, l_returnflag, round(qty * 2, 2) AS qty, n_items
             |      FROM base WHERE l_returnflag = 'R' AND l_orderkey % 2 = 0),
             |m AS (SELECT * FROM d
             |      UNION ALL
             |      SELECT v1.* FROM v1 WHERE NOT EXISTS (
             |        SELECT 1 FROM d
             |        WHERE d.l_orderkey = v1.l_orderkey
             |          AND d.l_returnflag = v1.l_returnflag))
             |SELECT l_returnflag, count(*) AS n_keys,
             |       round(sum(qty), 2) AS sum_qty,
             |       CAST(sum(n_items) AS BIGINT) AS n_items
             |FROM m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s10_versioned_cdc_source" -> Entry(
      StreamingQueries.s10VersionedCdcSource,
      // disjoint-partition commits stream each partition exactly once: the
      // union is the whole selected table
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s17_stream_by_table_name" -> Entry(
      StreamingQueries.s17StreamByTableName,
      // startingCommit anchor: only the post-anchor commits stream — the
      // R partition (v2) and the refreshed N slice (v3); A never replays
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |WHERE l_returnflag = 'R'
             |   OR (l_returnflag = 'N' AND l_quantity > 30)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s18_append_sink" -> Entry(
      StreamingQueries.s18AppendSink,
      // streaming merge-on-read ingest: preload (qty<=10) plus the two
      // streamed disjoint slices = the whole table; zero pointer moves and
      // replay exactly-once are pinned in-query
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s19_auto_squash" -> Entry(
      StreamingQueries.s19AutoSquash,
      // self-maintaining append sink: five paced overlay batches, folded
      // by the sink's auto-squash to ONE contributing dir (pinned
      // in-query, with zero pointer moves); content = preload + slices =
      // the whole table
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s20_upsert_sink" -> Entry(
      StreamingQueries.s20UpsertSink,
      // merge-on-read upsert stream over a keyed rollup: batch 0 updates
      // %50 keys (+10000) and inserts shifted %97 keys; batch 1 re-updates
      // %75 keys (+100000), the later batch winning on %150 overlaps —
      // zero pointer moves and replay exactly-once pinned in-query
      Some("""WITH agg AS (
             |  SELECT l_orderkey, l_returnflag, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2
             |), final AS (
             |  SELECT l_orderkey, l_returnflag,
             |         CASE WHEN l_orderkey % 75 = 0 THEN qty + 100000
             |              WHEN l_orderkey % 50 = 0 THEN qty + 10000
             |              ELSE qty END AS qty
             |  FROM agg
             |  UNION ALL
             |  SELECT l_orderkey + 50000000, l_returnflag, qty FROM agg
             |  WHERE l_orderkey % 97 = 0
             |)
             |SELECT l_returnflag, count(*) AS n_keys, round(sum(qty), 2) AS sum_qty
             |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s15_stream_keyed_feed" -> Entry(
      StreamingQueries.s15StreamKeyedFeed,
      // three paced batches (full load, DV delete, R rework) through the
      // KEYED feed stream: per-type aggregates recomputed relationally off
      // the deduplicated base — suppressed keys surface only as their
      // batch-1 insert
      Some("""WITH base AS (
             |  SELECT l_orderkey, l_linenumber, l_returnflag,
             |         max(l_quantity) AS l_quantity,
             |         max(l_extendedprice) AS l_extendedprice
             |  FROM lineitem WHERE l_orderkey % 4 = 0 GROUP BY 1, 2, 3)
             |SELECT _change_type, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM (
             |  SELECT 'insert' AS _change_type, l_quantity, l_extendedprice
             |  FROM base
             |  UNION ALL
             |  SELECT 'insert', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity <= 10
             |  UNION ALL
             |  SELECT 'delete', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'A' AND l_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT 'delete', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity <= 20
             |  UNION ALL
             |  SELECT 'update_preimage', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |  UNION ALL
             |  SELECT 'update_postimage', l_quantity, l_extendedprice * 0.9
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type ORDER BY _change_type""".stripMargin)),
    "s16_stream_tracked_feed" -> Entry(
      StreamingQueries.s16StreamTrackedFeed,
      // three paced batches (full load, R read-modify-write discounting
      // qty>40 only, scattered DV delete in A) through the TRACKED keyless
      // feed stream: per-type aggregates recomputed relationally — carried
      // unchanged rows surface only as their batch-1 insert
      Some("""WITH base AS (
             |  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag
             |  FROM lineitem WHERE l_orderkey % 4 = 1)
             |SELECT _change_type, count(*) AS n_rows,
             |       round(sum(l_quantity), 2) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_price
             |FROM (
             |  SELECT 'insert' AS _change_type, l_quantity, l_extendedprice
             |  FROM base
             |  UNION ALL
             |  SELECT 'delete', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'A' AND l_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT 'update_preimage', l_quantity, l_extendedprice
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |  UNION ALL
             |  SELECT 'update_postimage', l_quantity, l_extendedprice * 0.9
             |  FROM base WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY _change_type ORDER BY _change_type""".stripMargin)),
    "s14_stream_dv_convergence" -> Entry(
      StreamingQueries.s14StreamDvConvergence,
      // replaying the streamed change feed reconstructs the logical final
      // state: A minus the DV-hidden rows, N untouched, R as rewritten
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       round(sum(l_quantity), 2) AS sum_qty
             |FROM (
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'A' AND l_orderkey % 10 <> 0
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'N'
             |  UNION ALL
             |  SELECT l_returnflag, l_quantity FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_quantity > 40
             |) GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s01_stream_tumbling" -> Entry(
      StreamingQueries.s01StreamTumblingCounts,
      // tumbling 1h windows are epoch-aligned: window(t, '1 hour') ≡
      // [date_trunc('hour', ts), +1h)
      Some("""SELECT date_trunc('hour', ts) AS w_start,
             |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
             |       event_type, count(*) AS n_events,
             |       round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin)),

    "s07_stream_versioned_sink" -> Entry(
      StreamingQueries.s07StreamVersionedSink,
      // the versioned read-back of the last complete-mode micro-batch holds
      // the full aggregation — same window algebra as s01
      Some("""SELECT date_trunc('hour', ts) AS w_start,
             |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
             |       event_type, count(*) AS n_events,
             |       round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin)),

    "s08_stream_partitioned_sink" -> Entry(
      StreamingQueries.s08StreamPartitionedSink,
      // same algebra as s01/s07; the partition column rides the dir layout
      Some("""SELECT date_trunc('hour', ts) AS w_start,
             |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
             |       event_type, count(*) AS n_events,
             |       round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin)),

    "s02_stream_sliding" -> Entry(
      StreamingQueries.s02StreamSlidingCounts,
      // sliding (1h, 30m) windows are epoch-aligned: an event belongs to
      // exactly the two 30-minute-grid starts within the past hour
      Some("""WITH b AS (SELECT date_trunc('hour', ts)
             |       + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
             |              ELSE INTERVAL 0 MINUTE END AS bkt,
             |       event_type FROM events),
             |w AS (SELECT bkt - k * INTERVAL 30 MINUTE AS w_start, event_type
             |      FROM b, generate_series(0, 1) g(k))
             |SELECT w_start, event_type, count(*) AS n_events
             |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    "s04_stream_session" -> Entry(
      StreamingQueries.s04StreamSession,
      // session splits from microsecond-timestamp gaps: Spark's session end
      // (last event + gap) is EXCLUSIVE, so a new session starts iff the
      // gap is >= 30 minutes; epoch_us truncates nanos exactly like the
      // engine's microsecond event-time column
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS us,
             |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |                                 ORDER BY epoch_us(ts), event_id) AS prev_us
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, us,
             |         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
             |              THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |sess AS (
             |  SELECT user_id, us,
             |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             |  FROM m)
             |SELECT min(us) AS s_start, user_id, count(*) AS n_events
             |FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin)),

    "e11_repetition" -> Entry(
      Pipeline.e11Repetition,
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS s
             |       FROM toks, generate_series(1, 2000) g(i)
             |       WHERE i <= CASE WHEN len(tk) - 2 > 2000
             |                       THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
             |                       ELSE len(tk) - 2 END),
             |agg AS (SELECT doc_id, count(*) AS n_shingles, count(DISTINCT s) AS n_distinct
             |        FROM sh GROUP BY doc_id)
             |SELECT doc_id, n_shingles, n_distinct,
             |       round(1.0 - CAST(n_distinct AS DOUBLE) / n_shingles, 6) AS rep_ratio
             |FROM agg ORDER BY doc_id""".stripMargin)),

    "e12_contamination" -> Entry(
      Pipeline.e12Contamination,
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
             |       FROM toks, generate_series(1, 2000) g(i)
             |       WHERE i <= CASE WHEN len(tk) - 2 > 2000
             |                       THEN CAST(error('doc exceeds 2000-shingle oracle cap') AS BIGINT)
             |                       ELSE len(tk) - 2 END),
             |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
             |train AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
             |shared AS (SELECT doc_id, count(*) AS n_shared
             |           FROM train JOIN bench USING (s) GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id)
             |SELECT tot.doc_id, n_grams,
             |       COALESCE(n_shared, 0) AS n_shared,
             |       round(CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_grams, 6) AS contamination
             |FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id
             |ORDER BY tot.doc_id""".stripMargin)),

    "s05_stream_join" -> Entry(
      StreamingQueries.s05StreamJoin,
      // the engine joins on the microsecond event-time column, so the
      // interval bound is exact in the epoch_us domain
      Some("""SELECT c.event_id AS click_id, v.event_id AS view_id
             |FROM events c JOIN events v
             |  ON c.user_id = v.user_id
             | AND c.event_type = 'click' AND v.event_type = 'view'
             | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
             |ORDER BY click_id, view_id""".stripMargin)),

    "s06_stream_alerts" -> Entry(
      StreamingQueries.s06StreamAlerts,
      // values are strictly positive, so the first-crossing set equals the
      // final-total filter; only the ids are compared (crossing-time totals
      // depend on micro-batch splits)
      Some("""SELECT user_id FROM events GROUP BY user_id
             |HAVING sum(value) >= 3000 ORDER BY user_id""".stripMargin)),

    "e13_pii_redact" -> Entry(
      Pipeline.e13PiiRedact,
      // same concat-derived contact line on both sides; the patterns are
      // plain character classes (identical under Java regex and RE2) and
      // DuckDB's regexp_replace needs the 'g' flag to match Spark's
      // replace-all semantics
      Some("""WITH r AS (SELECT doc_id,
             |  text || 'contact user' || doc_id || '@mail.example.com or call 555-' ||
             |  lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0') AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
             |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]', '[EMAIL]', 'g'),
             |                 '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean
             |FROM r ORDER BY doc_id""".stripMargin)),

    "e14_bigram_counts" -> Entry(
      Pipeline.e14BigramCounts,
      Some("""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents
             |           WHERE len(string_split(text, ' ')) >= 2),
             |b AS (SELECT tk[i] || ' ' || tk[i + 1] AS bigram
             |      FROM t, generate_series(1, 2000) g(i)
             |      WHERE i <= CASE WHEN len(tk) - 1 > 2000
             |                      THEN CAST(error('doc exceeds 2000-token oracle cap') AS BIGINT)
             |                      ELSE len(tk) - 1 END)
             |SELECT bigram, count(*) AS n FROM b
             |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // bounded claim (q11 pattern): the oracle computes what a collision-free
    // 64-bit fingerprint MUST produce — distinct-text counts and a zero
    // collision count — and the engine's xxhash64 has to deliver it
    "e6_fingerprint" -> Entry(
      Pipeline.e6Fingerprint,
      Some("""SELECT count(*) AS n_rows,
             |       count(DISTINCT text) AS n_distinct_fp,
             |       count(DISTINCT substring(text, 1, 64)) AS n_distinct_prefix_fp,
             |       CAST(0 AS BIGINT) AS n_fp_collisions
             |FROM documents""".stripMargin)),
    "e6b_rolling_hash" -> Entry(
      Pipeline.e6bRollingHash,
      Some("""SELECT doc_id,
             |       list_reduce(
             |         list_prepend(CAST(0 AS BIGINT),
             |           list_transform(generate_series(1, length(text)),
             |                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             |         (h, c) -> (h * 31 + c) % 1000000007) AS rhash
             |FROM documents ORDER BY doc_id""".stripMargin))
  )

  def queries: Map[String, QueryFn] = entries.map { case (k, e) => k -> e.fn }

  def oracleSql: Map[String, String] =
    entries.collect { case (k, Entry(_, Some(sql))) => k -> sql }
}
