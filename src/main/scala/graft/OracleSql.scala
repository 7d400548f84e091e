package graft

/** DuckDB oracle SQL mirroring each SparkEntry query, column-for-column.
  *
  * Conventions matching SparkEntry (see SURVEY §5): DECIMAL(18,2) casts for
  * money math, `CAST(x AS DOUBLE)` before any division, epoch-second
  * BIGINTs for timestamps, deterministic tie-breaks everywhere.
  * `q_dup_clusters` IS oracle-checked: the
  * iterative min-label propagation's fixpoint equals the transitive
  * closure's per-node min label, which DuckDB computes with a recursive
  * CTE — the oracle checks the ALGORITHM'S RESULT, not its rounds.
  *
  * DTYPE HYGIENE (round-9 convention, after the q_transitions flake):
  * every FINAL output column must have an engine-portable type. DuckDB
  * silently promotes integer aggregates — `SUM(BIGINT)` → HUGEINT
  * (INT128), and `//` inherits the promotion — and the driver's hasher
  * serializes INT128 differently from Spark's INT64, so an uncast
  * SUM/`//` in the outermost SELECT hash-fails even when every value is
  * identical. Rule: wrap any outermost integer aggregate or integer
  * division in `CAST(... AS BIGINT)` (see q_transitions p_ppm, q_bm25
  * score_ppm, q_cms_heavy est_cnt). Intermediate CTEs don't need it.
  * `tools/dtype_sweep.py` re-checks all oracles against a Verify dump.
  */
object OracleSql {

  private val orderScoreSql =
    """(CASE o_orderpriority WHEN '1-URGENT' THEN 40 WHEN '2-HIGH' THEN 50
      |      WHEN '3-MEDIUM' THEN 20 WHEN '5-LOW' THEN 10 ELSE 0 END
      | + CASE WHEN o_orderstatus = 'F' THEN 5 ELSE 0 END
      | + CASE WHEN o_totalprice <= 1000 THEN 2 WHEN o_totalprice <= 5000 THEN 4
      |        WHEN o_totalprice <= 10000 THEN 6 WHEN o_totalprice <= 25000 THEN 8
      |        WHEN o_totalprice <= 50000 THEN 10 WHEN o_totalprice <= 100000 THEN 12
      |        WHEN o_totalprice <= 200000 THEN 14 ELSE 16 END)""".stripMargin

  private val severityCase =
    """CASE WHEN %s >= 95 THEN 'Severe' WHEN %s >= 75 THEN 'High'
      |     WHEN %s >= 50 THEN 'Moderate' WHEN %s >= 25 THEN 'Low'
      |     ELSE 'Minimal' END""".stripMargin

  private def severity(c: String) = severityCase.format(c, c, c, c)

  /** Shared CTE chain for the dbt-models-layer queries: dress
    * orders/customer/nation as the Street Manager permit-event table +
    * dimensions (the exact mirror of SparkEntry.modelPermitEvents /
    * modelOpenUsrns / modelLinkedIds), then run the list DAG
    * (in-progress + completed London lists -> enriched union ->
    * deci-point weights -> raw per-USRN totals). */
  private val modelAuthoritiesSql =
    "('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7', 'NATION_9', 'NATION_11', 'NATION_19', 'NATION_23')"

  /** The lists→enr→wtd→raw impact chain over an `inprog$sfx`/`done$sfx`
    * CTE pair — shared by the London (`sfx = ""`) and England
    * (`sfx = "_eng"`) model oracles, which differ only in how the two
    * input lists were filtered/excluded. */
  private def modelImpactChainSql(sfx: String): String =
    s"""lists$sfx AS (
       |  SELECT usrn, street_name, highway_authority,
       |    highway_authority_swa_code, work_category, is_ttro_required,
       |    is_traffic_sensitive, traffic_management_type_ref
       |  FROM inprog$sfx
       |  UNION ALL
       |  SELECT usrn, street_name, highway_authority,
       |    highway_authority_swa_code, work_category, is_ttro_required,
       |    is_traffic_sensitive, traffic_management_type_ref
       |  FROM done$sfx),
       |enr$sfx AS (SELECT l.*, COALESCE(c.uprn_count, 0) AS uprn_count,
       |    u.geometry
       |  FROM lists$sfx l
       |  LEFT JOIN cnts c ON CAST(l.usrn AS BIGINT) = c.usrn
       |  LEFT JOIN usrn_dim u ON CAST(l.usrn AS BIGINT) = u.usrn),
       |wtd$sfx AS (SELECT usrn, street_name, highway_authority,
       |    LOWER(highway_authority_swa_code) AS highway_authority_swa_code,
       |    uprn_count, geometry,
       |    (CASE work_category WHEN 'Standard' THEN 20 WHEN 'Major' THEN 50
       |       WHEN 'Minor' THEN 10 WHEN 'HS2 (Highway)' THEN 20
       |       WHEN 'Immediate - urgent' THEN 40
       |       WHEN 'Immediate - emergency' THEN 40 ELSE 0 END
       |     + CASE WHEN is_ttro_required = 'Yes' THEN 5 ELSE 0 END
       |     + CASE WHEN is_traffic_sensitive = 'Yes' THEN 5 ELSE 0 END
       |     + CASE WHEN traffic_management_type_ref IS NULL THEN 5
       |         WHEN traffic_management_type_ref IN ('road_closure',
       |           'contra_flow', 'lane_closure', 'convoy_workings',
       |           'multi_way_signals', 'two_way_signals') THEN 20
       |         WHEN traffic_management_type_ref IN ('give_and_take',
       |           'stop_go_boards', 'priority_working') THEN 10
       |         WHEN traffic_management_type_ref =
       |           'some_carriageway_incursion' THEN 5
       |         WHEN traffic_management_type_ref =
       |           'no_carriageway_incursion' THEN 0
       |         ELSE 0 END
       |     + CASE WHEN uprn_count <= 5 THEN 2 WHEN uprn_count <= 10 THEN 4
       |         WHEN uprn_count <= 25 THEN 6 WHEN uprn_count <= 50 THEN 8
       |         WHEN uprn_count <= 100 THEN 10 WHEN uprn_count <= 200 THEN 12
       |         WHEN uprn_count <= 500 THEN 14 ELSE 16 END) AS impact10
       |  FROM enr$sfx),
       |raw$sfx AS (SELECT usrn, street_name, highway_authority,
       |    highway_authority_swa_code, uprn_count, geometry,
       |    SUM(impact10) AS total10
       |  FROM wtd$sfx GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin

  private val modelCtes: String =
    s"""oc AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       |         c_name, n_name, n_nationkey
       |       FROM orders
       |       JOIN customer ON o_custkey = c_custkey
       |       JOIN nation ON c_nationkey = n_nationkey),
       |ev AS (SELECT
       |    CAST(o_orderkey AS VARCHAR) AS permit_reference_number,
       |    o_orderkey * 10 + v AS event_reference,
       |    CAST(o_orderkey * 10 + v AS VARCHAR) AS event_time,
       |    CASE WHEN o_orderstatus = 'F' AND v = 2 THEN 'WORK_STOP'
       |         ELSE 'WORK_START' END AS event_type,
       |    CASE WHEN o_orderstatus = 'O' THEN 'in_progress'
       |         WHEN o_orderstatus = 'F' THEN 'completed'
       |         ELSE 'proposed' END AS work_status_ref,
       |    n_name AS highway_authority,
       |    'SWA' || CAST(n_nationkey AS VARCHAR)
       |      AS highway_authority_swa_code,
       |    CASE WHEN o_orderkey % 13 = 0 THEN 'Section 81'
       |         WHEN o_orderpriority = '1-URGENT' THEN
       |           (CASE WHEN o_orderkey % 2 = 0 THEN 'Immediate - urgent'
       |                 ELSE 'Immediate - emergency' END)
       |         WHEN o_orderpriority = '2-HIGH' THEN 'Major'
       |         WHEN o_orderpriority = '3-MEDIUM' THEN 'Standard'
       |         WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'Minor'
       |         ELSE 'HS2 (Highway)' END AS work_category,
       |    CASE WHEN o_orderkey % 2 = 0 THEN 'Yes' ELSE 'No' END
       |      AS is_ttro_required,
       |    CASE WHEN o_orderkey % 3 = 0 THEN 'Yes' ELSE 'No' END
       |      AS is_traffic_sensitive,
       |    CASE (o_orderkey + v) % 13
       |      WHEN 0 THEN 'road_closure' WHEN 1 THEN 'contra_flow'
       |      WHEN 2 THEN 'lane_closure' WHEN 3 THEN 'convoy_workings'
       |      WHEN 4 THEN 'multi_way_signals' WHEN 5 THEN 'two_way_signals'
       |      WHEN 6 THEN 'give_and_take' WHEN 7 THEN 'stop_go_boards'
       |      WHEN 8 THEN 'priority_working'
       |      WHEN 9 THEN 'some_carriageway_incursion'
       |      WHEN 10 THEN 'no_carriageway_incursion'
       |      WHEN 11 THEN NULL ELSE 'lane_rental' END
       |      AS traffic_management_type_ref,
       |    c_name AS street_name,
       |    CAST(o_custkey AS VARCHAR) AS usrn,
       |    o_orderpriority AS activity_type,
       |    CAST(o_custkey % 60 AS VARCHAR) AS promoter_swa_code,
       |    'PROM#' || CAST(o_custkey % 60 AS VARCHAR)
       |      AS promoter_organisation,
       |    CASE WHEN o_orderkey % 7 = 0 THEN 'Yes' ELSE 'No' END
       |      AS collaborative_working
       |  FROM oc CROSS JOIN (SELECT unnest([1, 2]) AS v)),
       |usrn_dim AS (SELECT c_custkey AS usrn,
       |    'POINT (' || CAST(c_custkey % 1000 AS VARCHAR) || ' ' ||
       |      CAST(c_nationkey * 10 AS VARCHAR) || ')' AS geometry
       |  FROM customer),
       |cnts AS (SELECT o_custkey AS usrn, COUNT(*) AS uprn_count
       |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
       |compl_keys AS (SELECT DISTINCT permit_reference_number,
       |    highway_authority
       |  FROM ev
       |  WHERE work_status_ref = 'completed' AND event_type = 'WORK_STOP'),
       |inprog AS (SELECT * FROM (
       |    SELECT e.*, ROW_NUMBER() OVER (
       |        PARTITION BY permit_reference_number
       |        ORDER BY event_time DESC, event_reference DESC) AS rn
       |    FROM ev e
       |    WHERE work_status_ref = 'in_progress'
       |      AND highway_authority IN $modelAuthoritiesSql
       |      AND NOT EXISTS (SELECT 1 FROM compl_keys ck
       |        WHERE ck.permit_reference_number = e.permit_reference_number
       |          AND ck.highway_authority = e.highway_authority))
       |  WHERE rn = 1),
       |done AS (SELECT * FROM (
       |    SELECT e.*, ROW_NUMBER() OVER (
       |        PARTITION BY permit_reference_number
       |        ORDER BY event_time DESC, event_reference DESC) AS rn
       |    FROM ev e
       |    WHERE work_status_ref = 'completed' AND event_type = 'WORK_STOP'
       |      AND highway_authority IN $modelAuthoritiesSql)
       |  WHERE rn = 1),
       |${modelImpactChainSql("")}""".stripMargin

  /** England list CTEs (in_progress_list_england.sql:81-87 /
    * completed_list_england.sql): the exclusion is UNCORRELATED — a
    * completed WORK_STOP anywhere removes the permit reference, not just
    * in the same authority — and the authority universe is unfiltered.
    * Ends with the shared impact chain as `raw_eng`. */
  private val modelEngCtes: String =
    s"""inprog_eng AS (SELECT * FROM (
       |    SELECT e.*, ROW_NUMBER() OVER (
       |        PARTITION BY permit_reference_number
       |        ORDER BY event_time DESC, event_reference DESC) AS rn
       |    FROM ev e
       |    WHERE work_status_ref = 'in_progress'
       |      AND NOT EXISTS (SELECT 1 FROM compl_keys ck
       |        WHERE ck.permit_reference_number = e.permit_reference_number))
       |  WHERE rn = 1),
       |done_eng AS (SELECT * FROM (
       |    SELECT e.*, ROW_NUMBER() OVER (
       |        PARTITION BY permit_reference_number
       |        ORDER BY event_time DESC, event_reference DESC) AS rn
       |    FROM ev e
       |    WHERE work_status_ref = 'completed'
       |      AND event_type = 'WORK_STOP')
       |  WHERE rn = 1),
       |${modelImpactChainSql("_eng")}""".stripMargin

  /** impact_scores_{london,england}.sql final SELECT: min–max
    * normalisation of the raw totals to 1–100 over `raw$sfx`. */
  private def modelImpactScoresSelectSql(sfx: String): String =
    s"""b AS (SELECT MIN(total10) AS mn10, MAX(total10) AS mx10 FROM raw$sfx)
       |SELECT usrn, street_name, highway_authority,
       |  highway_authority_swa_code,
       |  CAST(uprn_count AS BIGINT) AS uprn_count, geometry,
       |  CAST(total10 AS DOUBLE) / 10 AS total_impact_level,
       |  CASE WHEN mx10 = mn10 THEN 50.0
       |       ELSE 1.0 + (99.0 * (total10 - mn10))
       |            / CAST(mx10 - mn10 AS DOUBLE) END AS impact_index_score,
       |  ${severity("impact_index_score")} AS impact_category
       |FROM raw$sfx, b""".stripMargin

  /** impact_scores_highway_authority_{london,england}.sql final CTEs:
    * per-USRN integer rank counts, authority rollup, breakdown counts
    * and the authority-level percent rank, over `raw$sfx`/`enr$sfx`. */
  private def modelAuthorityScoresSelectSql(sfx: String): String =
    s"""rk AS (SELECT raw$sfx.*,
       |         CAST(RANK() OVER (ORDER BY total10) - 1 AS BIGINT) AS cl
       |       FROM raw$sfx),
       |nn AS (SELECT CAST(GREATEST(COUNT(*) - 1, 1) AS DOUBLE) AS denom
       |       FROM raw$sfx),
       |agg AS (SELECT highway_authority, highway_authority_swa_code,
       |    COUNT(DISTINCT usrn) AS total_usrns_count,
       |    CAST(SUM(uprn_count) AS DOUBLE) / COUNT(*) AS avg_uprn_count,
       |    CAST(SUM(uprn_count) AS BIGINT) AS total_uprn_count,
       |    SUM(total10) AS t10, COUNT(*) AS nr,
       |    MAX(total10) AS mx10, MIN(total10) AS mn10, SUM(cl) AS sum_cl
       |  FROM rk GROUP BY 1, 2),
       |bd AS (SELECT highway_authority,
       |    LOWER(highway_authority_swa_code) AS highway_authority_swa_code,
       |    COUNT(CASE WHEN work_category = 'Major' THEN 1 END)
       |      AS major_works_count,
       |    COUNT(CASE WHEN work_category = 'Standard' THEN 1 END)
       |      AS standard_works_count,
       |    COUNT(CASE WHEN work_category = 'Minor' THEN 1 END)
       |      AS minor_works_count,
       |    COUNT(CASE WHEN work_category = 'HS2 (Highway)' THEN 1 END)
       |      AS hs2_works_count,
       |    COUNT(CASE WHEN work_category IN
       |      ('Immediate - urgent', 'Immediate - emergency') THEN 1 END)
       |      AS emergency_works_count,
       |    COUNT(CASE WHEN is_ttro_required = 'Yes' THEN 1 END)
       |      AS ttro_required_count,
       |    COUNT(CASE WHEN is_traffic_sensitive = 'Yes' THEN 1 END)
       |      AS traffic_sensitive_count,
       |    COUNT(CASE WHEN traffic_management_type_ref IN
       |      ('road_closure', 'contra_flow', 'lane_closure',
       |       'convoy_workings', 'multi_way_signals', 'two_way_signals')
       |      THEN 1 END) AS high_impact_traffic_mgmt_count
       |  FROM enr$sfx GROUP BY 1, 2),
       |rkd AS (SELECT agg.*,
       |    PERCENT_RANK() OVER (ORDER BY t10) * 100
       |      AS highway_authority_impact_score
       |  FROM agg)
       |SELECT highway_authority, highway_authority_swa_code,
       |  CAST(total_usrns_count AS BIGINT) AS total_usrns_count,
       |  avg_uprn_count, total_uprn_count,
       |  CAST(t10 AS DOUBLE) / 10 AS total_impact_level,
       |  (CAST(t10 AS DOUBLE) / 10) / nr AS avg_impact_level_per_usrn,
       |  CAST(mx10 AS DOUBLE) / 10 AS max_impact_level,
       |  CAST(mn10 AS DOUBLE) / 10 AS min_impact_level,
       |  100.0 * sum_cl / denom AS total_impact_index_score,
       |  100.0 * sum_cl / denom / nr AS avg_impact_index_score,
       |  highway_authority_impact_score,
       |  ${severity("highway_authority_impact_score")} AS impact_category,
       |  major_works_count, standard_works_count, minor_works_count,
       |  hs2_works_count, emergency_works_count, ttro_required_count,
       |  traffic_sensitive_count, high_impact_traffic_mgmt_count
       |FROM rkd CROSS JOIN nn
       |LEFT JOIN bd USING (highway_authority, highway_authority_swa_code)"""
      .stripMargin

  /** usrn_permit_details_{london,england}.sql: the two dedup'd lists
    * unioned to the detail projection, licence flags from the SWA
    * dimension (same deterministic dressing as SparkEntry.modelSwaCodes). */
  private def modelPermitDetailsSelectSql(sfx: String): String =
    s"""swa AS (SELECT k,
       |    CASE WHEN k % 2 = 0 THEN 'Yes' ELSE 'No' END
       |      AS ofgem_electricity_licence,
       |    CASE WHEN k % 3 = 0 THEN 'Yes' ELSE 'No' END
       |      AS ofgem_gas_licence,
       |    CASE WHEN k % 5 = 0 THEN 'Yes' ELSE 'No' END AS ofcom_licence,
       |    CASE WHEN k % 7 = 0 THEN 'Yes' ELSE 'No' END AS ofwat_licence
       |  FROM (SELECT DISTINCT c_custkey % 60 AS k FROM customer)),
       |det AS (
       |  SELECT usrn, street_name, highway_authority,
       |    permit_reference_number, promoter_organisation, work_category,
       |    activity_type, is_ttro_required, is_traffic_sensitive,
       |    traffic_management_type_ref, collaborative_working,
       |    promoter_swa_code
       |  FROM inprog$sfx
       |  UNION ALL
       |  SELECT usrn, street_name, highway_authority,
       |    permit_reference_number, promoter_organisation, work_category,
       |    activity_type, is_ttro_required, is_traffic_sensitive,
       |    traffic_management_type_ref, collaborative_working,
       |    promoter_swa_code
       |  FROM done$sfx)
       |SELECT usrn, street_name, highway_authority,
       |  permit_reference_number, promoter_organisation, work_category,
       |  activity_type, is_ttro_required, is_traffic_sensitive,
       |  traffic_management_type_ref, collaborative_working,
       |  ofgem_electricity_licence, ofgem_gas_licence, ofcom_licence,
       |  ofwat_licence
       |FROM det d LEFT JOIN swa s ON CAST(d.promoter_swa_code AS INT) = s.k"""
      .stripMargin

  /** q_zorder oracle: the SAME 16-bit min/max normalization and 32
    * bit-interleave terms as sinks.ZOrder.zValue, generated rather than
    * hand-unrolled (bit b of column i lands at position b*2 + i). */
  private val zorderSql: String = {
    val terms = (0 until 16).flatMap { b =>
      Seq(s"(((nx >> $b) & 1) << ${b * 2})", s"(((ny >> $b) & 1) << ${b * 2 + 1})")
    }.mkString(" | ")
    def norm(c: String, mn: String, mx: String) =
      s"CASE WHEN $mx - $mn <= 0 THEN 0 ELSE LEAST(65535, GREATEST(0, " +
        s"CAST(FLOOR(($c - $mn) / (($mx - $mn) / 65536.0)) AS BIGINT))) END"
    s"""WITH p AS (SELECT event_id, CAST(value AS DOUBLE) AS x,
       |             CAST(event_id AS DOUBLE) AS y FROM events),
       |st AS (SELECT MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy FROM p),
       |n AS (SELECT event_id,
       |        ${norm("x", "mnx", "mxx")} AS nx,
       |        ${norm("y", "mny", "mxy")} AS ny
       |      FROM p CROSS JOIN st)
       |SELECT event_id, $terms AS zval FROM n""".stripMargin
  }

  private val toksSql =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  /** q_bpe_encode: the merge chain is generated from the SAME Scala
    * constant the Spark query folds into its plan
    * ([[SparkEntry.BpeMerges]]), so the two sides cannot drift. A word
    * renders as `' a  b  c '` (each symbol owns both flanking spaces);
    * merge (a,b) is then `replace(s, ' a  b ', ' ab ')` — literal,
    * greedy, non-overlapping in both engines. */
  private def bpeEncodeSql: String = {
    val spaced = "' ' || array_to_string(string_split(w, ''), '  ') || ' '"
    val chain = SparkEntry.BpeMerges.foldLeft(spaced) { case (s, (a, b)) =>
      s"replace($s, ' $a  $b ', ' ${a + b} ')"
    }
    s"""WITH e AS (SELECT doc_id,
       |  list_transform($toksSql,
       |    w -> string_split(trim($chain), '  ')) AS ew
       |  FROM documents),
       |r AS (SELECT doc_id, ew,
       |        array_to_string(list_transform(ew,
       |          a -> array_to_string(a, ' ')), ' | ') AS enc
       |      FROM e)
       |SELECT doc_id, CAST(len(flatten(ew)) AS BIGINT) AS n_bpe,
       |  md5(enc) AS enc_md5, substr(enc, 1, 40) AS enc_head
       |FROM r""".stripMargin
  }


  /** Unigram-LM encode mirror: the EXACT integer Viterbi the native
    * UnigramSegment expression runs, unrolled as UnigramChunk NESTED
    * subselect levels — one added column per level, so every dp value
    * is a physical column of the level below. (A single SELECT with
    * lateral alias references looks equivalent but DuckDB resolves
    * those by INLINING: d24's expanded tree is ~4^24 nodes and the
    * query never finishes. Nesting pins the evaluation to O(P*L) per
    * row — measured 0.63 s for 50k chunks.) The MAP literal and every
    * constant render from SparkEntry.UnigramPieces — the same
    * constants that build the Spark expression's table. Both engines'
    * substr/len count CODE POINTS, so chunking and piece lookups
    * align; integer costs + the first-minimal-candidate tie rule
    * (CASE arms in ascending split-start order) reproduce the DP's
    * longest-final-piece choice bit-exactly. The DP runs on DISTINCT
    * chunks and joins back (the corpus re-uses words). Separators are
    * inserted CONDITIONALLY (s_j = '' means "no pieces yet") rather
    * than leading-sep + ltrim: ltrim would also strip a first piece's
    * own leading U+001F characters, silently diverging from the Spark
    * side on a corpus that contains the separator char. */
  private def unigramEncodeSql: String = {
    def q(x: String): String = x.replace("'", "''")
    val P = SparkEntry.UnigramChunk
    val L = SparkEntry.UnigramPieces.map(_._1.length).max
    val unk = SparkEntry.UnigramUnk
    val keys = SparkEntry.UnigramPieces.map(x => s"'${q(x._1)}'").mkString(", ")
    val vals = SparkEntry.UnigramPieces.map(_._2).mkString(", ")
    def costOf(j: Int, k: Int): String = {
      val sub = s"substr(w, ${j + 1}, ${k - j})"
      if (k - j == 1) s"coalesce(m[$sub][1], $unk)" else s"m[$sub][1]"
    }
    var dp = s"(SELECT w, MAP([$keys], [$vals]) AS m, " +
      "0::BIGINT AS d0, ''::VARCHAR AS s0, 0::BIGINT AS c0 FROM dw)"
    for (k <- 1 to P) {
      val js = math.max(0, k - L) until k
      val cands = js.map(j => s"(d$j + ${costOf(j, k)})").mkString(", ")
      dp = s"(SELECT *, CASE WHEN $k <= len(w) THEN " +
        s"list_aggregate([$cands], 'min') END AS d$k FROM $dp)"
      val arms = js.map(j =>
        s"WHEN (d$j + ${costOf(j, k)}) = d$k THEN " +
        s"(CASE WHEN s$j = '' THEN '' ELSE s$j || chr(31) END) || substr(w, ${j + 1}, ${k - j})")
        .mkString(" ")
      // piece-count twin of the same backtrack choice: counting via
      // string_split(enc) would overcount when a PIECE contains the
      // U+001F separator (it is a legal single-code-point UNK piece)
      val cntArms = js.map(j =>
        s"WHEN (d$j + ${costOf(j, k)}) = d$k THEN c$j + 1").mkString(" ")
      dp = s"(SELECT *, CASE WHEN d$k IS NOT NULL THEN (CASE $arms END) END " +
        s"AS s$k, CASE WHEN d$k IS NOT NULL THEN (CASE $cntArms END) END " +
        s"AS c$k FROM $dp)"
    }
    val finalS = "CASE len(w) " +
      (1 to P).map(k => s"WHEN $k THEN s$k").mkString(" ") + " END"
    val finalC = "CASE len(w) " +
      (1 to P).map(k => s"WHEN $k THEN c$k").mkString(" ") + " END"
    s"""WITH e AS (SELECT doc_id, regexp_extract_all(text, '${graft.operators.Bpe.PretokenPattern}') AS ws FROM documents),
       |w1 AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS word FROM e),
       |ch AS (SELECT doc_id, wi, generate_subscripts(cs, 1) AS ci, unnest(cs) AS w FROM
       |        (SELECT doc_id, wi, list_transform(range(0, CAST((len(word) + ${P - 1}) // $P AS INT)),
       |                 k -> substr(word, k * $P + 1, $P)) AS cs FROM w1)),
       |dw AS (SELECT DISTINCT w FROM ch),
       |seg AS (SELECT w, $finalS AS s, $finalC AS n FROM $dp),
       |agg AS (SELECT c.doc_id, string_agg(g.s, chr(31) ORDER BY c.wi, c.ci) AS enc,
       |               SUM(g.n) AS np
       |        FROM ch c JOIN seg g ON c.w = g.w GROUP BY c.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_pieces,
       |  md5(coalesce(a.enc, '')) AS enc_md5
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  /** Byte-level BPE mirror: the LUT, pretokenization pattern, and merge
    * chain all render from the SAME Scala constants the Spark side
    * folds into its plan (Bpe.byteAlphabet / PretokenPattern /
    * SparkEntry.BpeByteMerges). Byte extraction is hex-pair substr over
    * the UTF-8 blob (DuckDB blobs don't slice); RE2 has no lookahead,
    * which is exactly why PretokenPattern is lookahead-free. */
  private def bpeEncodeBytesSql: String = {
    def q(s: String): String = s.replace("'", "''")
    val lut = graft.operators.Bpe.byteAlphabet
      .map(c => s"'${q(c)}'").mkString("[", ", ", "]")
    val render = "' ' || array_to_string(list_transform(" +
      "range(1, octet_length(encode(w)) + 1), " +
      s"i -> $lut[('0x' || substr(hex(encode(w)), 2*i - 1, 2))::INT + 1]), '  ') || ' '"
    val chain = SparkEntry.BpeByteMerges.foldLeft(render) { case (s, (a, b)) =>
      s"replace($s, ' ${q(a)}  ${q(b)} ', ' ${q(a + b)} ')"
    }
    // the pattern text passes to RE2 verbatim: DuckDB single-quoted
    // strings keep backslashes literal, and every escape in the pattern
    // (\t \n \x0B \f \r \p{..}) reads identically in Java and RE2
    val pat = graft.operators.Bpe.PretokenPattern
    s"""WITH e AS (SELECT doc_id,
       |  list_transform(regexp_extract_all(text, '$pat'),
       |    w -> string_split(trim($chain), '  ')) AS ew
       |  FROM documents),
       |r AS (SELECT doc_id, ew,
       |        array_to_string(list_transform(ew,
       |          a -> array_to_string(a, ' ')), ' | ') AS enc
       |      FROM e)
       |SELECT doc_id, CAST(len(flatten(ew)) AS BIGINT) AS n_bpe,
       |  md5(enc) AS enc_md5, substr(enc, 1, 40) AS enc_head
       |FROM r""".stripMargin
  }

  /** Per-column profile of `customer` (q_profile_exact / q_profile_customer):
    * one UNION ALL branch per column; `extra` appends driver-row-specific
    * output columns (the HLL-sanity TRUE literal). */
  private def profileSql(extra: String): String = Seq(
    ("c_custkey", "bigint", "MIN(c_custkey)", "MAX(c_custkey)", "c_custkey"),
    ("c_name", "string", "MIN(length(c_name))", "MAX(length(c_name))", "c_name"),
    ("c_nationkey", "int", "MIN(c_nationkey)", "MAX(c_nationkey)", "c_nationkey"),
    ("c_acctbal", "double", "MIN(c_acctbal)", "MAX(c_acctbal)", "c_acctbal"),
    ("c_mktsegment", "string", "MIN(length(c_mktsegment))", "MAX(length(c_mktsegment))", "c_mktsegment"))
    .map { case (name, dtype, mn, mx, c) =>
      s"""SELECT '$name' AS "column", '$dtype' AS dtype, COUNT(*) AS n_rows,
         | COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
         | CAST($mn AS DOUBLE) AS min_or_minlen, CAST($mx AS DOUBLE) AS max_or_maxlen$extra
         |FROM customer""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** 16 minhash permutation aggregate expressions, a_i = 2i+3, b_i = 5i+7. */
  private val minhashAggs = (0 until 16)
    .map(i => s"MIN((hv * ${2 * i + 3} + ${5 * i + 7}) % 1000000007) AS mh$i")
    .mkString(",\n        ")
  private def bandSelectsFor(bands: Int): String = {
    val rows = 16 / bands
    (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"mh${b * rows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, CONCAT_WS('_', $cols) AS sig FROM sig"
    }.mkString("\n      UNION ALL\n      ")
  }
  private val bandSelects = bandSelectsFor(4)

  /** 60 simhash bit terms mirroring Dedup.simhash64 exactly. */
  private val simhashTerms = (0 until 60).map { b =>
    s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END"
  }.mkString("\n    + ")

  /** One Lloyd round as SQL: argmin assignment against `cPrev` (tie-break
    * on centroid id, mirroring min_by over struct(d2, cid)), then
    * string-routed decimal-exact per-(cell, dim) means — the exact
    * arithmetic IvfIndex.train runs, so 2 unrolled rounds reproduce
    * training bit-for-bit. */
  private def ivfAssign(aName: String, cPrev: String): String =
    ivfAssignRel(aName, cPrev, "ev")
  private def ivfAssignRel(aName: String, cPrev: String, rel: String): String =
    s"""$aName AS (SELECT vec_id, v, cid FROM (
       |  SELECT ev.vec_id, ev.v, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY ev.vec_id ORDER BY
       |           ev.vv - 2.0 * list_inner_product(ev.v, c.c) + list_inner_product(c.c, c.c), c.cid) AS rn
       |  FROM $rel ev CROSS JOIN $cPrev c) WHERE rn = 1)""".stripMargin
  private def ivfMeans(cName: String, aPrev: String): String =
    s"""$cName AS (SELECT cid, list(m ORDER BY dim) AS c FROM (
       |  SELECT cid, dim, CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS dim FROM $aPrev)
       |  GROUP BY cid, dim) GROUP BY cid)""".stripMargin

  /** Shared PQ pipeline (q_ann_pq / q_pq_verify): codebook → positional
    * argmin encode → ADC sums, ending at `ranked(vec_id, adc_d2)` with
    * the query vector excluded. */
  private def pqCtes: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |sp AS (SELECT unnest([0, 1, 2, 3]) AS s),
      |cb AS (SELECT sp.s, CAST(t.rn - 1 AS INT) AS cid,
      |         t.v[sp.s*16+1 : sp.s*16+16] AS c
      |       FROM (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
      |             FROM e ORDER BY vec_id LIMIT 16) t, sp),
      |subs AS (SELECT vec_id, sp.s, v[sp.s*16+1 : sp.s*16+16] AS sv FROM e, sp),
      |enc AS (SELECT vec_id, s, cid FROM (
      |   SELECT sub.vec_id, sub.s, cb.cid,
      |     ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
      |       list_inner_product(sub.sv, sub.sv)
      |         - 2.0 * list_inner_product(sub.sv, cb.c)
      |         + list_inner_product(cb.c, cb.c), cb.cid) AS rn
      |   FROM subs sub JOIN cb ON sub.s = cb.s) WHERE rn = 1),
      |qsub AS (SELECT s, sv, list_inner_product(sv, sv) AS qq
      |         FROM subs WHERE vec_id = 0),
      |adc AS (SELECT cb.s, cb.cid,
      |          q.qq - 2.0 * list_inner_product(q.sv, cb.c)
      |            + list_inner_product(cb.c, cb.c) AS d2
      |        FROM cb JOIN qsub q ON cb.s = q.s),
      |codes AS (SELECT vec_id,
      |   MAX(CASE WHEN s = 0 THEN cid END) AS c0,
      |   MAX(CASE WHEN s = 1 THEN cid END) AS c1,
      |   MAX(CASE WHEN s = 2 THEN cid END) AS c2,
      |   MAX(CASE WHEN s = 3 THEN cid END) AS c3
      |   FROM enc GROUP BY vec_id),
      |ranked AS (SELECT c.vec_id, a0.d2 + a1.d2 + a2.d2 + a3.d2 AS adc_d2
      |  FROM codes c
      |  JOIN adc a0 ON a0.s = 0 AND a0.cid = c.c0
      |  JOIN adc a1 ON a1.s = 1 AND a1.cid = c.c1
      |  JOIN adc a2 ON a2.s = 2 AND a2.cid = c.c2
      |  JOIN adc a3 ON a3.s = 3 AND a3.cid = c.c3
      |  WHERE c.vec_id <> 0)""".stripMargin

  /** Trained-PQ pipeline (q_ann_pq_trained): q_ann_pq's ADC search with
    * the positional codebooks replaced by PER-SUBSPACE 2-round Lloyd
    * training — each 16-dim slice gets the full q_ann_ivf CTE
    * discipline (dense init in vec_id order, argmin assignment,
    * string-routed decimal-exact means), then the final assignment IS
    * the PQ encode and the query's per-centroid d2 table IS the ADC. */
  private def pqTrainedSql: String = {
    val per = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = s * 16 + 16
      s"""ev$s AS (SELECT vec_id, v[$lo : $hi] AS v,
         |  list_inner_product(v[$lo : $hi], v[$lo : $hi]) AS vv FROM e),
         |c0$s AS (SELECT CAST(rn - 1 AS INT) AS cid, v AS c FROM (
         |  SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
         |  FROM ev$s ORDER BY vec_id LIMIT 8)),
         |${ivfAssignRel(s"a1$s", s"c0$s", s"ev$s")},
         |${ivfMeans(s"c1$s", s"a1$s")},
         |${ivfAssignRel(s"a2$s", s"c1$s", s"ev$s")},
         |${ivfMeans(s"c2$s", s"a2$s")},
         |${ivfAssignRel(s"af$s", s"c2$s", s"ev$s")},
         |adct$s AS (SELECT c.cid,
         |    q.vv - 2.0 * list_inner_product(q.v, c.c)
         |      + list_inner_product(c.c, c.c) AS d2
         |  FROM c2$s c, (SELECT v, vv FROM ev$s WHERE vec_id = 0) q)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |$per
       |SELECT af0.vec_id, t0.d2 + t1.d2 + t2.d2 + t3.d2 AS adc_d2
       |FROM af0
       |JOIN af1 ON af0.vec_id = af1.vec_id
       |JOIN af2 ON af0.vec_id = af2.vec_id
       |JOIN af3 ON af0.vec_id = af3.vec_id
       |JOIN adct0 t0 ON t0.cid = af0.cid
       |JOIN adct1 t1 ON t1.cid = af1.cid
       |JOIN adct2 t2 ON t2.cid = af2.cid
       |JOIN adct3 t3 ON t3.cid = af3.cid
       |WHERE af0.vec_id <> 0
       |ORDER BY adc_d2, af0.vec_id
       |LIMIT 10""".stripMargin
  }

  /** Min reachable label via recursive transitive closure — the fixpoint
    * both distributed connected-components paths (q_dup_clusters,
    * q_dup_clusters_star) converge to. */
  private def dupClustersSql: String =
    s"""$dupClusterCtes
       |SELECT n AS doc, MIN(m) AS cluster FROM reach GROUP BY n""".stripMargin

  /** The minhash-LSH star-edge transitive closure shared by
    * q_dup_clusters{,_star}, q_dedup_keep, and the curation pipeline:
    * ends at `reach(n, m)`. */
  private def dupClusterCtes: String =
    s"WITH RECURSIVE ${dupClusterChain("documents")}"

  /** The same chain without the WITH prefix, over any relation carrying
    * (doc_id, text) — splice into a larger WITH RECURSIVE chain.
    * `bands` controls the LSH band layout (16/bands rows per band:
    * fewer bands = stricter candidate threshold). */
  private def dupClusterChain(rel: String, bands: Int = 4): String =
    s"""toks AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM $rel),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000000007 AS hv FROM toks),
       |sig AS (SELECT doc_id,
       |        $minhashAggs
       |        FROM h GROUP BY doc_id),
       |bands AS (
       |      ${bandSelectsFor(bands)}
       |),
       |hubs AS (SELECT band, sig, MIN(doc_id) AS hub FROM bands GROUP BY band, sig),
       |stars AS (SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
       |          FROM bands b JOIN hubs h ON b.band = h.band AND b.sig = h.sig
       |          WHERE b.doc_id <> h.hub),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM stars
       |          UNION SELECT doc_b, doc_a FROM stars),
       |nodes AS (SELECT DISTINCT s AS n FROM edges),
       |reach(n, m) AS (
       |  SELECT n, n FROM nodes
       |  UNION
       |  SELECT e.s, r.m FROM edges e JOIN reach r ON e.d = r.n
       |)""".stripMargin

  /** Lloyd rounds for q_ann_ivf/_indexed — the ONE knob both the Spark
    * query (IvfIndex.train's `iters`) and the oracle's unrolled CTE
    * chain read, so they cannot drift. The chain below is generated
    * programmatically for ANY count (the z-order discipline): round r
    * assigns against round r-1's means and re-estimates. */
  val IvfTrainRounds: Int = 4

  private def annIvfSql: String = annIvfSqlRounds(IvfTrainRounds)

  private def annIvfSqlRounds(rounds: Int): String = {
    require(rounds >= 1, s"need at least one Lloyd round, got $rounds")
    val chain = (1 to rounds).map(r =>
      ivfAssign(s"a$r", s"c${r - 1}") + ",\n" +
        ivfMeans(s"c$r", s"a$r") + ",")
      .mkString("\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |ev AS (SELECT vec_id, v, list_inner_product(v, v) AS vv FROM e),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM ev ORDER BY vec_id LIMIT 8),
       |$chain
       |${ivfAssign("af", s"c$rounds")},
       |probes AS (SELECT cid FROM (
       |  SELECT c.cid, ROW_NUMBER() OVER (ORDER BY
       |    list_inner_product(c.c, c.c) - 2.0 * list_inner_product(c.c, q.q) + list_inner_product(q.q, q.q), c.cid) AS rn
       |  FROM c$rounds c, qv q) WHERE rn <= 4)
       |SELECT af.vec_id,
       | list_inner_product(af.v, q.q) /
       |   NULLIF(sqrt(list_inner_product(af.v, af.v)) * sqrt(list_inner_product(q.q, q.q)), 0) AS cos_sim
       |FROM af JOIN probes p ON af.cid = p.cid, qv q
       |WHERE af.vec_id <> 0
       |ORDER BY cos_sim DESC, af.vec_id
       |LIMIT 10""".stripMargin
  }

  /** LSH ANN oracle: embeds the SAME hyperplane literals Similarity uses
    * (values k/1024 are exactly representable in both decimal and binary,
    * so the SQL literals are bit-identical to the Scala doubles).
    * `multiProbe` widens the probe set to the Hamming-1 buckets (each
    * single-bit flip of the query bucket), mirroring annLshMultiProbe. */
  private def annLshSql: String = annLshSqlProbes(multiProbe = false)
  private def annLshMultiProbeSql: String = annLshSqlProbes(multiProbe = true)
  private def annLshSqlProbes(multiProbe: Boolean): String = {
    val planes = graft.operators.Similarity.hyperplanes(4, 64)
    val planeLits = planes.map(p =>
      p.map(v => BigDecimal(v).bigDecimal.toPlainString).mkString("[", ", ", "]"))
    val bucketTerms = planeLits.zipWithIndex.map { case (lit, i) =>
      s"CASE WHEN list_inner_product(v, $lit) >= 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END"
    }.mkString("\n    + ")
    val probePred =
      if (!multiProbe) "b.bucket = q.qbucket"
      else (Seq("b.bucket = q.qbucket") ++
        (0 until 4).map(p => s"b.bucket = xor(q.qbucket, CAST(${1L << p} AS BIGINT))"))
        .mkString("(", " OR ", ")")
    s"""WITH e AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |b AS (SELECT vec_id, v, (
       |  $bucketTerms
       |) AS bucket FROM e),
       |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
       |SELECT b.vec_id,
       | list_inner_product(b.v, q.qv) /
       |   NULLIF(sqrt(list_inner_product(b.v, b.v)) * sqrt(list_inner_product(q.qv, q.qv)), 0) AS cos_sim
       |FROM b, q
       |WHERE $probePred AND b.vec_id <> 0
       |ORDER BY cos_sim DESC, b.vec_id
       |LIMIT 10""".stripMargin
  }

  private val base: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS n_rows,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_conditional_counts" ->
      """SELECT o_orderstatus,
        | COUNT(*) AS n_orders,
        | COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
        | COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_distinct_on_latest" ->
      """SELECT user_id, event_id, event_type,
        | CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "q_enrich_multijoin" ->
      """SELECT c_custkey, c_name, LOWER(n_name) AS nation_name,
        | COALESCE(r_name, 'UNKNOWN') AS region_name, c_acctbal AS acctbal
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,

    "q_union_dedup" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus,
        | CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_sec
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        |            UNION ALL
        |            SELECT * FROM orders WHERE o_orderstatus = 'F'))
        |WHERE rn = 1""".stripMargin,

    "q_impact_scores" ->
      s"""WITH scored AS (SELECT o_custkey, $orderScoreSql AS score10 FROM orders),
         |per_cust AS (SELECT o_custkey, SUM(score10) AS total10, COUNT(*) AS n_orders
         |             FROM scored GROUP BY o_custkey),
         |ranked AS (SELECT o_custkey, n_orders,
         |   CAST(total10 AS DOUBLE) / 10 AS total_impact_level,
         |   PERCENT_RANK() OVER (ORDER BY CAST(total10 AS DOUBLE) / 10) * 100 AS impact_index_score
         | FROM per_cust)
         |SELECT o_custkey, n_orders, total_impact_level, impact_index_score,
         | ${severity("impact_index_score")} AS impact_category
         |FROM ranked""".stripMargin,

    "q_authority_rollup" ->
      s"""WITH scored AS (SELECT o_custkey, $orderScoreSql AS score10 FROM orders),
         |per_cust AS (SELECT o_custkey, SUM(score10) AS total10 FROM scored GROUP BY o_custkey),
         |by_auth AS (
         | SELECT n_name AS authority, COUNT(*) AS n_customers,
         |  SUM(total10) AS t10, MAX(total10) AS mx10, MIN(total10) AS mn10
         | FROM per_cust
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | GROUP BY n_name),
         |ranked AS (
         | SELECT authority, n_customers,
         |  CAST(t10 AS DOUBLE) / 10 AS total_impact_level,
         |  (CAST(t10 AS DOUBLE) / 10) / n_customers AS avg_impact_level,
         |  CAST(mx10 AS DOUBLE) / 10 AS max_impact_level,
         |  CAST(mn10 AS DOUBLE) / 10 AS min_impact_level,
         |  PERCENT_RANK() OVER (ORDER BY t10) * 100 AS authority_score
         | FROM by_auth)
         |SELECT authority, n_customers, total_impact_level, avg_impact_level,
         | max_impact_level, min_impact_level, authority_score,
         | ${severity("authority_score")} AS impact_category
         |FROM ranked""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank_in_group
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_group
        |      FROM orders)
        |WHERE rank_in_group <= 3""".stripMargin,

    "q_window_rolling" ->
      """SELECT user_id, event_id, value,
        | LAG(value) OVER w AS prev_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
        | CAST(ROW_NUMBER() OVER w AS INT) AS seq
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_date_duration" ->
      """WITH first_ship AS (SELECT l_orderkey, MIN(l_shipdate) AS min_ship FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderkey,
        | CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        | CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
        | CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(min_ship AS DATE)) AS INT) AS duration_days,
        | CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = EXTRACT(YEAR FROM min_ship)
        |            AND EXTRACT(MONTH FROM o_orderdate) = EXTRACT(MONTH FROM min_ship)
        |           THEN EXTRACT(DAY FROM min_ship) - EXTRACT(DAY FROM o_orderdate)
        |           ELSE EXTRACT(DAY FROM min_ship) END AS INT) AS month_scoped_duration
        |FROM orders JOIN first_ship ON o_orderkey = l_orderkey""".stripMargin,

    "q_cast_normalize" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS custkey_str,
        | LOWER(c_name) AS name_lc,
        | COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_clean,
        | CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal_dec,
        | CAST(c_nationkey AS BIGINT) AS nationkey_l
        |FROM customer""".stripMargin,

    "q_grouping_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    "q_pivot_event_counts" ->
      """SELECT user_id,
        | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        | COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
        | CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q_range_join_points" ->
      """WITH p AS (SELECT event_id, value AS x, CAST(event_id AS DOUBLE) AS y FROM events)
        |SELECT a.event_id AS a_id, COUNT(*) AS n_neighbors,
        | CAST(SUM(CAST(b.x AS DECIMAL(18,2))) AS DOUBLE) AS sum_neighbor_value
        |FROM p a JOIN p b
        | ON a.event_id <> b.event_id
        | AND abs(a.x - b.x) <= 5.0
        | AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25.0
        |GROUP BY a.event_id""".stripMargin,

    "q_geo_centroid" ->
      """SELECT l_orderkey, COUNT(*) AS n_points,
        | CAST(SUM(l_partkey % 1000) AS DOUBLE) / COUNT(*) AS centroid_x,
        | CAST(SUM(l_suppkey % 1000) AS DOUBLE) / COUNT(*) AS centroid_y,
        | MIN(l_partkey % 1000) AS min_x, MAX(l_partkey % 1000) AS max_x,
        | MIN(l_suppkey % 1000) AS min_y, MAX(l_suppkey % 1000) AS max_y
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    // WKT built from integer-valued coords; regexp parse mirrored in SQL
    // (sums < 2^53 => centroid arithmetic exact in both engines)
    "q_geo_wkt" ->
      """WITH w AS (
        |  SELECT event_id,
        |    'LINESTRING (' || CAST(event_id % 100 AS VARCHAR) || ' ' || CAST(user_id % 100 AS VARCHAR)
        |      || ', ' || CAST((event_id * 7) % 100 AS VARCHAR) || ' ' || CAST((user_id * 11) % 100 AS VARCHAR)
        |      || ', ' || CAST((event_id + user_id) % 100 AS VARCHAR) || ' ' || CAST((event_id * 3 + user_id * 5) % 100 AS VARCHAR)
        |      || ')' AS wkt
        |  FROM events),
        |p AS (
        |  SELECT event_id,
        |    regexp_extract_all(wkt, '(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?) (-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)', 0) AS pts
        |  FROM w),
        |c AS (
        |  SELECT event_id,
        |    CAST(len(pts) AS INT) AS n_vertices,
        |    list_sum(list_transform(pts, s -> CAST(string_split(s, ' ')[1] AS DOUBLE))) / len(pts) AS cx,
        |    list_sum(list_transform(pts, s -> CAST(string_split(s, ' ')[2] AS DOUBLE))) / len(pts) AS cy
        |  FROM p)
        |SELECT event_id, n_vertices, cx, cy,
        | sqrt((cx - 50.0) * (cx - 50.0) + (cy - 50.0) * (cy - 50.0)) AS dist_from_center,
        | ((50.0 - cx) * (50.0 - cx) + (50.0 - cy) * (50.0 - cy)) <= 625.0 AS near_center
        |FROM c""".stripMargin,

    // mirrors q_geo_wkb WITHOUT going through WKB: expected outputs come
    // straight from the integer coordinates, so the Spark side's
    // encode->parse round trip is checked against ground truth (absolute
    // byte-level encoding is pinned separately by WkbSpec golden hex)
    "q_geo_wkb" ->
      """WITH c AS (
        |  SELECT event_id,
        |    CAST((event_id % 89) + ((event_id * 5) % 89) + ((event_id * 2 + user_id * 3) % 89) AS DOUBLE) / 3 AS cx,
        |    CAST((user_id % 89) + ((user_id * 7) % 89) + ((event_id + user_id * 2) % 89) AS DOUBLE) / 3 AS cy
        |  FROM events)
        |SELECT event_id, CAST(3 AS INT) AS n_vertices, cx, cy,
        | sqrt((cx - 44.0) * (cx - 44.0) + (cy - 44.0) * (cy - 44.0)) AS dist_from_center,
        | ((44.0 - cx) * (44.0 - cx) + (44.0 - cy) * (44.0 - cy)) <= 400.0 AS near_center
        |FROM c""".stripMargin,

    // mirrors q_geo_geojson WITHOUT going through GeoJSON: expected
    // outputs come straight from the integer coordinate formulas (the
    // q_geo_wkb discipline — any parse drift moves cx/cy)
    "q_geo_geojson" ->
      """WITH c AS (
        |  SELECT event_id,
        |    event_id % 3 AS m,
        |    CAST(event_id % 89 AS DOUBLE) AS x1,
        |    CAST(user_id % 89 AS DOUBLE) AS y1,
        |    CAST((event_id * 7) % 89 AS DOUBLE) AS x2,
        |    CAST((user_id * 11) % 89 AS DOUBLE) AS y2,
        |    CAST((event_id + user_id) % 89 AS DOUBLE) AS x3,
        |    CAST((event_id * 3 + user_id * 5) % 89 AS DOUBLE) AS y3
        |  FROM events)
        |SELECT event_id,
        |  CASE m WHEN 0 THEN 'Point' WHEN 1 THEN 'LineString'
        |         ELSE 'Polygon' END AS gtype,
        |  CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT)
        |    AS n_vertices,
        |  CASE m WHEN 0 THEN x1 WHEN 1 THEN (x1 + x2 + x3) / 3
        |         ELSE (x1 + x2 + x3 + x1) / 4 END AS cx,
        |  CASE m WHEN 0 THEN y1 WHEN 1 THEN (y1 + y2 + y3) / 3
        |         ELSE (y1 + y2 + y3 + y1) / 4 END AS cy
        |FROM c""".stripMargin,

    "q_wellbeing_impact" ->
      """WITH p AS (SELECT event_id, value AS x, CAST(event_id AS DOUBLE) AS y FROM events),
        |agg AS (
        | SELECT a.event_id AS a_id, COUNT(*) AS n_postcodes,
        |  CAST(SUM(CAST(b.x AS DECIMAL(18,2))) AS DOUBLE) AS total_population
        | FROM p a JOIN p b
        |  ON a.event_id <> b.event_id
        |  AND abs(a.x - b.x) <= 5.0
        |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25.0
        | GROUP BY a.event_id)
        |SELECT a_id, n_postcodes, total_population,
        | a_id % 7 + 1 AS duration_days,
        | CAST(2.10 * (a_id % 7 + 1) AS DOUBLE) * total_population AS wellbeing_total_impact
        |FROM agg""".stripMargin,

    "q_tumbling_window" ->
      """SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hour_bucket,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value, ts FROM events),
        |g AS (SELECT *, CASE WHEN sec - LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 1800
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | MIN(sec) AS start_sec, MAX(sec) AS end_sec,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // same session construction as q_sessionize; the event-type sequence
    // reassembles under the unique (sec, event_id) order on both engines
    "q_session_sequences" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |g AS (SELECT *, CASE WHEN sec - LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 1800
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | md5(array_to_string(list(event_type ORDER BY sec, event_id), ',')) AS seq_md5
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // iterated min-per-step == the Spark side's one-pass greedy fold
    // (earliest-entry funnel); s2 carries t1 forward for the window cap
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |s1 AS (SELECT user_id, MIN(sec) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.sec) AS t2, MIN(s1.t1) AS t1
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.sec > s1.t1 AND e.sec <= s1.t1 + 86400
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.sec) AS t3
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.sec > s2.t2 AND e.sec <= s2.t1 + 86400
        |       GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, COUNT(*) AS users FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM s3""".stripMargin,

    "q_retention" ->
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_week FROM e
        |      WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM e)
        |SELECT c.cohort_week, a.wk - c.cohort_week AS week_offset, COUNT(*) AS users
        |FROM c JOIN a ON c.user_id = a.user_id
        |WHERE a.wk - c.cohort_week BETWEEN 0 AND 4
        |GROUP BY 1, 2""".stripMargin,

    "q_zorder" -> zorderSql,

    // L1 drift over the vocab union via the shared-tokens + unshared-mass
    // identity, everything in integer ppm (see Curate.sourceDrift)
    "q_source_drift" ->
      """WITH tc AS (SELECT source AS src,
        |              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |            FROM documents),
        |c AS (SELECT src, tok, COUNT(*) AS c FROM tc GROUP BY 1, 2),
        |p AS (SELECT src, tok,
        |        CAST(c * 1000000 // SUM(c) OVER (PARTITION BY src) AS BIGINT) AS p_ppm
        |      FROM c),
        |t AS (SELECT src, SUM(p_ppm) AS t FROM p GROUP BY 1),
        |sh AS (SELECT a.src AS src_a, b.src AS src_b,
        |         SUM(ABS(a.p_ppm - b.p_ppm)) AS d_shared,
        |         SUM(a.p_ppm) AS s_a, SUM(b.p_ppm) AS s_b
        |       FROM p a JOIN p b ON a.tok = b.tok AND a.src < b.src
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |  CAST(d_shared + (ta.t - s_a) + (tb.t - s_b) AS BIGINT) AS l1_ppm
        |FROM sh JOIN t ta ON sh.src_a = ta.src JOIN t tb ON sh.src_b = tb.src""".stripMargin,

    // same integer BM25 surrogate as TfIdf.bm25TopK: k1=1.2, b=0.8 as
    // x10 integers, idf_ppm = (N-df+1)*1e6 // (df+1); SUM -> HUGEINT in
    // DuckDB, cast back to BIGINT
    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |              FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n, SUM(dl) AS sl FROM dl),
        |hits AS (SELECT doc_id, tok FROM toks WHERE tok IN ('join', 'hash', 'window')),
        |dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM hits GROUP BY 1, 2),
        |sc AS (SELECT tf.doc_id,
        |         ((n - df + 1) * 1000000 // (df + 1)) * (tf * 22) //
        |           (tf * 10 + (12 * (2 + (8 * dl.dl * 10) // ((sl * 10) // n))) // 10) AS ts
        |       FROM tf JOIN dfreq USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
        |       CROSS JOIN st)
        |SELECT doc_id, CAST(SUM(ts) AS BIGINT) AS score_ppm FROM sc
        |GROUP BY 1 ORDER BY score_ppm DESC, doc_id LIMIT 50""".stripMargin,

    "q_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id FROM events),
        |t AS (SELECT event_type AS from_type,
        |        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS to_type
        |      FROM e),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    // the 4x256 md5-bucketed counter grid recomputed per (row, bucket):
    // bucket load = sum of exact counts hashing there; estimate = min row
    "q_cms_heavy" ->
      """WITH cnts AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1),
        |h AS (SELECT user_id, exact_cnt, i,
        |        ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS b
        |      FROM cnts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
        |bc AS (SELECT i, b, SUM(exact_cnt) AS load FROM h GROUP BY 1, 2)
        |SELECT h.user_id, CAST(MIN(bc.load) AS BIGINT) AS est_cnt,
        |       MIN(h.exact_cnt) AS exact_cnt
        |FROM h JOIN bc ON h.i = bc.i AND h.b = bc.b
        |GROUP BY h.user_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_md5, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(shl) AS sh FROM (
         |  SELECT doc_id, CASE WHEN len(toks) >= 4
         |    THEN list_distinct(list_transform(range(1, len(toks) - 2),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
         |    ELSE [] END AS shl FROM d)),
         |keep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 100),
         |shf AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |          FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
         | CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
         |FROM inter
         |JOIN counts ca ON ca.doc_id = doc_a
         |JOIN counts cb ON cb.doc_id = doc_b
         |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.01""".stripMargin,

    // the iterative min-label propagation converges to: every node labeled
    // with the MIN doc id reachable in the undirected star graph — which a
    // recursive transitive closure computes directly (components are small
    // dup groups, so the closure is bounded)
    "q_dup_clusters" -> dupClustersSql,
    // large-star/small-star fixpoint is the same result: one oracle, two
    // distributed algorithms verified against it
    "q_dup_clusters_star" -> dupClustersSql,

    "q_minhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000000007 AS hv FROM toks),
         |sig AS (SELECT doc_id,
         |        $minhashAggs
         |        FROM h GROUP BY doc_id),
         |bands AS (
         |      $bandSelects
         |),
         |keep AS (SELECT band, sig FROM bands GROUP BY band, sig HAVING COUNT(*) <= 64),
         |kept AS (SELECT b.doc_id, b.band, b.sig FROM bands b
         |         JOIN keep k ON b.band = k.band AND b.sig = k.sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM kept a JOIN kept b
         | ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin,

    // q_minhash_pairs' candidate set joined back to signatures and
    // distinct-token sets: sketch estimate vs exact Jaccard, integer ppm
    "q_minhash_verify" -> {
      val agree = (0 until 16)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000000007 AS hv FROM toks),
         |sig AS (SELECT doc_id,
         |        $minhashAggs
         |        FROM h GROUP BY doc_id),
         |bands AS (
         |      $bandSelects
         |),
         |keep AS (SELECT band, sig FROM bands GROUP BY band, sig HAVING COUNT(*) <= 64),
         |kept AS (SELECT b.doc_id, b.band, b.sig FROM bands b
         |         JOIN keep k ON b.band = k.band AND b.sig = k.sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM kept a JOIN kept b
         |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |ts AS (SELECT doc_id, list_distinct($toksSql) AS t FROM documents),
         |x AS (SELECT p.doc_a, p.doc_b,
         |        CAST($agree AS BIGINT) AS nm,
         |        CAST(len(list_filter(ta.t, v -> list_contains(tb.t, v))) AS BIGINT) AS inter,
         |        CAST(len(ta.t) + len(tb.t) AS BIGINT) AS tot
         |      FROM pairs p
         |      JOIN sig a ON p.doc_a = a.doc_id JOIN sig b ON p.doc_b = b.doc_id
         |      JOIN ts ta ON p.doc_a = ta.doc_id JOIN ts tb ON p.doc_b = tb.doc_id)
         |SELECT doc_a, doc_b,
         | (nm * 1000000) // 16 AS est_jaccard_ppm,
         | (inter * 1000000) // (tot - inter) AS exact_jaccard_ppm,
         | abs((nm * 1000000) // 16 - (inter * 1000000) // (tot - inter)) AS abs_err_ppm
         |FROM x""".stripMargin
    },

    "q_cosine_topk" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        |      FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        | list_inner_product(ev, qv) /
        |   NULLIF(sqrt(list_inner_product(ev, ev)) * sqrt(list_inner_product(qv, qv)), 0) AS cos_sim
        |FROM e, q
        |ORDER BY cos_sim DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q_embed_stats" ->
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |             generate_subscripts(embedding, 1) - 1 AS dim
        |           FROM embeddings)
        |SELECT label, CAST(dim AS INT) AS dim,
        | COUNT(CAST(CAST(v AS VARCHAR) AS DECIMAL(18,9))) AS n,
        | CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE)
        |   / COUNT(CAST(CAST(v AS VARCHAR) AS DECIMAL(18,9))) AS centroid_v
        |FROM x GROUP BY label, dim""".stripMargin,

    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars_calc,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS stop_hits,
         | CAST(floor(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000.0 / len(toks)) AS BIGINT) AS stop_ratio_ppm,
         | CAST(floor(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) * 100.0 / len(toks)) AS BIGINT) AS mean_tok_len_x100
         |FROM t""".stripMargin,

    "q_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         | CAST(len(toks) AS BIGINT) AS n_ws_tokens,
         | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens,
         | CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens
         |FROM t""".stripMargin,

    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('table','scan','join','query','index','merge','hash'))) AS BIGINT) AS score_db,
         |  CAST(len(list_filter(toks, x -> x IN ('spark','batch','row','data','filter','group','window'))) AS BIGINT) AS score_sp
         | FROM t)
         |SELECT doc_id, score_en, score_db, score_sp,
         | CASE WHEN greatest(score_db, score_en, score_sp) = 0 THEN 'und'
         |      WHEN score_db = greatest(score_db, score_en, score_sp) THEN 'db'
         |      WHEN score_en = greatest(score_db, score_en, score_sp) THEN 'en'
         |      WHEN score_sp = greatest(score_db, score_en, score_sp) THEN 'sp'
         |      ELSE 'und' END AS lang_pred
         |FROM s""".stripMargin,

    // hot lines = distinct-doc frequency > 2; docs reassembled in original
    // line order (pos is unique per doc, so the ordered list is stable)
    "q_boilerplate" ->
      """WITH l AS (SELECT doc_id,
        |             unnest(string_split(COALESCE(text, ''), ' table ')) AS line,
        |             generate_subscripts(string_split(COALESCE(text, ''), ' table '), 1) AS pos
        |           FROM documents),
        |hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
        |        GROUP BY line HAVING COUNT(*) > 2),
        |kept AS (SELECT l.doc_id, l.pos, l.line FROM l
        |         LEFT JOIN hot ON l.line = hot.line WHERE hot.line IS NULL),
        |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
        |         md5(array_to_string(list(line ORDER BY pos), chr(10))) AS clean_md5
        |       FROM kept GROUP BY doc_id),
        |t AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |       COALESCE(ka.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |       COALESCE(ka.clean_md5, md5('')) AS clean_md5
        |FROM t LEFT JOIN ka USING (doc_id)""".stripMargin,

    // first-occurrence filter: keep element i iff list_position finds it
    // first at i (1-based in DuckDB, mirroring array_position in Spark)
    "q_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' table ') AS lines FROM documents),
        |k AS (SELECT doc_id, lines,
        |        list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
        |      FROM t)
        |SELECT doc_id,
        | CAST(len(lines) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS n_unique_lines,
        | md5(array_to_string(kept, chr(10))) AS dedup_md5
        |FROM k""".stripMargin,

    // same 4-gram construction pattern as q_repetition's 3-grams; the
    // winnow is list_min over inclusive 1-based window slices
    "q_winnow" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(toks) >= 4
         |  THEN list_transform(range(1, len(toks) - 2),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         |  ELSE [] END AS g4 FROM t),
         |h AS (SELECT doc_id,
         |        list_transform(g4, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |      FROM g),
         |w AS (SELECT doc_id, hs, CASE WHEN hs IS NULL THEN NULL
         |  WHEN len(hs) >= 5
         |  THEN list_sort(list_distinct(list_transform(range(1, len(hs) - 3),
         |         i -> list_min(hs[i:i+4]))))
         |  ELSE [] END AS fp FROM h)
         |SELECT doc_id,
         | CAST(len(hs) AS BIGINT) AS n_kgrams,
         | CAST(len(fp) AS BIGINT) AS n_fingerprints,
         | md5(array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), ',')) AS fp_md5
         |FROM w""".stripMargin,

    // same 3-gram construction as q_repetition (list_distinct'ed), same
    // benchmark-df cap 64 as the Spark plan — capped universes keep the
    // join result cell-exact on both engines
    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         |  THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |  ELSE [] END AS g3 FROM t),
         |e AS (SELECT doc_id, unnest(g3) AS sh FROM g),
         |ba AS (SELECT doc_id, sh FROM e WHERE doc_id % 10 = 0),
         |keep AS (SELECT sh FROM ba GROUP BY sh HAVING COUNT(*) <= 64),
         |b AS (SELECT ba.doc_id, ba.sh FROM ba JOIN keep USING (sh)),
         |nb AS (SELECT doc_id AS doc_b, COUNT(*) AS n_bench_sh FROM b GROUP BY 1),
         |c AS (SELECT doc_id, sh FROM e WHERE doc_id % 10 <> 0),
         |j AS (SELECT c.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |      FROM c JOIN b ON c.sh = b.sh GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared, n_bench_sh,
         |       (n_shared * 1000000) // n_bench_sh AS coverage_ppm
         |FROM j JOIN nb USING (doc_b)
         |WHERE n_shared >= 2""".stripMargin,

    // the distributed prefix sum equals the global running-sum window
    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |             CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_chars, n_tokens,
         |        SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |      FROM t)
         |SELECT doc_id, n_chars, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 15000""".stripMargin,

    // identical md5-threshold predicate as Stats.hashSample (see
    // q_sample_stratified); the per-stratum rate is an exact integer ratio
    "q_balanced_sample" ->
      """WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |m AS (SELECT MIN(n) AS mn FROM c),
        |r AS (SELECT event_type, GREATEST((mn * 1000000) // n, 1) AS ppm FROM c, m)
        |SELECT e.event_type, e.event_id, e.user_id
        |FROM events e JOIN r USING (event_type)
        |WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < r.ppm""".stripMargin,

    "q_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         | list_reduce(list_prepend(CAST(0 AS BIGINT),
         |     list_transform(toks, x -> CAST(ascii(x) AS BIGINT) * 7 + length(x))),
         |   (a, b) -> (a * 31 + b) % 1000000007) AS fp
         |FROM t""".stripMargin,

    "q_repetition" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |    ELSE [] END AS g3 FROM d)
         |SELECT doc_id, n_tokens,
         | CAST(len(g3) AS BIGINT) AS n_3grams,
         | CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct_3grams,
         | CASE WHEN len(g3) > 0
         |   THEN (CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000000) // len(g3)
         |   ELSE CAST(0 AS BIGINT) END AS rep_ratio_ppm
         |FROM g""".stripMargin,

    // identical pattern strings + replacement order as Text.PiiPatterns
    // (Java-regex ∩ RE2 subset); DuckDB regexp_replace needs 'g' to match
    // Spark's global-replace default
    "q_pii_scrub" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    text || ' contact dev' || CAST(doc_id AS VARCHAR)
        |      || '@example.org via https://ex.org/d/' || CAST(doc_id AS VARCHAR)
        |      || CASE WHEN doc_id % 3 = 0
        |              THEN ' call +44 7700 900' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |              ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+[0-9][0-9 -]{7,}[0-9]')) AS INT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      'https?://[^\s]+', '[URL]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\+[0-9][0-9 -]{7,}[0-9]', '[PHONE]', 'g')) AS scrubbed_md5
        |FROM e""".stripMargin,

    // integer-ratio idf mirrors TfIdf.topTerms exactly (no ln(): libm
    // last-bit rounding differs across engines; the ratio induces the
    // same rarity ordering). DuckDB: INT*BIGINT stays BIGINT, // is
    // integer division.
    "q_tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS nd FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |             TRY_CAST(CAST(tf AS HUGEINT) * ((1000000::HUGEINT * nd) // df)
         |               AS BIGINT) AS score
         |           FROM tf JOIN dfreq USING (term), n)
         |SELECT doc_id, term, tf, df, score, rank_in_group FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank_in_group
         |  FROM scored)
         |WHERE rank_in_group <= 3""".stripMargin,

    // same md5-prefix-as-bigint hash Stats.hashSample / Md5Long use
    // (proven identical in the dup-clusters oracle); both operands
    // non-negative so % == pmod
    "q_sample_stratified" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
        |      < CASE WHEN event_type = 'purchase' THEN 500000 ELSE 20000 END""".stripMargin,

    "q_ntile" ->
      """SELECT c_custkey, c_acctbal,
        | CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS acctbal_quartile
        |FROM customer""".stripMargin,

    "q_exists_having" ->
      """SELECT n_name AS nation_name, COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name
        |HAVING COUNT(*) > 2""".stripMargin,

    "q_scalar_sub" ->
      """WITH a AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, a.avg_price
        |FROM orders, a
        |WHERE o_totalprice > a.avg_price""".stripMargin,

    "q_simhash" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
         |h AS (SELECT doc_id,
         |        list_transform(toks, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |      FROM t)
         |SELECT doc_id, (
         |  $simhashTerms
         |) AS simhash
         |FROM h""".stripMargin,

    // same simhash construction, then Hamming-block candidates (4 x 15-bit
    // exact-match blocks, cap 256 mirrored) verified by bit_count(xor)
    "q_simhash_pairs" -> {
      val blockSelects = (0 until 4).map(b =>
        s"SELECT doc_id, sh, $b AS blk, (sh >> ${b * 15}) & 32767 AS bv FROM s")
        .mkString("\n      UNION ALL\n      ")
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
         |h AS (SELECT doc_id,
         |        list_transform(toks, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |      FROM t),
         |s AS (SELECT doc_id, (
         |  $simhashTerms
         |) AS sh FROM h),
         |blocks AS (
         |      $blockSelects
         |),
         |keep AS (SELECT blk, bv FROM blocks GROUP BY blk, bv HAVING COUNT(*) <= 256),
         |kept AS (SELECT b.doc_id, b.sh, b.blk, b.bv FROM blocks b
         |         JOIN keep k ON b.blk = k.blk AND b.bv = k.bv),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 a.sh AS ha, b.sh AS hb
         |          FROM kept a JOIN kept b
         |           ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM pairs WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin
    },

    // same hyperplane-literal buckets as the ANN oracles; benchmark side
    // exploded to its Hamming-1 probe neighborhood, exact cosine verify
    "q_semantic_contamination" -> {
      val planes = graft.operators.Similarity.hyperplanes(4, 64)
      val planeLits = planes.map(p =>
        p.map(v => BigDecimal(v).bigDecimal.toPlainString).mkString("[", ", ", "]"))
      val bucketTerms = planeLits.zipWithIndex.map { case (l, i) =>
        s"CASE WHEN list_inner_product(v, $l) >= 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END"
      }.mkString("\n    + ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv, (
         |    $bucketTerms
         |  ) AS b FROM e),
         |c AS (SELECT vec_id AS doc_a, v AS va, nv AS na, b AS bucket
         |      FROM n WHERE vec_id % 10 <> 0),
         |bb AS (SELECT vec_id AS doc_b, v AS vb, nv AS nb, b FROM n WHERE vec_id % 10 = 0),
         |bp AS (SELECT doc_b, vb, nb,
         |         unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS bucket
         |       FROM bb)
         |SELECT c.doc_a, bp.doc_b,
         |       list_inner_product(c.va, bp.vb) / NULLIF(c.na * bp.nb, 0) AS cos_sim
         |FROM c JOIN bp USING (bucket)
         |WHERE list_inner_product(c.va, bp.vb) / NULLIF(c.na * bp.nb, 0) >= 0.3""".stripMargin
    },

    "q_ann_lsh" -> annLshSql,
    "q_ann_lsh_multiprobe" -> annLshMultiProbeSql,
    "q_ann_ivf" -> annIvfSql,

    // SemDeDup closure oracle: the q_ann_ivf discipline (Lloyd rounds
    // unrolled as CTEs, identical centroid/assignment arithmetic)
    // composed with the q_dedup_keep discipline (recursive transitive
    // closure -> min-label clusters -> keep canonical). Pairs use the
    // IVF cell as the blocking key exactly like the Spark side; the
    // cosine doubles are bit-identical (ordered fold + IEEE sqrt/div),
    // so the tau comparison cannot flip between engines.
    "q_semantic_dedup_keep" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |ev AS (SELECT vec_id, v, list_inner_product(v, v) AS vv FROM e),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM ev ORDER BY vec_id LIMIT 8),
         |${ivfAssign("a1", "c0")},
         |${ivfMeans("c1", "a1")},
         |${ivfAssign("a2", "c1")},
         |${ivfMeans("c2", "a2")},
         |${ivfAssign("af", "c2")},
         |pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb
         |          FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |          WHERE list_inner_product(a.v, b.v) /
         |            (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.33),
         |edges AS (SELECT pa AS s, pb AS d FROM pairs UNION SELECT pb, pa FROM pairs),
         |nodes AS (SELECT DISTINCT s AS n FROM edges),
         |reach(n, m) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT e2.s, r.m FROM edges e2 JOIN reach r ON e2.d = r.n
         |),
         |labels AS (SELECT n AS doc, MIN(m) AS cluster FROM reach GROUP BY n)
         |SELECT em.vec_id, em.label FROM embeddings em
         |WHERE NOT EXISTS (SELECT 1 FROM labels l
         |                  WHERE l.doc = em.vec_id AND l.doc <> l.cluster)""".stripMargin,
    // identical semantics to q_ann_ivf — the index changes the physical
    // layout (cell-partitioned parquet + partition pruning), not the math
    "q_ann_ivf_indexed" -> annIvfSql,

    // exact-distinct profile: one row per column of `customer`
    "q_profile_exact" -> profileSql(extra = ""),

    // HLL profile's driver row (r9 promotion from rows-only): same
    // deterministic columns plus hll_within_15pct, which Spark computes
    // as |HLL estimate - exact| <= 0.15*exact. Spark's HLL++ is
    // RNG-free, so for fixed testdata the boolean is stable and the
    // oracle can assert TRUE — a real gate on the HLL path, not a
    // rows-only shrug.
    "q_profile_customer" ->
      profileSql(extra = ",\n TRUE AS hll_within_15pct"),

    "q_binary_meta" ->
      """SELECT doc_id, 'text' AS modality,
        | CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        | md5(text) AS content_md5
        |FROM documents""".stripMargin,

    // ANALYTIC ground truth for the end-to-end encode→decode proof:
    // Spark synthesizes BMP/PNG/WAV/GIF payloads from these exact
    // modular formulas (SynthMedia), decodes them with the real codecs
    // (GIF exercises the LZW path; its gray ramp makes all three
    // channel sums equal the `b` formula sum), and
    // emits exact integer aggregates; the oracle never touches a byte —
    // it evaluates the same formulas over generate_series. A decoder
    // bug (filter predictor, row padding, sample order) breaks the
    // equality. Series bounds are the formula maxima (w≤24, h≤16,
    // ns≤640), filtered per-row to the actual size.
    "q_multimodal_decode" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 4 AS m,
        |         8 + (doc_id % 5) * 4 AS w,
        |         8 + (doc_id % 3) * 4 AS h,
        |         256 + (doc_id % 7) * 64 AS ns
        |  FROM documents
        |),
        |img AS (
        |  SELECT p.doc_id AS media_id,
        |         CASE WHEN p.m = 0 THEN 'bmp' ELSE 'png' END AS modality,
        |         CAST(p.w * p.h AS BIGINT) AS n_units,
        |         CAST(sum((p.doc_id*31 + (t.i % p.w)*7  + (t.i // p.w)*13) % 256) AS BIGINT) AS s0,
        |         CAST(sum((p.doc_id*17 + (t.i % p.w)*11 + (t.i // p.w)*3 ) % 256) AS BIGINT) AS s1,
        |         CAST(sum((p.doc_id*23 + (t.i % p.w)*5  + (t.i // p.w)*19) % 256) AS BIGINT) AS s2
        |  FROM p, generate_series(0, 24*16 - 1) AS t(i)
        |  WHERE p.m < 2 AND t.i < p.w * p.h
        |  GROUP BY 1, 2, 3
        |),
        |gif AS (
        |  SELECT p.doc_id AS media_id, 'gif' AS modality,
        |         CAST(p.w * p.h AS BIGINT) AS n_units,
        |         CAST(sum((p.doc_id*31 + (t.i % p.w)*7  + (t.i // p.w)*13) % 256) AS BIGINT) AS s0,
        |         CAST(sum((p.doc_id*31 + (t.i % p.w)*7  + (t.i // p.w)*13) % 256) AS BIGINT) AS s1,
        |         CAST(sum((p.doc_id*31 + (t.i % p.w)*7  + (t.i // p.w)*13) % 256) AS BIGINT) AS s2
        |  FROM p, generate_series(0, 24*16 - 1) AS t(i)
        |  WHERE p.m = 3 AND t.i < p.w * p.h
        |  GROUP BY 1, 2, 3
        |),
        |wav AS (
        |  SELECT doc_id AS media_id, 'wav' AS modality,
        |         CAST(ns AS BIGINT) AS n_units,
        |         CAST(sum(s * s) AS BIGINT) AS s0,
        |         CAST(sum(CASE WHEN i >= 1 AND ((s < 0) <> (sp < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |         CAST(max(abs(s)) AS BIGINT) AS s2
        |  FROM (
        |    SELECT p.doc_id, p.ns, t.i,
        |      (p.doc_id*7919 + t.i*104729) % 65536 - 32768 AS s,
        |      (p.doc_id*7919 + (t.i - 1)*104729) % 65536 - 32768 AS sp
        |    FROM p, generate_series(0, 640 - 1) AS t(i)
        |    WHERE p.m = 2 AND t.i < p.ns
        |  )
        |  GROUP BY 1, 2, 3
        |)
        |SELECT * FROM img UNION ALL SELECT * FROM gif
        |UNION ALL SELECT * FROM wav""".stripMargin,

    // INDEPENDENT formulation (not the union-scan mirror): nearest
    // eligible click per purchase via row_number over an inequality join —
    // checks the as-of SEMANTICS, not the algorithm. Tie-break min value
    // among the earliest ts, matching asofJoinDir's forward scan order.
    "q_asof_forward" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |             epoch_ns(ts) // 1000 AS tsu FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tsu,
        |        value AS purchase_value FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tsu, value FROM e WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, c.value AS cv, c.tsu AS ctsu,
        |        ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |                           ORDER BY c.tsu ASC, c.value ASC) AS rn
        |      FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.tsu >= p.tsu AND c.tsu <= p.tsu + 3600000000)
        |SELECT p.user_id, p.purchase_id, p.tsu AS purchase_ts_us,
        |       p.purchase_value, j.cv AS next_click_value,
        |       j.ctsu AS next_click_ts_us
        |FROM p LEFT JOIN j ON p.purchase_id = j.purchase_id AND j.rn = 1""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |             epoch_ns(ts) // 1000 AS tsu FROM events),
        |m AS (
        |  SELECT user_id, event_id AS purchase_id, tsu, value AS purchase_value,
        |         1 AS side, CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS rts
        |  FROM e WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, CAST(NULL AS BIGINT), tsu, CAST(NULL AS DOUBLE),
        |         0 AS side, value AS rv, tsu AS rts
        |  FROM e WHERE event_type = 'click'),
        |sel AS (
        |  SELECT *,
        |    last_value(rv IGNORE NULLS) OVER w AS asof_click_value,
        |    last_value(rts IGNORE NULLS) OVER w AS asof_click_ts_us
        |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY tsu, side
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, purchase_id, tsu AS purchase_ts_us, purchase_value,
        |       asof_click_value, asof_click_ts_us
        |FROM sel WHERE side = 1""".stripMargin,

    "q_quality_checks" ->
      """SELECT 'dup_orderkey' AS rule, COUNT(*) AS n_violations
        |FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'overlap_status_custkey', COUNT(*) FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'null_priority', COUNT(*) FROM orders WHERE o_orderpriority IS NULL
        |UNION ALL
        |SELECT 'accepted_status', COUNT(*) FROM orders
        |WHERE o_orderstatus NOT IN ('O', 'F', 'P') OR o_orderstatus IS NULL""".stripMargin,

    "q_percentiles" ->
      """WITH rk AS (SELECT event_type, value,
        |              row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |              COUNT(*) OVER (PARTITION BY event_type) AS n
        |            FROM events WHERE value IS NOT NULL)
        |SELECT event_type,
        | MAX(CASE WHEN rn = CAST(ceil(0.5 * n * (1 - 1e-12)) AS BIGINT) THEN value END) AS p50,
        | MAX(CASE WHEN rn = CAST(ceil(0.9 * n * (1 - 1e-12)) AS BIGINT) THEN value END) AS p90,
        | COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v
        |FROM rk GROUP BY event_type""".stripMargin,

    "q_top_tokens" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
         |FROM t GROUP BY tok
         |ORDER BY n_occurrences DESC, tok LIMIT 20""".stripMargin,

    "q_rolling_1h" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events)
        |SELECT user_id, event_id, sec,
        | COUNT(*) OVER w AS n_last_hour,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_last_hour
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |                    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nv FROM e)
        |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        | list_inner_product(a.v, b.v) / NULLIF(a.nv * b.nv, 0) AS cos_sim
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v) / NULLIF(a.nv * b.nv, 0) >= 0.25""".stripMargin,

    // same pair predicate as q_embed_neardup, then the same recursive
    // transitive closure as dupClustersSql: semantic (embedding-space)
    // duplicate clusters
    "q_semantic_clusters" ->
      """WITH RECURSIVE e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |nn AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nv FROM e),
        |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |          FROM nn a JOIN nn b ON a.label = b.label AND a.vec_id < b.vec_id
        |          WHERE list_inner_product(a.v, b.v) / NULLIF(a.nv * b.nv, 0) >= 0.25),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS n FROM edges),
        |reach(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e2.s, r.m FROM edges e2 JOIN reach r ON e2.d = r.n
        |)
        |SELECT n AS doc, MIN(m) AS cluster FROM reach GROUP BY n""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,

    // the share-cap cut: global window form of the grouped distributed
    // prefix sum; cum * 1e6 <= total * ppm compared exactly in HUGEINT
    "q_source_cap" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             CAST(len($toksSql) AS BIGINT) AS n_tokens, n_chars
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY source
         |          ORDER BY n_chars DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d),
         |t AS (SELECT CAST(SUM(n_tokens) AS HUGEINT) AS total FROM d)
         |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c, t
         |WHERE CAST(cum AS HUGEINT) * 1000000 <= total * 40000""".stripMargin,

    // corpus bigram LM: per-instance conditional probability in exact
    // integer ppm (c12 * 1e6 DIV c1), doc score = mean instance ppm
    "q_lm_score" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
         |         SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |           i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
         |         FROM tk WHERE len(t) >= 2)),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1)
         |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
         | CAST(SUM((c12.c12 * 1000000) // c1.c1) AS BIGINT) // COUNT(*) AS lm_score_ppm
         |FROM bg JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
         |        JOIN c1 ON bg.w1 = c1.w1
         |GROUP BY bg.doc_id""".stripMargin,

    // gaps-and-islands run id: rn_overall - rn_per_state is constant
    // exactly within a consecutive same-state run
    "q_state_intervals" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |r AS (SELECT user_id, event_type, sec,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY sec, event_id)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |          ORDER BY sec, event_id) AS run
        |      FROM e)
        |SELECT user_id, event_type, MIN(sec) AS from_sec,
        | MAX(sec) AS to_sec, COUNT(*) AS n_events
        |FROM r GROUP BY user_id, event_type, run""".stripMargin,

    // shoelace over the 4 deterministic integer-grid points, unrolled —
    // exact doubles, so |sum| / 2 and the 4 sqrt segment terms match
    // Spark's left-fold bit for bit
    "q_geo_area" ->
      """WITH p AS (SELECT event_id,
        |  CAST(event_id % 100 AS DOUBLE) AS x1, CAST(user_id % 100 AS DOUBLE) AS y1,
        |  CAST((event_id * 7) % 100 + 100 AS DOUBLE) AS x2, CAST((user_id * 11) % 100 AS DOUBLE) AS y2,
        |  CAST((event_id + user_id) % 100 + 100 AS DOUBLE) AS x3, CAST((event_id * 3 + user_id * 5) % 100 + 100 AS DOUBLE) AS y3,
        |  CAST((event_id * 13) % 100 AS DOUBLE) AS x4, CAST((user_id * 17) % 100 + 100 AS DOUBLE) AS y4
        |  FROM events)
        |SELECT event_id,
        |  ABS((x1*y2 - x2*y1) + (x2*y3 - x3*y2) + (x3*y4 - x4*y3) + (x4*y1 - x1*y4)) / 2 AS area,
        |  SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))
        |  + SQRT((x3-x2)*(x3-x2) + (y3-y2)*(y3-y2))
        |  + SQRT((x4-x3)*(x4-x3) + (y4-y3)*(y4-y3)) AS path_len
        |FROM p""".stripMargin,

    // point-in-time SCD2 lookup: latest state run starting <= sec-1;
    // from_sec ties break by state DESC, mirroring the as-of union's
    // last-ascending-value pick
    "q_pit_state" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |r AS (SELECT user_id, event_type, sec,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |          ORDER BY sec, event_id) AS run
        |      FROM e),
        |iv AS (SELECT user_id, event_type AS state, MIN(sec) AS from_sec
        |       FROM r GROUP BY user_id, event_type, run),
        |f AS (SELECT user_id, event_id, sec - 1 AS ls FROM e)
        |SELECT f.event_id, f.user_id,
        |  (SELECT iv.state FROM iv
        |   WHERE iv.user_id = f.user_id AND iv.from_sec <= f.ls
        |   ORDER BY iv.from_sec DESC, iv.state DESC LIMIT 1) AS prior_state,
        |  (SELECT MAX(iv.from_sec) FROM iv
        |   WHERE iv.user_id = f.user_id AND iv.from_sec <= f.ls) AS prior_from
        |FROM f""".stripMargin,

    // IVF-PQ: coarse assign to the first-8-by-id cells, residual v - c,
    // PQ books = first-16-by-id residual slices, per-cell ADC from the
    // query's residual in each probed cell — every distance the
    // vv - 2*lip + cc left-fold identity
    "q_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |ev AS (SELECT vec_id, v, list_inner_product(v, v) AS vv FROM e),
         |sp AS (SELECT unnest([0, 1, 2, 3]) AS s),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM ev ORDER BY vec_id LIMIT 8),
         |${ivfAssign("af", "c0")},
         |res AS (SELECT af.vec_id, af.cid,
         |          list_transform(range(1, len(af.v) + 1), i -> af.v[i] - c0.c[i]) AS r
         |        FROM af JOIN c0 USING (cid)),
         |rcb AS (SELECT sp.s, CAST(t.rn - 1 AS INT) AS pcid,
         |          t.r[sp.s*16+1 : sp.s*16+16] AS pc
         |        FROM (SELECT vec_id, r, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
         |              FROM res ORDER BY vec_id LIMIT 16) t, sp),
         |rsub AS (SELECT vec_id, cid, sp.s, r[sp.s*16+1 : sp.s*16+16] AS sv FROM res, sp),
         |enc AS (SELECT vec_id, s, pcid FROM (
         |   SELECT rs.vec_id, rs.s, rcb.pcid,
         |     ROW_NUMBER() OVER (PARTITION BY rs.vec_id, rs.s ORDER BY
         |       list_inner_product(rs.sv, rs.sv)
         |         - 2.0 * list_inner_product(rs.sv, rcb.pc)
         |         + list_inner_product(rcb.pc, rcb.pc), rcb.pcid) AS rn
         |   FROM rsub rs JOIN rcb ON rs.s = rcb.s) WHERE rn = 1),
         |qv AS (SELECT v FROM e WHERE vec_id = 0),
         |probes AS (SELECT cid FROM (
         |  SELECT c.cid, ROW_NUMBER() OVER (ORDER BY
         |    list_inner_product(c.c, c.c) - 2.0 * list_inner_product(c.c, q.v)
         |      + list_inner_product(q.v, q.v), c.cid) AS rn
         |  FROM c0 c, qv q) WHERE rn <= 4),
         |qres AS (SELECT c0.cid,
         |           list_transform(range(1, len(q.v) + 1), i -> q.v[i] - c0.c[i]) AS rq
         |         FROM c0 JOIN probes USING (cid), qv q),
         |qrsub AS (SELECT cid, sp.s, rq[sp.s*16+1 : sp.s*16+16] AS qsv FROM qres, sp),
         |adc AS (SELECT qr.cid, rcb.s, rcb.pcid,
         |          list_inner_product(qr.qsv, qr.qsv)
         |            - 2.0 * list_inner_product(qr.qsv, rcb.pc)
         |            + list_inner_product(rcb.pc, rcb.pc) AS d2
         |        FROM qrsub qr JOIN rcb ON qr.s = rcb.s),
         |codes AS (SELECT vec_id,
         |   MAX(CASE WHEN s = 0 THEN pcid END) AS c0,
         |   MAX(CASE WHEN s = 1 THEN pcid END) AS c1,
         |   MAX(CASE WHEN s = 2 THEN pcid END) AS c2,
         |   MAX(CASE WHEN s = 3 THEN pcid END) AS c3
         |   FROM enc GROUP BY vec_id)
         |SELECT af.vec_id, af.cid AS cell,
         |  a0.d2 + a1.d2 + a2.d2 + a3.d2 AS adc_d2
         |FROM af JOIN probes p ON af.cid = p.cid
         |JOIN codes cd ON cd.vec_id = af.vec_id
         |JOIN adc a0 ON a0.cid = af.cid AND a0.s = 0 AND a0.pcid = cd.c0
         |JOIN adc a1 ON a1.cid = af.cid AND a1.s = 1 AND a1.pcid = cd.c1
         |JOIN adc a2 ON a2.cid = af.cid AND a2.s = 2 AND a2.pcid = cd.c2
         |JOIN adc a3 ON a3.cid = af.cid AND a3.s = 3 AND a3.pcid = cd.c3
         |WHERE af.vec_id <> 0
         |ORDER BY adc_d2, af.vec_id LIMIT 10""".stripMargin,

    // context-window chunking: stride-40 starts, 50-token slices, digest
    // per chunk — slices truncate identically at the document tail
    "q_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, unnest(list_transform(
         |        list_filter(range(0, len(toks)), i -> i % 40 = 0),
         |        s -> struct_pack(ci := s // 40, ch := toks[s+1 : s+50]))) AS u
         |      FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(u.ci AS INT) AS chunk_idx,
         | CAST(len(u.ch) AS BIGINT) AS n_tokens,
         | md5(array_to_string(u.ch, ' ')) AS chunk_md5
         |FROM c""".stripMargin,

    // concurrency: the NAIVE interval-inequality join as the oracle for
    // the distributed sweep (same session construction as q_sessionize)
    "q_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value, ts FROM events),
        |g AS (SELECT *, CASE WHEN sec - LAG(sec) OVER w IS NULL OR sec - LAG(sec) OVER w > 1800
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS session_id FROM g),
        |sess AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |           MIN(sec) AS start_sec, MAX(sec) AS end_sec
        |         FROM s GROUP BY user_id, session_id)
        |SELECT s1.user_id, s1.session_id, s1.start_sec,
        |  CAST(COUNT(*) AS BIGINT) AS n_concurrent
        |FROM sess s1 JOIN sess s2
        |  ON s2.start_sec <= s1.start_sec AND s2.end_sec >= s1.start_sec
        |GROUP BY s1.user_id, s1.session_id, s1.start_sec""".stripMargin,

    // integer-exact PageRank, 2 rounds unrolled, over the same pair set
    // as q_embed_neardup (symmetric edges; every node degree >= 1)
    "q_pagerank" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |nn AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nv FROM e),
        |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |          FROM nn a JOIN nn b ON a.label = b.label AND a.vec_id < b.vec_id
        |          WHERE list_inner_product(a.v, b.v) / NULLIF(a.nv * b.nv, 0) >= 0.25),
        |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
        |pr0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |c1 AS (SELECT e2.d AS node, CAST(SUM(p.pr // dg.deg) AS BIGINT) AS sm
        |       FROM edges e2 JOIN pr0 p ON e2.s = p.node
        |                     JOIN deg dg ON e2.s = dg.s
        |       GROUP BY e2.d),
        |pr1 AS (SELECT node,
        |          CAST(150000 + (850000 * sm) // 1000000 AS BIGINT) AS pr FROM c1),
        |c2 AS (SELECT e2.d AS node, CAST(SUM(p.pr // dg.deg) AS BIGINT) AS sm
        |       FROM edges e2 JOIN pr1 p ON e2.s = p.node
        |                     JOIN deg dg ON e2.s = dg.s
        |       GROUP BY e2.d),
        |pr2 AS (SELECT node,
        |          CAST(150000 + (850000 * sm) // 1000000 AS BIGINT) AS pr FROM c2)
        |SELECT p.node, p.pr AS pr_ppm, d.deg AS degree
        |FROM pr2 p JOIN deg d ON p.node = d.s""".stripMargin,

    // deterministic exact-k per group: md5-hash order, same mapping as
    // hashSample's md5Long
    "q_group_sample" ->
      """SELECT doc_id, source, n_chars, rn AS sample_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin,

    // the full curation chain: quality gate -> md5 keep-min dedup ->
    // capped-inverted-index decontamination -> running-total budget cut;
    // every fragment identical to its standalone oracle
    "q_curation_pipeline" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |q AS (SELECT doc_id, source, text, CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CASE WHEN len(toks) >= 3
         |          THEN list_transform(range(1, len(toks) - 1),
         |                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         |          ELSE [] END AS g3
         |      FROM t WHERE doc_id % 10 <> 0),
         |gated AS (SELECT doc_id, source, text, n_tokens, g3 FROM q
         |  WHERE n_tokens >= 30 AND
         |    (CASE WHEN len(g3) > 0
         |       THEN (CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000000) // len(g3)
         |       ELSE CAST(0 AS BIGINT) END) <= 300000),
         |dd AS (SELECT * FROM (
         |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
         |    FROM gated) WHERE doc_id = canon),
         |${dupClusterChain("dd", bands = 2)},
         |labels AS (SELECT n AS doc, MIN(m) AS cluster FROM reach GROUP BY n),
         |nd AS (SELECT dd.* FROM dd
         |  WHERE NOT EXISTS (SELECT 1 FROM labels l
         |                    WHERE l.doc = dd.doc_id AND l.doc <> l.cluster)),
         |eb AS (SELECT doc_id, unnest(g3d) AS sh FROM (
         |    SELECT doc_id, CASE WHEN len(toks) >= 3
         |      THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |      ELSE [] END AS g3d FROM t WHERE doc_id % 10 = 0)),
         |keep AS (SELECT sh FROM eb GROUP BY sh HAVING COUNT(*) <= 64),
         |b AS (SELECT eb.doc_id, eb.sh FROM eb JOIN keep USING (sh)),
         |ec AS (SELECT doc_id, unnest(list_distinct(g3)) AS sh FROM nd),
         |cont AS (SELECT doc_a FROM (
         |    SELECT c.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ns
         |    FROM ec c JOIN b ON c.sh = b.sh GROUP BY 1, 2)
         |  WHERE ns >= 2 GROUP BY doc_a),
         |clean AS (SELECT doc_id, source, n_tokens FROM nd
         |  WHERE doc_id NOT IN (SELECT doc_a FROM cont)),
         |sel AS (SELECT doc_id, source, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM clean)
         |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM sel WHERE cum <= 8000""".stripMargin,

    // winnowed-fingerprint pairs: same fingerprint construction as
    // q_winnow, df-capped inverted index (cap mirrored), pair counts
    "q_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(toks) >= 4
         |  THEN list_transform(range(1, len(toks) - 2),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
         |  ELSE [] END AS g4 FROM t),
         |h AS (SELECT doc_id,
         |        list_transform(g4, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
         |      FROM g),
         |w AS (SELECT doc_id, CASE WHEN len(hs) >= 5
         |  THEN list_sort(list_distinct(list_transform(range(1, len(hs) - 3),
         |         i -> list_min(hs[i:i+4]))))
         |  ELSE [] END AS fp FROM h),
         |e AS (SELECT doc_id, unnest(fp) AS fp FROM w),
         |keep AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 64),
         |ke AS (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM ke a JOIN ke b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2""".stripMargin,

    // PQ ADC: 4 subspaces x 16-dim slices, codebook = sub-vectors of the
    // 16 smallest vec_ids (cid = position in id order, matching the Spark
    // positional codebook), d2 always the vv - 2*lip + cc identity with
    // left-fold dots, ADC sum left-associated — doubles bit-identical
    "q_ann_pq" ->
      s"""$pqCtes
         |SELECT vec_id, adc_d2 FROM ranked
         |ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin,

    // the materialized-codes variant encodes identically (same
    // deterministic codebooks), so the same SQL is its oracle
    "q_ann_pq_indexed" ->
      s"""$pqCtes
         |SELECT vec_id, adc_d2 FROM ranked
         |ORDER BY adc_d2, vec_id LIMIT 10""".stripMargin,

    // trained codebooks: four unrolled per-subspace Lloyd chains feed
    // the same ADC ranking (the q_ann_ivf discipline, sliced)
    "q_ann_pq_trained" -> pqTrainedSql,

    // the PQ accuracy audit (the ANN analogue of q_minhash_verify): ADC
    // top-50 next to the exact d2 against the raw vectors
    "q_pq_verify" ->
      s"""$pqCtes,
         |topk AS (SELECT vec_id, adc_d2 FROM ranked
         |         ORDER BY adc_d2, vec_id LIMIT 50),
         |qv AS (SELECT v AS q FROM e WHERE vec_id = 0)
         |SELECT t.vec_id, t.adc_d2,
         | list_inner_product(e.v, e.v) - 2.0 * list_inner_product(e.v, q.q)
         |   + list_inner_product(q.q, q.q) AS exact_d2
         |FROM topk t JOIN e ON t.vec_id = e.vec_id, qv q""".stripMargin,

    // the kept corpus after near-dup clustering: same closure CTEs as
    // q_dup_clusters, then drop every non-canonical cluster member
    "q_dedup_keep" ->
      s"""$dupClusterCtes,
         |labels AS (SELECT n AS doc, MIN(m) AS cluster FROM reach GROUP BY n)
         |SELECT d.doc_id, d.source, md5(d.text) AS text_md5
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM labels l
         |                  WHERE l.doc = d.doc_id AND l.doc <> l.cluster)""".stripMargin,

    // substring-level dedup spans: positional 10-grams, grams in >= 2
    // distinct docs are duplicated, touching/overlapping windows
    // (gap <= n) merge into maximal spans — mirrors Dedup.dupSpans
    "q_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p0 AS (SELECT doc_id, CASE WHEN len(toks) >= 10 THEN
         |         list_transform(range(1, len(toks) - 8),
         |           i -> struct_pack(pos := i - 1,
         |                  g := ('0x' || substr(md5(array_to_string(toks[i:i+9], ' ')), 1, 15))::BIGINT))
         |       ELSE [] END AS ws FROM t),
         |p AS (SELECT doc_id, u.pos AS pos, u.g AS g
         |      FROM (SELECT doc_id, unnest(ws) AS u FROM p0)),
         |d AS (SELECT g FROM p GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         |m AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (g)),
         |b AS (SELECT doc_id, pos,
         |        CASE WHEN pos - LAG(pos) OVER w IS NULL
         |               OR pos - LAG(pos) OVER w > 10 THEN 1 ELSE 0 END AS brk
         |      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |s AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
         |        ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
         |      FROM b)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |       CAST(MAX(pos) + 9 AS BIGINT) AS span_end,
         |       CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM s GROUP BY doc_id, span""".stripMargin,

    // substring-dedup materialization: same positional-gram CTEs as
    // q_dup_spans, covered positions by exploding each duplicated
    // window's [p, p+9] range, NOT EXISTS anti-join, reassemble in
    // position order
    "q_span_cut" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
         |        FROM (SELECT doc_id, unnest(list_transform(
         |                range(1, len(toks) + 1),
         |                i -> struct_pack(pos := i - 1, tok := toks[i]))) AS u
         |              FROM t)),
         |p0 AS (SELECT doc_id, CASE WHEN len(toks) >= 10 THEN
         |         list_transform(range(1, len(toks) - 8),
         |           i -> struct_pack(pos := i - 1,
         |                  g := ('0x' || substr(md5(array_to_string(toks[i:i+9], ' ')), 1, 15))::BIGINT))
         |       ELSE [] END AS ws FROM t),
         |p AS (SELECT doc_id, u.pos AS pos, u.g AS g
         |      FROM (SELECT doc_id, unnest(ws) AS u FROM p0)),
         |d AS (SELECT g FROM p GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         |m AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (g)),
         |cov AS (SELECT doc_id, unnest(list_transform(range(0, 10),
         |          k -> pos + k)) AS pos FROM m),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tok tk
         |         WHERE NOT EXISTS (SELECT 1 FROM cov c
         |           WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       md5(array_to_string(list(tok ORDER BY pos), ' ')) AS kept_md5
         |FROM kept GROUP BY doc_id""".stripMargin,

    // keep-canonical span cut: same CTEs, but each duplicated gram's
    // min-doc occurrence survives — the cut predicate is per window
    "q_span_cut_keep" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
         |        FROM (SELECT doc_id, unnest(list_transform(
         |                range(1, len(toks) + 1),
         |                i -> struct_pack(pos := i - 1, tok := toks[i]))) AS u
         |              FROM t)),
         |p0 AS (SELECT doc_id, CASE WHEN len(toks) >= 10 THEN
         |         list_transform(range(1, len(toks) - 8),
         |           i -> struct_pack(pos := i - 1,
         |                  g := ('0x' || substr(md5(array_to_string(toks[i:i+9], ' ')), 1, 15))::BIGINT))
         |       ELSE [] END AS ws FROM t),
         |p AS (SELECT doc_id, u.pos AS pos, u.g AS g
         |      FROM (SELECT doc_id, unnest(ws) AS u FROM p0)),
         |d AS (SELECT g, MIN(doc_id) AS canon FROM p GROUP BY g
         |      HAVING COUNT(DISTINCT doc_id) >= 2),
         |m AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (g)
         |      WHERE p.doc_id <> d.canon),
         |cov AS (SELECT doc_id, unnest(list_transform(range(0, 10),
         |          k -> pos + k)) AS pos FROM m),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tok tk
         |         WHERE NOT EXISTS (SELECT 1 FROM cov c
         |           WHERE c.doc_id = tk.doc_id AND c.pos = tk.pos))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       md5(array_to_string(list(tok ORDER BY pos), ' ')) AS kept_md5
         |FROM kept GROUP BY doc_id""".stripMargin,

    // naive-Bayes quality classifier: src0/src1 = reference class,
    // add-one-smoothed per-token posterior, mean over token instances,
    // all integer DIV
    "q_quality_classifier" ->
      s"""WITH tk AS (SELECT doc_id, source IN ('src0', 'src1') AS pos,
         |              unnest($toksSql) AS tok FROM documents),
         |model AS (SELECT tok,
         |            ((SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1) * 1000000)
         |              // (COUNT(*) + 2) AS ppm
         |          FROM tk GROUP BY tok)
         |SELECT tk.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(m.ppm) AS BIGINT) // COUNT(*) AS quality_ppm
         |FROM tk JOIN model m USING (tok)
         |GROUP BY tk.doc_id""".stripMargin,

    // per-source corpus health report: dup hashes counted corpus-wide,
    // quality signal in exact integer ppm
    "q_corpus_report" ->
      s"""WITH per AS (
         |  SELECT source, lang, md5(text) AS h,
         |    CAST(len(toks) AS BIGINT) AS nt,
         |    CAST(len(list_filter(toks,
         |      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
         |      AS BIGINT) AS sh
         |  FROM (SELECT source, lang, text, $toksSql AS toks FROM documents)),
         |p2 AS (SELECT source, lang, h, nt,
         |        CASE WHEN nt > 0 THEN (sh * 1000000) // nt ELSE 0 END AS stop_ppm
         |      FROM per),
         |d AS (SELECT h FROM p2 GROUP BY h HAVING COUNT(*) >= 2)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN h IN (SELECT h FROM d) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(SUM(stop_ppm) AS BIGINT) // COUNT(*) AS mean_stop_ppm
         |FROM p2 GROUP BY source""".stripMargin,

    // KMV sketch: the oracle recomputes the identical k smallest distinct
    // 55-bit hashes — the sketch is deterministic, so sketch AND estimate
    // are cell-exact (vs HLL's rows-only check)
    "q_kmv_distinct" ->
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS tok FROM documents),
         |h AS (SELECT source,
         |        (('0x' || substr(md5(tok), 1, 15))::BIGINT >> 5) AS hv
         |      FROM tk),
         |a AS (SELECT source, list_sort(list_distinct(list(hv))) AS hs,
         |        COUNT(DISTINCT hv) AS exact_distinct
         |      FROM h GROUP BY source)
         |SELECT source, exact_distinct,
         |  CASE WHEN len(hs) < 16 THEN CAST(len(hs) AS BIGINT)
         |       ELSE (15 * (1::BIGINT << 55)) // hs[16] END AS est_distinct
         |FROM a""".stripMargin,

    // one-pass histogram quantiles over an integral domain: the bounded
    // shuffle twin of q_percentiles — pure integer binning/rank math,
    // mirrored term for term (truncating DIV vs floor // differ only on
    // negative offsets, which both sides clamp to bin 0)
    "q_hist_quantiles" ->
      """WITH h AS (SELECT LEAST(GREATEST((n_chars - 0) // 10, 0), 99) AS bin,
        |             COUNT(*) AS cnt
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |        SUM(cnt) OVER (ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM h),
        |t AS (SELECT SUM(cnt) AS n FROM h),
        |q(q_ppm) AS (VALUES (100000), (250000), (500000), (750000),
        |             (900000), (990000), (1000000))
        |SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
        |  CAST(MIN(bin) AS BIGINT) AS bin,
        |  CAST(MIN(bin) * 10 AS BIGINT) AS bin_lo,
        |  CAST(MIN(cum) AS BIGINT) AS cum_count,
        |  CAST(MAX(n) AS BIGINT) AS n
        |FROM q, c, t
        |WHERE cum >= GREATEST((q_ppm * n + 999999) // 1000000, 1)
        |GROUP BY q_ppm""".stripMargin,

    // corpus BPE encode under the shared literal merge table
    // (SparkEntry.BpeMerges — same constants, zero drift): the
    // double-space symbol rendering makes every merge a LITERAL
    // greedy-left-to-right replace, identical in both engines (no regex)
    "q_bpe_encode" -> bpeEncodeSql,
    "q_bpe_encode_bytes" -> bpeEncodeBytesSql,
    "q_unigram_encode" -> unigramEncodeSql,

    // canonicalization: NFC (nfc_normalize == the native graft_nfc, both
    // UAX #15) + lower + non-alnum collapse + trim
    "q_canonicalize" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)),
        |       '[^a-z0-9]+', ' ', 'g')) AS canon
        |  FROM documents)
        |SELECT doc_id, CAST(length(canon) AS BIGINT) AS n_canon_chars,
        |  md5(canon) AS canon_md5, substr(canon, 1, 40) AS canon_head
        |FROM c""".stripMargin,

    // time-windowed aggregate; [from, to) in epoch seconds matches the
    // Spark side's native-domain pushed range (Tables.eventsBetween)
    "q_time_slice" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS first_sec,
        | MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec
        |FROM events
        |WHERE epoch(ts) >= 1704672000 AND epoch(ts) < 1705276800
        |GROUP BY event_type""".stripMargin,

    // temperature mixture, alpha = 0.5: sqrt is IEEE-correctly-rounded in
    // both engines (pow is not — why alpha is fixed); the rate floors to
    // integer ppm immediately, the keep predicate is the shared md5
    // threshold (see q_balanced_sample)
    "q_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |m AS (SELECT source, SUM(n_tokens) AS n FROM d
         |      WHERE source IS NOT NULL GROUP BY 1
         |      HAVING SUM(n_tokens) > 0),
         |mn AS (SELECT MIN(n) AS mn FROM m),
         |r AS (SELECT source, GREATEST(
         |        CAST(FLOOR(1000000.0 * sqrt(CAST(mn AS DOUBLE))
         |        / sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1) AS rate_ppm
         |      FROM m, mn)
         |SELECT d.doc_id, d.source, d.n_tokens, r.rate_ppm
         |FROM d JOIN r USING (source)
         |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % 1000000 < r.rate_ppm""".stripMargin,

    // the distributed token prefix sum equals the global running-sum
    // window; every output is cast at the boundary (SUM window is HUGEINT)
    "q_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
         |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_off,
         |  CAST((cum - 1) // 2048 - (cum - n_tokens) // 2048 AS BIGINT)
         |    AS n_splits
         |FROM c""".stripMargin,

    // the grouped distributed prefix sum (weight 1) equals the per-shard
    // ROW_NUMBER window; 's|'/'o|' salt the shard and order hashes away
    // from each other AND from hashSample's unsalted survival threshold
    "q_shard" ->
      """WITH d AS (SELECT doc_id, source,
        |    ('0x' || substr(md5('s|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 8 AS shard,
        |    ('0x' || substr(md5('o|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS ord
        |  FROM documents)
        |SELECT doc_id, source, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS BIGINT) AS shard_pos
        |FROM d""".stripMargin,

    // round-robin interleave: per-source shuffled round, then the global
    // (round, source) order; 'i|' salts the order hash
    "q_interleave" ->
      """WITH d AS (SELECT doc_id, source,
        |    ('0x' || substr(md5('i|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS ord
        |  FROM documents WHERE source IS NOT NULL),
        |r AS (SELECT doc_id, source,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY ord, doc_id) AS BIGINT) AS round
        |      FROM d)
        |SELECT doc_id, source, round,
        |  CAST(ROW_NUMBER() OVER (ORDER BY round, source, doc_id)
        |    AS BIGINT) AS global_pos
        |FROM r""".stripMargin,

    // packing segments: one row per (doc, spanned sequence) off the same
    // running-sum window as q_pack; range() enumerates the spanned ids
    "q_pack_segments" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM t WHERE n_tokens > 0),
         |e AS (SELECT doc_id, cum, cum - n_tokens AS s,
         |        unnest(range((cum - n_tokens) // 2048, (cum - 1) // 2048 + 1))
         |          AS seq_id
         |      FROM c)
         |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(GREATEST(s, seq_id * 2048) - s AS BIGINT) AS doc_off,
         |  CAST(GREATEST(s, seq_id * 2048) % 2048 AS BIGINT) AS seq_off,
         |  CAST(LEAST(cum, (seq_id + 1) * 2048)
         |    - GREATEST(s, seq_id * 2048) AS BIGINT) AS seg_len
         |FROM e""".stripMargin,

    // data-constrained epoch plan: budget 3x corpus tokens, 4-epoch cap,
    // integer sqrt weights (a SUM of doubles would be order-sensitive),
    // all products/floors in HUGEINT mirroring the DECIMAL(38,0) side;
    // one redistribution round, remainder unallocated by contract
    // unrolled water-filling, rounds = 3 (initial + 2 redistribution
    // CTE rounds) + the closing greedy fill window — mirrors
    // TrainMix.epochPlan's fixed unroll exactly; the fill makes
    // SUM(alloc) == LEAST(T, SUM(cap)) an identity both engines satisfy
    "q_epoch_plan" ->
      s"""WITH d AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS nt
         |           FROM documents WHERE source IS NOT NULL),
         |m AS (SELECT source, SUM(nt) AS n,
         |        CAST(FLOOR(SQRT(CAST(SUM(nt) AS DOUBLE))) AS BIGINT) AS w
         |      FROM d GROUP BY 1 HAVING SUM(nt) > 0),
         |t AS (SELECT SUM(n) AS tn, SUM(w) AS tw FROM m),
         |i AS (SELECT source, n, w, tw,
         |        (CAST(tn AS HUGEINT) * 3000000) // 1000000 AS tt,
         |        CAST(n AS HUGEINT) * 4 AS cap
         |      FROM m, t),
         |a0 AS (SELECT *,
         |        LEAST((CAST(w AS HUGEINT) * tt) // tw, cap) AS alloc0
         |       FROM i),
         |s1 AS (SELECT SUM(alloc0) AS sa0,
         |        SUM(CASE WHEN alloc0 < cap THEN w END) AS uw0 FROM a0),
         |a1 AS (SELECT a0.*,
         |        LEAST(alloc0 + CASE WHEN alloc0 >= cap OR uw0 IS NULL
         |            THEN CAST(0 AS HUGEINT)
         |            ELSE (CAST(w AS HUGEINT) * (tt - sa0)) // uw0 END,
         |          cap) AS alloc1
         |       FROM a0, s1),
         |s2 AS (SELECT SUM(alloc1) AS sa1,
         |        SUM(CASE WHEN alloc1 < cap THEN w END) AS uw1 FROM a1),
         |a2 AS (SELECT a1.*,
         |        LEAST(alloc1 + CASE WHEN alloc1 >= cap OR uw1 IS NULL
         |            THEN CAST(0 AS HUGEINT)
         |            ELSE (CAST(w AS HUGEINT) * (tt - sa1)) // uw1 END,
         |          cap) AS alloc2
         |       FROM a1, s2),
         |sf AS (SELECT SUM(alloc2) AS sa2, SUM(cap) AS sc FROM a2),
         |f AS (SELECT source, n, cap, alloc2 +
         |        GREATEST(LEAST(cap - alloc2,
         |          (LEAST(tt, sc) - sa2) -
         |            COALESCE(SUM(cap - alloc2) OVER (
         |              ORDER BY w DESC, source
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |              CAST(0 AS HUGEINT))),
         |          CAST(0 AS HUGEINT)) AS alloc
         |      FROM a2, sf)
         |SELECT source, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(alloc AS BIGINT) AS alloc_tokens,
         |  CAST((alloc * 1000000) // CAST(n AS HUGEINT) AS BIGINT) AS epochs_ppm,
         |  alloc = cap AS capped
         |FROM f""".stripMargin,

    // dbt-models layer (pipelines.Models over the real Street Manager
    // schema, dressed from orders/customer/nation — see SparkEntry
    // modelPermitEvents): uprn_usrn_count is the linked-identifier
    // rollup; the two impact models run the full list DAG (DISTINCT ON
    // dedup via ROW_NUMBER, correlated completed-WORK_STOP exclusion,
    // dimension joins, deci-point CASE weights, min-max / percent-rank
    // normalisation)
    "q_model_uprn_usrn_count" ->
      """SELECT c_custkey AS usrn, COUNT(*) AS uprn_count
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q_model_impact_scores" ->
      s"WITH $modelCtes,\n${modelImpactScoresSelectSql("")}",

    // the England variant: uncorrelated exclusion, unfiltered authority
    // universe (impact_scores_england.sql)
    "q_model_impact_scores_england" ->
      s"WITH $modelCtes,\n$modelEngCtes,\n${modelImpactScoresSelectSql("_eng")}",

    "q_model_authority_scores" ->
      s"WITH $modelCtes,\n${modelAuthorityScoresSelectSql("")}",

    // impact_scores_highway_authority_england.sql: same rollup over the
    // England lists — NOTE the percent ranks re-baseline to the wider
    // universe, so London rows differ from the London-model output
    "q_model_authority_scores_england" ->
      s"WITH $modelCtes,\n$modelEngCtes,\n${modelAuthorityScoresSelectSql("_eng")}",

    // usrn_permit_details_{london,england}: the two dedup'd lists unioned
    // to the detail projection, licence flags from the SWA dimension
    // (same deterministic dressing as SparkEntry.modelSwaCodes)
    "q_model_permit_details" ->
      s"WITH $modelCtes,\n${modelPermitDetailsSelectSql("")}",

    "q_model_permit_details_england" ->
      s"WITH $modelCtes,\n$modelEngCtes,\n${modelPermitDetailsSelectSql("_eng")}",

    // dbt data_tests as one summary frame: duplicate permits across the
    // list pair (London correlated / England uncorrelated) and the
    // impact-scores not_null checks; the zero counts ARE the semantics
    // (the exclusion join makes overlap impossible on clean data).
    // not_null is PER-COLUMN sums on BOTH sides (dbt runs one test per
    // column, so a hypothetical both-null row counts twice) — the Spark
    // side (Models.dataTestsFromEvents) uses the same two conditional
    // counts, so the semantics agree even off the zero-violations happy
    // path
    "q_model_data_tests" ->
      s"""WITH $modelCtes,
         |$modelEngCtes,
         |imp AS (SELECT uprn_count, CAST(total10 AS DOUBLE) / 10 AS til
         |        FROM raw)
         |SELECT 'assert_no_duplicate_permits_london' AS test_name,
         |  CAST((SELECT COUNT(*) FROM
         |    (SELECT permit_reference_number FROM inprog
         |     INTERSECT
         |     SELECT permit_reference_number FROM done)) AS BIGINT)
         |    AS violations
         |UNION ALL
         |SELECT 'assert_no_duplicate_permits_england',
         |  CAST((SELECT COUNT(*) FROM
         |    (SELECT permit_reference_number FROM inprog_eng
         |     INTERSECT
         |     SELECT permit_reference_number FROM done_eng)) AS BIGINT)
         |UNION ALL
         |SELECT 'impact_scores_not_null',
         |  CAST((SELECT COUNT(CASE WHEN til IS NULL THEN 1 END)
         |      + COUNT(CASE WHEN uprn_count IS NULL THEN 1 END)
         |    FROM imp) AS BIGINT)""".stripMargin,

    // wellbeing mart unrolled (SparkEntry modelWellbeingEvents dressing):
    // stg works = completed WORK_STOP + anti-joined in-progress, duration
    // CASE (day(e)-day(s) same-month else day(e); in-progress 7), DISTINCT
    // ON per (model, permit); int postcodes with census CASE closed-forms
    // (COALESCE-0 for c%5=0); the ±500 m radius join is the exact squared-
    // distance predicate; £2.10 formula in DECIMAL so ROUND is a no-op
    "q_model_wellbeing" ->
      """WITH oc AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_orderpriority, o_orderdate, c_name, n_name, n_nationkey
        |       FROM orders
        |       JOIN customer ON o_custkey = c_custkey
        |       JOIN nation ON c_nationkey = n_nationkey),
        |wev AS (SELECT
        |    CAST(o_orderkey AS VARCHAR) AS permit_reference_number,
        |    o_orderkey * 10 + v AS event_reference,
        |    CASE WHEN o_orderstatus = 'F' AND v = 2 THEN 'WORK_STOP'
        |         ELSE 'WORK_START' END AS event_type,
        |    CASE WHEN o_orderstatus = 'O' THEN 'in_progress'
        |         WHEN o_orderstatus = 'F' THEN 'completed'
        |         ELSE 'proposed' END AS wsr,
        |    n_name AS highway_authority,
        |    'SWA' || CAST(n_nationkey AS VARCHAR) AS swa,
        |    'PROM#' || CAST(o_custkey % 60 AS VARCHAR)
        |      AS promoter_organisation,
        |    o_orderpriority AS activity_type,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'Section 81'
        |         WHEN o_orderpriority = '1-URGENT' THEN
        |           (CASE WHEN o_orderkey % 2 = 0 THEN 'Immediate - urgent'
        |                 ELSE 'Immediate - emergency' END)
        |         WHEN o_orderpriority = '2-HIGH' THEN 'Major'
        |         WHEN o_orderpriority = '3-MEDIUM' THEN 'Standard'
        |         WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'Minor'
        |         ELSE 'HS2 (Highway)' END AS work_category,
        |    c_name AS street_name,
        |    CAST(o_custkey AS VARCHAR) AS usrn,
        |    CAST(o_orderdate AS DATE) AS sd,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 AS INTEGER)
        |      AS ed,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         ELSE CAST((o_orderkey % 100) * 1000
        |           + ((o_orderkey % 9) - 4) * 100 AS DOUBLE) END AS wx,
        |    CAST(((o_orderkey // 100) % 100) * 1000
        |      + ((o_orderkey % 7) - 3) * 100 AS DOUBLE) AS wy
        |  FROM oc CROSS JOIN (SELECT unnest([1, 2]) AS v)),
        |tagged AS (SELECT *,
        |    CASE WHEN work_category IN
        |        ('Immediate - urgent', 'Immediate - emergency')
        |        THEN 'emergency_wellbeing'
        |      WHEN work_category = 'Major' THEN 'major_wellbeing' END
        |      AS model
        |  FROM wev WHERE swa = 'SWA7'),
        |compl_any AS (SELECT DISTINCT permit_reference_number FROM wev
        |  WHERE wsr = 'completed' AND event_type = 'WORK_STOP'),
        |stg0 AS (
        |  SELECT model, permit_reference_number, promoter_organisation,
        |    highway_authority, street_name, activity_type, work_category,
        |    'Works completed' AS work_status, usrn, wx, wy,
        |    event_reference, sd,
        |    CAST(CASE WHEN year(sd) = year(ed) AND month(sd) = month(ed)
        |         THEN day(ed) - day(sd) ELSE day(ed) END AS BIGINT)
        |      AS duration_days
        |  FROM tagged
        |  WHERE model IS NOT NULL AND wsr = 'completed'
        |    AND event_type = 'WORK_STOP' AND wx IS NOT NULL
        |  UNION ALL
        |  SELECT model, permit_reference_number, promoter_organisation,
        |    highway_authority, street_name, activity_type, work_category,
        |    'Works in progress', usrn, wx, wy, event_reference, sd,
        |    CAST(7 AS BIGINT)
        |  FROM tagged t
        |  WHERE model IS NOT NULL AND wsr = 'in_progress'
        |    AND wx IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM compl_any ca
        |      WHERE ca.permit_reference_number = t.permit_reference_number)),
        |stg AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY model, permit_reference_number
        |    ORDER BY sd, event_reference) AS rn FROM stg0) WHERE rn = 1),
        |pcs AS (SELECT
        |    CAST((c_custkey % 100) * 1000 AS DOUBLE) AS px,
        |    CAST(((c_custkey // 100) % 100) * 1000 AS DOUBLE) AS py,
        |    'PC' || CAST(c_custkey AS VARCHAR) AS postcode,
        |    CASE WHEN c_custkey % 5 = 0 THEN 0
        |         ELSE 2 * (c_custkey % 50) + 3 END AS pop,
        |    CASE WHEN c_custkey % 5 = 0 THEN 0
        |         ELSE (c_custkey % 50) + 1 END AS fpop,
        |    CASE WHEN c_custkey % 5 = 0 THEN 0
        |         ELSE (c_custkey % 50) + 2 END AS mpop,
        |    CASE WHEN c_custkey % 5 = 0 THEN 0
        |         ELSE (c_custkey % 30) + 1 END AS hh
        |  FROM customer),
        |wj AS (SELECT s.*, p.postcode, p.pop, p.fpop, p.mpop, p.hh
        |  FROM stg s LEFT JOIN pcs p
        |    ON (s.wx - p.px) * (s.wx - p.px)
        |      + (s.wy - p.py) * (s.wy - p.py) <= 250000.0)
        |SELECT model, permit_reference_number, promoter_organisation,
        |  highway_authority, street_name, activity_type, work_category,
        |  work_status, usrn, wx AS work_easting, wy AS work_northing,
        |  duration_days,
        |  COUNT(DISTINCT postcode) AS postcode_count,
        |  CAST(SUM(pop) AS BIGINT) AS total_population_affected,
        |  CAST(SUM(fpop) AS BIGINT) AS total_female_population,
        |  CAST(SUM(mpop) AS BIGINT) AS total_male_population,
        |  CAST(SUM(hh) AS BIGINT) AS total_households_affected,
        |  CAST(ROUND(2.10 * duration_days * CAST(SUM(hh) AS BIGINT), 2)
        |    AS DOUBLE) AS wellbeing_total_impact
        |FROM wj
        |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12""".stripMargin,
  )

  /** The materialized cell-partitioned IVFPQ index encodes identically
    * (same deterministic model, same ADC), so the direct query's SQL is
    * its oracle verbatim — mirroring q_ann_pq_indexed's reuse of the
    * q_ann_pq CTEs. */
  val all: Map[String, String] =
    base + ("q_ivf_pq_indexed" -> base("q_ivf_pq"))
}
