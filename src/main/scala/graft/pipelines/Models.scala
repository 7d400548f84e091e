package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.{ImpactScore, RangeJoin, Relational, Stats}

/** The reference's dbt analytics DAG as named transforms over the
  * Catalog's REAL landed schemas — staging → int → marts for the
  * street-works analysis warehouse.
  *
  * Reference models (dbt/street_manager_street_works_analysis/models/):
  *  - uprn_usrn_counts/uprn_usrn_count.sql:1-12
  *  - london_overview/in_progress_list_london.sql:8-87 (+ england twin)
  *  - london_overview/completed_list_london.sql:8-80
  *  - london_overview/usrn_permit_details_london.sql:4-46
  *  - london_overview/impact_scores_london.sql:17-160 (min–max norm)
  *  - london_overview/impact_scores_highway_authority_london.sql:17-215
  *    (percent-rank norm + authority rollup + work-category breakdown)
  *  - wellbeing_overview/stg_{emergency,major}_works_by_authority.sql,
  *    int_postcodes.sql, int_*_postcodes_by_authority.sql,
  *    {emergency,major}_wellbeing.sql, clean_up.sql
  *  - data_tests/assert_no_duplicate_permits_*.sql
  *
  * Inputs are the Catalog's landed tables with their real column names:
  * the monthly Street Manager permit table ([[Catalog.streetManager]]),
  * `os_open_usrns.open_usrns_latest` ([[Catalog.osOpenUsrn]]),
  * `geoplace_swa_codes.LATEST_ACTIVE` ([[Catalog.geoplaceSwa]]),
  * `os_open_linked_identifiers.*_uprn_usrn_latest` ([[Catalog.osUsrnUprn]]),
  * and `post_code_data.{code_point_latest,pcd_p001,pcd_p002}`.
  *
  * Deviations from the dbt SQL, all deliberate and documented per method:
  *  - DuckDB's bare `SELECT DISTINCT ON (k)` with no ORDER BY picks an
  *    ARBITRARY row per key; here every dedup orders by
  *    (event_time DESC, event_reference DESC) so reruns are deterministic.
  *  - `NOT IN (subquery)` is an anti-join (NOT EXISTS semantics): a NULL
  *    permit reference in the exclusion list does not blank the result —
  *    see [[Relational.antiJoinOnKey]].
  *  - `{{ current_timestamp() }} AS date_processed` audit columns are NOT
  *    emitted (callers append `current_timestamp()` at write time);
  *    model outputs stay pure functions of their inputs.
  *
  * One implementation per mart: the impact scores and the data tests
  * read the permit events directly through [[latestFromEvents]] (one
  * exclusion + latest-event pass, no list build), and both wellbeing
  * marts are [[wellbeingByModel]]; the permit lists stay as models in
  * their own right ([[usrnPermitDetails]] unions them).
  *
  * Scale shape: the permit table is the only big input and is touched
  * by at most one hash shuffle per dedup/rollup; dimension joins
  * (open_usrns, swa codes, uprn counts) are plain equi-joins Spark
  * broadcasts when small; the two global normalisations avoid
  * single-partition windows (min–max is a 1-row broadcast agg;
  * percent-rank is the distributed [[Stats.cumLess]]). Every model is
  * one lazy plan except [[impactScoresHighwayAuthority]], which finishes
  * its registry-bounded authority rank on the driver.
  */
object Models {

  /** The 34 London highway authorities
    * (in_progress_list_london.sql:42-77). */
  val londonAuthorities: Seq[String] = Seq(
    "LONDON BOROUGH OF BARNET", "TRANSPORT FOR LONDON (TFL)",
    "LONDON BOROUGH OF HARROW", "LONDON BOROUGH OF BRENT",
    "LONDON BOROUGH OF TOWER HAMLETS", "LONDON BOROUGH OF ENFIELD",
    "LONDON BOROUGH OF EALING", "LONDON BOROUGH OF MERTON",
    "LONDON BOROUGH OF CROYDON", "LONDON BOROUGH OF BARKING AND DAGENHAM",
    "LONDON BOROUGH OF SUTTON", "LONDON BOROUGH OF BEXLEY",
    "ROYAL BOROUGH OF KENSINGTON AND CHELSEA", "LONDON BOROUGH OF SOUTHWARK",
    "LONDON BOROUGH OF HILLINGDON", "LONDON BOROUGH OF CAMDEN",
    "LONDON BOROUGH OF WALTHAM FOREST", "LONDON BOROUGH OF REDBRIDGE",
    "CITY OF WESTMINSTER", "ROYAL BOROUGH OF GREENWICH",
    "LONDON BOROUGH OF ISLINGTON", "LONDON BOROUGH OF HARINGEY",
    "LONDON BOROUGH OF NEWHAM", "LONDON BOROUGH OF HACKNEY",
    "LONDON BOROUGH OF HAMMERSMITH & FULHAM", "LONDON BOROUGH OF HOUNSLOW",
    "LONDON BOROUGH OF WANDSWORTH", "ROYAL BOROUGH OF KINGSTON UPON THAMES",
    "LONDON BOROUGH OF LAMBETH", "LONDON BOROUGH OF HAVERING",
    "LONDON BOROUGH OF RICHMOND UPON THAMES", "LONDON BOROUGH OF LEWISHAM",
    "CITY OF LONDON CORPORATION", "LONDON BOROUGH OF BROMLEY")

  /** High-impact traffic-management refs
    * (impact_scores_highway_authority_london.sql:38-45). */
  val highImpactTm: Seq[String] = Seq("road_closure", "contra_flow",
    "lane_closure", "convoy_workings", "multi_way_signals", "two_way_signals")

  /** Medium-impact refs (lines 47-51). */
  val mediumImpactTm: Seq[String] =
    Seq("give_and_take", "stop_go_boards", "priority_working")

  /** The event-attribute half of the per-permit impact weight:
    * everything except the UPRN-density band ([[densityWeight10]]). The
    * weight is in integer DECI-points (×10 — 5 == the dbt 0.5), so
    * per-key sums are exact and order-independent under partial
    * aggregation (the dbt CASE ladder sums 0.5-granular decimals:
    * impact_scores_highway_authority_london.sql:17-70); divide by 10 at
    * the edge for the reference's scale. The split is load-bearing: the
    * weight is ADDITIVE in its two halves and the density half depends
    * only on `uprn_count` — a per-USRN dimension attribute constant
    * within a scoring group — so per-group
    * `SUM(impact10) = SUM(base10) + COUNT(*) * density10(uprn_count)`,
    * letting the aggregation run BEFORE the dimension join (the join
    * then probes one row per USRN group instead of one per permit). */
  def permitImpactBase10(workCategory: Column, isTtro: Column,
                         isSensitive: Column, tmRef: Column): Column = {
    val cat = when(workCategory === "Standard", 20)
      .when(workCategory === "Major", 50)
      .when(workCategory === "Minor", 10)
      .when(workCategory === "HS2 (Highway)", 20)
      .when(workCategory.isin("Immediate - urgent", "Immediate - emergency"), 40)
      .otherwise(0)
    val ttro = when(isTtro === "Yes", 5).otherwise(0)
    val sens = when(isSensitive === "Yes", 5).otherwise(0)
    // NULL ref scores 0.5 (line 57) — test NULL FIRST: isin(NULL) is
    // NULL-falsy and would fall through to the generic ELSE 0
    val tm = when(tmRef.isNull, 5)
      .when(tmRef.isin(highImpactTm.map(lit): _*), 20)
      .when(tmRef.isin(mediumImpactTm.map(lit): _*), 10)
      .when(tmRef === "some_carriageway_incursion", 5)
      .when(tmRef === "no_carriageway_incursion", 0)
      .otherwise(0)
    cat + ttro + sens + tm
  }

  /** The UPRN-density band of the per-permit impact weight
    * (impact_scores_highway_authority_london.sql:59-69). */
  def densityWeight10(uprnCount: Column): Column =
    ImpactScore.bandWeight(uprnCount,
      Seq(5.0 -> 2, 10.0 -> 4, 25.0 -> 6, 50.0 -> 8, 100.0 -> 10,
        200.0 -> 12, 500.0 -> 14), 16)

  // ------------------------------------------------------ uprn_usrn_count

  /** uprn_usrn_count.sql: linked-identifier UPRNs counted per USRN.
    * One equi-join + hash agg on `usrn` — `identifier_2` is the USRN side
    * of the OS linked-identifiers table; count is of non-null
    * `correlation_id` exactly like `COUNT(uprn.CORRELATION_ID)`. */
  def uprnUsrnCount(openUsrns: DataFrame, linkedIds: DataFrame): DataFrame =
    // count(x) == count(*) over the non-null-x rows; filtering FIRST
    // lets Catalyst simplify isNotNull through null-intolerant
    // expressions (a correlation id derived by CAST from a scan column
    // prunes to the scan column's null check, so the cast itself is
    // never materialized — measured 8.8 CPU-s of string casts saved at
    // sf1.5 when the id is CAST(bigint AS string)).
    //
    // Aggregate-BEFORE-join: join-then-count over key u yields exactly
    // c(u) * m(u) (every linked row meets every registry row of its
    // key), so counting each side first and multiplying is row-identical
    // — including under a dirty registry with duplicated USRNs — while
    // the map-side partial aggregates collapse the fact table at the
    // scan and the join shuffles two key-grain tables instead of the raw
    // linked-identifier rows (at sf1.5 this removed a 2.25M-row
    // sort-merge join that AQE had coalesced onto 2 tasks — ~1 s off the
    // model-query critical path; at 100 TB it is the difference between
    // shuffling the linked-identifier corpus and shuffling its key set).
    openUsrns.select(col("usrn"))
      .groupBy("usrn").agg(count(lit(1)).as("__m"))
      .join(linkedIds.where(col("correlation_id").isNotNull)
        .select(col("identifier_2").as("usrn"))
        .groupBy("usrn").agg(count(lit(1)).as("__c")), Seq("usrn"))
      .select(col("usrn"), (col("__m") * col("__c")).as("uprn_count"))

  // ------------------------------------------------- permit list models

  /** The columns both list models emit (in_progress_list_london.sql:9-35,
    * before the geometry/licence/uprn enrichments). */
  private val permitListCols: Seq[String] = Seq(
    "event_type", "event_time", "permit_reference_number",
    "promoter_organisation", "promoter_swa_code", "highway_authority",
    "highway_authority_swa_code", "work_category", "works_location_type",
    "proposed_start_date", "proposed_end_date", "actual_start_date_time",
    "actual_end_date_time", "collaborative_working", "activity_type",
    "is_traffic_sensitive", "is_ttro_required",
    "traffic_management_type_ref", "street_name", "road_category", "usrn",
    "work_status_ref")

  /** One row per permit reference: the dbt `SELECT DISTINCT ON
    * (permit_reference_number)` with a DETERMINISTIC pick (latest
    * event_time, then event_reference — the dbt form has no ORDER BY and
    * lets DuckDB pick arbitrarily). */
  private def latestPerPermit(events: DataFrame): DataFrame =
    Relational.distinctOn(events, Seq("permit_reference_number"),
      Seq(col("event_time").desc, col("event_reference").desc))

  /** One row per dimension key, deterministically (payload-desc
    * tie-break): dimension loads are unique per key by contract, but
    * enrichment joins run AFTER the per-permit dedup, so a dirty load
    * with a duplicated key would silently duplicate permit rows and
    * break the one-row-per-permit DISTINCT ON invariant (the dbt order
    * dedups after the join). This guard makes that impossible instead
    * of assumed; on a clean dimension it is a no-op dedup over a
    * broadcast-sized input. */
  private def uniqueDim(dim: DataFrame, key: String): DataFrame =
    Relational.distinctOn(dim, Seq(key),
      dim.columns.filterNot(_ == key).map(col(_).desc_nulls_last).toSeq)

  /** Broadcast hint gated on the optimizer's size estimate: the dims are
    * broadcast BY CONTRACT (key universe = the national street registry,
    * ~1.6M USRNs, bounded by the political map, not the permit data),
    * but a contract violation — a registry load orders of magnitude past
    * its spec — should degrade to AQE's shuffle join, not OOM the driver
    * mid-broadcast. `optimizedPlan.stats` is planning-time metadata (no
    * job, no eager execution); the 1 GB line sits far above any
    * plausible dim (tens of MB) and far below driver memory, so only a
    * genuinely broken load crosses it, and the WARN names the fix. */
  private def hintBroadcastDim(dim: DataFrame): DataFrame = {
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(1L << 30)) broadcast(dim)
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"joinGeoAndCounts: dimension size estimate $est B exceeds the " +
          "1 GB broadcast contract — falling back to a shuffle join. " +
          "The USRN registry should be tens of MB; check the load.")
      dim
    }
  }

  /** The geometry + UPRN-count dimension joins shared by the permit
    * lists and the impact scores — ONE definition so the dim-key casting
    * and the zero-fill cannot drift between a list row and the score it
    * feeds. Adds `geometry` (left) and a coalesced `uprn_count`. */
  private def joinGeoAndCounts(df: DataFrame, openUsrns: DataFrame,
                               uprnCounts: DataFrame): DataFrame =
    // both dims broadcast by contract (size-guarded — see
    // [[hintBroadcastDim]]). Without the hint a LEFT join cannot
    // broadcast its left (probe) side, so AQE co-shuffles both sides —
    // an exchange on the aggregated scoring frame that the hint removes
    // from the critical path (the dim build then runs concurrently
    // with the event pipeline).
    df
      .join(hintBroadcastDim(uniqueDim(openUsrns.select(
        col("usrn").cast("long").as("__usrn_k"), col("geometry")), "__usrn_k")),
        col("usrn").cast("long") === col("__usrn_k"), "left")
      .drop("__usrn_k")
      .join(hintBroadcastDim(uniqueDim(uprnCounts.select(
        col("usrn").cast("long").as("__cnt_k"),
        col("uprn_count").as("__uprn_count")), "__cnt_k")),
        col("usrn").cast("long") === col("__cnt_k"), "left")
      .drop("__cnt_k")
      .withColumn("uprn_count", coalesce(col("__uprn_count"), lit(0L)))
      .drop("__uprn_count")

  /** The three dimension enrichments shared by both lists (lines 31-40):
    * street geometry by USRN, regulator licences by promoter SWA code
    * (both sides cast to INT exactly like the dbt join), UPRN count by
    * USRN with COALESCE 0. Dimensions pass through [[uniqueDim]], so
    * enriching AFTER the per-permit dedup is row-for-row identical to the
    * dbt join-then-DISTINCT-ON order — and cheaper: the joins see one row
    * per permit. */
  private def enrichPermitList(permits: DataFrame, openUsrns: DataFrame,
                               swaCodes: DataFrame,
                               uprnCounts: DataFrame): DataFrame =
    joinGeoAndCounts(permits, openUsrns, uprnCounts)
      .join(uniqueDim(swaCodes.select(
        col("swa_code").cast("int").as("__swa_k"),
        col("ofgem_electricity_licence"), col("ofgem_gas_licence"),
        col("ofcom_licence"), col("ofwat_licence")), "__swa_k"),
        col("promoter_swa_code").cast("int") === col("__swa_k"), "left")
      .drop("__swa_k")
      .select((permitListCols ++ Seq("geometry",
        "ofgem_electricity_licence", "ofgem_gas_licence", "ofcom_licence",
        "ofwat_licence", "uprn_count")).map(col): _*)

  /** in_progress_list_{london,england}: in-progress permits (optionally
    * restricted to `authorities`), excluding any permit that ALSO has a
    * completed WORK_STOP event. The London model correlates that
    * exclusion on highway_authority (in_progress_list_london.sql:81-87);
    * the England model doesn't (`correlateOnAuthority = false`). The
    * exclusion is a left-anti join (broadcast when the completed set is
    * small), then one dedup shuffle, then the dimension joins. */
  def inProgressList(permits: DataFrame, openUsrns: DataFrame,
                     swaCodes: DataFrame, uprnCounts: DataFrame,
                     authorities: Seq[String] = Nil,
                     correlateOnAuthority: Boolean = true): DataFrame = {
    val base0 = permits.where(col("work_status_ref") === "in_progress")
    val base = if (authorities.isEmpty) base0
      else base0.where(col("highway_authority").isin(authorities.map(lit): _*))
    val completed = permits.where(col("work_status_ref") === "completed" &&
      col("event_type") === "WORK_STOP")
    val exclKeys = if (correlateOnAuthority)
      Seq("permit_reference_number", "highway_authority")
    else Seq("permit_reference_number")
    val kept = base.join(
      completed.select(exclKeys.map(col): _*).distinct(), exclKeys, "left_anti")
    enrichPermitList(latestPerPermit(kept), openUsrns, swaCodes, uprnCounts)
  }

  /** completed_list_{london,england}: completed WORK_STOP permits
    * (completed_list_london.sql:41-43), same dedup + enrichments. */
  def completedList(permits: DataFrame, openUsrns: DataFrame,
                    swaCodes: DataFrame, uprnCounts: DataFrame,
                    authorities: Seq[String] = Nil): DataFrame = {
    val base0 = permits.where(col("work_status_ref") === "completed" &&
      col("event_type") === "WORK_STOP")
    val base = if (authorities.isEmpty) base0
      else base0.where(col("highway_authority").isin(authorities.map(lit): _*))
    enrichPermitList(latestPerPermit(base), openUsrns, swaCodes, uprnCounts)
  }

  /** usrn_permit_details_{london,england}: the UNION ALL of both lists
    * projected to the per-permit detail columns (usrn_permit_details_
    * london.sql:5-41). */
  def usrnPermitDetails(inProgress: DataFrame, completed: DataFrame): DataFrame = {
    val cols = Seq("usrn", "street_name", "highway_authority",
      "permit_reference_number", "promoter_organisation", "work_category",
      "activity_type", "is_ttro_required", "is_traffic_sensitive",
      "traffic_management_type_ref", "collaborative_working",
      "ofgem_electricity_licence", "ofgem_gas_licence", "ofcom_licence",
      "ofwat_licence").map(col)
    inProgress.select(cols: _*).unionByName(completed.select(cols: _*))
  }

  // ------------------------------------------------------- impact scores

  /** The event-side scoring columns (no dimension attributes): what
    * base_permit_data (impact_scores_london.sql:9-134) reads off each
    * permit before the per-USRN aggregation. */
  private val eventScoringCols = Seq("usrn", "street_name",
    "highway_authority", "highway_authority_swa_code", "work_category",
    "is_ttro_required", "is_traffic_sensitive",
    "traffic_management_type_ref")

  /** The permit rows every impact mart and data test reads, straight
    * from the events: one row per surviving (permit, leg) with the
    * event-side scoring columns plus `permit_reference_number` and
    * `__leg` (0 = in-progress, 1 = completed stop) — row for row the
    * UNION ALL of [[inProgressList]] and [[completedList]] projected to
    * those columns (ModelsSpec pins it against the lists), BEFORE any
    * dimension join. Through the lists, the permit events would shuffle
    * TWICE through 27-column dedup windows, every dimension would join
    * once per leg, and the licence-dimension join would survive even
    * though the impact marts project it away (Catalyst cannot prune a
    * LEFT join — it can't prove the dim side unique). The impact marts
    * aggregate THIS frame to the USRN grain and only then join the
    * geometry/UPRN dimensions (one probe per group, not per permit —
    * sound because the weight is additive with its density half a pure
    * function of the per-USRN `uprn_count`, see [[permitImpactBase10]]). */
  private[graft] def latestFromEvents(permits: DataFrame,
      authorities: Seq[String], correlateOnAuthority: Boolean): DataFrame = {
    val needed = (Seq("permit_reference_number", "event_time",
      "event_reference", "event_type", "work_status_ref") ++
      eventScoringCols).distinct
    val base0 = permits.select(needed.map(col): _*)
    val isStop = col("work_status_ref") === "completed" &&
      col("event_type") === "WORK_STOP"
    // the authority filter applies to the OUTPUT rows only — the dbt
    // NOT-IN subquery is unfiltered (in_progress_list_london.sql:81-87).
    // In-progress rows outside the list can never be emitted nor
    // excluded-from, so they prune BEFORE the shuffle. Under CORRELATED
    // exclusion a stop outside a nonempty list prunes too: its
    // (permit, authority) group cannot contain an in-progress row (those
    // were just pruned to the list), so it excludes nothing, and its
    // payload could never surface (the dbt output is list-filtered) —
    // dropping it map-side removes ~2/3 of the shuffled stop rows for
    // London's 8-of-25 list. Under UNCORRELATED exclusion a stop
    // anywhere kills the permit, so every stop must reach the shuffle;
    // only there can an out-of-list stop row ride with a null payload.
    val inAuthorities = if (authorities.isEmpty) lit(true)
      else col("highway_authority").isin(authorities.map(lit): _*)
    val stopKept =
      if (correlateOnAuthority) isStop && inAuthorities else isStop
    val tagged = base0
      .where((col("work_status_ref") === "in_progress" && inAuthorities) ||
        stopKept)
      .withColumn("__leg", when(isStop, lit(1)).otherwise(lit(0)))
    // after the pre-filter, every surviving row carries a real payload
    // EXCEPT out-of-list stops in the uncorrelated+nonempty-list case
    val needsGate = !correlateOnAuthority && authorities.nonEmpty
    // the latest-pick ordering: (event_time, event_reference) FIRST so
    // the rank order == the dbt ORDER BY event_time DESC,
    // event_reference DESC pick; trailing payload fields only break
    // exact (time, ref) ties, deterministically (a full-tuple tie is a
    // byte-identical output, so the pick is deterministic regardless).
    val payFields = Seq("event_time", "event_reference") ++ eventScoringCols
    // payload nulled BEFORE the shuffle for rows that can never reach
    // the output (uncorrelated+nonempty-list only — see `needsGate`): an
    // out-of-list completed stop exists only to flip the permit's
    // exclusion flag. DESC NULLS LAST ranks the nulled rows below any
    // real payload, exactly like null structs falling out of max().
    val hasPay =
      if (needsGate) col("__leg") === 0 || inAuthorities else lit(true)
    val ref = col("permit_reference_number")
    // RAW authority — NOT the gated copy: the exclusion correlates on
    // the stop's actual authority, and gating nulls it for
    // out-of-authority stops (pooling them into one NULL-auth window
    // group would erase the per-authority NOT-IN semantics)
    val auth = col("__auth")
    // The latest-pick is rank-1 per group, NOT max(struct): a struct agg
    // buffer is immutable, so the max(struct) form plans a chain of four
    // SortAggregates OUTSIDE whole-stage codegen — measured 24 CPU-s of
    // interpreted CaseWhen/struct-compare per run at sf1.5, 85% of the
    // query. row_number()=1 plans as codegen'd Sort + WindowGroupLimit
    // (with a map-side partial limit below the exchange pruning to one
    // row per group per map partition), the same shape uniqueDim rides:
    // 24 -> ~4 CPU-s for the identical pick. (Also measured and slower
    // at sf1.5: max_by(pay, key) — CASE-paired value+ordering buffers,
    // still sort-based — and a typed-imperative argmax, 5.3 s of
    // per-group serialize/merge overhead at ~2 events per permit.)
    //
    // NULL semantics (pinned by ModelsSpec against the list route): a
    // NULL ref pools into ONE partition group exactly like the dbt
    // DISTINCT ON pools it into one key, and the exclusion is gated on
    // real keys — NULL join keys never match the list route's anti-join,
    // and a NULL stop authority matches nothing under correlation.
    //
    // Pre-partitioning on the permit alone makes ONE exchange serve the
    // whole chain: HashPartitioning(ref) satisfies the clustered
    // distribution of both windows below (subset rule). The exclusion
    // window sorts on its short keys only; the one WIDE sort (the pick
    // ordering) runs over the exclusion-filtered frame.
    // The null-gated payload columns are MATERIALIZED map-side, before
    // the exchange: sort and rank comparators re-evaluate their ordering
    // expressions on every comparison (n log n of them), so leaving the
    // gate as when(hasPay, f) in the ORDER BY re-runs a CaseWhen + an
    // 8-way string isin per compared field — measured ~30 CPU-s at
    // sf1.5. As plain shuffled columns the comparators are bare string
    // compares. Width is unchanged: the gated copies REPLACE the raw
    // payload in the shuffle (only the raw authority rides alongside,
    // for the exclusion window above).
    val gated =
      if (needsGate) payFields.map(f => when(hasPay, col(f)).as(f))
      else payFields.map(col)
    val shuffled = tagged
      .select(Seq(ref, col("__leg"),
        col("highway_authority").as("__auth"),
        hasPay.as("__has_pay")) ++ gated: _*)
      .repartition(col("permit_reference_number"))
    val ordered = payFields.map(col(_).desc_nulls_last)
    // exclusion FIRST, one global pick SECOND — two windows, one wide
    // sort. An intermediate latest-per-(ref, auth, leg) grain was
    // measured and removed: it cost a third window pass and a SECOND
    // wide sort (the 17-key sort of the shuffled frame was ~7 CPU-s/run
    // at sf1.5 England) for pruning the rank input by ~2x — the rank
    // window streams either way, so the prune bought less than the
    // extra pass. Filtering excluded in-progress rows BEFORE the global
    // pick is exactly the dbt order (the NOT-IN subquery gates list
    // membership, then DISTINCT ON picks): a stop row is never excluded,
    // so the flag window sees every stop, and dropping a whole
    // (ref[, auth]) in-progress group before the (ref, leg) pick lets a
    // surviving authority's row win — identical to picking per
    // authority and merging.
    val wStop =
      if (correlateOnAuthority) Window.partitionBy(ref, auth)
      else Window.partitionBy(ref)
    val authGate =
      if (correlateOnAuthority) auth.isNotNull else lit(true)
    val wPick = Window.partitionBy(ref, col("__leg")).orderBy(ordered: _*)
    shuffled
      // exclusion: a completed stop in the (permit[, authority]) group
      // IS a NOT-IN hit for every in-progress row of the group.
      // coalesce: __stop is NULL when the group has no stop — the
      // three-valued !(NULL && ...) would otherwise drop every
      // unexcluded in-progress row
      .withColumn("__stop", max(when(col("__leg") === 1, 1)).over(wStop))
      .where(col("__leg") === 1 ||
        !coalesce(col("__stop") === 1 && authGate && ref.isNotNull,
          lit(false)))
      // the global latest per (permit, leg) over the surviving rows
      .withColumn("__rn", row_number().over(wPick))
      .where(col("__rn") === 1 && col("__has_pay"))
      .select(Seq(ref, col("__leg")) ++ payFields.map(col): _*)
  }

  /** raw_impact_level (impact_scores_london.sql:9-134) over the
    * dims-free [[latestFromEvents]] frame: per-permit deci-point weights
    * summed per (usrn, street, authority, LOWER(swa)) as `total10`, plus
    * the dimension columns `uprn_count` and `geometry`. Aggregates to the
    * USRN grain FIRST (event-attribute weights and breakdown counts need
    * no dimension), joins the geometry/UPRN-count dimensions at that
    * grain, and adds the density half of the weight as
    * `COUNT(*) * density10(uprn_count)` — exactly `SUM(impact10)` by the
    * additive split ([[permitImpactBase10]]). Grouping by the dbt key
    * (usrn, street, authority, LOWER(swa), uprn_count, geometry) gives
    * the same rows: the dims are [[uniqueDim]]-deduped, so
    * (uprn_count, geometry) is a pure function of the usrn value
    * (unmatched or NULL usrns get (0, NULL) either way). The dim join
    * probes one row per USRN group instead of one per permit.
    *
    * With `withBreakdown`, the per-USRN-group aggregate also carries the
    * work-category breakdown counts at this grain — counts are
    * associative, so summing them per authority later equals the dbt
    * permit-level breakdown groupBy without a second pass. */
  private[graft] def rawImpactFromLatest(latest: DataFrame, openUsrns: DataFrame,
      uprnCounts: DataFrame, withBreakdown: Boolean = false): DataFrame = {
    val aggs = Seq(sum(col("__b10")).as("__sb10"),
      count(lit(1)).as("__np")) ++ (if (withBreakdown) breakdownAggs else Nil)
    val grouped = latest
      .withColumn("__b10", permitImpactBase10(col("work_category"),
        col("is_ttro_required"), col("is_traffic_sensitive"),
        col("traffic_management_type_ref")))
      .groupBy(col("usrn"), col("street_name"), col("highway_authority"),
        lower(col("highway_authority_swa_code"))
          .as("highway_authority_swa_code"))
      .agg(aggs.head, aggs.tail: _*)
    joinGeoAndCounts(grouped, openUsrns, uprnCounts)
      .withColumn("total10",
        col("__sb10") + col("__np") * densityWeight10(col("uprn_count")))
      .drop("__sb10", "__np")
  }

  /** work_category_breakdown (impact_scores_highway_authority_london.sql:
    * 154-177): conditional permit counts, emitted at the raw grain and
    * summed per authority. */
  private def breakdownAggs: Seq[Column] = Seq(
    count(when(col("work_category") === "Major", 1)).as("major_works_count"),
    count(when(col("work_category") === "Standard", 1)).as("standard_works_count"),
    count(when(col("work_category") === "Minor", 1)).as("minor_works_count"),
    count(when(col("work_category") === "HS2 (Highway)", 1)).as("hs2_works_count"),
    count(when(col("work_category").isin("Immediate - urgent",
      "Immediate - emergency"), 1)).as("emergency_works_count"),
    count(when(col("is_ttro_required") === "Yes", 1)).as("ttro_required_count"),
    count(when(col("is_traffic_sensitive") === "Yes", 1)).as("traffic_sensitive_count"),
    count(when(col("traffic_management_type_ref")
      .isin(highImpactTm.map(lit): _*), 1)).as("high_impact_traffic_mgmt_count"))

  private val breakdownCols: Seq[String] = Seq("major_works_count",
    "standard_works_count", "minor_works_count", "hs2_works_count",
    "emergency_works_count", "ttro_required_count",
    "traffic_sensitive_count", "high_impact_traffic_mgmt_count")

  /** impact_scores_{london,england}: per-USRN totals min–max normalised
    * to 1-100 (impact_scores_london.sql:136-152 — this variant is min–max,
    * NOT percent-rank), all-equal degenerates to 50.0. The bounds are a
    * 1-row global agg cross-joined back as a broadcast — no window, no
    * single-partition sort; the normalisation on deci-point INTEGERS is
    * value-identical to the dbt decimal form ((t-mn)/(mx-mn) is scale
    * invariant) and engine-exact (integer differences are exact doubles;
    * one rounding at the division).
    *
    * The scored permits are the rows of the in-progress and completed
    * lists (the dbt base_permit_data UNION ALL), read straight off the
    * events by [[latestFromEvents]]: `authorities` and
    * `correlateOnAuthority` mean what they mean for [[inProgressList]]
    * (London: the listed authorities, correlated; England: `Nil`,
    * uncorrelated). */
  def impactScores(permits: DataFrame, openUsrns: DataFrame,
      uprnCounts: DataFrame, authorities: Seq[String] = Nil,
      correlateOnAuthority: Boolean = true): DataFrame =
    finishImpactScores(rawImpactFromLatest(
      latestFromEvents(permits, authorities, correlateOnAuthority),
      openUsrns, uprnCounts))

  private def finishImpactScores(rawLevel: DataFrame): DataFrame = {
    // raw feeds both the bounds agg and the normalised output. The cache
    // is load-bearing for SHARING, not just recompute: the two consumers
    // prune different column sets, so without the InMemoryRelation their
    // upstream exchanges canonicalize differently and AQE's stage cache
    // cannot deduplicate them — measured at sf1.5, the whole permit
    // aggregation ran once per consumer. The plan stays fully lazy (the
    // bounds are a broadcast subtree); the cache materializes inside the
    // terminal action's one execution.
    val raw = graft.PersistScope.cache(rawLevel)
    val bounds = raw.agg(min("total10").as("__mn10"), max("total10").as("__mx10"))
    raw.crossJoin(broadcast(bounds))
      .withColumn("total_impact_level", col("total10").cast("double") / 10)
      .withColumn("impact_index_score",
        when(col("__mx10") === col("__mn10"), lit(50.0))
          .otherwise(lit(1.0) +
            (lit(99.0) * (col("total10") - col("__mn10"))) /
              (col("__mx10") - col("__mn10")).cast("double")))
      .withColumn("impact_category",
        ImpactScore.severityBucket(col("impact_index_score")))
      .select("usrn", "street_name", "highway_authority",
        "highway_authority_swa_code", "uprn_count", "geometry",
        "total_impact_level", "impact_index_score", "impact_category")
  }

  /** impact_scores_highway_authority_{london,england}: USRN-level
    * percent-rank scores rolled up per highway authority, plus the
    * work-category breakdown and the authority-level percent-rank
    * (impact_scores_highway_authority_london.sql:107-215).
    *
    * Exactness: per-USRN `PERCENT_RANK()*100` is cnt_less/(n-1)*100; the
    * authority SUM of those doubles is computed as
    * `100*SUM(cnt_less)/(n-1)` — the integer rank counts sum exactly, so
    * the result doesn't depend on partial-agg order (a naive SUM of
    * per-row doubles does). AVG columns divide those exact sums by the
    * row count. The authority-level rank orders the integer deci-point
    * totals (same ordering as the dbt SUM(total_impact_level)) and is
    * finished on the driver: its input is the one-row-per-authority
    * aggregate, cardinality bounded by the political map (the per-USRN
    * rank above stays on the distributed [[Stats.cumLess]]). The scored
    * permits are read as in [[impactScores]].
    *
    * Deliberate deviation: the work-category breakdown rides the SAME
    * aggregate as the rollup (associative counts), where the dbt SQL
    * computes it separately and equality-LEFT-JOINs it back
    * (lines 211-214). For a NULL highway_authority (or NULL swa) rollup
    * row the dbt join misses (NULL ≠ NULL) and leaves NULL breakdown
    * counts, while this path populates the real counts — strictly more
    * informative on a row the reference renders broken; real feeds
    * never carry a NULL authority (the oracle dressings don't either).
    *
    * Execution contract: this method is EAGER — the registry-bounded
    * authority rank is finished on the driver (probe-limited collect,
    * ≤ 2^20 rows by loud guard), so the whole upstream pipeline runs at
    * call time and the returned frame is a driver LocalRelation whose
    * row order is unspecified (sort on the score columns if a stable
    * order is needed downstream). */
  def impactScoresHighwayAuthority(permits: DataFrame,
      openUsrns: DataFrame, uprnCounts: DataFrame,
      authorities: Seq[String] = Nil,
      correlateOnAuthority: Boolean = true): DataFrame =
    finishAuthorityScores(rawImpactFromLatest(
      latestFromEvents(permits, authorities, correlateOnAuthority),
      openUsrns, uprnCounts, withBreakdown = true))

  /** `bound` is the driver-state guard (package-visible so the spec can
    * exercise the refusal path without a million-row frame). */
  private[pipelines] def finishAuthorityScores(rawLevel: DataFrame,
      bound: Int = 1 << 20): DataFrame = {
    // `raw` is a CACHE, not a shared subplan, deliberately: its
    // consumers (rank histogram, join-back) prune different column
    // sets, so uncached they canonicalize into different exchanges that
    // AQE cannot deduplicate — measured at sf1.5, the whole permit
    // aggregation ran once per consumer. And the rank machinery is the
    // EAGER cumLess, also deliberately: a fully-lazy variant (offsets
    // via a window over per-partition totals, denominator as a 1-row
    // broadcast) was measured at sf1.5 and LOST — without driver-side
    // materialization points the plan fans into a dozen racing little
    // AQE stages over the caches (spark_partition_id is nondeterministic,
    // so the histogram subtrees don't even canonicalize equal), costing
    // more in stage latency than the one collect round trip it saves.
    val raw = graft.PersistScope.cache(rawLevel)
    // per-USRN integer rank counts (rank-1 == rows strictly below)
    val (cl, n) = Stats.cumLess(raw, "total10")
    val denom = lit(math.max(n - 1L, 1L).toDouble)
    // COUNT(DISTINCT usrn) as stacked aggregations: level 1 collapses to
    // the (authority, swa, usrn) grain — its partial aggregate combines
    // fully map-side because the USRN-grain input is already clustered
    // by usrn — and level 2 counts level-1 rows per authority, where the
    // count-distinct rewrite would plan an Expand doubling every input
    // row. Every aggregate is a sum/count/min/max, so both levels stay
    // in HashAggregate (no sort), and both exchanges hash on grouping
    // keys that include usrn or pre-collapsed rows (no per-authority
    // skew task). NULL usrns form a level-1 group but are excluded from
    // the level-2 distinct count, matching COUNT(DISTINCT) null
    // semantics.
    val lvl1Aggs = Seq(
      count(lit(1)).as("__nr1"), sum("uprn_count").as("__su1"),
      sum("total10").as("__st1"),
      max("total10").as("__mx1"), min("total10").as("__mn1"),
      sum("__cnt_less").as("__cl1")) ++
      breakdownCols.map(c => sum(col(c)).as(s"__$c"))
    val byAuthAggs = Seq(
      count(when(col("usrn").isNotNull, 1)).as("total_usrns_count"),
      (sum("__su1").cast("double") / sum("__nr1")).as("avg_uprn_count"),
      sum("__su1").as("total_uprn_count"),
      sum("__st1").as("__t10"),
      sum("__nr1").as("__n_rows"),
      max("__mx1").as("__mx10"), min("__mn1").as("__mn10"),
      sum("__cl1").as("__sum_cl")) ++
      breakdownCols.map(c => sum(col(s"__$c")).as(c))
    // byAuth feeds ONE consumer (the authority-rank window below), so it
    // is deliberately NOT cached — an InMemoryRelation here would add a
    // materialization pass for nothing.
    //
    // ONE explicit exchange serves BOTH aggregation levels: hash
    // partitioning on (authority, swa) satisfies level 1's clustered
    // distribution by the subset rule and level 2's exactly, so the two
    // HashAggregates fuse into the exchange's read stage instead of
    // costing one AQE stage barrier each — the frame here is the cached
    // USRN-grain aggregate joined to the rank counts, so a partition
    // holds at most one authority's street registry rows (bounded by the
    // political map, not the data; no skew task at any SF).
    val byAuth = (raw.join(cl, Seq("total10"))
      .repartition(col("highway_authority"),
        col("highway_authority_swa_code"))
      .groupBy("highway_authority", "highway_authority_swa_code", "usrn")
      .agg(lvl1Aggs.head, lvl1Aggs.tail: _*)
      .groupBy("highway_authority", "highway_authority_swa_code")
      .agg(byAuthAggs.head, byAuthAggs.tail: _*)
      .withColumn("total_impact_level", col("__t10").cast("double") / 10)
      .withColumn("avg_impact_level_per_usrn",
        (col("__t10").cast("double") / 10) / col("__n_rows"))
      .withColumn("max_impact_level", col("__mx10").cast("double") / 10)
      .withColumn("min_impact_level", col("__mn10").cast("double") / 10)
      .withColumn("total_impact_index_score",
        (lit(100.0) * col("__sum_cl")) / denom)
      .withColumn("avg_impact_index_score",
        (lit(100.0) * col("__sum_cl")) / denom / col("__n_rows")))
    // authority-level percent-rank over the integer total (same order as
    // the dbt SUM(total_impact_level)). Unlike the per-USRN rank above,
    // this frame has ONE ROW PER HIGHWAY AUTHORITY — cardinality bounded
    // by the political map (~400 in Great Britain), not the data — so
    // the rank tail is finished ON THE DRIVER: collecting it is the same
    // bounded-state move as broadcasting k-means centroids, and it folds
    // the single-partition window exchange, its sort, and one AQE stage
    // barrier into the terminal collect (a window form was measured
    // equivalent cell-for-cell by StatsSpec's percent-rank pins; the
    // driver form saves ~0.2 s of pure stage latency per query at any
    // SF, because the collapsed stages are over ≤400 rows regardless).
    val headCols = Seq("highway_authority", "highway_authority_swa_code",
      "total_usrns_count", "avg_uprn_count", "total_uprn_count",
      "total_impact_level", "avg_impact_level_per_usrn",
      "max_impact_level", "min_impact_level", "total_impact_index_score",
      "avg_impact_index_score")
    val tailCols = Seq("major_works_count", "standard_works_count",
      "minor_works_count", "hs2_works_count", "emergency_works_count",
      "ttro_required_count", "traffic_sensitive_count",
      "high_impact_traffic_mgmt_count")
    val pre = byAuth.select((headCols ++ tailCols).map(col) :+
      col("__t10"): _*)
    // bounded-driver-state guard, PROBE-FIRST (the capByFreq
    // discipline): collect through a LIMIT of bound+1 so that if the
    // grouping key ever breaks, the driver refuses LOUDLY after
    // materializing at most bound+1 rows — a bare collect-then-require
    // would OOM before it could fire the very error it exists for
    val collected = graft.operators.Guards.collectAtMost(pre, bound)(
      s"finishAuthorityScores: more than $bound authority rows — the " +
        "bounded-driver-state guard refused to materialize the frame. " +
        "The authority key is expected to be registry-bounded (~400 in " +
        "GB); check the grouping keys feeding the authority rollup.")
    val t10Idx = pre.schema.fieldIndex("__t10")
    // percent_rank()*100 semantics exactly: rank = 1 + count(strictly
    // less), ties share a rank, denominator max(n-1, 1); the window
    // form orders NULLS FIRST, so a null total ranks below every value
    val keys = collected.map(r =>
      if (r.isNullAt(t10Idx)) None else Some(r.getLong(t10Idx)))
    val sortedKeys = keys.sorted(Ordering.Option(Ordering.Long))
    def cntLess(k: Option[Long]): Int = {
      // first index of k in the sorted array == count strictly below
      var lo = 0; var hi = sortedKeys.length
      val ord = Ordering.Option(Ordering.Long)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(sortedKeys(mid), k)) lo = mid + 1 else hi = mid
      }
      lo
    }
    val denomAuth = math.max(collected.length - 1, 1).toDouble
    val outRows: Seq[org.apache.spark.sql.Row] =
      collected.iterator.zip(keys.iterator).map { case (r, k) =>
        // (cl / denom) * 100, NOT 100 * cl / denom: the oracle's
        // percent_rank() * 100 divides first, and the two float
        // orderings differ in the last ulp (200/7 != (2/7)*100)
        val score = cntLess(k) / denomAuth * 100.0
        val category =
          if (score >= 95) "Severe" else if (score >= 75) "High"
          else if (score >= 50) "Moderate" else if (score >= 25) "Low"
          else "Minimal"
        org.apache.spark.sql.Row.fromSeq(
          (0 until headCols.length).map(r.get) ++
            Seq(score, category) ++
            (headCols.length until headCols.length + tailCols.length)
              .map(r.get))
      }.toSeq
    val outSchema = org.apache.spark.sql.types.StructType(
      pre.schema.fields.take(headCols.length) ++ Seq(
        org.apache.spark.sql.types.StructField(
          "highway_authority_impact_score",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("impact_category",
          org.apache.spark.sql.types.StringType, nullable = false)) ++
        pre.schema.fields.slice(headCols.length,
          headCols.length + tailCols.length))
    import scala.jdk.CollectionConverters._
    rawLevel.sparkSession.createDataFrame(outRows.asJava, outSchema)
  }

  // --------------------------------------------------- wellbeing chain

  /** stg_{emergency,major}_works_by_authority: one row per completed or
    * in-progress permit of the given work-category refs for one
    * authority SWA code, with the WKT centroid, display
    * easting/northing, and the duration-days rule
    * (stg_emergency_works_by_authority.sql:10-108) — the one-family call
    * of [[stagedWorks]]. */
  def stgWorksByAuthority(permits: DataFrame, categoryRefs: Seq[String],
                          swaCode: String): DataFrame = {
    val centroid = Geo.stCentroid(
      Geo.stGeomFromText(col("works_location_coordinates")))
    stagedWorks(permits, Seq("works" -> categoryRefs), swaCode)
      .drop("model")
      .withColumn("work_point", centroid)
      .withColumn("easting", round(col("work_point.x"), 2))
      .withColumn("northing", round(col("work_point.y"), 2))
      .withColumn("actual_start_date_time", col("__start"))
      .withColumn("actual_end_date_time", col("__end"))
      .drop("__start", "__end")
  }

  /** The works staging of stg_{emergency,major}_works_by_authority for
    * several work-category families at once: rows are tagged with their
    * family's name (`model`; refs outside every family drop), and there
    * is one row per (model, permit) carrying the staging columns,
    * `duration_days` and the work window as `__start`/`__end`.
    *
    * Duration: same start/end month → day(end)-day(start); otherwise
    * days into the end month (lines 40-49). In-progress works get
    * end = start + 7 days and duration 7 (lines 70-96), and exclude
    * permits with a completed WORK_STOP anywhere in `permits`
    * (uncorrelated NOT IN → anti-join). The dedup here IS ordered in the
    * dbt source (ORDER BY permit_reference_number,
    * actual_start_date_time) — earliest start wins; event_reference
    * breaks residual ties. */
  private def stagedWorks(permits: DataFrame,
      families: Seq[(String, Seq[String])], swaCode: String): DataFrame = {
    val tag = coalesce(families.map { case (name, refs) =>
      when(col("work_category_ref").isin(refs.map(lit): _*), lit(name))
    }: _*)
    val startTs = col("actual_start_date_time").cast("timestamp")
    val endTs = col("actual_end_date_time").cast("timestamp")
    val sharedCols = Seq("model", "permit_reference_number",
      "promoter_organisation", "promoter_swa_code", "highway_authority",
      "street_name", "activity_type", "work_category", "work_status",
      "works_location_coordinates", "usrn").map(col)
    val tagged = permits.withColumn("model", tag)
    val completed = tagged
      .where(col("model").isNotNull &&
        col("work_status_ref") === "completed" &&
        col("event_type") === "WORK_STOP" &&
        col("actual_start_date_time").isNotNull &&
        col("actual_end_date_time").isNotNull &&
        col("works_location_coordinates").isNotNull &&
        col("highway_authority_swa_code") === swaCode)
      .select(sharedCols :+ startTs.as("__start") :+ endTs.as("__end")
        :+ col("event_reference"): _*)
      .withColumn("duration_days",
        when(year(col("__start")) === year(col("__end")) &&
          month(col("__start")) === month(col("__end")),
          dayofmonth(col("__end")) - dayofmonth(col("__start")))
          .otherwise(dayofmonth(col("__end"))).cast("long"))
    val completedAnywhere = permits
      .where(col("work_status_ref") === "completed" &&
        col("event_type") === "WORK_STOP")
      .select("permit_reference_number")
    val inProgress = tagged
      .where(col("model").isNotNull &&
        col("work_status_ref") === "in_progress" &&
        col("actual_start_date_time").isNotNull &&
        col("works_location_coordinates").isNotNull &&
        col("highway_authority_swa_code") === swaCode)
      .join(completedAnywhere.distinct(),
        Seq("permit_reference_number"), "left_anti")
      .select(sharedCols :+ startTs.as("__start")
        :+ (startTs + expr("INTERVAL 7 DAYS")).as("__end")
        :+ col("event_reference"): _*)
      .withColumn("duration_days", lit(7L))
    Relational.distinctOn(completed.unionByName(inProgress),
        Seq("model", "permit_reference_number"),
        Seq(col("__start").asc, col("event_reference").asc))
      .drop("event_reference")
  }

  /** int_postcodes (int_postcodes.sql:7-49): Code-Point postcodes with
    * census population (P001, sex split) and household (P002) counts,
    * COALESCE 0. P001/P002 use the Catalog's SQL-safe template names
    * (`Sex_Code`, `Count` — post_code_p001.py:76-81). */
  def intPostcodes(codePoint: DataFrame, p001: DataFrame,
                   p002: DataFrame): DataFrame = {
    val population = p001.groupBy(col("Postcode").as("postcode"))
      .agg(sum("Count").as("__pop"),
        sum(when(col("Sex_Code") === 1, col("Count")).otherwise(0L)).as("__f"),
        sum(when(col("Sex_Code") === 2, col("Count")).otherwise(0L)).as("__m"))
    val households = p002.select(col("Postcode").as("postcode"),
      col("Count").as("__hh"))
    codePoint.select(col("postcode"), col("positional_quality_indicator"),
        col("country_code"), col("nhs_regional_ha_code"), col("nhs_ha_code"),
        col("admin_county_code"), col("admin_district_code"),
        col("admin_ward_code"), col("geometry").as("postcode_point"))
      .join(population, Seq("postcode"), "left")
      .join(households, Seq("postcode"), "left")
      .withColumn("total_population", coalesce(col("__pop"), lit(0L)))
      .withColumn("female_population", coalesce(col("__f"), lit(0L)))
      .withColumn("male_population", coalesce(col("__m"), lit(0L)))
      .withColumn("total_households", coalesce(col("__hh"), lit(0L)))
      .drop("__pop", "__f", "__m", "__hh")
  }

  /** int_{emergency,major}_works_postcodes_by_authority: every postcode
    * centroid within 500 m of each work point
    * (int_emergency_works_postcodes_by_authority.sql:9-38). The dbt
    * ±500 bounding box + ST_Contains(circular buffer) IS a radius
    * predicate; here it's the grid-cell EQUI-join ([[RangeJoin]] — no
    * broadcast-nested-loop at scale) with the exact distance filter.
    * dbt's LEFT join keeps works with no postcode in range; mirrored by
    * unioning the unmatched works back with null postcode columns. The
    * radius join is cached ([[graft.PersistScope.cache]]): the
    * unmatched-works anti-join re-evaluates it, and without the cache the
    * most expensive stage (RangeJoin + distance filter) would run twice
    * per action. */
  def intWorksPostcodes(stgWorks: DataFrame, postcodes: DataFrame): DataFrame = {
    // __rk: null-safe work identity for the unmatched-works anti-join.
    // stg is distinctOn'd per permit ref so refs are unique (incl. at
    // most one NULL, which distinctOn pools) — but a plain anti-join on
    // the ref NEVER matches NULL, so a matched NULL-ref work would be
    // re-emitted as a spurious all-null-postcode row the dbt LEFT JOIN
    // does not produce
    val works = stgWorks.select(
      col("permit_reference_number"),
      coalesce(col("permit_reference_number"), lit("\u0000<null-ref>"))
        .as("__rk"),
      col("easting").as("work_easting"), col("northing").as("work_northing"),
      col("duration_days"), col("actual_start_date_time"),
      col("actual_end_date_time"), col("highway_authority"),
      col("work_point.x").as("__wx"), col("work_point.y").as("__wy"))
    val pcs = postcodes.select(col("postcode"),
      col("positional_quality_indicator"),
      Geo.stX(Geo.stCentroid(Geo.stGeomFromText(col("postcode_point"))))
        .as("postcode_easting"),
      Geo.stY(Geo.stCentroid(Geo.stGeomFromText(col("postcode_point"))))
        .as("postcode_northing"),
      col("country_code"), col("nhs_regional_ha_code"), col("nhs_ha_code"),
      col("admin_county_code"), col("admin_district_code"),
      col("admin_ward_code"), col("total_population"),
      col("female_population"), col("male_population"),
      col("total_households"))
    val joined = graft.PersistScope.cache(RangeJoin.radiusJoin(works, pcs,
        "__wx", "__wy", "postcode_easting", "postcode_northing", 500.0)
      .withColumn("distance_m", Geo.stDistance(
        Geo.stPoint(col("__wx"), col("__wy")),
        Geo.stPoint(col("postcode_easting"), col("postcode_northing")))))
    val unmatched = works
      .join(joined.select("__rk").distinct(), Seq("__rk"), "left_anti")
    joined.drop("__wx", "__wy", "__rk")
      .unionByName(unmatched.drop("__wx", "__wy", "__rk"),
        allowMissingColumns = true)
  }

  /** {emergency,major}_wellbeing for SEVERAL work-category families in
    * ONE pass: per-permit rollup of affected postcodes with the DfT
    * wellbeing formula £2.10 × days × households
    * ({emergency,major}_wellbeing.sql:5-47), rows tagged with their
    * family (`model`). The £2.10 multiply runs in DECIMAL against integer
    * day/household counts — exact to the penny, so ROUND(…, 2) is a
    * no-op both here and in DuckDB. Because the category-ref sets are
    * DISJOINT (required), deduping per (model, permit) and running one
    * radius join gives each family exactly the rows it would get alone
    * (ModelsSpec pins it), while the permit scan, the completed-anywhere
    * aggregate, the dedup shuffle, the postcode prep and the radius join
    * all run once instead of once per family. The descriptive columns
    * ride THROUGH the radius join (bounded fanout), so there is no
    * join-back to the staging rows.
    *
    * NULL permit refs never reach the output, as in the dbt
    * {emergency,major}_wellbeing JOIN back to staging (NULL never
    * equi-joins): they drop before [[stagedWorks]], which leaves the
    * completed-anywhere exclusion unchanged (a NULL ref never matches
    * the anti-join). */
  def wellbeingByModel(permits: DataFrame, postcodes: DataFrame,
      families: Seq[(String, Seq[String])], swaCode: String): DataFrame = {
    require(families.nonEmpty, "wellbeingByModel: families must be non-empty")
    val allRefs = families.flatMap(_._2)
    require(allRefs.distinct.size == allRefs.size,
      "wellbeingByModel: family category-ref sets must be disjoint")
    val point = Geo.stCentroid(
      Geo.stGeomFromText(col("works_location_coordinates")))
    // NO persist and NO anti-join/union here (r21, guide §2.4): the
    // rollup below is entirely NULL-ignoring aggregation (countDistinct
    // + sums) grouped by left-side columns, so the LEFT-outer radius
    // join is row-equivalent to radiusJoin + unmatched-anti-join +
    // union — the shape the dbt LEFT JOIN has — while needing stg and
    // the join output only ONCE each. That drops both caches (2
    // materialization passes), the anti-join (1 shuffle + distinct
    // aggregate), and the union: measured 21 → 13 AQE jobs/pass,
    // q_model_wellbeing 3.06 → ~1.9 s at sf0.1; at scale it removes
    // two full-relation persists from the hot path.
    val stg = stagedWorks(
        permits.where(col("permit_reference_number").isNotNull),
        families, swaCode)
        .withColumn("__wp", point)
        .withColumn("work_easting", round(col("__wp.x"), 2))
        .withColumn("work_northing", round(col("__wp.y"), 2))
        .withColumn("__wx", col("__wp.x"))
        .withColumn("__wy", col("__wp.y"))
        .withColumn("actual_start_date_time", col("__start"))
        .withColumn("actual_end_date_time", col("__end"))
        .drop("__start", "__end", "works_location_coordinates", "__wp")
    val pcs = postcodes.select(col("postcode"),
      Geo.stX(Geo.stCentroid(Geo.stGeomFromText(col("postcode_point"))))
        .as("postcode_easting"),
      Geo.stY(Geo.stCentroid(Geo.stGeomFromText(col("postcode_point"))))
        .as("postcode_northing"),
      col("total_population"), col("female_population"),
      col("male_population"), col("total_households"))
    RangeJoin.radiusJoinLeft(stg, pcs,
        "__wx", "__wy", "postcode_easting", "postcode_northing", 500.0)
      .groupBy("model", "permit_reference_number", "promoter_organisation",
        "highway_authority", "street_name", "activity_type",
        "work_category", "work_status", "usrn", "work_easting",
        "work_northing", "actual_start_date_time", "actual_end_date_time",
        "duration_days")
      .agg(
        countDistinct(col("postcode")).as("postcode_count"),
        sum("total_population").as("total_population_affected"),
        sum("female_population").as("total_female_population"),
        sum("male_population").as("total_male_population"),
        sum("total_households").as("total_households_affected"))
      .withColumn("wellbeing_total_impact",
        round(lit(BigDecimal("2.10")) * col("duration_days") *
          col("total_households_affected"), 2).cast("double"))
  }

  /** clean_up.sql: the post-hook summary row (intermediate-table
    * lifecycle is the caller's storage concern; the model's observable
    * output is the two record counts). */
  def wellbeingCleanupSummary(emergency: DataFrame, major: DataFrame): DataFrame = {
    val e = emergency.agg(count(lit(1)).as("emergency_wellbeing_records"))
    val m = major.agg(count(lit(1)).as("major_wellbeing_records"))
    e.crossJoin(m).withColumn("message", lit("Intermediate tables dropped"))
  }

  // ----------------------------------------------------------- data tests

  /** The dbt data_tests of one `dbt build`, as (test_name, violations)
    * rows: both duplicate-permit tests
    * (data_tests/assert_no_duplicate_permits_*) plus the LONDON
    * impact-scores not_null pair (test_impact_scores_london.yml) — the
    * shape the driver query and its oracle pin; the England family's
    * structurally identical not_null tests are not evaluated here. All
    * halves read ONE cached [[latestFromEvents]] pass for the London
    * family.
    *
    * Duplicate permits: the frame's rows ARE the dbt lists' union
    * post-exclusion — an in-progress row survives iff its authority is
    * in the list with no completed stop at that authority (= membership
    * in in_progress_list_london), a stop row survives iff its authority
    * is in the list (= completed_list_london) — and the dedup keeps
    * exactly one row per (permit, leg), so `both legs present` ⇔
    * `permit in both lists` (ModelsSpec pins the count against
    * [[graft.operators.DataQuality.overlappingKeys]] over the built
    * lists). NULL references are dropped like the dbt inner-join test
    * drops them (the frame keeps them for scoring, but they can never
    * match the test's equi-join). England's overlap is structurally empty in a
    * single-frame run: its exclusion key IS the test key (the dbt test
    * exists because dbt's two lists materialize at different times), so
    * the predicate is the provably-empty filter — Catalyst does NOT fold
    * two attribute equalities to false, so spelling the contradiction
    * out would re-run the aggregates for a count that is 0 by
    * construction.
    *
    * not_null on total_impact_level and uprn_count: dbt runs one test
    * per column, so the count is the per-column SUM (a hypothetical
    * both-null row counts twice), taken over the PRE-normalisation
    * scoring aggregate ([[rawImpactFromLatest]]). That equals counting
    * the [[impactScores]] output, because the min–max normalisation is a
    * row bijection that preserves both columns' null-ness: the bounds
    * cross-join multiplies by a 1-row global aggregate,
    * `total_impact_level` is `total10 / 10`, and `uprn_count` is carried
    * through untouched. */
  def dataTestsFromEvents(permits: DataFrame, openUsrns: DataFrame,
      uprnCounts: DataFrame, authorities: Seq[String]): DataFrame = {
    require(authorities.nonEmpty,
      "dataTestsFromEvents: the correlated test needs an authority list")
    // the DIMS-FREE latest frame is what gets cached: the dup-test half
    // needs only (permit, leg) membership and the not_null half
    // aggregates to the USRN grain before the dimensions join
    // (rawImpactFromLatest), so the cached rows stay narrow — no
    // geometry string, no per-permit dim probe. The pick-ordering
    // columns (event_time, event_reference) are projected away before
    // the cache build: neither consumer reads them, and they are two of
    // the widest strings in the frame.
    val tagged = graft.PersistScope.cache(latestFromEvents(
      permits, authorities, correlateOnAuthority = true)
      .select((Seq("permit_reference_number", "__leg") ++
        eventScoringCols).map(col): _*))
    val legs = tagged
      .where(col("permit_reference_number").isNotNull)
      .groupBy("permit_reference_number")
      .agg(max(col("__leg")).as("__mx"), min(col("__leg")).as("__mn"))
    val london = legs.where(col("__mx") === 1 && col("__mn") === 0)
      .agg(count(lit(1)).as("violations"))
      .select(lit("assert_no_duplicate_permits_london").as("test_name"),
        col("violations"))
    // England: provably 0 in a single-frame run (the exclusion key IS
    // the test key) — the provably-empty filter, see above
    val england = legs.where(lit(false))
      .agg(count(lit(1)).as("violations"))
      .select(lit("assert_no_duplicate_permits_england").as("test_name"),
        col("violations"))
    val notNull = rawImpactFromLatest(tagged, openUsrns, uprnCounts)
      .agg((count(when(col("total10").isNull, 1)) +
        count(when(col("uprn_count").isNull, 1))).as("violations"))
      .select(lit("impact_scores_not_null").as("test_name"),
        col("violations"))
    london.unionByName(england).unionByName(notNull)
  }

  // ------------------------------------------------------------ full DAG

  /** The complete dbt DAG by model name over the landed tables — the
    * run-everything entry a dbt user maps their `dbt run` onto. Wellbeing
    * staging/intermediate models are parameterized the reference's way
    * (emergency = immediate refs, major = 'major', authority 4720). The
    * marts are the same functions the driver queries run: the impact
    * scores read the permit events ([[impactScores]] — London correlated
    * over [[londonAuthorities]], England uncorrelated over every
    * authority), and both wellbeing marts are one [[wellbeingByModel]]
    * frame split by `model`.
    *
    * Cost note: constructing the map is NOT free — the two authority-
    * score entries EXECUTE their whole model pipeline at composition
    * time (finishAuthorityScores finishes the registry-bounded
    * authority rank on the driver and returns a LocalRelation, which
    * also runs [[Stats.cumLess]]'s histogram action). `dbt run`
    * materializes everything anyway (this entry's purpose); a caller
    * wanting ONE cheap model should call its method directly. The
    * returned frames share no cache: each wellbeing mart, and clean_up,
    * re-runs the one wellbeing plan.
    * Intermediates cached inside the models belong to the caller's
    * [[graft.PersistScope]]: materialize the returned frames inside
    * `PersistScope.within`, which releases them once the block ends. */
  def streetworksModels(permits: DataFrame, openUsrns: DataFrame,
                        swaCodes: DataFrame, linkedIds: DataFrame,
                        codePoint: DataFrame, p001: DataFrame,
                        p002: DataFrame,
                        wellbeingSwaCode: String = "4720")
      : Map[String, DataFrame] = {
    val counts = uprnUsrnCount(openUsrns, linkedIds)
    val inLondon = inProgressList(permits, openUsrns, swaCodes, counts,
      londonAuthorities, correlateOnAuthority = true)
    val doneLondon = completedList(permits, openUsrns, swaCodes, counts,
      londonAuthorities)
    val inEngland = inProgressList(permits, openUsrns, swaCodes, counts,
      Nil, correlateOnAuthority = false)
    val doneEngland = completedList(permits, openUsrns, swaCodes, counts, Nil)
    val emergencyRefs = Seq("immediate_urgent", "immediate_emergency")
    val stgEmergency = stgWorksByAuthority(permits, emergencyRefs,
      wellbeingSwaCode)
    val stgMajor = stgWorksByAuthority(permits, Seq("major"), wellbeingSwaCode)
    val pcs = intPostcodes(codePoint, p001, p002)
    val wellbeing = wellbeingByModel(permits, pcs,
      Seq("emergency_wellbeing" -> emergencyRefs,
        "major_wellbeing" -> Seq("major")), wellbeingSwaCode)
    def wellbeingOf(model: String): DataFrame =
      wellbeing.where(col("model") === model).drop("model")
    val emergencyWellbeing = wellbeingOf("emergency_wellbeing")
    val majorWellbeing = wellbeingOf("major_wellbeing")
    Map(
      "uprn_usrn_count" -> counts,
      "in_progress_list_london" -> inLondon,
      "completed_list_london" -> doneLondon,
      "usrn_permit_details_london" -> usrnPermitDetails(inLondon, doneLondon),
      "impact_scores_london" -> impactScores(permits, openUsrns, counts,
        londonAuthorities, correlateOnAuthority = true),
      "impact_scores_highway_authority_london" ->
        impactScoresHighwayAuthority(permits, openUsrns, counts,
          londonAuthorities, correlateOnAuthority = true),
      "in_progress_list_england" -> inEngland,
      "completed_list_england" -> doneEngland,
      "usrn_permit_details_england" -> usrnPermitDetails(inEngland, doneEngland),
      "impact_scores_england" -> impactScores(permits, openUsrns, counts,
        Nil, correlateOnAuthority = false),
      "impact_scores_highway_authority_england" ->
        impactScoresHighwayAuthority(permits, openUsrns, counts,
          Nil, correlateOnAuthority = false),
      "stg_emergency_works_by_authority" -> stgEmergency,
      "stg_major_works_by_authority" -> stgMajor,
      "int_postcodes" -> pcs,
      "int_emergency_works_postcodes_by_authority" ->
        intWorksPostcodes(stgEmergency, pcs),
      "int_major_works_postcodes_by_authority" ->
        intWorksPostcodes(stgMajor, pcs),
      "emergency_wellbeing" -> emergencyWellbeing,
      "major_wellbeing" -> majorWellbeing,
      "clean_up" -> wellbeingCleanupSummary(emergencyWellbeing, majorWellbeing))
  }
}
