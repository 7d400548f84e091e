package graft.pipelines

import graft.SparkSpec
import graft.operators.DataQuality
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden tests for the dbt-models layer over hand-built REAL-SCHEMA
  * fixtures: every expected number below is computed by hand from the
  * reference model SQL (dbt/street_manager_street_works_analysis/models),
  * so a drift in either the weights, the dedup, the exclusion, the
  * normalisation, or the wellbeing geometry chain fails a named assert.
  * The reference's own data_tests are exercised at the bottom. */
class ModelsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------ street-works fixture
  import ModelsSpec.{Ev, Wv}

  private val westminster = "CITY OF WESTMINSTER" // in Models.londonAuthorities
  private val leeds = "LEEDS CITY COUNCIL"        // not in the list

  private def permits: DataFrame = Seq(
    // P1: in-progress, two event versions — dedup must keep e2 (later time)
    Ev("P1", 1L, "10", "WORK_START", "in_progress", westminster, "SWA1",
      "07", "Standard", "No", "No", Some("road_closure"), "Oxford St", "100"),
    Ev("P1", 2L, "11", "WORK_START", "in_progress", westminster, "SWA1",
      "07", "Major", "Yes", "No", None, "Oxford St", "100"),
    // P2: in-progress AND completed WORK_STOP — excluded from in-progress
    Ev("P2", 3L, "20", "WORK_START", "in_progress", westminster, "SWA1",
      "07", "Major", "Yes", "Yes", Some("contra_flow"), "Oxford St", "100"),
    Ev("P2", 4L, "21", "WORK_STOP", "completed", westminster, "SWA1",
      "07", "Minor", "No", "Yes", Some("give_and_take"), "Oxford St", "100"),
    // P3: completed-only
    Ev("P3", 5L, "30", "WORK_STOP", "completed", westminster, "SWA1",
      "07", "Standard", "No", "No", Some("no_carriageway_incursion"),
      "Baker St", "200"),
    // P4: non-London authority — England lists only
    Ev("P4", 6L, "40", "WORK_START", "in_progress", leeds, "SWA9",
      "99", "Minor", "No", "No", Some("stop_go_boards"), "Briggate", "300"),
    // P5: proposed — excluded everywhere
    Ev("P5", 7L, "50", "WORK_START", "proposed", westminster, "SWA1",
      "07", "Major", "No", "No", Some("road_closure"), "Oxford St", "100"))
    .toDF()
    .withColumn("promoter_organisation", lit("ACME"))
    .withColumn("activity_type", lit("utility"))
    .withColumn("works_location_type", lit("Footway"))
    .withColumn("road_category", lit("3"))
    .withColumn("proposed_start_date", lit("2025-01-01"))
    .withColumn("proposed_end_date", lit("2025-01-31"))
    .withColumn("actual_start_date_time", lit("2025-01-02 00:00:00"))
    .withColumn("actual_end_date_time", lit("2025-01-20 00:00:00"))
    .withColumn("collaborative_working", lit("No"))
    // columns the wellbeing chain filters on (none of these rows are
    // emergency/major works for authority 4720 -> empty wellbeing tables)
    .withColumn("work_category_ref", lit("standard"))
    .withColumn("work_status", lit("Works in progress"))
    .withColumn("works_location_coordinates", lit("POINT (1 1)"))

  private def openUsrns: DataFrame = Seq(
    (100L, "Designated", "POINT (0 0)"),
    (300L, "Numbered", "POINT (800 800)"))
    .toDF("usrn", "street_type", "geometry")

  private def swaCodes: DataFrame = Seq(
    ("7", "Yes", "No", "OF7", "No"))
    .toDF("swa_code", "ofgem_electricity_licence", "ofgem_gas_licence",
      "ofcom_licence", "ofwat_licence")

  private def linkedIds: DataFrame = Seq(
    ("A", 100L), ("B", 100L), ("C", 100L))
    .toDF("correlation_id", "identifier_2")

  private def counts: DataFrame = Models.uprnUsrnCount(openUsrns, linkedIds)

  private def londonLists: (DataFrame, DataFrame) = (
    Models.inProgressList(permits, openUsrns, swaCodes, counts,
      Models.londonAuthorities, correlateOnAuthority = true),
    Models.completedList(permits, openUsrns, swaCodes, counts,
      Models.londonAuthorities))

  private def londonScores(events: DataFrame): DataFrame =
    Models.impactScores(events, openUsrns, counts, Models.londonAuthorities,
      correlateOnAuthority = true)

  /** Extra events in the [[permits]] dressing. */
  private def dressed(evs: Seq[Ev]): DataFrame = evs.toDF()
    .withColumn("promoter_organisation", lit("ACME"))
    .withColumn("activity_type", lit("utility"))
    .withColumn("works_location_type", lit("Footway"))
    .withColumn("road_category", lit("3"))
    .withColumn("proposed_start_date", lit("2025-01-01"))
    .withColumn("proposed_end_date", lit("2025-01-31"))
    .withColumn("actual_start_date_time", lit("2025-01-02 00:00:00"))
    .withColumn("actual_end_date_time", lit("2025-01-20 00:00:00"))
    .withColumn("collaborative_working", lit("No"))
    .withColumn("work_category_ref", lit("standard"))
    .withColumn("work_status", lit("Works in progress"))
    .withColumn("works_location_coordinates", lit("POINT (1 1)"))

  private val camden = "LONDON BOROUGH OF CAMDEN"

  /** [[permits]] plus P6, a London duplicate-permit violation:
    * in-progress at Westminster with no stop there (survives the
    * correlated exclusion) AND a completed stop at Camden (enters the
    * completed list) -> the permit appears in both London lists. */
  private def withViolation: DataFrame = permits.unionByName(dressed(Seq(
    Ev("P6", 8L, "60", "WORK_START", "in_progress", westminster, "SWA1",
      "07", "Standard", "No", "No", Some("road_closure"), "Oxford St", "100"),
    Ev("P6", 9L, "61", "WORK_STOP", "completed", camden, "SWA2",
      "07", "Standard", "No", "No", Some("road_closure"), "Camden Rd", "400"))))

  /** (test_name -> violations) of [[Models.dataTestsFromEvents]]. */
  private def dataTests(events: DataFrame): Map[String, Long] =
    Models.dataTestsFromEvents(events, openUsrns, counts,
        Models.londonAuthorities)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Permits in both lists, as the dbt data test counts them. */
  private def listOverlap(inP: DataFrame, done: DataFrame): Long =
    DataQuality.overlappingKeys(inP.select("permit_reference_number"),
      done.select("permit_reference_number"), "permit_reference_number")
      .count()

  test("uprn_usrn_count: linked identifiers counted per USRN, unmatched dropped") {
    val rows = counts.orderBy("usrn").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((100L, 3L)))
  }

  test("in_progress_list_london: dedup picks the later event; P2 excluded by the completed WORK_STOP; dims enrich; uprn_count coalesces") {
    val (inP, _) = londonLists
    val rows = inP.collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("permit_reference_number") === "P1")
    // the DISTINCT ON pick is the LATER event version (e2)
    assert(r.getAs[String]("work_category") === "Major")
    assert(r.getAs[String]("traffic_management_type_ref") === null)
    // dimension joins (usrn geometry, SWA licences via the INT cast, counts)
    assert(r.getAs[String]("geometry") === "POINT (0 0)")
    assert(r.getAs[String]("ofcom_licence") === "OF7")
    assert(r.getAs[Long]("uprn_count") === 3L)
  }

  test("completed_list_london: WORK_STOP rows only; missing dims null / zero-fill") {
    val (_, done) = londonLists
    val rows = done.orderBy("permit_reference_number").collect()
    assert(rows.map(_.getAs[String]("permit_reference_number")).toSeq ===
      Seq("P2", "P3"))
    val p3 = rows(1)
    assert(p3.getAs[String]("geometry") === null)  // usrn 200 not in dim
    assert(p3.getAs[Long]("uprn_count") === 0L)    // COALESCE 0
  }

  test("england lists: no authority filter; uncorrelated exclusion still drops P2; P4 appears") {
    val inE = Models.inProgressList(permits, openUsrns, swaCodes, counts,
      Nil, correlateOnAuthority = false)
    assert(inE.select("permit_reference_number").as[String].collect().sorted
      .toSeq === Seq("P1", "P4"))
    val doneE = Models.completedList(permits, openUsrns, swaCodes, counts)
    assert(doneE.count() === 2)
  }

  test("latestFromEvents: the event frame is row-identical to the list union, with and without authority correlation") {
    // the event-side columns every impact mart and data test reads
    val eventCols = Seq("permit_reference_number", "usrn", "street_name",
      "highway_authority", "highway_authority_swa_code", "work_category",
      "is_ttro_required", "is_traffic_sensitive",
      "traffic_management_type_ref")
    // P6: in-progress under a LISTED authority, its completed WORK_STOP
    // under an UNLISTED one — the dbt NOT-IN subquery has no authority
    // predicate, so with corr=false the stop must exclude P6 from an
    // authority-filtered list even though the stop event itself is
    // filtered out; this is the combination where an exclusion set built
    // AFTER the authority filter would silently keep the row
    // NULL-ref pair: a NULL join key never matches an anti-join, so the
    // NULL-ref in-progress row survives its NULL-ref stop in the list
    // route — the event frame must not pool NULL refs into one window
    // partition and exclude it
    val crossAuthority = Seq(
      ModelsSpec.Ev("P6", 8L, "60", "WORK_START", "in_progress", westminster,
        "SWA1", "07", "Standard", "No", "No", Some("road_closure"),
        "Oxford St", "100"),
      ModelsSpec.Ev("P6", 9L, "61", "WORK_STOP", "completed", leeds,
        "SWA9", "99", "Standard", "No", "No", Some("road_closure"),
        "Oxford St", "100"),
      ModelsSpec.Ev(null, 10L, "70", "WORK_START", "in_progress",
        westminster, "SWA1", "07", "Minor", "No", "No",
        Some("road_closure"), "Oxford St", "100"),
      ModelsSpec.Ev(null, 11L, "71", "WORK_STOP", "completed", westminster,
        "SWA1", "07", "Minor", "No", "No", Some("road_closure"),
        "Oxford St", "100")).toDF()
    val events = permits.unionByName(crossAuthority,
      allowMissingColumns = true)
    for ((auth, corr) <- Seq(
        (Models.londonAuthorities, true), (Models.londonAuthorities, false),
        (Seq.empty[String], true), (Seq.empty[String], false))) {
      val inP = Models.inProgressList(events, openUsrns, swaCodes, counts,
        auth, correlateOnAuthority = corr)
      val done = Models.completedList(events, openUsrns, swaCodes, counts,
        auth)
      // leg 0 = the in-progress list, leg 1 = the completed list
      val viaLists = inP.select(eventCols.map(col): _*)
        .withColumn("__leg", lit(0))
        .unionByName(done.select(eventCols.map(col): _*)
          .withColumn("__leg", lit(1)))
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val fused = Models.latestFromEvents(events, auth, corr)
        .select((eventCols :+ "__leg").map(col): _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(fused.toSeq === viaLists.toSeq, s"(auth=$auth corr=$corr)")
      // pin the ground truth itself, not just route agreement: under
      // corr=false the unlisted-authority stop excludes P6; under
      // corr=true it does not
      val inRefs = inP.select("permit_reference_number")
        .as[String].collect().toSet
      assert(inRefs.contains("P6") === corr,
        s"(auth=$auth corr=$corr) in-progress refs: $inRefs")
    }
  }

  test("usrn_permit_details: union of both lists with the detail columns") {
    val (inP, done) = londonLists
    val det = Models.usrnPermitDetails(inP, done)
    assert(det.count() === 3)
    assert(det.columns.toSeq.take(4) ===
      Seq("usrn", "street_name", "highway_authority", "permit_reference_number"))
  }

  test("impact_scores (min-max): hand-computed weights, bounds, categories") {
    // weights (deci-points): P1 (Major 50 + ttro 5 + NULL tm 5 + band<=5 2) = 62
    //                        P2 (Minor 10 + sens 5 + medium tm 10 + 2)      = 27
    //                        P3 (Standard 20 + no_carriageway 0 + 2)        = 22
    // usrn 100 total10 = 62+27 = 89; usrn 200 total10 = 22
    // min-max: 1 + 99*(89-22)/67 = 100 (Severe); 1 + 0 = 1 (Minimal)
    val scores = londonScores(permits).orderBy("usrn").collect()
    assert(scores.length === 2)
    val (u100, u200) = (scores(0), scores(1))
    assert(u100.getAs[String]("usrn") === "100")
    assert(u100.getAs[Double]("total_impact_level") === 8.9)
    assert(u100.getAs[Double]("impact_index_score") === 100.0)
    assert(u100.getAs[String]("impact_category") === "Severe")
    assert(u100.getAs[String]("highway_authority_swa_code") === "swa1") // LOWER
    assert(u200.getAs[Double]("total_impact_level") === 2.2)
    assert(u200.getAs[Double]("impact_index_score") === 1.0)
    assert(u200.getAs[String]("impact_category") === "Minimal")
  }

  test("impact_scores degenerate: all totals equal -> 50.0") {
    // P3 and a twin on another street (uprn_count 0 on both): two USRN
    // groups with the same total -> mx10 == mn10
    val p3 = permits.where(col("permit_reference_number") === "P3")
    val twin = p3.withColumn("permit_reference_number", lit("P3b"))
      .withColumn("usrn", lit("300"))
    val scores = londonScores(p3.unionByName(twin))
    assert(scores.select("impact_index_score").as[Double].collect().toSeq ===
      Seq(50.0, 50.0))
  }

  test("impact_scores_highway_authority: rollup, rank sums, breakdown — hand-computed") {
    val rows = Models.impactScoresHighwayAuthority(permits, openUsrns, counts,
      Models.londonAuthorities, correlateOnAuthority = true).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("highway_authority") === westminster)
    assert(r.getAs[String]("highway_authority_swa_code") === "swa1")
    assert(r.getAs[Long]("total_usrns_count") === 2L)
    assert(r.getAs[Double]("avg_uprn_count") === 1.5)   // (3+0)/2
    assert(r.getAs[Long]("total_uprn_count") === 3L)
    assert(r.getAs[Double]("total_impact_level") === 11.1)
    assert(r.getAs[Double]("avg_impact_level_per_usrn") === 5.55)
    assert(r.getAs[Double]("max_impact_level") === 8.9)
    assert(r.getAs[Double]("min_impact_level") === 2.2)
    // ranks: 22 -> cl 0, 89 -> cl 1; n=2 -> scores 0 and 100
    assert(r.getAs[Double]("total_impact_index_score") === 100.0)
    assert(r.getAs[Double]("avg_impact_index_score") === 50.0)
    // single authority -> percent-rank 0 -> Minimal
    assert(r.getAs[Double]("highway_authority_impact_score") === 0.0)
    assert(r.getAs[String]("impact_category") === "Minimal")
    // breakdown over permit-level rows (P1 Major, P2 Minor, P3 Standard)
    assert(r.getAs[Long]("major_works_count") === 1L)
    assert(r.getAs[Long]("minor_works_count") === 1L)
    assert(r.getAs[Long]("standard_works_count") === 1L)
    assert(r.getAs[Long]("hs2_works_count") === 0L)
    assert(r.getAs[Long]("emergency_works_count") === 0L)
    assert(r.getAs[Long]("ttro_required_count") === 1L)      // P1 Yes
    assert(r.getAs[Long]("traffic_sensitive_count") === 1L)  // P2 Yes
    assert(r.getAs[Long]("high_impact_traffic_mgmt_count") === 0L)
    // England (uncorrelated, every authority): Leeds' P4 joins as a third
    // USRN and a second authority — whole rows, as the list route scored
    // them on this fixture
    val england = Models.impactScoresHighwayAuthority(permits, openUsrns,
        counts, Nil, correlateOnAuthority = false)
      .orderBy("highway_authority").collect().map(_.toSeq)
    assert(england.toSeq === Seq(
      Seq(westminster, "swa1", 2L, 1.5, 3L, 11.1, 5.55, 8.9, 2.2, 100.0,
        50.0, 100.0, "Severe", 1L, 1L, 1L, 0L, 0L, 1L, 1L, 0L),
      Seq(leeds, "swa9", 1L, 0.0, 0L, 2.2, 2.2, 2.2, 2.2, 0.0, 0.0, 0.0,
        "Minimal", 0L, 0L, 1L, 0L, 0L, 0L, 0L, 0L)))
  }

  // --------------------------------------------------- wellbeing fixture

  private def wellbeingPermits: DataFrame = Seq(
    // W1: completed, same start/end month -> duration = 9-5 = 4
    Wv("W1", 1L, "WORK_STOP", "completed", "immediate_urgent", "4720",
      Some("LINESTRING (100 100, 102 102)"),
      Some("2025-01-05 00:00:00"), Some("2025-01-09 00:00:00")),
    // W2: in-progress -> duration 7, end = start + 7 days
    Wv("W2", 2L, "WORK_START", "in_progress", "immediate_emergency", "4720",
      Some("POINT (500 500)"), Some("2025-02-20 00:00:00"), None),
    // W3: completed across months -> duration = day(end) = 3
    Wv("W3", 3L, "WORK_STOP", "completed", "immediate_urgent", "4720",
      Some("POINT (2000 2000)"),
      Some("2024-12-28 00:00:00"), Some("2025-01-03 00:00:00")),
    // W4: in-progress but ALSO completed elsewhere -> excluded
    Wv("W4", 4L, "WORK_START", "in_progress", "immediate_urgent", "4720",
      Some("POINT (100 100)"), Some("2025-03-01 00:00:00"), None),
    Wv("W4", 5L, "WORK_STOP", "completed", "major", "4720",
      Some("POINT (100 100)"),
      Some("2025-03-01 00:00:00"), Some("2025-03-02 00:00:00")),
    // other authority -> excluded by the swa filter
    Wv("W5", 6L, "WORK_STOP", "completed", "immediate_urgent", "9999",
      Some("POINT (100 100)"),
      Some("2025-01-05 00:00:00"), Some("2025-01-06 00:00:00")))
    .toDF()
    .withColumn("promoter_organisation", lit("ACME"))
    .withColumn("promoter_swa_code", lit("07"))
    .withColumn("highway_authority", lit(westminster))
    .withColumn("street_name", lit("Oxford St"))
    .withColumn("activity_type", lit("utility"))
    .withColumn("work_category", lit("Immediate - urgent"))
    .withColumn("work_status", lit("Works in progress"))
    .withColumn("usrn", lit("100"))

  private def codePoint: DataFrame = Seq(
    ("AA1 1AA", "10", "E92000001", "POINT (101 300)"),
    ("AA2 2AA", "10", "E92000001", "POINT (600 600)"),
    ("AA3 3AA", "10", "E92000001", "POINT (5000 5000)"))
    .toDF("postcode", "positional_quality_indicator", "country_code", "geometry")
    .withColumn("nhs_regional_ha_code", lit("Y56"))
    .withColumn("nhs_ha_code", lit("Q71"))
    .withColumn("admin_county_code", lit(""))
    .withColumn("admin_district_code", lit("E09000033"))
    .withColumn("admin_ward_code", lit("E05013806"))

  private def p001: DataFrame = Seq(
    ("AA1 1AA", 1L, "Female", 60L), ("AA1 1AA", 2L, "Male", 40L),
    ("AA2 2AA", 1L, "Female", 10L))
    .toDF("Postcode", "Sex_Code", "Sex_Label", "Count")

  private def p002: DataFrame = Seq(("AA1 1AA", 50L))
    .toDF("Postcode", "Count")

  private val families = Seq(
    "emergency_wellbeing" -> Seq("immediate_urgent", "immediate_emergency"),
    "major_wellbeing" -> Seq("major"))

  /** Both wellbeing marts over [[wellbeingPermits]], as the per-family
    * stg -> int_works_postcodes -> wellbeing chains computed them: one
    * line per row, `|`-joined in [[wellbeingLines]]'s column order.
    * W1/W2/W3 emergency (W3 has no postcode in range), W4's completed
    * major row. */
  private val wellbeingRows: Seq[String] = Seq(
    "emergency_wellbeing|W1|2025-01-05 00:00:00.0|2025-01-09 00:00:00.0|4|101.0|101.0|1|100|60|40|50|420.0",
    "emergency_wellbeing|W2|2025-02-20 00:00:00.0|2025-02-27 00:00:00.0|7|500.0|500.0|2|110|70|40|50|735.0",
    "emergency_wellbeing|W3|2024-12-28 00:00:00.0|2025-01-03 00:00:00.0|3|2000.0|2000.0|0|null|null|null|null|null",
    "major_wellbeing|W4|2025-03-01 00:00:00.0|2025-03-02 00:00:00.0|1|100.0|100.0|1|100|60|40|50|105.0")

  /** The rows of a [[Models.wellbeingByModel]] frame in the
    * [[wellbeingRows]] form; the descriptive columns every fixture row
    * shares (ACME, Westminster, ...) are checked once, here. */
  private def wellbeingLines(wb: DataFrame): Seq[String] = {
    val shared = wb.select("promoter_organisation", "highway_authority",
        "street_name", "activity_type", "work_category", "work_status", "usrn")
      .distinct().collect().map(_.toSeq)
    assert(shared.toSeq === Seq(Seq("ACME", westminster, "Oxford St",
      "utility", "Immediate - urgent", "Works in progress", "100")))
    wb.select("model", "permit_reference_number", "actual_start_date_time",
        "actual_end_date_time", "duration_days", "work_easting",
        "work_northing", "postcode_count", "total_population_affected",
        "total_female_population", "total_male_population",
        "total_households_affected", "wellbeing_total_impact")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  test("stg works: category/status/swa filters, exclusion, centroid, duration rules") {
    val stg = Models.stgWorksByAuthority(wellbeingPermits,
      Seq("immediate_urgent", "immediate_emergency"), "4720")
    val rows = stg.orderBy("permit_reference_number").collect()
    assert(rows.map(_.getAs[String]("permit_reference_number")).toSeq ===
      Seq("W1", "W2", "W3"))
    val w1 = rows(0)
    assert(w1.getAs[Double]("easting") === 101.0) // LINESTRING centroid
    assert(w1.getAs[Long]("duration_days") === 4L)
    val w2 = rows(1)
    assert(w2.getAs[Long]("duration_days") === 7L)
    assert(w2.getAs[java.sql.Timestamp]("actual_end_date_time").toString
      .startsWith("2025-02-27")) // start + 7 days
    assert(rows(2).getAs[Long]("duration_days") === 3L) // cross-month
  }

  test("int_postcodes: census population/household joins with zero-fill") {
    val pcs = Models.intPostcodes(codePoint, p001, p002)
      .orderBy("postcode").collect()
    assert(pcs.length === 3)
    assert(pcs(0).getAs[Long]("total_population") === 100L)
    assert(pcs(0).getAs[Long]("female_population") === 60L)
    assert(pcs(0).getAs[Long]("male_population") === 40L)
    assert(pcs(0).getAs[Long]("total_households") === 50L)
    assert(pcs(1).getAs[Long]("total_households") === 0L) // no P002 row
    assert(pcs(2).getAs[Long]("total_population") === 0L) // no P001 row
  }

  test("int works postcodes: 500m radius containment, exact distance, unmatched kept") {
    val stg = Models.stgWorksByAuthority(wellbeingPermits,
      Seq("immediate_urgent", "immediate_emergency"), "4720")
    val pcs = Models.intPostcodes(codePoint, p001, p002)
    val wp = Models.intWorksPostcodes(stg, pcs)
    val byPermit = wp.collect().groupBy(_.getAs[String]("permit_reference_number"))
    // W1 (101,101) <-> AA1 1AA (101,300): dist 199
    val w1 = byPermit("W1")
    assert(w1.length === 1 && w1.head.getAs[String]("postcode") === "AA1 1AA")
    assert(w1.head.getAs[Double]("distance_m") === 199.0)
    // W2 (500,500): AA2 2AA at sqrt(2)*100 = 141.4, AA1 1AA at 446.3 —
    // both inside the 500 m radius
    val w2 = byPermit("W2")
    assert(w2.map(_.getAs[String]("postcode")).sorted.toSeq ===
      Seq("AA1 1AA", "AA2 2AA"))
    // W3 (2000,2000): nothing within 500 -> LEFT-join row with null postcode
    val w3 = byPermit("W3")
    assert(w3.length === 1 && w3.head.getAs[String]("postcode") === null)
  }

  test("emergency_wellbeing: £2.10 × days × households, null pass-through on unmatched") {
    val pcs = Models.intPostcodes(codePoint, p001, p002)
    val wb = Models.wellbeingByModel(wellbeingPermits, pcs, families.take(1),
      "4720")
    val rows = wb.orderBy("permit_reference_number").collect()
    assert(rows.length === 3)
    val w1 = rows(0)
    assert(w1.getAs[Long]("postcode_count") === 1L)
    assert(w1.getAs[Long]("total_population_affected") === 100L)
    assert(w1.getAs[Long]("total_households_affected") === 50L)
    assert(w1.getAs[Double]("wellbeing_total_impact") === 420.0) // 2.10*4*50
    val w2 = rows(1)
    // both postcodes in range: pop 110, households 50+0; 2.10*7*50
    assert(w2.getAs[Long]("postcode_count") === 2L)
    assert(w2.getAs[Long]("total_population_affected") === 110L)
    assert(w2.getAs[Double]("wellbeing_total_impact") === 735.0)
    val w3 = rows(2)
    assert(w3.getAs[Long]("postcode_count") === 0L)
    assert(w3.isNullAt(w3.fieldIndex("wellbeing_total_impact")))
  }

  test("wellbeingByModel: the fused single-pass twin is row-identical to the per-family chains") {
    val pcs = Models.intPostcodes(codePoint, p001, p002)
    val fused = Models.wellbeingByModel(wellbeingPermits, pcs, families, "4720")
    // the per-family chains: one single-family run per family
    val perFamily = families
      .map(f => Models.wellbeingByModel(wellbeingPermits, pcs, Seq(f), "4720"))
      .reduce(_.unionByName(_))
    assert(fused.collect().toSet === perFamily.collect().toSet)
    assert(wellbeingLines(fused) === wellbeingRows)
    // overlapping family refs are a contract violation, not silent dedup
    intercept[IllegalArgumentException](Models.wellbeingByModel(
      wellbeingPermits, pcs,
      Seq("a" -> Seq("major"), "b" -> Seq("major")), "4720"))
    // empty families fail at the API boundary, not in coalesce()
    intercept[IllegalArgumentException](Models.wellbeingByModel(
      wellbeingPermits, pcs, Seq.empty, "4720"))
  }

  test("streetworksModels: the full dbt DAG by model name") {
    val dag = Models.streetworksModels(permits, openUsrns, swaCodes,
      linkedIds, codePoint, p001, p002)
    assert(dag.keySet === Set("uprn_usrn_count",
      "in_progress_list_london", "completed_list_london",
      "usrn_permit_details_london", "impact_scores_london",
      "impact_scores_highway_authority_london",
      "in_progress_list_england", "completed_list_england",
      "usrn_permit_details_england", "impact_scores_england",
      "impact_scores_highway_authority_england",
      "stg_emergency_works_by_authority", "stg_major_works_by_authority",
      "int_postcodes", "int_emergency_works_postcodes_by_authority",
      "int_major_works_postcodes_by_authority", "emergency_wellbeing",
      "major_wellbeing", "clean_up"))
    // every model materializes (no lazily-broken plan)
    assert(dag("impact_scores_london").count() === 2)
    assert(dag("in_progress_list_england").count() === 2)
    // clean_up carries the two record counts (street-works fixture has no
    // 4720-authority works, so both wellbeing tables are empty here)
    val cu = dag("clean_up").collect().head
    assert(cu.getAs[Long]("emergency_wellbeing_records") === 0L)
    assert(cu.getAs[Long]("major_wellbeing_records") === 0L)
  }

  // ------------------------------------------------------ dbt data tests

  test("dataTestsFromEvents: dup counts == overlappingKeys over the built lists (incl. a cross-authority violation)") {
    for (ev <- Seq(permits, withViolation)) {
      val tests = dataTests(ev)
      val inL = Models.inProgressList(ev, openUsrns, swaCodes, counts,
        Models.londonAuthorities, correlateOnAuthority = true)
      val doneL = Models.completedList(ev, openUsrns, swaCodes, counts,
        Models.londonAuthorities)
      val inE = Models.inProgressList(ev, openUsrns, swaCodes, counts,
        Nil, correlateOnAuthority = false)
      val doneE = Models.completedList(ev, openUsrns, swaCodes, counts, Nil)
      assert(tests("assert_no_duplicate_permits_london") ===
        listOverlap(inL, doneL))
      assert(tests("assert_no_duplicate_permits_england") ===
        listOverlap(inE, doneE))
      // not_null: dbt's per-column counts over the impact_scores_london
      // output
      val scores = londonScores(ev)
      assert(tests("impact_scores_not_null") ===
        scores.where(col("total_impact_level").isNull).count() +
          scores.where(col("uprn_count").isNull).count())
    }
    // and the violation case really is non-zero (the test can fail)
    assert(dataTests(withViolation)("assert_no_duplicate_permits_london") === 1L)
    // authorities = Nil is refused (it would not mean 'unfiltered' for the
    // correlated London test)
    intercept[IllegalArgumentException](
      Models.dataTestsFromEvents(permits, openUsrns, counts, Nil))
  }

  test("NULL permit references: no spurious dup-test violation, no double-emit in the radius join, fused wellbeing stays list-identical") {
    // a NULL-ref in-progress row at Westminster + a NULL-ref stop at
    // Camden would pool under one groupBy key and read as a London
    // violation — the equi-join route (and the dbt inner-join test)
    // counts 0 because NULL keys never match
    val withNulls = permits.unionByName(dressed(Seq(
      Ev(null, 10L, "70", "WORK_START", "in_progress", westminster, "SWA1",
        "07", "Standard", "No", "No", Some("road_closure"), "Oxford St", "100"),
      Ev(null, 11L, "71", "WORK_STOP", "completed", camden, "SWA2",
        "07", "Standard", "No", "No", Some("road_closure"), "Camden Rd", "400"))))
    assert(listOverlap(
      Models.inProgressList(withNulls, openUsrns, swaCodes, counts,
        Models.londonAuthorities, correlateOnAuthority = true),
      Models.completedList(withNulls, openUsrns, swaCodes, counts,
        Models.londonAuthorities)) === 0L)
    // the event frame keeps NULL-ref rows for scoring but must drop them
    // from the dup-test membership exactly like the list route (and the
    // dbt inner-join test) does
    assert(dataTests(withNulls)("assert_no_duplicate_permits_london") === 0L)

    // a MATCHED NULL-ref work emits only its matched rows — the anti-join
    // emulation of the dbt LEFT JOIN must not re-add it as an extra
    // all-null-postcode row
    val nullRefWork = Seq(
      Wv(null, 12L, "WORK_STOP", "completed", "immediate_urgent", "4720",
        Some("POINT (100 100)"), // ~200 m from AA1 1AA (101, 300): matched
        Some("2025-01-05 00:00:00"), Some("2025-01-09 00:00:00")))
      .toDF()
      .withColumn("promoter_organisation", lit("ACME"))
      .withColumn("promoter_swa_code", lit("07"))
      .withColumn("highway_authority", lit(westminster))
      .withColumn("street_name", lit("Oxford St"))
      .withColumn("activity_type", lit("utility"))
      .withColumn("work_category", lit("Immediate - urgent"))
      .withColumn("work_status", lit("Works completed"))
      .withColumn("usrn", lit("100"))
    val wvWithNull = wellbeingPermits.unionByName(nullRefWork)
    val stg = Models.stgWorksByAuthority(wvWithNull,
      Seq("immediate_urgent", "immediate_emergency"), "4720")
    val pcs = Models.intPostcodes(codePoint, p001, p002)
    val wp = Models.intWorksPostcodes(stg, pcs)
    // the NULL-ref work at (100,100) matches AA1 1AA (101,300 is 200 m
    // away): exactly ONE row, never a (matched + unmatched) pair
    assert(wp.where(col("permit_reference_number").isNull).count() === 1)
    assert(wp.where(col("permit_reference_number").isNull &&
      col("postcode").isNull).count() === 0)

    // the wellbeing marts WITH the NULL-ref row present are the per-family
    // chains' rows without it (they dropped it at the inner join back to
    // stg, like the dbt JOIN)
    val fusedWb = Models.wellbeingByModel(wvWithNull, pcs, families, "4720")
    assert(wellbeingLines(fusedWb) === wellbeingRows)
  }

  test("data test: no duplicate permits between in-progress and completed (clean + broken)") {
    val clean = dataTests(permits)
    assert(clean("assert_no_duplicate_permits_london") === 0L)
    assert(clean("assert_no_duplicate_permits_england") === 0L)
    // a deliberately-broken input IS caught
    assert(dataTests(withViolation)("assert_no_duplicate_permits_london") > 0L)
  }

  test("data test: impact-score not_null columns (clean + broken)") {
    assert(dataTests(permits)("impact_scores_not_null") === 0L)
    def violations(df: DataFrame): Long =
      DataQuality.notNullViolations(df, "total_impact_level").count() +
        DataQuality.notNullViolations(df, "uprn_count").count()
    val scores = londonScores(permits)
    assert(violations(scores) === 0L)
    val withNull = scores.withColumn("total_impact_level",
      when(col("usrn") === "100", lit(null).cast("double"))
        .otherwise(col("total_impact_level")))
    assert(violations(withNull) === 1L)
  }

  test("finishAuthorityScores: the driver-state guard probes BEFORE materializing and refuses loudly") {
    import org.apache.spark.sql.functions.lit
    // a synthetic USRN-grain frame with 3 distinct authorities; the
    // breakdown columns rawImpactFromLatest(withBreakdown = true) carries
    val base = Seq(
      ("a1", "s1", "u1", 10L, 50L),
      ("a2", "s2", "u2", 11L, 60L),
      ("a3", "s3", "u3", 12L, 70L))
      .toDF("highway_authority", "highway_authority_swa_code", "usrn",
        "uprn_count", "total10")
    val rawLevel = Seq("major_works_count", "standard_works_count",
      "minor_works_count", "hs2_works_count", "emergency_works_count",
      "ttro_required_count", "traffic_sensitive_count",
      "high_impact_traffic_mgmt_count")
      .foldLeft(base)((d, c) => d.withColumn(c, lit(1L)))
    // over-bound: the guard must fire with the actionable message after
    // shipping at most bound+1 rows (limit-probe), never the full frame
    val e = intercept[IllegalArgumentException] {
      Models.finishAuthorityScores(rawLevel, bound = 2)
    }
    assert(e.getMessage.contains("more than 2 authority rows") &&
      e.getMessage.contains("grouping keys"), e.getMessage)
    // at-bound: same frame, bound 3 — materializes all three authorities
    val ok = Models.finishAuthorityScores(rawLevel, bound = 3)
    assert(ok.count() === 3L)
    assert(ok.columns.contains("highway_authority_impact_score"))
  }
}

object ModelsSpec {
  /** Fixture row shapes (top-level: Dataset encoders need a static outer
    * scope). */
  case class Ev(permit_reference_number: String, event_reference: Long,
      event_time: String, event_type: String, work_status_ref: String,
      highway_authority: String, highway_authority_swa_code: String,
      promoter_swa_code: String, work_category: String,
      is_ttro_required: String, is_traffic_sensitive: String,
      traffic_management_type_ref: Option[String], street_name: String,
      usrn: String)

  case class Wv(permit_reference_number: String, event_reference: Long,
      event_type: String, work_status_ref: String, work_category_ref: String,
      highway_authority_swa_code: String,
      works_location_coordinates: Option[String],
      actual_start_date_time: Option[String],
      actual_end_date_time: Option[String])
}
