package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators._
import graft.pipelines.Models

/** Driver contract: one `queries` entry (+ DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2.
  *
  * Numeric discipline (see SURVEY §5): money doubles are 2-decimal by
  * construction, so `CAST(x AS DECIMAL(18,2))` is exact in both engines;
  * sums happen in decimal (order-independent), final outputs cast to
  * double; timestamps are emitted as epoch-second BIGINTs (parquet stores
  * ns, Spark truncates to us — never emit raw ts).
  */
object SparkEntry {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  /** NTZ-safe epoch seconds (session TZ is UTC, matching the oracle). */
  private def tsSec(c: Column): Column = c.cast("timestamp").cast("long")
  /** Tables.events normalizes ts to BIGINT nanos -> epoch seconds. */
  private val nsSec: Column = expr("ts DIV 1000000000")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_impact_scores")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- §2.1
  private def qPricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("n_rows"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))

  private def qConditionalCounts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_orderpriority") === "5-LOW", 1)).as("n_low"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(when(col("o_orderpriority") === "1-URGENT", dec2(col("o_totalprice"))))
          .cast("double").as("urgent_price"))

  private def qDistinctOnLatest(s: SparkSession, d: String): DataFrame =
    Relational.distinctOn(Tables.events(s, d),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"),
        nsSec.as("ts_sec"), col("value"))

  private def qEnrichMultijoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        lower(col("n_name")).as("nation_name"),
        coalesce(col("r_name"), lit("UNKNOWN")).as("region_name"),
        col("c_acctbal").as("acctbal"))

  private def qAntiJoin(s: SparkSession, d: String): DataFrame =
    Relational.antiJoinOnKey(
      Tables.customer(s, d),
      Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey")),
      "c_custkey")
      .select("c_custkey", "c_name", "c_mktsegment")

  private def qUnionDedup(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    Relational.unionDedup(
      Seq(o.where(col("o_orderstatus") === "O"), o.where(col("o_orderstatus") === "F")),
      Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        tsSec(col("o_orderdate")).as("order_sec"))
  }

  /** CASE-weight scoring per order (integer deci-points, see ImpactScore). */
  private def orderScore10: Column =
    ImpactScore.caseWeight(col("o_orderpriority"),
      Seq(Seq("1-URGENT") -> 40, Seq("2-HIGH") -> 50,
        Seq("3-MEDIUM") -> 20, Seq("5-LOW") -> 10), 0) +
    when(col("o_orderstatus") === "F", 5).otherwise(0) +
    ImpactScore.bandWeight(col("o_totalprice"),
      Seq(1000.0 -> 2, 5000.0 -> 4, 10000.0 -> 6, 25000.0 -> 8,
        50000.0 -> 10, 100000.0 -> 12, 200000.0 -> 14), 16)

  private def perCustScores(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_custkey"), orderScore10.as("score10"))
      .groupBy("o_custkey")
      .agg(sum(col("score10")).as("total10"), count(lit(1)).as("n_orders"))

  private def qImpactScores(s: SparkSession, d: String): DataFrame = {
    // cached: the distributed rank scans it twice (histogram + join-back)
    val scored = graft.PersistScope.cache(perCustScores(s, d)
      .select(col("o_custkey"), col("n_orders"),
        (col("total10").cast("double") / 10).as("total_impact_level")))
    Stats.withPercentRank100(scored, "total_impact_level", "impact_index_score")
      .withColumn("impact_category",
        ImpactScore.severityBucket(col("impact_index_score")))
      .select("o_custkey", "n_orders", "total_impact_level",
        "impact_index_score", "impact_category")
  }

  private def qAuthorityRollup(s: SparkSession, d: String): DataFrame = {
    // cached: the rank scans it twice; keyspace = one row per nation
    val byAuth = graft.PersistScope.cache(perCustScores(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("authority"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("total10")).as("t10"),
        max(col("total10")).as("mx10"),
        min(col("total10")).as("mn10")))
    Stats.withPercentRank100(byAuth, "t10", "authority_score")
      .select(
        col("authority"), col("n_customers"),
        (col("t10").cast("double") / 10).as("total_impact_level"),
        ((col("t10").cast("double") / 10) / col("n_customers")).as("avg_impact_level"),
        (col("mx10").cast("double") / 10).as("max_impact_level"),
        (col("mn10").cast("double") / 10).as("min_impact_level"),
        col("authority_score"))
      .withColumn("impact_category", ImpactScore.severityBucket(col("authority_score")))
  }

  private def qTopkPerGroup(s: SparkSession, d: String): DataFrame =
    Relational.topKPerGroup(Tables.orders(s, d), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_group")

  private def qWindowRolling(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("value"),
      lag(col("value"), 1).over(w).as("prev_value"),
      sum(dec2(col("value"))).over(wr).cast("double").as("running_value"),
      row_number().over(w).as("seq"))
  }

  private def qDateDuration(s: SparkSession, d: String): DataFrame = {
    val firstShip = Tables.lineitem(s, d)
      .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("min_ship"))
    Tables.orders(s, d)
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("order_year"),
        month(col("o_orderdate")).cast("int").as("order_month"),
        datediff(col("min_ship").cast("date"), col("o_orderdate").cast("date"))
          .cast("int").as("duration_days"),
        when(year(col("o_orderdate")) === year(col("min_ship")) &&
             month(col("o_orderdate")) === month(col("min_ship")),
          dayofmonth(col("min_ship")) - dayofmonth(col("o_orderdate")))
          .otherwise(dayofmonth(col("min_ship")))
          .cast("int").as("month_scoped_duration"))
  }

  private def qCastNormalize(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").cast("string").as("custkey_str"),
      lower(col("c_name")).as("name_lc"),
      coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("OTHER"))
        .as("segment_clean"),
      // decimal round-trip, emitted as double: raw DECIMAL output travels
      // differently through the two parquet->pandas compare paths
      dec2(col("c_acctbal")).cast("double").as("acctbal_dec"),
      col("c_nationkey").cast("bigint").as("nationkey_l"))

  private def qGroupingRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_price"),
        (grouping(col("o_orderstatus")).cast("int") * 2 +
          grouping(col("o_orderpriority")).cast("int")).as("gid"))

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def qPivotEventCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(sum(lit(1L)))
      // total counts: absent (user, type) combos are 0, not NULL — nullable
      // ints travel differently through parquet->pandas than BIGINT zeros
      .select(col("user_id") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  private def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  // ---------------------------------------------------------------- §2.2
  /** Synthetic point cloud from events: x = value (fixed range), y =
    * event_id (spreads with data size, so point DENSITY — and therefore
    * per-point neighbor work in the radius join — stays constant as the
    * table grows: the join scales linearly, not quadratically). */
  private def points(s: SparkSession, d: String, p: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id").as(s"${p}_id"),
      col("value").as(s"${p}x"),
      col("event_id").cast("double").as(s"${p}y"))

  private def qRangeJoinPoints(s: SparkSession, d: String): DataFrame =
    RangeJoin.radiusJoin(points(s, d, "a"), points(s, d, "b"),
        "ax", "ay", "bx", "by", 5.0)
      .where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(dec2(col("bx"))).cast("double").as("sum_neighbor_value"))

  private def qGeoCentroid(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_partkey") % 1000).as("x"), (col("l_suppkey") % 1000).as("y"))
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_points"),
        (sum(col("x")).cast("double") / count(lit(1))).as("centroid_x"),
        (sum(col("y")).cast("double") / count(lit(1))).as("centroid_y"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))

  private def qWellbeingImpact(s: SparkSession, d: String): DataFrame =
    RangeJoin.radiusJoin(points(s, d, "a"), points(s, d, "b"),
        "ax", "ay", "bx", "by", 5.0)
      .where(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_postcodes"),
        sum(dec2(col("bx"))).cast("double").as("total_population"))
      .select(col("a_id"), col("n_postcodes"), col("total_population"),
        ((col("a_id") % 7) + 1).as("duration_days"),
        (expr("CAST(CAST(2.10 AS DECIMAL(3,2)) * (a_id % 7 + 1) AS DOUBLE)") *
          col("total_population")).as("wellbeing_total_impact"))

  /** WKT end-to-end through functions.Geo — the reference's most-executed
    * spatial pattern (stg_major_works_by_authority.sql:24-38: ST_GeomFromText
    * -> ST_Centroid -> ST_X/ST_Y -> buffer containment). WKT strings are
    * built from integer-valued coordinates so parse + centroid arithmetic
    * is exact in both engines (sums < 2^53: order-independent). */
  private def qGeoWkt(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Geo
    val wkt = Tables.events(s, d).select(
      col("event_id"),
      concat(
        lit("LINESTRING ("),
        (col("event_id") % 100).cast("string"), lit(" "),
        (col("user_id") % 100).cast("string"), lit(", "),
        ((col("event_id") * 7) % 100).cast("string"), lit(" "),
        ((col("user_id") * 11) % 100).cast("string"), lit(", "),
        ((col("event_id") + col("user_id")) % 100).cast("string"), lit(" "),
        ((col("event_id") * 3 + col("user_id") * 5) % 100).cast("string"),
        lit(")")).as("wkt"))
    val center = Geo.stPoint(lit(50.0), lit(50.0))
    // staged projections: interpreted HOFs copy argument trees into every
    // use site, so parse once, centroid once, THEN fan out to the outputs
    wkt
      .select(col("event_id"), Geo.stGeomFromText(col("wkt")).as("geom"))
      .select(col("event_id"), size(col("geom")).as("n_vertices"),
        Geo.stCentroid(col("geom")).as("c"))
      .select(
        col("event_id"), col("n_vertices"),
        Geo.stX(col("c")).as("cx"),
        Geo.stY(col("c")).as("cy"),
        Geo.stDistance(col("c"), center).as("dist_from_center"),
        Geo.withinBuffer(center, col("c"), 25.0).as("near_center"))
  }

  /** WKB round-trip through the native codec (plans.Wkb): build geometry
    * from integer coordinates, encode as little-endian WKB, parse back,
    * then the standard centroid/distance pipeline. The oracle computes
    * the same outputs straight from the integer coordinates — if encode
    * or parse bent a byte, cx/cy/dist would all drift. Absolute encoding
    * (golden hex, GeoPackage headers, endianness) is pinned in WkbSpec. */
  private def qGeoWkb(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Geo
    val pts = Tables.events(s, d).select(
      col("event_id"),
      array(
        struct((col("event_id") % 89).cast("double").as("x"),
          (col("user_id") % 89).cast("double").as("y")),
        struct(((col("event_id") * 5) % 89).cast("double").as("x"),
          ((col("user_id") * 7) % 89).cast("double").as("y")),
        struct(((col("event_id") * 2 + col("user_id") * 3) % 89).cast("double").as("x"),
          ((col("event_id") + col("user_id") * 2) % 89).cast("double").as("y")))
        .as("pts"))
    val center = Geo.stPoint(lit(44.0), lit(44.0))
    pts
      .select(col("event_id"), Geo.stAsWkb(col("pts"), 2).as("wkb"))
      .select(col("event_id"), Geo.stGeomFromWkb(col("wkb")).as("geom"))
      .select(col("event_id"), size(col("geom")).as("n_vertices"),
        Geo.stCentroid(col("geom")).as("c"))
      .select(col("event_id"), col("n_vertices"),
        Geo.stX(col("c")).as("cx"), Geo.stY(col("c")).as("cy"),
        Geo.stDistance(col("c"), center).as("dist_from_center"),
        Geo.withinBuffer(center, col("c"), 20.0).as("near_center"))
  }

  /** GeoJSON ingestion path (cadent_underground.py:252,263-275): build
    * RFC 7946 Point / LineString / Polygon strings from integer event
    * coordinates, parse with the no-UDF Geo.stGeomFromGeoJson, then the
    * standard vertex-count/centroid pipeline. The oracle computes the
    * same outputs straight from the integer coordinates (the q_geo_wkb
    * discipline) — any parse drift moves cx/cy. */
  private def qGeoGeoJson(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Geo
    val x1 = col("event_id") % 89; val y1 = col("user_id") % 89
    val x2 = (col("event_id") * 7) % 89; val y2 = (col("user_id") * 11) % 89
    val x3 = (col("event_id") + col("user_id")) % 89
    val y3 = (col("event_id") * 3 + col("user_id") * 5) % 89
    def pr(x: Column, y: Column): Column = concat(lit("["),
      x.cast("string"), lit(","), y.cast("string"), lit("]"))
    val gj = when(col("event_id") % 3 === 0, concat(
        lit("{\"type\":\"Point\",\"coordinates\":"), pr(x1, y1), lit("}")))
      .when(col("event_id") % 3 === 1, concat(
        lit("{\"type\":\"LineString\",\"coordinates\":["),
        pr(x1, y1), lit(","), pr(x2, y2), lit(","), pr(x3, y3), lit("]}")))
      .otherwise(concat(
        lit("{\"type\":\"Polygon\",\"coordinates\":[["),
        pr(x1, y1), lit(","), pr(x2, y2), lit(","), pr(x3, y3), lit(","),
        pr(x1, y1), lit("]]}")))
    // parallelism floor (the Curate.contamination guard): this plan is
    // MAP-ONLY, so the JSON build+parse runs at the SCAN's parallelism —
    // for an under-split input (few parquet row groups) that is the
    // row-group count, not the cluster. The floored exchange moves two
    // long columns once and is a no-op at real scale where row groups
    // >= cores. Measured at sf0.1 (2 row groups, local[32]): solo
    // min-of-6 2.11 s before, with 2.1 CPU-s across 2 tasks; floored
    // the same work spreads across the box.
    Guards.floorPartitions(
        Tables.events(s, d).select(col("event_id"), col("user_id")),
        s.sparkContext.defaultParallelism)
      .select(col("event_id"), gj.as("gj"))
      .select(col("event_id"), col("gj"),
        get_json_object(col("gj"), "$.type").as("gtype"))
      .select(col("event_id"), col("gtype"),
        Geo.stGeomFromGeoJsonTyped(col("gj"), col("gtype")).as("geom"))
      .select(col("event_id"), col("gtype"),
        size(col("geom")).as("n_vertices"), Geo.stCentroid(col("geom")).as("c"))
      .select(col("event_id"), col("gtype"), col("n_vertices"),
        Geo.stX(col("c")).as("cx"), Geo.stY(col("c")).as("cy"))
  }

  // ---------------------------------------------------------------- §2.3
  private def qTumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(floor(nsSec / lit(3600)).cast("long").as("hour_bucket"),
        col("event_type"), col("value"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))

  /** Time-windowed aggregate through Tables.eventsBetween: the range
    * predicate is applied in the raw column's native domain so it
    * reaches the parquet scan (PushedFilters — TablesSpec pins it for
    * both on-disk ts encodings). Jan 8-15 2024 UTC, one week of the
    * 30-day synthetic span. */
  private def qTimeSlice(s: SparkSession, d: String): DataFrame =
    Tables.eventsBetween(s, d, 1704672000L, 1705276800L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec2(col("value"))).cast("double").as("sum_value"),
        min(nsSec).cast("long").as("first_sec"),
        max(nsSec).cast("long").as("last_sec"))

  private def qSessionize(s: SparkSession, d: String): DataFrame =
    Sessionize.sessionize(
        Tables.events(s, d).withColumn("sec", nsSec),
        "user_id", "sec", 1800L, col("event_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"),
        sum(dec2(col("value"))).cast("double").as("total_value"))

  /** Behavioral training sequences: per (user, session) the event-type
    * sequence in (sec, event_id) order — the "user journey" dataset a
    * sequence model trains on. The ordered array is digest-compared
    * (unique sort key => deterministic reassembly on both engines). */
  private def qSessionSequences(s: SparkSession, d: String): DataFrame =
    Sessionize.sessionize(
        Tables.events(s, d).withColumn("sec", nsSec),
        "user_id", "sec", 1800L, col("event_id"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("sec"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ",").cast("binary")).as("seq_md5"))

  /** Earliest-entry conversion funnel view -> click -> purchase within
    * 24 h: one hash shuffle on the user, a per-user array fold computes
    * every step time in one pass (Funnel.funnel; the greedy pick equals
    * the oracle's iterated min-per-step CTE chain, spec-pinned). */
  private def qFunnel(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d).withColumn("sec", nsSec),
      col("user_id"), col("event_type"), col("sec"), col("event_id"),
      Seq("view", "click", "purchase"), 86400L)

  /** Weekly signup-cohort retention, offsets 0..4 — epoch-week integer
    * math so both engines bucket identically (Funnel.retention). */
  private def qRetention(s: SparkSession, d: String): DataFrame =
    Funnel.retention(Tables.events(s, d).withColumn("sec", nsSec),
      col("user_id"), col("event_type"), col("sec"), "signup", 4)

  /** Pairwise source-distribution drift: L1 distance of per-source token
    * probability vectors in exact ppm (Curate.sourceDrift) — the
    * distribution-shift monitor next to q_corpus_report's volume
    * signals. */
  private def qSourceDrift(s: SparkSession, d: String): DataFrame =
    Curate.sourceDrift(Tables.documents(s, d), "source", "text")

  /** Integer-exact BM25 retrieval: top-50 documents for a 3-term query
    * (TfIdf.bm25TopK) — the text-search ranking next to the vector ANN
    * family; every idf/saturation term is a BIGINT DIV expression both
    * engines reproduce cell-for-cell. */
  private def qBm25(s: SparkSession, d: String): DataFrame =
    TfIdf.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("join", "hash", "window"), 50)

  /** Z-order (Morton) cell computation over the event point set — the
    * sinks.ZOrder layout key as an oracle-checked query: min/max
    * normalization into 16-bit buckets, then the bit interleave, all
    * deterministic double/integer math both engines reproduce exactly
    * (the oracle unrolls the same 32 bit-terms; see OracleSql.zorderSql). */
  private def qZorder(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.events(s, d)
      .select(col("event_id"), col("value").cast("double").as("x"),
        col("event_id").cast("double").as("y"))
    val stats = pts.agg(min("x"), max("x"), min("y"), max("y")).head()
    pts.select(col("event_id"),
      graft.sinks.ZOrder.zValue(Seq(col("x"), col("y")),
        Seq(stats.getDouble(0), stats.getDouble(2)),
        Seq(stats.getDouble(1), stats.getDouble(3)), bits = 16).as("zval"))
  }

  /** Per-user Markov transition matrix with exact-ppm row normalization —
    * one user-partitioned lead() window + a |types|^2 rollup
    * (Funnel.transitions). */
  private def qTransitions(s: SparkSession, d: String): DataFrame =
    Funnel.transitions(Tables.events(s, d).withColumn("sec", nsSec),
      col("user_id"), col("event_type"), col("sec"), col("event_id"))

  /** Count-Min-Sketch heavy hitters: ONE 4x256 deterministic counter grid
    * over every event's user, broadcast back to answer each user's
    * estimate next to the exact count (plans.CmsSketch — the md5-hashed
    * grid is cell-exact cross-engine, unlike the built-in seeded CMS). */
  private def qCmsHeavy(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val sketch = ev.agg(
      graft.plans.CmsSketch.cms(col("user_id").cast("string")).as("sk"))
    ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(sketch))
      .select(col("user_id"),
        graft.plans.CmsSketch.estimate(col("sk"), col("user_id")).as("est_cnt"),
        col("exact_cnt"))
  }

  // ---------------------------------------------------------------- §2.4
  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDupGroups(Tables.documents(s, d), "doc_id", "text")

  private def qDedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 4, 0.01,
      maxShingleDf = 100)

  private def qMinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidatePairs(Tables.documents(s, d), "doc_id", "text", 16, 4,
      maxBucket = 64)

  /** LSH verification stage: estimated (signature-agreement) vs exact
    * Jaccard per candidate pair, with the estimation error — the sketch
    * accuracy audit, in exact integer ppm (Dedup.verifyPairs). */
  private def qMinhashVerify(s: SparkSession, d: String): DataFrame =
    Dedup.verifyPairs(Tables.documents(s, d), "doc_id", "text", 16, 4,
      maxBucket = 64)

  private def qSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")

  /** SimHash Hamming-block near-dup pairs (Manku web-dedup): candidates
    * from exact 15-bit block matches (pigeonhole-exact recall for
    * hamming <= 3), verified by bit_count(xor). Cap 256 mirrored in the
    * oracle (Dedup.simhashPairs). */
  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
      maxHamming = 3, maxBucket = 256)

  private def queryVec(s: SparkSession, d: String): Array[Float] =
    Tables.embeddings(s, d).where(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray

  private def qCosineTopK(s: SparkSession, d: String): DataFrame =
    Similarity.cosineTopK(Tables.embeddings(s, d), "vec_id", "embedding",
      queryVec(s, d), 10, Some(0L))

  /** PQ ANN: 4 subspaces x 16 deterministic codebook centroids, ADC
    * top-10 — the quantized-memory scale path next to LSH and IVF. */
  private def qAnnPq(s: SparkSession, d: String): DataFrame =
    PqIndex.searchAdc(Tables.embeddings(s, d), "vec_id", "embedding",
      m = 4, k = 16, queryVec(s, d), topK = 10, excludeId = Some(0L))

  /** [[qAnnPq]] with TRAINED codebooks: per-subspace 2-round Lloyd
    * ([[PqIndex.trainBooks]] — the deterministic decimal-exact k-means
    * the q_ann_ivf oracle unrolls), then the same ADC search. The oracle
    * unrolls all four subspace trainings as CTE chains. */
  private def qAnnPqTrained(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val books = PqIndex.trainBooks(emb, "vec_id", "embedding",
      m = 4, k = 8, iters = 2)
    PqIndex.searchAdcWith(emb, "vec_id", "embedding", books,
      queryVec(s, d), topK = 10, excludeId = Some(0L))
  }

  /** [[qAnnPq]] routed through the materialized codes-only index — the
    * 100 TB shape: encode once per dataset ([[PqIndex.buildIndex]],
    * cached across calls), then every query's ADC scan reads the m int
    * code columns, never the raw vectors. Same deterministic codebooks,
    * same ADC, same oracle as q_ann_pq. */
  private val pqIndexCache =
    scala.collection.concurrent.TrieMap[String, (String, Array[Array[Array[Double]]])]()
  private def qAnnPqIndexed(s: SparkSession, d: String): DataFrame = {
    // codebooks cached WITH the index path: recomputing them per call
    // would rescan the raw embeddings table, defeating the codes-only
    // claim (the ivfpq sibling already caches its model this way)
    val (root, books) = pqIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val bks = PqIndex.codebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      val dir = tempIndexDir("graft-pq-index")
      PqIndex.buildIndex(emb, "vec_id", "embedding", bks, s"$dir/codes")
      (dir, bks)
    })
    PqIndex.searchEncoded(s.read.parquet(s"$root/codes"), "vec_id", books,
      queryVec(s, d), topK = 10, excludeId = Some(0L))
  }

  /** IVF-PQ composite ANN: 8 coarse cells, residuals PQ-encoded in 4x16
    * books, per-cell ADC over 4 probed cells — the FAISS IVFx,PQy layout
    * with a full oracle. */
  private def qIvfPq(s: SparkSession, d: String): DataFrame =
    IvfPq.searchAdc(Tables.embeddings(s, d), "vec_id", "embedding",
      nCells = 8, m = 4, k = 16, queryVec(s, d), topK = 10, nProbes = 4,
      excludeId = Some(0L))

  /** [[qIvfPq]] routed through the materialized cell-partitioned
    * codes-only index — the full FAISS IVFPQ on-disk shape: build once
    * per dataset ([[IvfPq.buildIndex]], cached across calls), then a
    * probe-4 query reads ONLY the 4 probed cells' partitions and ONLY
    * the m int code columns. Same model, same ADC, same oracle as
    * q_ivf_pq. */
  private val ivfPqIndexCache =
    scala.collection.concurrent.TrieMap[String, (String, IvfPq.Model)]()
  private def qIvfPqIndexed(s: SparkSession, d: String): DataFrame = {
    val (root, model) = ivfPqIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val m = IvfPq.buildModel(emb, "vec_id", "embedding",
        nCells = 8, m = 4, k = 16, dim = queryVec(s, d).length)
      val dir = tempIndexDir("graft-ivfpq-index")
      IvfPq.buildIndex(emb, "vec_id", "embedding", m, s"$dir/codes")
      (dir, m)
    })
    IvfPq.searchEncoded(s.read.parquet(s"$root/codes"), "vec_id", model,
      queryVec(s, d), topK = 10, nProbes = 4, excludeId = Some(0L))
  }

  /** PQ accuracy audit: ADC top-50 next to the exact query distance. */
  private def qPqVerify(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    PqIndex.verifyExact(emb, "vec_id", "embedding",
      PqIndex.searchAdc(emb, "vec_id", "embedding", m = 4, k = 16, qv,
        topK = 50, excludeId = Some(0L)),
      qv)
  }

  private def qAnnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.annLsh(Tables.embeddings(s, d), "vec_id", "embedding",
      queryVec(s, d), 10, 4, Some(0L))

  private def qAnnLshMultiprobe(s: SparkSession, d: String): DataFrame =
    Similarity.annLshMultiProbe(Tables.embeddings(s, d), "vec_id", "embedding",
      queryVec(s, d), 10, 4, Some(0L))

  /** IVF ANN: deterministic k-means cells, probe nearest nProbes cells,
    * exact rerank inside. Rows-only: Lloyd iterations aren't one SQL query. */
  private def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8,
      iters = OracleSql.IvfTrainRounds) // one knob, shared with the oracle
    IvfIndex.search(emb, "vec_id", "embedding", centroids, queryVec(s, d),
      topK = 10, nProbes = 4, excludeId = Some(0L))
  }

  /** Session-temp materialized-index dir, deleted at JVM exit — repeated
    * Bench/Verify runs would otherwise accumulate full embedding-table
    * copies in /tmp until the disk fills. */
  private def tempIndexDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(rm(_))
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(dir) catch { case _: Exception => () }
    }))
    dir.toString
  }

  private val ivfIndexCache = scala.collection.concurrent.TrieMap[String, String]()
  /** [[qAnnIvf]] routed through the materialized cell-partitioned index
    * — the 100 TB shape: train + [[IvfIndex.buildIndex]] once per
    * dataset (cached across calls), then every query partition-prunes to
    * its probed cells instead of re-assigning the full table. Same
    * centroids, same probes, same unrolled-Lloyd oracle as q_ann_ivf. */
  private def qAnnIvfIndexed(s: SparkSession, d: String): DataFrame = {
    val root = ivfIndexCache.getOrElseUpdate(d, {
      val dir = tempIndexDir("graft-ivf-index")
      val emb = Tables.embeddings(s, d)
      IvfIndex.train(emb, "vec_id", "embedding", k = 8,
          iters = OracleSql.IvfTrainRounds)
        .write.mode("overwrite").parquet(s"$dir/centroids")
      IvfIndex.buildIndex(emb, "vec_id", "embedding",
        s.read.parquet(s"$dir/centroids"), s"$dir/cells")
      dir
    })
    IvfIndex.searchIndexed(s.read.parquet(s"$root/cells"), "vec_id",
      s.read.parquet(s"$root/centroids"), queryVec(s, d),
      topK = 10, nProbes = 4, excludeId = Some(0L))
  }

  /** Embedding-space benchmark decontamination: corpus vectors (vec_id %
    * 10 != 0) within cosine >= 0.3 of any benchmark vector, candidates
    * from a multi-probe LSH bucket join with the benchmark side broadcast
    * (Similarity.crossCosinePairs — the corpus never shuffles). */
  private def qSemanticContamination(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.crossCosinePairs(
      e.where(col("vec_id") % 10 =!= 0),
      e.where(col("vec_id") % 10 === 0),
      "vec_id", "embedding", nPlanes = 4, dim = 64, tau = 0.3)
  }

  private def qEmbedStats(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding")

  private def qTextQuality(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(toks).cast("long").as("n_tokens"),
      Text.vocabHits(toks, Text.StopWords).cast("long").as("stop_hits"),
      floor(Text.vocabHits(toks, Text.StopWords) * lit(1000000.0) / size(toks))
        .cast("long").as("stop_ratio_ppm"),
      floor(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * lit(100.0) / size(toks))
        .cast("long").as("mean_tok_len_x100"))
  }

  private def qTokenStats(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(Text.regexTokens(col("text"))).cast("long").as("n_re_tokens"),
      size(array_distinct(toks)).cast("long").as("n_unique_tokens"))
  }

  private def qLangId(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val scores = Text.langScores(toks).map { case (l, c) => c.cast("long").as(s"score_$l") }
    Tables.documents(s, d).select(
      (col("doc_id") +: scores :+ Text.langId(toks).as("lang_pred")): _*)
  }

  /** TF-IDF top terms per document with the exact integer-ratio idf
    * (see operators.TfIdf — no ln(), cross-engine cell-exact). */
  private def qTfidfTerms(s: SparkSession, d: String): DataFrame =
    TfIdf.topTerms(Tables.documents(s, d), "doc_id", "text", Text.tokens, 3)

  /** Deterministic stratified downsampling: keep 50% of purchases, 2% of
    * everything else, selected by content hash (reproducible across
    * engines/retries — the training-data sampling primitive). */
  private def qSampleStratified(s: SparkSession, d: String): DataFrame =
    Stats.hashSample(
      Tables.events(s, d).select("event_id", "event_type", "user_id"),
      col("event_id"),
      when(col("event_type") === "purchase", lit(500000L)).otherwise(lit(20000L)))

  /** Intra-document repetition score (the Gopher-style "repeated n-gram
    * fraction" quality rule): duplicated-3gram ratio in exact integer
    * ppm. Zero-shuffle; native NGrams expression. */
  private def qRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        graft.plans.NGrams.ngrams(col("toks"), 3).as("g3"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("g3")).cast("long").as("n_3grams"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct_3grams"))
      .withColumn("rep_ratio_ppm",
        when(col("n_3grams") > 0,
          expr("((n_3grams - n_distinct_3grams) * 1000000) DIV n_3grams"))
          .otherwise(lit(0L)))

  /** PII detect + redact (the pre-training scrub pass). The corpus text
    * carries no PII, so each doc gets a deterministic synthetic
    * email/URL/phone suffix built from doc_id IDENTICALLY in the oracle
    * — the scrubbed text is compared via md5. Patterns live in
    * Text.PiiPatterns (Java-regex ∩ RE2 subset, same strings both
    * engines, fixed replacement order). */
  private def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    val enriched = Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact dev"), col("doc_id").cast("string"),
        lit("@example.org via https://ex.org/d/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call +44 7700 900"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0")))
          .otherwise(lit(""))).as("t"))
    enriched.select(
      col("doc_id"),
      Text.piiCount(col("t"), "url").as("n_urls"),
      Text.piiCount(col("t"), "email").as("n_emails"),
      Text.piiCount(col("t"), "phone").as("n_phones"),
      md5(Text.piiScrub(col("t")).cast("binary")).as("scrubbed_md5"))
  }

  /** Within-document line dedup (C4-style normalization): pseudo-lines
    * from splitting on a frequent token, first occurrence kept in order
    * (Text.dedupLinesOf), result compared via md5. Shuffle-free map plan. */
  private def qLineDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " table ").as("__lines"))
      .select(col("doc_id"), col("__lines"),
        Text.dedupLinesOf(col("__lines")).as("__kept"))
      .select(col("doc_id"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_unique_lines"),
        md5(array_join(col("__kept"), "\n").cast("binary")).as("dedup_md5"))

  /** Cross-document boilerplate scrub: pseudo-lines shared by > 2 docs
    * (headers/footers at web scale) removed everywhere, docs reassembled
    * in order (Curate.boilerplateRemove — the across-corpus complement
    * of q_line_dedup). */
  private def qBoilerplate(s: SparkSession, d: String): DataFrame =
    Curate.boilerplateRemove(Tables.documents(s, d), "doc_id", "text",
      " table ", maxLineDf = 2)

  /** Winnowing fingerprints (MOSS): min-hash of every 5-window over the
    * 4-gram rolling hashes; the distinct selected hash set is the
    * document fingerprint (Text.winnowOf — exact integer arithmetic, the
    * set is engine-portable). Shuffle-free map plan. */
  private def qWinnow(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), graft.plans.NGrams.ngrams(col("__toks"), 4).as("__g4"))
      .select(col("doc_id"),
        graft.plans.WinnowExprs.md5LongMap(col("__g4")).as("__hs"))
      .select(col("doc_id"), col("__hs"), Text.winnowOf(col("__hs"), 5).as("__fp"))
      .select(col("doc_id"),
        size(col("__hs")).cast("long").as("n_kgrams"),
        size(col("__fp")).cast("long").as("n_fingerprints"),
        md5(array_join(transform(col("__fp"), f => f.cast("string")), ",")
          .cast("binary")).as("fp_md5"))

  /** Train/eval decontamination: corpus docs (doc_id % 10 != 0) sharing
    * >= 2 distinct token 3-grams with a benchmark doc (the % 10 == 0
    * slice), with exact integer-ppm coverage of the benchmark doc.
    * Inverted-index equi-join, benchmark-df cap 64 mirrored in the oracle
    * (see Curate.contamination for the 100 TB linearity argument). */
  private def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Curate.contamination(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0),
      "doc_id", "text", 3, 2, maxNgramDf = 64)
  }

  /** Token-budget selection: best-first (n_chars DESC, doc_id) prefix of
    * the corpus whose inclusive cumulative token count fits 15000 tokens —
    * distributed prefix sum, no global window (Stats.withRunningTotal
    * with no group columns). */
  private def qTokenBudget(s: SparkSession, d: String): DataFrame =
    Curate.tokenBudgetSelect(
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      Seq(col("n_chars").desc, col("doc_id")), col("n_tokens"), 15000L)

  /** Temperature-flattened (alpha=0.5) mixture sampling over sources:
    * keep rate sqrt(min_mass)/sqrt(source_mass) in floored integer ppm,
    * applied as a deterministic md5-threshold scan filter
    * (TrainMix.temperatureSample — the corpus-mixing primitive). */
  private def qMixture(s: SparkSession, d: String): DataFrame =
    TrainMix.temperatureSample(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      "source", "n_tokens", col("doc_id"))
      .select("doc_id", "source", "n_tokens", "rate_ppm")

  /** Concat-and-chunk sequence packing into 2048-token training
    * sequences: per-doc seq_id/offset/boundary-cut count off the
    * distributed token prefix sum (TrainMix.packSequences). */
  private def qPack(s: SparkSession, d: String): DataFrame =
    TrainMix.packSequences(
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      Seq(col("doc_id")), "n_tokens", 2048L)
      .select("doc_id", "n_tokens", "seq_id", "seq_off", "n_splits")

  /** Per-(doc, sequence) packing segments at the same 2048-token budget:
    * the materialized layout a trainer consumes — boundary-cut docs emit
    * one row per spanned sequence (TrainMix.packSegments). */
  private def qPackSegments(s: SparkSession, d: String): DataFrame =
    TrainMix.packSegments(
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      Seq(col("doc_id")), "n_tokens", 2048L)
      .select("doc_id", "seq_id", "doc_off", "seq_off", "seg_len")

  /** Deterministic 8-shard training layout: content-hash shard + dense
    * within-shard read position from an independent salted hash — a
    * reproducible global shuffle (TrainMix.shardLayout). */
  private def qShard(s: SparkSession, d: String): DataFrame =
    TrainMix.shardLayout(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      col("doc_id"), 8)
      .select("doc_id", "source", "shard", "shard_pos")

  /** Data-constrained epoch plan at budget 3x corpus tokens, 4-epoch
    * cap: sqrt-flattened per-source allocation by unrolled
    * water-filling (3 redistribution rounds + the closing greedy fill
    * — `sum(alloc) == min(T, sum(cap))` exactly), exact DECIMAL(38,0)
    * arithmetic (TrainMix.epochPlan). */
  private def qEpochPlan(s: SparkSession, d: String): DataFrame =
    TrainMix.epochPlan(
      Tables.documents(s, d)
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      "source", "n_tokens", budgetPpm = 3000000L, maxEpochs = 4)

  /** Round-robin source interleave: per-source shuffled round + global
    * training position, both off the skew-safe prefix-sum machines
    * (TrainMix.interleaveBySource). */
  private def qInterleave(s: SparkSession, d: String): DataFrame =
    TrainMix.interleaveBySource(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      "source", col("doc_id"))
      .select("doc_id", "source", "round", "global_pos")

  /** Uniform-mixture downsampling: every event_type stratum is hash-
    * sampled down to ~the smallest stratum's size with an exact integer
    * rate (Curate.balancedSample — the curriculum-mixture primitive). */
  private def qBalancedSample(s: SparkSession, d: String): DataFrame =
    Curate.balancedSample(
      Tables.events(s, d).select("event_id", "event_type", "user_id"),
      "event_type", col("event_id"))

  private def qFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), Text.fingerprint(Text.tokens(col("text"))).as("fp"))

  private def qBinaryMeta(s: SparkSession, d: String): DataFrame =
    graft.multimodal.DecodeStub.payloadMeta(
      Tables.documents(s, d), "doc_id", "text", "text")

  /** Correlated-EXISTS semi join + HAVING: customers with at least one
    * urgent order, keeping only nations with more than 2 such customers. */
  private def qExistsHaving(s: SparkSession, d: String): DataFrame = {
    val withUrgent = Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")).distinct(),
        Seq("c_custkey"), "left_semi")
    withUrgent
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("n_customers"))
      .where(col("n_customers") > 2)
  }

  /** Scalar subquery: orders above the global average price (broadcast of
    * a 1-row aggregate, no correlated rescan). */
  private def qScalarSub(s: SparkSession, d: String): DataFrame = {
    val avgPrice = Tables.orders(s, d).agg(
      (sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_price"))
    Tables.orders(s, d).crossJoin(broadcast(avgPrice))
      .where(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("avg_price"))
  }

  /** NTILE quartile assignment (standard SQL bucket distribution,
    * deterministic under the (acctbal, custkey) tie-break) — computed as a
    * distributed rank + scalar bucket fill, NOT `ntile().over(Window
    * .orderBy(...))`, which would sort the whole table in one task. */
  private def qNtile(s: SparkSession, d: String): DataFrame =
    Stats.withNtile(
      Tables.customer(s, d).select("c_custkey", "c_acctbal"),
      "c_acctbal", Seq(col("c_custkey")), 4, "acctbal_quartile")
      .select("c_custkey", "c_acctbal", "acctbal_quartile")

  /** HLL profile, oracle-checkable form (r9): the raw estimate is
    * implementation-specific, so the driver row carries the deterministic
    * columns plus `hll_within_15pct` — the HLL estimate validated against
    * the exact count in-engine. Spark's HLL++ has no RNG, so the boolean
    * is stable for fixed data and the oracle asserts TRUE. The pure
    * shuffle-light HLL pass (no exact join) stays [[Profile.profile]]. */
  private def qProfileCustomer(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val hll = Profile.profile(c).select(col("column"), col("approx_distinct"))
    Profile.profileExact(c).join(hll, "column")
      .select(col("column"), col("dtype"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_or_minlen"), col("max_or_maxlen"),
        (abs(col("approx_distinct") - col("n_distinct")).cast("double") <=
          col("n_distinct").cast("double") * 0.15).as("hll_within_15pct"))
  }

  /** Exact-distinct profile variant — same machinery, oracle-checkable. */
  private def qProfileExact(s: SparkSession, d: String): DataFrame =
    Profile.profileExact(Tables.customer(s, d))

  // ------------------------------------------------------- extensions r1b
  private def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).withColumn("tsu", expr("ts DIV 1000"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("tsu"), col("value").as("purchase_value"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("value"))
    AsofJoin.asofJoin(purchases, clicks, "user_id", "tsu", "value")
      .select(col("user_id"), col("purchase_id"),
        col("tsu").as("purchase_ts_us"), col("purchase_value"),
        col("asof_value").as("asof_click_value"),
        col("asof_ts").as("asof_click_ts_us"))
  }

  /** Forward as-of with tolerance (pandas merge_asof direction='forward',
    * tolerance=1h): next click at-or-after each purchase within the hour,
    * NULL when none — same single-shuffle union-scan plan, oracled by an
    * INDEPENDENT row_number-over-inequality-join formulation. */
  private def qAsofForward(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).withColumn("tsu", expr("ts DIV 1000"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("tsu"), col("value").as("purchase_value"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("value"))
    AsofJoin.asofJoinDir(purchases, clicks, "user_id", "tsu", "value",
        "forward", Some(3600L * 1000000L))
      .select(col("user_id"), col("purchase_id"),
        col("tsu").as("purchase_ts_us"), col("purchase_value"),
        col("asof_value").as("next_click_value"),
        col("asof_ts").as("next_click_ts_us"))
  }

  /** 3 scans / 2 shuffles total (was 5 scans): the two scan-level checks
    * fuse into one aggregation pass; the same-table overlap is a single
    * conditional-count groupBy instead of a self-join of two slices. */
  private def qQualityChecks(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    DataQuality.suite(Seq(
      "dup_orderkey" -> DataQuality.duplicateKeys(o, Seq("o_orderkey")),
      "overlap_status_custkey" -> DataQuality.overlappingKeysWithin(
        o, "o_custkey",
        col("o_orderstatus") === "O", col("o_orderstatus") === "F")))
      .unionByName(DataQuality.scalarSuite(o, Seq(
        "null_priority" -> col("o_orderpriority").isNull,
        "accepted_status" -> (!col("o_orderstatus").isin("O", "F", "P") ||
          col("o_orderstatus").isNull))))
  }

  private def qPercentiles(s: SparkSession, d: String): DataFrame =
    Stats.quantileDisc(Tables.events(s, d), Seq("event_type"), "value", Seq(0.5, 0.9))

  private def qTopTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("tok"))
      .limit(20)

  private def qRolling1h(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3599, 0)
    Tables.events(s, d).withColumn("sec", nsSec)
      .select(col("user_id"), col("event_id"), col("sec"),
        count(lit(1)).over(w).as("n_last_hour"),
        sum(dec2(col("value"))).over(w).cast("double").as("value_last_hour"))
  }

  /** Embedding near-dup: exact cosine pairs within a blocking key (label).
    * Blocking turns the all-pairs scan into a per-block equi-join; the
    * unblocked scale path is LSH bucketing (see Similarity.annLsh). */
  private def qEmbedNeardup(s: SparkSession, d: String): DataFrame = {
    // norms precomputed per vector (not per pair); same doubles as the
    // per-pair formulation, a block-size factor less work
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), col("label"), col("v"),
        Similarity.norm(col("v")).as("nv"))
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nv").as("na"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nv").as("nb"))
    a.join(b, Seq("label"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .where(col("cos_sim") >= 0.25)
  }

  /** Multimodal decode, ORACLE-VERIFIED end to end: per doc_id a media
    * payload is synthesized from closed-form integer formulas
    * ([[graft.multimodal.SynthMedia]] — BMP/PNG/WAV/GIF by id%4), decoded
    * back through the REAL codecs via the partition-batched
    * mapPartitions plumbing, and the decoded EXACT integer aggregates
    * (channel sums / Σsample² as BIGINT) must equal the same formulas
    * evaluated analytically by the DuckDB oracle over generate_series.
    * Narrow (no shuffle): encode+decode are per-row, the plan is one
    * scan → mapPartitions. JPEG is excluded (lossy — its witness is
    * CodecSpec's ImageIO cross-validation). */
  private def qMultimodalDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
      .map { id =>
        val (m, payload) = graft.multimodal.SynthMedia.forId(id)
        graft.multimodal.DecodeStub.MediaRow(id, m, payload) }
    graft.multimodal.DecodeStub.decodeStats(media).toDF()
      .select(col("media_id"), col("modality"), col("n_units"),
        col("s0"), col("s1"), col("s2"))
  }

  /** Duplicate clusters: minhash LSH bucket STARS (linear in bucket sizes,
    * not quadratic pairs) -> connected components. r21: size-adaptive
    * clustering (DupClusters.clustersAdaptive — driver union-find below
    * the edge threshold, distributed star rounds above), the same plan
    * choice q_semantic_clusters has always used: identical labels
    * (spec-pinned), but a bench-tier edge set skips ~50 per-round
    * scheduling/shuffle jobs. */
  private def qDupClusters(s: SparkSession, d: String): DataFrame =
    DupClusters.clustersAdaptive(
      Dedup.minhashBucketStars(Tables.documents(s, d), "doc_id", "text", 16, 4))

  /** Same clusters from the same candidate stars, kept as a separate
    * oracle row (historically the large-star/small-star path; r21: the
    * same size-adaptive operator — above the driver threshold it runs
    * exactly those hot-hub-safe star rounds). */
  private def qDupClustersStar(s: SparkSession, d: String): DataFrame =
    DupClusters.clustersAdaptive(
      Dedup.minhashBucketStars(Tables.documents(s, d), "doc_id", "text", 16, 4))

  /** Semantic dup clusters: the embedding near-dup pairs collapsed into
    * connected components by the hub-safe large/small-star rounds — the
    * "dedup by meaning" counterpart of q_dup_clusters' lexical minhash.
    * Oracle: recursive-CTE transitive closure over the same edge set. */
  private def qSemanticClusters(s: SparkSession, d: String): DataFrame =
    DupClusters.clustersAdaptive(
      qEmbedNeardup(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))

  /** UNBLOCKED corpus-scale semantic dedup (the SemDeDup shape):
    * q_semantic_clusters blocks on `label` — a crutch real corpora
    * lack. Here the blocking key is the trained IVF cell assignment
    * (same centroids/rounds as q_ann_ivf): within-cell exact cosine
    * pairs at tau=0.33 → hub-safe star-round connected components →
    * the KEPT corpus (canonical = min vec_id per cluster). Oracle:
    * the same Lloyd rounds unrolled as CTEs + the recursive-closure
    * labels (the q_ann_ivf + q_dedup_keep disciplines composed). */
  private def qSemanticDedupKeep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val labels = DupClusters.clustersAdaptive(
      Similarity.cellCosinePairs(emb, "vec_id", "embedding", centroids, 0.33)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    emb.join(labels.where(col("doc") =!= col("cluster"))
        .select(col("doc").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** Per-source token-share cap (source mixing): best docs per source
    * (longest first) until the source holds 4% of corpus tokens. The
    * per-source running total is the GROUPED distributed prefix sum —
    * no per-source single-task window even when one source dominates. */
  private def qSourceCap(s: SparkSession, d: String): DataFrame =
    Curate.sourceShareCap(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            Text.tokens(col("text")).as("__t"))
          .withColumn("__nt", size(col("__t"))).drop("__t"),
        "source", Seq(col("n_chars").desc, col("doc_id")), col("__nt"),
        sharePpm = 40000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))

  /** Corpus bigram-LM doc scoring: mean conditional bigram probability
    * in exact integer ppm — the "how corpus-typical is this text"
    * quality filter, no float perplexity. */
  private def qLmScore(s: SparkSession, d: String): DataFrame =
    Curate.lmScore(Tables.documents(s, d), "doc_id", "text")

  /** SCD2-shaped state-change history: per user, consecutive runs of the
    * same event_type collapsed to validity intervals. */
  private def qStateIntervals(s: SparkSession, d: String): DataFrame =
    Sessionize.stateIntervals(
        Tables.events(s, d).withColumn("sec", nsSec),
        "user_id", "event_type", Seq(col("sec"), col("event_id")), col("sec"))
      .select(col("user_id"), col("event_type"), col("from_sec"),
        col("to_sec"), col("n_events"))

  /** Shoelace ring area + perimeter path length over the same
    * deterministic integer-grid quadrilaterals the WKT query family
    * uses (Geo.stArea / stLength): integer coordinates make every cross
    * product an exact double, so the whole geometry math is cell-exact
    * cross-engine; shuffle-free map plan. */
  private def qGeoArea(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Geo
    val e = Tables.events(s, d)
    val ring = array(
      Geo.stPoint((col("event_id") % 100), (col("user_id") % 100)),
      Geo.stPoint(((col("event_id") * 7) % 100) + lit(100),
        ((col("user_id") * 11) % 100)),
      Geo.stPoint(((col("event_id") + col("user_id")) % 100) + lit(100),
        ((col("event_id") * 3 + col("user_id") * 5) % 100) + lit(100)),
      Geo.stPoint(((col("event_id") * 13) % 100),
        ((col("user_id") * 17) % 100) + lit(100)))
    e.select(col("event_id"), ring.as("ring"))
      .select(col("event_id"), Geo.stArea(col("ring")).as("area"),
        Geo.stLength(col("ring")).as("path_len"))
  }

  /** Point-in-time state lookup — the SCD2 dimension join a warehouse
    * runs on every fact load: each event joined to the state run that
    * was in effect JUST BEFORE it (lookup at sec-1, validity = from the
    * run's first second until the next change), composed entirely from
    * the tested primitives: Sessionize.stateIntervals builds the
    * dimension, AsofJoin.asofJoinDir does the backward validity lookup
    * (union+window — zero join operators, one user-key shuffle). */
  private def qPitState(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("sec", nsSec)
    val dim = Sessionize.stateIntervals(ev, "user_id", "event_type",
        Seq(col("sec"), col("event_id")), col("sec"))
      .select(col("user_id"), col("from_sec").as("sec"),
        col("event_type").as("state"))
    val facts = ev.select(col("user_id"), col("event_id"),
      (col("sec") - 1).as("sec"))
    AsofJoin.asofJoinDir(facts, dim, "user_id", "sec", "state")
      .select(col("event_id"), col("user_id"),
        col("asof_state").as("prior_state"), col("asof_ts").as("prior_from"))
  }

  /** MOSS pair detection: documents sharing >= 2 winnowed fingerprints
    * (k=4 grams, window 5), df-capped inverted-index equi-join. */
  private def qWinnowPairs(s: SparkSession, d: String): DataFrame =
    Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text",
      k = 4, w = 5, minShared = 2, maxFpDf = 64)

  /** Flat parallelism floor for text-heavy single-stage scans (the
    * q_geo_geojson / Curate.contamination trade, r21): per-row tokenizer
    * CPU dwarfs one narrow-row exchange by orders of magnitude, and the
    * single-row-group bench parquet otherwise pins the whole encode to
    * ONE task (splits below the row group are empty, so no split config
    * can help). At real scale the source already has more partitions
    * than the box and this is a no-op. */
  private def floorTextScan(s: SparkSession, df: DataFrame): DataFrame =
    Guards.floorPartitions(df, s.sparkContext.defaultParallelism)

  /** Fixed literal merge table for q_bpe_encode — trained once with
    * `Bpe.train(documents@sf0.001, text, 16)` and embedded as literals on
    * BOTH sides (the LSH-hyperplane discipline: the oracle cannot re-run
    * training, so the learned artifact becomes a shared constant). */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"))

  /** Corpus BPE encode under the fixed learned merge table: per document,
    * the BPE token count, an md5 over the full encoded rendering (tokens
    * space-joined within a word, words joined by " | " so word boundaries
    * checksum too) and its head. Scan -> codegen'd project, no shuffle —
    * the apply-side of the tokenizer (train is [[operators.Bpe.train]]). */
  private def qBpeEncode(s: SparkSession, d: String): DataFrame =
    floorTextScan(s, Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"),
        transform(Text.tokens(col("text")),
          w => Bpe.encodeWord(w, BpeMerges)).as("ew"))
      .select(col("doc_id"),
        size(flatten(col("ew"))).cast("long").as("n_bpe"),
        array_join(transform(col("ew"), a => array_join(a, " ")), " | ")
          .as("enc"))
      .select(col("doc_id"), col("n_bpe"),
        md5(col("enc").cast("binary")).as("enc_md5"),
        substring(col("enc"), 1, 40).as("enc_head"))

  /** Fixed byte-level merge table for q_bpe_encode_bytes — trained once
    * with `Bpe.trainBytes(documents@sf0.001, text, 16)`, symbols in the
    * byte↔unicode remap domain (Ġ = the space byte, GPT-2's Ġ).
    * Same shared-constant discipline as [[BpeMerges]]. */
  private[graft] val BpeByteMerges: Seq[(String, String)] = Seq(
    ("Ġ", "s"), ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("Ġ", "a"), ("Ġ", "v"),
    ("a", "s"), ("Ġ", "c"), ("m", "er"), ("a", "t"), ("Ġ", "f"),
    ("Ġ", "t"))

  /** BYTE-LEVEL corpus BPE encode (GPT-2 shape): lookahead-free
    * pretokenization (space attaches to the following word), UTF-8
    * bytes remapped through Bpe.byteAlphabet so ANY input encodes with
    * no UNK, then the same literal-replace merge chain — still a
    * shuffle-free scan→project. Oracle renders the identical LUT,
    * pattern, and merge literals from the same Scala constants. */
  private def qBpeEncodeBytes(s: SparkSession, d: String): DataFrame =
    floorTextScan(s, Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"),
        transform(Bpe.pretokenize(col("text")),
          w => Bpe.encodeWordBytes(w, BpeByteMerges)).as("ew"))
      .select(col("doc_id"),
        size(flatten(col("ew"))).cast("long").as("n_bpe"),
        array_join(transform(col("ew"), a => array_join(a, " ")), " | ")
          .as("enc"))
      .select(col("doc_id"), col("n_bpe"),
        md5(col("enc").cast("binary")).as("enc_md5"),
        substring(col("enc"), 1, 40).as("enc_head"))

  /** Fixed unigram piece table for q_unigram_encode — trained once via
    * `Unigram.train(documents@sf0.001, vocabSize=48, rounds=2,
    * maxPieceLen=4)` and embedded as shared literals: the SAME constants
    * render the Spark expression's piece table and the oracle's MAP +
    * unrolled-DP SQL (the BpeByteMerges discipline — zero drift). */
  private[graft] val UnigramChunk = 24 // DP unroll depth (word cp cap)
  private[graft] val UnigramUnk = 12433
  private[graft] val UnigramPieces: Seq[(String, Int)] = Seq(
    (" ", 1902), (" a", 4616), (" b", 3951), (" c", 4664),
    (" co", 4568), (" f", 3937), (" ord", 4568), (" s", 3538),
    (" t", 4634), (" v", 3914), (" wi", 4566), ("a", 3515),
    ("agg", 4573), ("al", 4633), ("alue", 4594), ("as", 4605),
    ("at", 3934), ("b", 4601), ("c", 3894), ("d", 4603),
    ("e", 2809), ("er", 3896), ("f", 8032), ("g", 3510),
    ("h", 3226), ("i", 3933), ("in", 4591), ("j", 4591),
    ("k", 3907), ("l", 3233), ("line", 4581), ("lumn", 4547),
    ("m", 3928), ("mer", 3924), ("n", 11433), ("ndow", 4566),
    ("o", 3913), ("or", 4597), ("orde", 8600), ("ow", 3936),
    ("p", 11433), ("par", 4619), ("part", 4563), ("q", 4593),
    ("r", 3519), ("ro", 4593), ("s", 7604), ("scan", 4541),
    ("sort", 4551), ("st", 3524), ("t", 3904), ("ta", 4627),
    ("u", 4643), ("ue", 4593), ("up", 4563), ("v", 8342),
    ("valu", 8600), ("w", 11433), ("wind", 8660), ("y", 3894))
  private lazy val unigramTable =
    new graft.plans.UnigramTable(UnigramPieces, UnigramUnk)
  /** Piece separator for the encode digest: ASCII unit separator, absent
    * from the corpus (pieces themselves may contain spaces — space-run
    * pretokens — so a space join would be ambiguous). */
  private[graft] val UnigramSep = "\u001f"

  /** UNIGRAM-LM corpus encode (the SentencePiece apply step): pretokens
    * chunked to [[UnigramChunk]] code points (the DP depth the oracle
    * unrolls), each chunk Viterbi-segmented by the native
    * [[graft.plans.UnigramSegment]] expression against the embedded
    * integer-cost table — still a shuffle-free scan→project. The oracle
    * runs the IDENTICAL DP as UnigramChunk unrolled lateral columns
    * over a MAP literal rendered from the same constants, on DISTINCT
    * chunks joined back (integer costs + the longest-final-piece tie
    * rule make the optimum engine-exact). */
  private def qUnigramEncode(s: SparkSession, d: String): DataFrame = {
    val ck = lit(UnigramChunk)
    floorTextScan(s, Tables.documents(s, d).select("doc_id", "text"))
      .select(col("doc_id"),
        flatten(transform(Bpe.pretokenize(col("text")), w => {
          val nch = ((length(w) + lit(UnigramChunk - 1)) / ck).cast("int")
          flatten(transform(sequence(lit(1), nch),
            k => graft.plans.UnigramSegment.segment(
              w.substr((k - 1) * ck + 1, ck), unigramTable)))
        })).as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        md5(array_join(col("pieces"), UnigramSep).cast("binary"))
          .as("enc_md5"))
  }

  /** Corpus length-distribution percentiles from a one-pass bounded
    * histogram (Stats.histogramQuantiles): p10..p100 of document char
    * length at bin-width-10 resolution. The at-scale twin of
    * q_percentiles' exact rank selection — the shuffle is <= 100 bin
    * rows regardless of corpus size. */
  private def qHistQuantiles(s: SparkSession, d: String): DataFrame =
    Stats.histogramQuantiles(Tables.documents(s, d), col("n_chars"),
      lo = 0L, hi = 1000L, bins = 100,
      qsPpm = Seq(100000L, 250000L, 500000L, 750000L,
        900000L, 990000L, 1000000L))

  /** Dedup-grade canonical text (NFC + lower + non-alnum collapse via
    * the native graft_nfc expression) — the map stage every dedup
    * signature consumes; shuffle-free. */
  private def qCanonicalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.canonicalize(col("text")).as("canon"))
      .select(col("doc_id"),
        length(col("canon")).cast("long").as("n_canon_chars"),
        md5(col("canon").cast("binary")).as("canon_md5"),
        substring(col("canon"), 1, 40).as("canon_head"))

  /** Substring-level dedup spans: maximal per-document token ranges whose
    * every 10-gram occurs in >= 2 distinct documents (the distributed
    * formulation of Lee et al. suffix-array substring dedup) — the byte
    * ranges a substring-cutting pass would remove, vs the whole-document
    * verdicts of the minhash family. */
  private def qDupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text",
      n = 10, minDocs = 2)

  /** Per-source corpus health report — the dashboard query a corpus
    * operator runs daily: volume (docs, tokens), exact-dup incidence
    * (content hashes seen >= 2x anywhere in the corpus, counted per
    * source), language mix, and the mean stopword quality signal in
    * exact integer ppm. One uniform hash groupBy + join back + one
    * source rollup — every aggregate partial-combines map-side. */
  private def qCorpusReport(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val per = Tables.documents(s, d).select(
        col("source"), col("lang"),
        md5(col("text").cast("binary")).as("h"),
        size(toks).cast("long").as("nt"),
        Text.vocabHits(toks, Text.StopWords).cast("long").as("sh"))
      .withColumn("stop_ppm",
        when(col("nt") > 0, expr("(sh * 1000000) DIV nt")).otherwise(lit(0L)))
    val dups = per.groupBy("h").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2).select(col("h"), lit(1L).as("__dup"))
    per.join(dups, Seq("h"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        expr("sum(stop_ppm) DIV count(1)").as("mean_stop_ppm"))
  }

  /** KMV distinct-count sketch per source (the native
    * [[graft.plans.KmvSketch]] aggregate): deterministic hash-ordered
    * sketch, so estimate AND sketch are cell-exact cross-engine —
    * unlike HLL, whose q_profile_customer twin is rows-only. 55-bit
    * domain keeps (k-1)*2^55 inside BIGINT on both engines. */
  private def qKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val hv = Tables.documents(s, d)
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("source"), shiftright(Text.md5Long(col("tok")), 5).as("hv"))
    hv.groupBy("source")
      .agg(graft.plans.KmvSketch.kmv(col("hv"), 16).as("kmv"),
        count_distinct(col("hv")).as("exact_distinct"))
      .select(col("source"), col("exact_distinct"),
        when(size(col("kmv")) < 16, size(col("kmv")).cast("long"))
          .otherwise(expr(s"(15L * CAST(${1L << 55} AS BIGINT)) DIV element_at(kmv, 16)"))
          .as("est_distinct"))
  }

  /** Substring-dedup materialization: corpus with every duplicated
    * 10-gram span's tokens cut (all occurrences — the aggressive Lee
    * et al. variant), reassembled in position order. */
  private def qSpanCut(s: SparkSession, d: String): DataFrame =
    Dedup.cutSpans(Tables.documents(s, d), "doc_id", "text",
      n = 10, minDocs = 2)

  /** Keep-one-occurrence span cut (the Lee et al. policy): each
    * duplicated 10-gram survives only in its min-doc_id document. */
  private def qSpanCutKeep(s: SparkSession, d: String): DataFrame =
    Dedup.cutSpans(Tables.documents(s, d), "doc_id", "text",
      n = 10, minDocs = 2, keepCanonical = true)

  /** Corpus-trained quality classifier (fastText/CCNet shape): sources
    * src0/src1 act as the reference class; every doc scores the mean
    * token posterior P(reference | token) in exact integer ppm. */
  private def qQualityClassifier(s: SparkSession, d: String): DataFrame =
    Curate.nbQualityScore(Tables.documents(s, d), "doc_id", "text",
      col("source").isin("src0", "src1"))

  /** The dedup MATERIALIZATION step: the corpus with every non-canonical
    * near-dup cluster member dropped (canonical = min doc_id of its
    * minhash-LSH cluster; docs in no cluster survive). Completes the
    * dedup family from detection (pairs/clusters) to the kept corpus a
    * training run would actually read. */
  private def qDedupKeep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val labels = DupClusters.clustersAdaptive(
      Dedup.minhashBucketStars(docs, "doc_id", "text", 16, 4))
    val drop = labels.where(col("doc") =!= col("cluster"))
      .select(col("doc").as("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
  }

  /** Context-window chunking (the training/RAG windowing primitive):
    * 50-token chunks at stride 40 (10-token overlap), shuffle-free row
    * expressions — at 100 TB this is the map stage right before
    * tokenizer packing, and the digest column is what chunk-level dedup
    * consumes. */
  private def qChunk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .where(size(col("t")) > 0)
      .selectExpr("doc_id",
        "explode(transform(filter(sequence(0, size(t) - 1), i -> i % 40 = 0), " +
          "s -> struct(CAST(s DIV 40 AS INT) AS chunk_idx, " +
          "slice(t, s + 1, 50) AS ch))) AS c")
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        size(col("c.ch")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c.ch")).cast("binary")).as("chunk_md5"))

  /** Session concurrency by distributed sweep: sessions active at each
    * session's start — no interval-inequality join (the oracle IS one). */
  private def qConcurrency(s: SparkSession, d: String): DataFrame =
    Sessionize.concurrency(qSessionize(s, d),
      "user_id", "session_id", "start_sec", "end_sec")

  /** Duplicate-hub centrality: 2 integer-exact PageRank rounds over the
    * embedding near-dup graph — which node anchors each template family. */
  private def qPagerank(s: SparkSession, d: String): DataFrame =
    Centrality.pagerankPpm(
      qEmbedNeardup(s, d).select(col("vec_a").as("doc_a"),
        col("vec_b").as("doc_b")),
      iters = 2)

  /** Exact-5-per-source deterministic sample (few-shot per category). */
  private def qGroupSample(s: SparkSession, d: String): DataFrame =
    Stats.groupSample(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        Seq("source"), col("doc_id"), 5)
      .select("doc_id", "source", "n_chars", "sample_rank")

  /** The curation pipeline END TO END as one oracle-checked query:
    * quality gate (tokens + repetition) → exact-dedup keep-min →
    * benchmark decontamination (doc_id%10 split, capped inverted index)
    * → token-budget cut (best = most tokens first). Every stage is a
    * §2.4 operator; the full composition is what a training run ships. */
  private def qCurationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val bench = docs.where(col("doc_id") % 10 === 0)
    // 1. quality gate: >= 30 tokens, 3-gram repetition <= 300000 ppm.
    // Every per-document value the later stages need is computed HERE,
    // in the one tokenize pass before the first exchange: the token
    // count, the content md5, the 16-value minhash signature (the
    // per-row MinhashSig kernel) and the distinct-trigram set. The text
    // itself stops here, so from this point on only fixed-width hash
    // columns cross an exchange. Cached: the exact-dedup window and the
    // decontamination probe both read it.
    val gated = graft.PersistScope.cache(corpus
      .select(col("doc_id"), col("source"), col("text"),
        Text.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("source"), col("text"), col("__toks"),
        size(col("__toks")).cast("long").as("n_tokens"),
        graft.plans.NGrams.ngrams(col("__toks"), 3).as("__g3"))
      .withColumn("__rep", Text.repRatioPpm(col("__g3")))
      .where(col("n_tokens") >= 30 && col("__rep") <= 300000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        md5(col("text").cast("binary")).as("__md5"),
        Dedup.minhashSig(col("__toks"), 16).as("__mh"),
        array_distinct(col("__g3")).as("__g3d")))
    // 2a. exact dedup keep-min as ONE windowed rank on the content hash
    // (rank-1 == min doc_id per group; no groupBy + join-back pass). The
    // window's exchange carries the narrow columns only, never the
    // trigram arrays.
    val dw = Window.partitionBy(col("__md5")).orderBy(col("doc_id"))
    val exactDeduped = graft.PersistScope.cache(gated
      .select("doc_id", "source", "n_tokens", "__md5", "__mh")
      .withColumn("__rn", row_number().over(dw))
      .where(col("__rn") === 1)
      .drop("__rn", "__md5"))
    // 2b. NEAR-dup dedup (the C4/RefinedWeb minhash stage): drop every
    // non-canonical member of a minhash-LSH cluster — same machinery as
    // q_dedup_keep over the exact-deduped survivors, but with 2 bands of
    // 8 rows (candidate threshold ~0.92 Jaccard: only true near-dups
    // cluster, where the 4x4 layout collapses this synthetic corpus).
    // The stars band the signatures the gate already computed: no
    // second tokenize, and survivor ids are unique (the window's rank 1)
    val labels = DupClusters.clustersAdaptive(Dedup.bucketStarsFromSigs(
      Dedup.sigColumns(exactDeduped.select(col("doc_id").as("doc"), col("__mh")),
        "__mh", 16), 16, 2))
    val dropNear = labels.where(col("doc") =!= col("cluster"))
      .select(col("doc").as("doc_id"))
    // 3. decontamination vs the benchmark split — same semantics and caps
    // as Curate.contamination, but candidates come from the CACHED
    // distinct-trigram arrays (no second tokenize of the corpus); only
    // the contaminated-id set is needed, so the coverage columns drop out
    // df-cap via the shared hot-key anti-join (Dedup.capByFreq) — the
    // count-over-window form serialized a hot cross-benchmark stop-gram
    // through one task; the benchmark side is small, so its double pass
    // here is noise
    val benchAll = Dedup.shingleRows(bench, "doc_id", "text", 3)
    val benchIdx = Dedup.capByFreq(benchAll, Seq("sh"), 64, Seq("doc", "sh"))
      .select(col("doc").as("doc_b"), col("sh"))
    // contamination probes run over `gated`, the superset of both the
    // exact- and the near-dup survivors (r21): contamination
    // is a per-document property, independent of which OTHER docs the
    // dedup stages drop, so probing the superset yields the identical
    // contaminated set on the survivors — and the trigram arrays are
    // exploded straight out of the cache, never shuffled. Both drop
    // reasons then apply as ONE anti-join on their union instead of two
    // chained anti-joins over an extra intermediate. (No .distinct() on
    // the drop set either: anti-join semantics are multiplicity-blind,
    // a distinct would buy an exchange for nothing.) Oracle unchanged,
    // cell-exact.
    val contaminated = gated
      .select(col("doc_id").as("doc_a"), explode(col("__g3d")).as("sh"))
      .join(broadcast(benchIdx), Seq("sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__ns"))
      .where(col("__ns") >= 2)
      .select(col("doc_a").as("doc_id"))
    val clean = exactDeduped.join(
      dropNear.unionByName(contaminated), Seq("doc_id"), "left_anti")
    // 4. token budget, most-tokens-first — distributed prefix sum
    Curate.tokenBudgetSelect(
        clean.select(col("doc_id"), col("source"), col("n_tokens")),
        Seq(col("n_tokens").desc, col("doc_id")), col("n_tokens"), 8000L)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  private def qSaltedAgg(s: SparkSession, d: String): DataFrame =
    Stats.saltedAgg(Tables.events(s, d), "event_type",
        pmod(col("event_id"), lit(16)), 16,
        Seq("total_value" -> dec2(col("value"))))
      .select(col("event_type"), col("n_rows"),
        col("total_value").cast("double").as("total_value"))

  // ----------------------------------------------- §2.6 dbt models layer
  // The reference's dbt analytics DAG (pipelines.Models) run over
  // REAL-SCHEMA warehouse tables derived deterministically from the test
  // tables: orders dress as the Street Manager monthly permit events
  // (two event versions per permit, so the DISTINCT ON dedup is
  // exercised), customer as os_open_usrns, nation as the geoplace SWA
  // dimension, and the per-customer order count as the linked-identifier
  // UPRN rollup. The oracle mirrors the same dressing in SQL.

  /** Stand-in for the London-borough authority filter (8 of 25 nations). */
  private val modelAuthorities = Seq("NATION_1", "NATION_3", "NATION_5", "NATION_7", "NATION_9", "NATION_11", "NATION_19", "NATION_23")

  private val modelTmRefs = Seq("road_closure", "contra_flow",
    "lane_closure", "convoy_workings", "multi_way_signals",
    "two_way_signals", "give_and_take", "stop_go_boards",
    "priority_working", "some_carriageway_incursion",
    "no_carriageway_incursion")

  /** The permit-event table: 2 versions per order; WORK_STOP lands on
    * v2 of 'F' orders, so in-progress exclusion + completed filter both
    * bite; tm ref cycles all 11 known values + NULL + one unknown.
    *
    * Parallelism note (measured at sf1.5, R15): the customer/nation
    * dims broadcast, so the dressed map stage runs at the ORDERS scan's
    * parallelism. A Curate.contamination-style repartition floor was
    * TRIED and reverted: it speeds the bare dressing 2.7->1.8 s but
    * SLOWS every consuming model query (q_model_data_tests full
    * 2.90->3.33 s solo) — each consumer's first real exchange (the
    * per-permit dedup / groupBy shuffle) re-parallelizes anyway, so the
    * extra round-robin shuffle is pure cost on the critical path. */
  private[graft] def modelPermitEvents(s: SparkSession, d: String): DataFrame = {
    val tmIdx = pmod(col("o_orderkey") + col("v"), lit(13))
    val tmRef = modelTmRefs.zipWithIndex
      .foldLeft(when(tmIdx === 11, lit(null).cast("string"))) {
        case (acc, (name, i)) => acc.when(tmIdx === i, lit(name))
      }.otherwise(lit("lane_rental"))
    val workCat = when(col("o_orderkey") % 13 === 0, lit("Section 81"))
      .when(col("o_orderpriority") === "1-URGENT",
        when(col("o_orderkey") % 2 === 0, "Immediate - urgent")
          .otherwise("Immediate - emergency"))
      .when(col("o_orderpriority") === "2-HIGH", "Major")
      .when(col("o_orderpriority") === "3-MEDIUM", "Standard")
      .when(col("o_orderpriority") === "4-NOT SPECIFIED", "Minor")
      .otherwise("HS2 (Highway)")
    // r21: fan the NARROW orders scan out before the dressing map — the
    // testdata parquet is single-row-group, so the scan (and with it the
    // whole cpu-heavy dressing: explode x2 + ~28 string projections,
    // measured ~1.0 cpu-s warm at sf0.1) otherwise runs in ONE task.
    // Unlike the r15 floor this shuffles only the 5 raw order columns
    // BEFORE the join/explode/projection widen the rows (guide §2.3:
    // project before the exchange; §8: move decisions on narrow rows).
    // Conditional, so a source with enough natural splits (real scale)
    // skips the exchange entirely.
    graft.operators.IvfIndex.adaptiveFloor(
        Tables.orders(s, d), perPartBytes = 256 << 10)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("v", explode(array(lit(1L), lit(2L))))
      .select(
        col("o_orderkey").cast("string").as("permit_reference_number"),
        (col("o_orderkey") * 10 + col("v")).as("event_reference"),
        (col("o_orderkey") * 10 + col("v")).cast("string").as("event_time"),
        when(col("o_orderstatus") === "F" && col("v") === 2, "WORK_STOP")
          .otherwise("WORK_START").as("event_type"),
        when(col("o_orderstatus") === "O", "in_progress")
          .when(col("o_orderstatus") === "F", "completed")
          .otherwise("proposed").as("work_status_ref"),
        col("n_name").as("highway_authority"),
        concat(lit("SWA"), col("n_nationkey").cast("string"))
          .as("highway_authority_swa_code"),
        (col("o_custkey") % 60).cast("string").as("promoter_swa_code"),
        concat(lit("PROM#"), (col("o_custkey") % 60).cast("string"))
          .as("promoter_organisation"),
        workCat.as("work_category"),
        when(col("o_orderkey") % 2 === 0, "Yes").otherwise("No")
          .as("is_ttro_required"),
        when(col("o_orderkey") % 3 === 0, "Yes").otherwise("No")
          .as("is_traffic_sensitive"),
        tmRef.as("traffic_management_type_ref"),
        col("c_name").as("street_name"),
        col("o_custkey").cast("string").as("usrn"),
        col("o_orderpriority").as("activity_type"),
        lit("Footway").as("works_location_type"),
        (col("o_orderkey") % 5).cast("string").as("road_category"),
        col("o_orderdate").cast("string").as("proposed_start_date"),
        col("o_orderdate").cast("string").as("proposed_end_date"),
        col("o_orderdate").cast("string").as("actual_start_date_time"),
        col("o_orderdate").cast("string").as("actual_end_date_time"),
        when(col("o_orderkey") % 7 === 0, "Yes").otherwise("No")
          .as("collaborative_working"))
  }

  private[graft] def modelOpenUsrns(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("usrn"),
      col("c_mktsegment").as("street_type"),
      concat(lit("POINT ("), (col("c_custkey") % 1000).cast("string"),
        lit(" "), (col("c_nationkey") * 10).cast("string"), lit(")"))
        .as("geometry"))

  private[graft] def modelLinkedIds(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").cast("string").as("correlation_id"),
      col("o_custkey").as("identifier_2"))

  private def qModelUprnUsrnCount(s: SparkSession, d: String): DataFrame =
    Models.uprnUsrnCount(modelOpenUsrns(s, d), modelLinkedIds(s, d))

  // the impact models read the permit events directly
  // (Models.latestFromEvents): one narrow events shuffle instead of
  // building both 27-column lists; the oracle scores the list union, and
  // ModelsSpec pins the event frame against the lists
  private def qModelImpactScores(s: SparkSession, d: String): DataFrame =
    Models.impactScores(modelPermitEvents(s, d),
      modelOpenUsrns(s, d),
      Models.uprnUsrnCount(modelOpenUsrns(s, d), modelLinkedIds(s, d)),
      modelAuthorities, correlateOnAuthority = true)

  private def qModelAuthorityScores(s: SparkSession, d: String): DataFrame =
    Models.impactScoresHighwayAuthority(modelPermitEvents(s, d),
      modelOpenUsrns(s, d),
      Models.uprnUsrnCount(modelOpenUsrns(s, d), modelLinkedIds(s, d)),
      modelAuthorities, correlateOnAuthority = true)

  /** Regulator-licence dimension (geoplace SWA shape): one row per
    * promoter SWA code with deterministic Yes/No licence flags. */
  private def modelSwaCodes(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select((col("c_custkey") % 60).as("__k")).distinct()
      .select(col("__k").cast("string").as("swa_code"),
        when(col("__k") % 2 === 0, "Yes").otherwise("No")
          .as("ofgem_electricity_licence"),
        when(col("__k") % 3 === 0, "Yes").otherwise("No")
          .as("ofgem_gas_licence"),
        when(col("__k") % 5 === 0, "Yes").otherwise("No").as("ofcom_licence"),
        when(col("__k") % 7 === 0, "Yes").otherwise("No").as("ofwat_licence"))

  private def modelLondonLists(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = modelPermitEvents(s, d)
    val usrns = modelOpenUsrns(s, d)
    val counts = Models.uprnUsrnCount(usrns, modelLinkedIds(s, d))
    val swa = modelSwaCodes(s, d)
    (Models.inProgressList(ev, usrns, swa, counts, modelAuthorities,
      correlateOnAuthority = true),
      Models.completedList(ev, usrns, swa, counts, modelAuthorities))
  }

  /** usrn_permit_details_london.sql: both London lists unioned to the
    * per-permit detail projection, licence flags riding from the SWA
    * dimension join. */
  private def qModelPermitDetails(s: SparkSession, d: String): DataFrame = {
    val (inL, doneL) = modelLondonLists(s, d)
    Models.usrnPermitDetails(inL, doneL)
  }

  // ---- England model family: uncorrelated exclusion (a completed stop
  // ANYWHERE removes the permit reference), unfiltered authority universe
  // (in_progress_list_england.sql:81-87; impact_scores_england.sql;
  // usrn_permit_details_england.sql)

  private def qModelImpactScoresEngland(s: SparkSession, d: String): DataFrame =
    Models.impactScores(modelPermitEvents(s, d),
      modelOpenUsrns(s, d),
      Models.uprnUsrnCount(modelOpenUsrns(s, d), modelLinkedIds(s, d)),
      Nil, correlateOnAuthority = false)

  private def qModelAuthorityScoresEngland(s: SparkSession,
                                           d: String): DataFrame =
    Models.impactScoresHighwayAuthority(modelPermitEvents(s, d),
      modelOpenUsrns(s, d),
      Models.uprnUsrnCount(modelOpenUsrns(s, d), modelLinkedIds(s, d)),
      Nil, correlateOnAuthority = false)

  private def qModelPermitDetailsEngland(s: SparkSession,
                                         d: String): DataFrame = {
    val ev = modelPermitEvents(s, d)
    val usrns = modelOpenUsrns(s, d)
    val counts = Models.uprnUsrnCount(usrns, modelLinkedIds(s, d))
    val swa = modelSwaCodes(s, d)
    Models.usrnPermitDetails(
      Models.inProgressList(ev, usrns, swa, counts, Nil,
        correlateOnAuthority = false),
      Models.completedList(ev, usrns, swa, counts, Nil))
  }

  /** The reference's dbt data_tests as a driver query — `dbt build` runs
    * these on every invocation (data_tests/assert_no_duplicate_permits_*,
    * test_impact_scores_london.yml): one (test_name, violations) row per
    * test, all zero on clean data BY CONSTRUCTION of the exclusion join
    * (that invariant is exactly what the dbt test pins in production). */
  private def qModelDataTests(s: SparkSession, d: String): DataFrame = {
    val ev = modelPermitEvents(s, d)
    val usrns = modelOpenUsrns(s, d)
    val counts = Models.uprnUsrnCount(usrns, modelLinkedIds(s, d))
    // ALL four tests from ONE cached tagged scoring frame: the dup-test
    // halves read (permit, leg) membership off the same post-exclusion
    // frame whose pre-normalisation aggregate the not_null half counts —
    // one event dressing/shuffle instead of two (the r15 sf1.5 residual
    // was exactly the second dressing). ModelsSpec pins the dup counts
    // against DataQuality.overlappingKeys over the built lists.
    Models.dataTestsFromEvents(ev, usrns, counts, modelAuthorities)
  }

  /** Wellbeing dressing: [[modelPermitEvents]] plus the columns the
    * wellbeing staging chain consumes. Work points sit on a 1 km grid
    * (cell = (k%100, k div 100 %100), offset up to ±400/±300 m from the
    * center), so the ±500 m radius join has BOUNDED fanout at any SF —
    * a work can only reach the postcodes at its own cell center, and
    * corner offsets (e.g. 400²+300²) land EXACTLY on the 500 m boundary,
    * exercising the exact-distance filter past the bbox. k%11 works lose
    * their coordinates (the dbt isNotNull filter); end dates spread
    * 0-44 days so the duration CASE hits both the same-month and
    * spilled-month arms (stg_emergency_works_by_authority.sql:39-52). */
  private def modelWellbeingEvents(s: SparkSession, d: String): DataFrame = {
    val k = col("permit_reference_number").cast("bigint")
    val wx = ((k % 100) * 1000 + ((k % 9) - 4) * 100).cast("double")
    val wy = ((expr("CAST(permit_reference_number AS BIGINT) div 100") % 100)
      * 1000 + ((k % 7) - 3) * 100).cast("double")
    modelPermitEvents(s, d)
      .withColumn("work_status",
        when(col("work_status_ref") === "in_progress", "Works in progress")
          .when(col("work_status_ref") === "completed", "Works completed")
          .otherwise("Works proposed"))
      .withColumn("work_category_ref",
        when(col("work_category") === "Immediate - urgent", "immediate_urgent")
          .when(col("work_category") === "Immediate - emergency",
            "immediate_emergency")
          .otherwise(lower(col("work_category"))))
      .withColumn("works_location_coordinates",
        when(k % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("POINT ("), wx.cast("string"), lit(" "),
            wy.cast("string"), lit(")"))))
      .withColumn("actual_end_date_time",
        date_add(col("actual_start_date_time").cast("date"),
          (k % 45).cast("int")).cast("string"))
  }

  /** Code-Point dressing: one postcode per customer, on the same 1 km
    * grid the works offset from; c and c+10000 share a grid point, so
    * grid-point fanout stays ≤ a handful at ANY scale factor. */
  private def modelCodePoint(s: SparkSession, d: String): DataFrame = {
    val c = col("c_custkey")
    val px = ((c % 100) * 1000).cast("double")
    val py = (((c - c % 100) / 100).cast("bigint") % 100 * 1000).cast("double")
    Tables.customer(s, d).select(
      concat(lit("PC"), c.cast("string")).as("postcode"),
      (c % 10).cast("string").as("positional_quality_indicator"),
      lit("E92000001").as("country_code"),
      lit(null).cast("string").as("nhs_regional_ha_code"),
      lit(null).cast("string").as("nhs_ha_code"),
      lit(null).cast("string").as("admin_county_code"),
      concat(lit("E0"), (c % 300).cast("string")).as("admin_district_code"),
      lit(null).cast("string").as("admin_ward_code"),
      concat(lit("POINT ("), px.cast("string"), lit(" "),
        py.cast("string"), lit(")")).as("geometry"))
  }

  /** Census P001 dressing: two sex rows per covered postcode; c%5==0
    * postcodes have NO census rows, exercising int_postcodes' COALESCE
    * 0 (int_postcodes.sql:7-49). */
  private def modelP001(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).where(col("c_custkey") % 5 =!= 0)
      .select(col("c_custkey").as("__c"),
        explode(array(lit(1L), lit(2L))).as("Sex_Code"))
      .select(concat(lit("PC"), col("__c").cast("string")).as("Postcode"),
        col("Sex_Code"),
        (col("__c") % 50 + col("Sex_Code")).as("Count"))

  private def modelP002(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).where(col("c_custkey") % 5 =!= 0)
      .select(concat(lit("PC"), col("c_custkey").cast("string")).as("Postcode"),
        (col("c_custkey") % 30 + 1).as("Count"))

  /** The wellbeing mart end to end over the real dbt schemas: stg works
    * (duration CASE, in-progress +7d, completed-anywhere anti-join,
    * DISTINCT ON dedup) → int_postcodes (census COALESCE) → ±500 m
    * radius join (grid-cell equi-join, never broadcast-nested-loop) →
    * £2.10 × days × households DECIMAL formula, emergency + major
    * tagged union ({emergency,major}_wellbeing.sql:5-47). */
  private def qModelWellbeing(s: SparkSession, d: String): DataFrame = {
    val pcs = Models.intPostcodes(modelCodePoint(s, d), modelP001(s, d),
      modelP002(s, d))
    // both families in one pass (one permit scan, one dedup shuffle,
    // one radius join); ModelsSpec pins each family's rows equal to its
    // own single-family run
    Models.wellbeingByModel(modelWellbeingEvents(s, d), pcs,
        Seq("emergency_wellbeing" ->
            Seq("immediate_urgent", "immediate_emergency"),
          "major_wellbeing" -> Seq("major")), "SWA7")
      .select(col("model"), col("permit_reference_number"),
        col("promoter_organisation"), col("highway_authority"),
        col("street_name"), col("activity_type"), col("work_category"),
        col("work_status"), col("usrn"), col("work_easting"),
        col("work_northing"), col("duration_days"), col("postcode_count"),
        col("total_population_affected"), col("total_female_population"),
        col("total_male_population"), col("total_households_affected"),
        col("wellbeing_total_impact"))
  }

  // ------------------------------------------------------------- registry
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pricing_summary" -> (qPricingSummary _),
    "q_conditional_counts" -> (qConditionalCounts _),
    "q_distinct_on_latest" -> (qDistinctOnLatest _),
    "q_enrich_multijoin" -> (qEnrichMultijoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_union_dedup" -> (qUnionDedup _),
    "q_impact_scores" -> (qImpactScores _),
    "q_authority_rollup" -> (qAuthorityRollup _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_window_rolling" -> (qWindowRolling _),
    "q_date_duration" -> (qDateDuration _),
    "q_cast_normalize" -> (qCastNormalize _),
    "q_grouping_rollup" -> (qGroupingRollup _),
    "q_pivot_event_counts" -> (qPivotEventCounts _),
    "q_json_extract" -> (qJsonExtract _),
    "q_range_join_points" -> (qRangeJoinPoints _),
    "q_geo_centroid" -> (qGeoCentroid _),
    "q_geo_wkt" -> (qGeoWkt _),
    "q_geo_wkb" -> (qGeoWkb _),
    "q_geo_area" -> (qGeoArea _),
    "q_wellbeing_impact" -> (qWellbeingImpact _),
    "q_tumbling_window" -> (qTumblingWindow _),
    "q_sessionize" -> (qSessionize _),
    "q_session_sequences" -> (qSessionSequences _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "q_transitions" -> (qTransitions _),
    "q_zorder" -> (qZorder _),
    "q_bm25" -> (qBm25 _),
    "q_source_drift" -> (qSourceDrift _),
    "q_cms_heavy" -> (qCmsHeavy _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_ngram" -> (qDedupNgram _),
    "q_minhash_pairs" -> (qMinhashPairs _),
    "q_minhash_verify" -> (qMinhashVerify _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_pairs" -> (qSimhashPairs _),
    "q_cosine_topk" -> (qCosineTopK _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_lsh_multiprobe" -> (qAnnLshMultiprobe _),
    "q_embed_stats" -> (qEmbedStats _),
    "q_semantic_contamination" -> (qSemanticContamination _),
    "q_text_quality" -> (qTextQuality _),
    "q_token_stats" -> (qTokenStats _),
    "q_lang_id" -> (qLangId _),
    "q_fingerprint" -> (qFingerprint _),
    "q_contamination" -> (qContamination _),
    "q_token_budget" -> (qTokenBudget _),
    "q_balanced_sample" -> (qBalancedSample _),
    "q_line_dedup" -> (qLineDedup _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_winnow" -> (qWinnow _),
    "q_tfidf_terms" -> (qTfidfTerms _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_repetition" -> (qRepetition _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_binary_meta" -> (qBinaryMeta _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_forward" -> (qAsofForward _),
    "q_quality_checks" -> (qQualityChecks _),
    "q_percentiles" -> (qPercentiles _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_top_tokens" -> (qTopTokens _),
    "q_rolling_1h" -> (qRolling1h _),
    "q_embed_neardup" -> (qEmbedNeardup _),
    "q_semantic_clusters" -> (qSemanticClusters _),
    "q_semantic_dedup_keep" -> (qSemanticDedupKeep _),
    "q_multimodal_decode" -> (qMultimodalDecode _),
    "q_dup_clusters" -> (qDupClusters _),
    "q_dup_clusters_star" -> (qDupClustersStar _),
    "q_exists_having" -> (qExistsHaving _),
    "q_scalar_sub" -> (qScalarSub _),
    "q_ntile" -> (qNtile _),
    "q_profile_customer" -> (qProfileCustomer _),
    "q_profile_exact" -> (qProfileExact _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_ivf_indexed" -> (qAnnIvfIndexed _),
    "q_source_cap" -> (qSourceCap _),
    "q_lm_score" -> (qLmScore _),
    "q_state_intervals" -> (qStateIntervals _),
    "q_pit_state" -> (qPitState _),
    "q_dedup_keep" -> (qDedupKeep _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_pq_indexed" -> (qAnnPqIndexed _),
    "q_ann_pq_trained" -> (qAnnPqTrained _),
    "q_winnow_pairs" -> (qWinnowPairs _),
    "q_pq_verify" -> (qPqVerify _),
    "q_curation_pipeline" -> (qCurationPipeline _),
    "q_group_sample" -> (qGroupSample _),
    "q_pagerank" -> (qPagerank _),
    "q_concurrency" -> (qConcurrency _),
    "q_chunk" -> (qChunk _),
    "q_ivf_pq" -> (qIvfPq _),
    "q_ivf_pq_indexed" -> (qIvfPqIndexed _),
    "q_dup_spans" -> (qDupSpans _),
    "q_canonicalize" -> (qCanonicalize _),
    "q_span_cut" -> (qSpanCut _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_span_cut_keep" -> (qSpanCutKeep _),
    "q_corpus_report" -> (qCorpusReport _),
    "q_time_slice" -> (qTimeSlice _),
    "q_mixture" -> (qMixture _),
    "q_pack" -> (qPack _),
    "q_shard" -> (qShard _),
    "q_interleave" -> (qInterleave _),
    "q_epoch_plan" -> (qEpochPlan _),
    "q_pack_segments" -> (qPackSegments _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_encode_bytes" -> (qBpeEncodeBytes _),
    "q_unigram_encode" -> (qUnigramEncode _),
    "q_geo_geojson" -> (qGeoGeoJson _),
    "q_hist_quantiles" -> (qHistQuantiles _),
    "q_model_uprn_usrn_count" -> (qModelUprnUsrnCount _),
    // the two model-score queries return lazy plans over cached
    // combined/raw projections (PersistScope.cache): the caches belong to
    // the caller's scope, so run the terminal action inside
    // PersistScope.within (as Driver.eachQuery does) and the block's end
    // releases them.
    "q_model_impact_scores" -> (qModelImpactScores _),
    "q_model_authority_scores" -> (qModelAuthorityScores _),
    "q_model_wellbeing" -> (qModelWellbeing _),
    "q_model_permit_details" -> (qModelPermitDetails _),
    "q_model_data_tests" -> (qModelDataTests _),
    "q_model_impact_scores_england" -> (qModelImpactScoresEngland _),
    "q_model_authority_scores_england" -> (qModelAuthorityScoresEngland _),
    "q_model_permit_details_england" -> (qModelPermitDetailsEngland _),
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
