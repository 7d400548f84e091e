package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.SnapshotTable
import graft.sources.{BiffReader, ColumnNormalizer, Fetch, GeoPackageSource,
  JsonFlatten, MetadataLog, Pipeline, SchemaValidator, SpreadsheetSource}

/** The CONCRETE pipeline catalog: each entry binds the generic ingestion
  * primitives (Fetch → parse → normalize → [[graft.sources.SchemaValidator]]
  * → [[graft.sinks.SnapshotTable]]) into one of the reference's named
  * DAGs, with the REAL schema/table names and column templates those
  * pipelines load (reference: `src/pipelines/street_manager.py`,
  * `nhs_prescriptions.py`, `code_point.py`, `bods_timetables.py`,
  * `naptan.py`; templates from the matching `src/data_sources/ *.py`
  * `db_template`s). One entry point runs any of them: [[Catalog.run]].
  *
  * Spark-first shape: a pipeline stage is a DataFrame transform; the
  * single terminal action per table is the transactional
  * [[SnapshotTable.write]] (the warehouse-load analog of the reference's
  * MotherDuck INSERT), and per-stage row counts ride the plan as
  * `observe()` metrics ([[Pipeline.runObserved]]) so metadata logging
  * costs no extra job. At 100 TB, each `load` is a parquet write of an
  * already-partitioned DataFrame — nothing here collects to the driver.
  */
object Catalog {

  /** One conformed output table: name + the DataFrame to land. */
  final case class TableLoad(table: String, df: DataFrame)

  /** A named source binding. `parse` turns a staged local input (the
    * post-[[Fetch.fetchToStaging]] artifact — tests pass committed
    * fixtures) into raw per-table DataFrames; `template` is the
    * warehouse column contract (name → Spark type, in DDL order);
    * `allowMissing` mirrors each reference processor's policy (Street
    * Manager null-fills absent keys, NHS/NaPTAN abort on header drift). */
  final case class SourcePipeline(
      name: String,
      schemaName: String,
      templates: Map[String, Seq[(String, DataType)]],
      allowMissing: Boolean,
      parse: (SparkSession, String, String) => Seq[TableLoad])

  /** Conform a parsed DataFrame to its template: unexpected columns are
    * a hard failure (never silently load drifted data); missing columns
    * null-fill only when the source's policy allows; output columns in
    * template order with template types. Value typing COERCES (try_cast):
    * a malformed numeric cell nulls like the reference's
    * `pd.to_numeric(errors="coerce")` (national_stat_postcode_lookup.py:
    * 18-42) instead of killing the load under ANSI mode — header drift is
    * the abort condition, not a dirty cell. */
  private[pipelines] def conform(df: DataFrame,
      template: Seq[(String, DataType)], allowMissing: Boolean): DataFrame = {
    val (missing, extra) = SchemaValidator.validate(df, template.map(_._1))
    require(extra.isEmpty, s"unexpected columns from source: ${extra.mkString(", ")}")
    require(allowMissing || missing.isEmpty,
      s"source is missing template columns: ${missing.mkString(", ")}")
    val have = df.columns.toSet
    df.select(template.map { case (n, t) =>
      (if (have(n)) col(n).try_cast(t) else lit(null).cast(t)).as(n)
    }: _*)
  }

  /** Header-CSV read with RFC-4180 doubled-quote escaping. Spark's
    * DEFAULT escape is backslash, which shreds `"The ""Bell"", Main St"`
    * into extra columns — and because the HEADER row parses fine, the
    * shift sails past conform's drift check and lands silently. The
    * reference's pandas/duckdb readers are doublequote-correct by
    * default; every catalog CSV read goes through here (the cadent
    * GeoJSON column documented the hazard first). */
  private def readCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("header", "true").option("escape", "\"")
      .csv(paths: _*)

  private def ddl(pairs: (String, String)*): Seq[(String, DataType)] =
    pairs.map { case (n, t) =>
      n -> (t match {
        case "VARCHAR" => StringType
        case "BIGINT" => LongType
        case "DOUBLE" => DoubleType
        case "TIMESTAMP" => TimestampType
        case "BOOLEAN" => BooleanType
        case other => throw new IllegalArgumentException(other)
      })
    }

  /** Template for `table`, honoring the `"*"` wildcard used by pipelines
    * whose table NAMES are data-driven (BDUK: one table per discovered
    * region zip; DfT: one per file code) but whose column contract is one
    * shared shape. */
  private def templateFor(pipeline: SourcePipeline,
                          table: String): Seq[(String, DataType)] =
    pipeline.templates.getOrElse(table,
      pipeline.templates.getOrElse("*",
        sys.error(s"no template for table $table in ${pipeline.name}")))

  /** Run `pipeline` from a staged input into `warehouseRoot`: every
    * output table becomes the SnapshotTable `warehouseRoot/<schema>/
    * <table>` (transactional commit, time travel, the repo's warehouse
    * table format), with per-stage row counts recorded through the
    * observed single-action path. Returns the landed table roots. */
  def run(spark: SparkSession, pipeline: SourcePipeline, input: String,
          warehouseRoot: String): Map[String, String] =
    // every table load materializes through SnapshotTable.write before
    // withScratchDir deletes the staged payload
    Fetch.withScratchDir(s"graft-${pipeline.name}") { scratch =>
      pipeline.parse(spark, input, scratch).map { case TableLoad(table, raw) =>
        val template = templateFor(pipeline, table)
        val root = s"$warehouseRoot/${pipeline.schemaName}/$table"
        val records = Pipeline.runObserved(
          pipeline.name, raw,
          Seq(Pipeline.Stage("conform",
            df => conform(df, template, pipeline.allowMissing))),
          out => { SnapshotTable.write(out, root); () })
        MetadataLog.append(spark, records,
          s"$warehouseRoot/${pipeline.schemaName}/processing_logs")
        table -> root
      }.toMap
    }

  /** Convenience: run by name from [[all]]. */
  def run(spark: SparkSession, name: String, input: String,
          warehouseRoot: String): Map[String, String] =
    run(spark, all(name), input, warehouseRoot)

  // ------------------------------------------------------ street manager

  /** Street Manager archived permit data (street_manager.py): a zip of
    * per-permit NESTED json (`object_data.*`), flattened and
    * prefix-stripped exactly like the reference's `flatten_json` +
    * `rename_columns`, landed in the raw monthly table. Missing keys
    * null-fill (the reference inserts only the columns present). */
  val streetManager: SourcePipeline = SourcePipeline(
    name = "street_manager",
    schemaName = "raw_data_2025",
    templates = Map("01_2025" -> ddl(
      "version" -> "BIGINT", "event_reference" -> "BIGINT",
      "event_type" -> "VARCHAR", "event_time" -> "VARCHAR",
      "object_type" -> "VARCHAR", "object_reference" -> "VARCHAR",
      "work_reference_number" -> "VARCHAR", "work_category" -> "VARCHAR",
      "work_category_ref" -> "VARCHAR", "work_status" -> "VARCHAR",
      "work_status_ref" -> "VARCHAR", "activity_type" -> "VARCHAR",
      "permit_reference_number" -> "VARCHAR", "permit_status" -> "VARCHAR",
      "permit_conditions" -> "VARCHAR", "collaborative_working" -> "VARCHAR",
      "promoter_swa_code" -> "VARCHAR", "promoter_organisation" -> "VARCHAR",
      "highway_authority" -> "VARCHAR",
      "highway_authority_swa_code" -> "VARCHAR",
      "works_location_coordinates" -> "VARCHAR",
      "works_location_type" -> "VARCHAR", "town" -> "VARCHAR",
      "street_name" -> "VARCHAR", "usrn" -> "VARCHAR",
      "road_category" -> "VARCHAR", "area_name" -> "VARCHAR",
      "traffic_management_type" -> "VARCHAR",
      "traffic_management_type_ref" -> "VARCHAR",
      "proposed_start_date" -> "VARCHAR", "proposed_end_date" -> "VARCHAR",
      "actual_start_date_time" -> "VARCHAR",
      "actual_end_date_time" -> "VARCHAR", "is_ttro_required" -> "VARCHAR",
      "is_traffic_sensitive" -> "VARCHAR", "is_deemed" -> "VARCHAR")),
    allowMissing = true,
    parse = (spark, input, scratch) =>
      Seq(TableLoad("01_2025",
        parseStreetManagerArchive(spark, input, scratch))))

  /** The Street Manager feed parse shape — zip of nested event json,
    * flattened with the `object_data.` prefix stripped — shared by the
    * raw monthly load above and the Section 58 staging load
    * ([[Section58.stage]]), which consume the same archive format.
    *
    * Each permit file is read as ONE whole-text row and parsed as a JSON
    * document (a top-level array yields one row per element), the rows a
    * multiLine JSON read gives. The schema is still inferred over every
    * file, so a drifted key still reaches `conform`'s check, but through
    * an ordinary text scan: the multiLine reader opens each file as a
    * `PortableDataStream`, whose per-file Hadoop configuration copy cost
    * ~20 ms a permit. The text is decoded as UTF-8 and a leading byte
    * order mark is dropped, as Jackson drops it from a multiLine read;
    * UTF-16/32 files, which Jackson would detect from their bytes, are not
    * read (the feed is UTF-8). A row is one JVM string, so a single permit
    * file is limited to 2 GB. */
  private[pipelines] def parseStreetManagerArchive(spark: SparkSession,
      input: String, scratch: String): DataFrame = {
    import spark.implicits._
    val dir =
      if (input.toLowerCase.endsWith(".zip")) { Fetch.unzip(input, scratch); scratch }
      else input
    val nested = spark.read.json(spark.read.option("wholetext", "true").text(dir)
      .select(ltrim(col("value"), "\uFEFF").as("value")).as[String])
    ColumnNormalizer.stripPrefix(
      JsonFlatten.flatten(nested, sep = "."), "object_data.")
  }

  // ------------------------------------------------- nhs prescriptions

  /** NHS EPD column contract, March 2025 onwards (reference:
    * nhs_english_prescriptions.py `db_template_current`). */
  private[pipelines] val nhsTemplateCurrent: Seq[(String, DataType)] = ddl(
    "YEAR_MONTH" -> "VARCHAR", "REGIONAL_OFFICE_NAME" -> "VARCHAR",
    "REGIONAL_OFFICE_CODE" -> "VARCHAR", "ICB_NAME" -> "VARCHAR",
    "ICB_CODE" -> "VARCHAR", "PCO_NAME" -> "VARCHAR",
    "PCO_CODE" -> "VARCHAR", "PRACTICE_NAME" -> "VARCHAR",
    "PRACTICE_CODE" -> "VARCHAR", "ADDRESS_1" -> "VARCHAR",
    "ADDRESS_2" -> "VARCHAR", "ADDRESS_3" -> "VARCHAR",
    "ADDRESS_4" -> "VARCHAR", "POSTCODE" -> "VARCHAR",
    "BNF_CHEMICAL_SUBSTANCE_CODE" -> "VARCHAR",
    "BNF_CHEMICAL_SUBSTANCE" -> "VARCHAR",
    "BNF_PRESENTATION_CODE" -> "VARCHAR",
    "BNF_PRESENTATION_NAME" -> "VARCHAR",
    "BNF_CHAPTER_PLUS_CODE" -> "VARCHAR", "QUANTITY" -> "DOUBLE",
    "ITEMS" -> "BIGINT", "TOTAL_QUANTITY" -> "DOUBLE",
    "ADQ_USAGE" -> "DOUBLE", "NIC" -> "DOUBLE",
    "ACTUAL_COST" -> "DOUBLE", "UNIDENTIFIED" -> "VARCHAR",
    "SNOMED_CODE" -> "BIGINT")

  /** NHS EPD column contract, Feb 2025 and earlier (reference:
    * `db_template_legacy` — BNF_CODE/BNF_DESCRIPTION naming, ADQUSAGE
    * without the underscore, no presentation-code columns). */
  private[pipelines] val nhsTemplateLegacy: Seq[(String, DataType)] = ddl(
    "YEAR_MONTH" -> "VARCHAR", "REGIONAL_OFFICE_NAME" -> "VARCHAR",
    "REGIONAL_OFFICE_CODE" -> "VARCHAR", "ICB_NAME" -> "VARCHAR",
    "ICB_CODE" -> "VARCHAR", "PCO_NAME" -> "VARCHAR",
    "PCO_CODE" -> "VARCHAR", "PRACTICE_NAME" -> "VARCHAR",
    "PRACTICE_CODE" -> "VARCHAR", "ADDRESS_1" -> "VARCHAR",
    "ADDRESS_2" -> "VARCHAR", "ADDRESS_3" -> "VARCHAR",
    "ADDRESS_4" -> "VARCHAR", "POSTCODE" -> "VARCHAR",
    "BNF_CHEMICAL_SUBSTANCE" -> "VARCHAR",
    "CHEMICAL_SUBSTANCE_BNF_DESCR" -> "VARCHAR",
    "BNF_CODE" -> "VARCHAR", "BNF_DESCRIPTION" -> "VARCHAR",
    "BNF_CHAPTER_PLUS_CODE" -> "VARCHAR", "QUANTITY" -> "DOUBLE",
    "ITEMS" -> "BIGINT", "TOTAL_QUANTITY" -> "DOUBLE",
    "ADQUSAGE" -> "DOUBLE", "NIC" -> "DOUBLE",
    "ACTUAL_COST" -> "DOUBLE", "UNIDENTIFIED" -> "VARCHAR",
    "SNOMED_CODE" -> "BIGINT")

  /** The EPD schema changed between Feb and March 2025 (reference:
    * SCHEMA_CHANGE_CUTOFF = "202502", get_template_for_date). */
  private[pipelines] val NhsSchemaChangeCutoff = "202502"

  /** Template for one EPD vintage, by YYYYMM. */
  private[pipelines] def nhsTemplateFor(yyyymm: String): Seq[(String, DataType)] =
    if (yyyymm <= NhsSchemaChangeCutoff) nhsTemplateLegacy else nhsTemplateCurrent

  /** `EPD_SNOMED_202505` → `nhs_prescriptions_05_2025` (reference:
    * nhs_english_prescriptions.py `table_names`). */
  private[pipelines] def nhsTableName(yyyymm: String): String =
    s"nhs_prescriptions_${yyyymm.substring(4, 6)}_${yyyymm.substring(0, 4)}"

  /** NHS English Prescribing monthly CSV (nhs_prescriptions.py),
    * post-March-2025 column set (`db_template_current`). Header drift
    * aborts the load — the reference's validate_column_names policy.
    * This entry is the single-month "the CSV is already staged" shape;
    * the API-discovery multi-month front door is [[landNhsFromApi]]. */
  val nhsPrescriptions: SourcePipeline = SourcePipeline(
    name = "nhs_prescriptions",
    schemaName = "nhs_prescribing_raw_data",
    templates = Map("nhs_prescriptions_05_2025" -> nhsTemplateCurrent),
    allowMissing = false,
    parse = (spark, input, _) => Seq(TableLoad("nhs_prescriptions_05_2025",
      readCsv(spark, input))))

  /** Which EPD months to land (reference: nhs_english_prescriptions.py
    * `time_range` + `max_months` + `start_month`/`end_month`). */
  sealed trait NhsSelection
  /** Most recent month only (TimeRange.LATEST / create_default). */
  case object NhsLatest extends NhsSelection
  /** Most recent `n` months (create_last_n_months — the reference's
    * standing `nhs_prescriptions.py` pipeline runs n=6). */
  final case class NhsLastN(n: Int) extends NhsSelection {
    require(n > 0, s"n_months must be positive, got $n")
  }
  /** Inclusive YYYYMM window (create_date_range /
    * nhs_prescriptions_custom_range.py:20-23). */
  final case class NhsRange(startMonth: String, endMonth: String)
      extends NhsSelection {
    require(startMonth.length == 6 && startMonth.forall(_.isDigit) &&
      endMonth.length == 6 && endMonth.forall(_.isDigit),
      s"months must be YYYYMM, got $startMonth..$endMonth")
    require(startMonth <= endMonth,
      s"start month $startMonth is after end month $endMonth")
  }

  /** Resolve the month list from a CKAN resource listing: keep CSV
    * resources named `EPD_SNOMED_YYYYMM` that carry a download URL,
    * newest first, then apply `selection` (reference:
    * nhs_english_prescriptions.py:80-135 `_fetch_api_resources` filter +
    * sort, `download_links` selection). Pure — unit-testable without a
    * network. Returns (yyyymm, url) newest-first; empty selection is an
    * error, mirroring the reference's "No valid download URLs found". */
  private[pipelines] def nhsSelectMonths(
      resources: Seq[Fetch.JsonResource],
      selection: NhsSelection): Seq[(String, String)] = {
    val byName = resources.iterator
      .filter(r => r.format == "CSV" && r.name.startsWith("EPD_SNOMED_") &&
        r.name.length >= 17)
      .flatMap { r =>
        val d = r.name.substring(11, 17)
        if (d.forall(_.isDigit)) r.url.map(u => (r.name, d, u)) else None
      }
      .toSeq.sortBy(_._1)(Ordering[String].reverse)
    // one resource per MONTH, newest name first (a revised upload like
    // EPD_SNOMED_202505_V2 sorts above the original and wins): without
    // the dedup a duplicated month burns a last-N slot and lands the
    // same table twice
    val epd = byName.foldLeft(Vector.empty[(String, String)]) {
      case (acc, (_, d, u)) =>
        if (acc.exists(_._1 == d)) acc else acc :+ (d -> u)
    }
    val picked = selection match {
      case NhsLatest => epd.take(1)
      case NhsLastN(n) => epd.take(n)
      case NhsRange(s, e) => epd.filter { case (d, _) => s <= d && d <= e }
    }
    require(picked.nonEmpty,
      s"no EPD_SNOMED CSV resources match $selection (listing had ${resources.size} resources)")
    picked
  }

  /** Multi-month NHS pipeline over a staging DIRECTORY holding one
    * `EPD_SNOMED_<YYYYMM>.csv` per requested month — each month lands as
    * its own `nhs_prescriptions_MM_YYYY` table, validated against the
    * vintage-correct template (legacy ≤ 202502). Abort scope: months
    * load SEQUENTIALLY, so a drifted header aborts from that month ON —
    * months already committed stay landed (SnapshotTable commits are
    * per-table), later months do not run, and the caller gets the
    * exception rather than a partial root map. Re-running after the
    * drift is fixed re-lands every month idempotently. */
  private[pipelines] def nhsPrescriptionsFor(months: Seq[String]): SourcePipeline =
    SourcePipeline(
      name = "nhs_prescriptions",
      schemaName = "nhs_prescribing_raw_data",
      templates = months.map(m => nhsTableName(m) -> nhsTemplateFor(m)).toMap,
      allowMissing = false,
      parse = (spark, input, _) => months.map { m =>
        TableLoad(nhsTableName(m),
          readCsv(spark, s"$input/EPD_SNOMED_$m.csv"))
      })

  /** The reference's PRIMARY NHS mode, end to end: discover the monthly
    * `EPD_SNOMED_YYYYMM` CSV resources from the NHSBSA CKAN
    * `package_show` JSON API, select months per `selection`, stream each
    * CSV to staging, and land one `nhs_prescriptions_MM_YYYY` warehouse
    * table per month (reference: nhs_prescriptions.py — last-6-months
    * standing pipeline; nhs_prescriptions_custom_range.py — date range).
    * Returns table → landed root, like [[run]]. The data fetches stream
    * to disk one month at a time; only the JSON listing is read into
    * driver memory (bounded). */
  def landNhsFromApi(spark: SparkSession, apiUrl: String,
                     selection: NhsSelection, warehouseRoot: String,
                     allowHosts: Set[String] = Set.empty): Map[String, String] = {
    val months = nhsSelectMonths(
      Fetch.discoverJsonResources(apiUrl, allowHosts), selection)
    Fetch.withScratchDir("graft-nhs-staging") { staging =>
      months.foreach { case (m, url) =>
        // canonical per-month name (the URL basename is an opaque asset
        // id on some CDNs; parse() addresses months by EPD_SNOMED_<m>);
        // the caller's allow-list applies to the DATA redirects too —
        // CKAN resources routinely 302 to an object-store host
        Fetch.fetchToStaging(url, staging,
          destName = Some(s"EPD_SNOMED_$m.csv"),
          allowRedirectHosts = allowHosts)
      }
      run(spark, nhsPrescriptionsFor(months.map(_._1)), staging, warehouseRoot)
    }
  }

  // ------------------------------------------------------- code point

  /** Code-Point Open postcode units (code_point.py): the GeoPackage is
    * read natively ([[GeoPackageSource]] — no GDAL), geometry rendered
    * to WKT exactly like the reference's shapely `wkt.dumps`, landed
    * with the postcode admin-code columns. */
  val codePoint: SourcePipeline = SourcePipeline(
    name = "code_point",
    schemaName = "post_code_data",
    templates = Map("code_point_latest" -> ddl(
      "postcode" -> "VARCHAR", "positional_quality_indicator" -> "VARCHAR",
      "country_code" -> "VARCHAR", "nhs_regional_ha_code" -> "VARCHAR",
      "nhs_ha_code" -> "VARCHAR", "admin_county_code" -> "VARCHAR",
      "admin_district_code" -> "VARCHAR", "admin_ward_code" -> "VARCHAR",
      "geometry" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      // shared two-pass gpkg locator (a Code-Point archive can carry a
      // second metadata gpkg — prefer the data one, like the other
      // gpkg pipelines)
      val gpkg = findGpkg(input, scratch, preferred = "code_point")
      val feats = GeoPackageSource.readFeatures(spark, gpkg, "code_point")
      // readFeatures surfaces the parsed geometry as <geom>_xy
      // (array<struct<x,y>>); render WKT where the reference renders
      // shapely wkt.dumps
      val df = feats
        .withColumn("geometry", graft.functions.Geo.stAsText(col("geom_xy"), 1))
        .drop("geom", "geom_xy", "fid")
      Seq(TableLoad("code_point_latest", df))
    })

  // -------------------------------------------------- bods timetables

  /** BODS GTFS timetable zip (bods_timetables.py): every recognized
    * member (`agency.txt`, `routes.txt`, …) becomes its own table with
    * its own header contract — one pipeline, N tables, exactly the
    * reference's filename→table mapping. */
  val bodsTimetables: SourcePipeline = SourcePipeline(
    name = "bods_timetables",
    schemaName = "bods_timetables",
    templates = Map(
      "agency" -> ddl("agency_id" -> "VARCHAR", "agency_name" -> "VARCHAR",
        "agency_url" -> "VARCHAR", "agency_timezone" -> "VARCHAR",
        "agency_lang" -> "VARCHAR", "agency_phone" -> "VARCHAR",
        "agency_noc" -> "VARCHAR"),
      "calendar" -> ddl("service_id" -> "VARCHAR", "monday" -> "VARCHAR",
        "tuesday" -> "VARCHAR", "wednesday" -> "VARCHAR",
        "thursday" -> "VARCHAR", "friday" -> "VARCHAR",
        "saturday" -> "VARCHAR", "sunday" -> "VARCHAR",
        "start_date" -> "VARCHAR", "end_date" -> "VARCHAR"),
      "calendar_dates" -> ddl("service_id" -> "VARCHAR", "date" -> "VARCHAR",
        "exception_type" -> "VARCHAR"),
      "feed_info" -> ddl("feed_publisher_name" -> "VARCHAR",
        "feed_publisher_url" -> "VARCHAR", "feed_lang" -> "VARCHAR",
        "feed_start_date" -> "VARCHAR", "feed_end_date" -> "VARCHAR",
        "feed_version" -> "VARCHAR"),
      "routes" -> ddl("route_id" -> "VARCHAR", "agency_id" -> "VARCHAR",
        "route_short_name" -> "VARCHAR", "route_long_name" -> "VARCHAR",
        "route_type" -> "VARCHAR"),
      "shapes" -> ddl("shape_id" -> "VARCHAR", "shape_pt_lat" -> "VARCHAR",
        "shape_pt_lon" -> "VARCHAR", "shape_pt_sequence" -> "VARCHAR",
        "shape_dist_traveled" -> "VARCHAR"),
      "stops" -> ddl("stop_id" -> "VARCHAR", "stop_code" -> "VARCHAR",
        "stop_name" -> "VARCHAR", "stop_lat" -> "VARCHAR",
        "stop_lon" -> "VARCHAR", "wheelchair_boarding" -> "VARCHAR",
        "location_type" -> "VARCHAR", "parent_station" -> "VARCHAR",
        "platform_code" -> "VARCHAR"),
      "stop_times" -> ddl("trip_id" -> "VARCHAR", "arrival_time" -> "VARCHAR",
        "departure_time" -> "VARCHAR", "stop_id" -> "VARCHAR",
        "stop_sequence" -> "VARCHAR", "stop_headsign" -> "VARCHAR",
        "pickup_type" -> "VARCHAR", "drop_off_type" -> "VARCHAR",
        "shape_dist_traveled" -> "VARCHAR", "timepoint" -> "VARCHAR"),
      "trips" -> ddl("route_id" -> "VARCHAR", "service_id" -> "VARCHAR",
        "trip_id" -> "VARCHAR", "trip_headsign" -> "VARCHAR",
        "direction_id" -> "VARCHAR", "block_id" -> "VARCHAR",
        "shape_id" -> "VARCHAR", "wheelchair_accessible" -> "VARCHAR",
        "vehicle_journey_code" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val members = Fetch.unzip(input, scratch)
      val loads = members.flatMap { m =>
        val base = new java.io.File(m).getName.toLowerCase
          .stripSuffix(".txt")
        if (!m.toLowerCase.endsWith(".txt") ||
            !bodsTimetables.templates.contains(base)) None
        else Some(TableLoad(base,
          readCsv(spark, m)))
      }
      // a multi-operator bundle can nest the SAME GTFS filename in two
      // directories: keyed by basename, the second load would silently
      // supersede the first in the warehouse (and run()'s .toMap drops
      // one) — refuse instead of losing an operator's rows
      val dup = loads.groupBy(_.table).collect {
        case (t, ls) if ls.size > 1 => t }
      require(dup.isEmpty,
        s"bods_timetables: duplicate GTFS member basenames in $input: " +
          s"${dup.toSeq.sorted.mkString(", ")} — flatten the bundle or " +
          "land each operator's zip separately")
      loads
    })

  // ------------------------------------------------------------ naptan

  /** NaPTAN national stop registry CSV (naptan.py): one table
    * (`LATEST_STOPS`), full 43-column header contract, typed casts for
    * the coordinate/timestamp/revision columns — the reference's
    * clean_naptan_data typing. */
  val naptan: SourcePipeline = SourcePipeline(
    name = "naptan",
    schemaName = "naptan_data",
    templates = Map("LATEST_STOPS" -> ddl(
      "ATCOCode" -> "VARCHAR", "NaptanCode" -> "VARCHAR",
      "PlateCode" -> "VARCHAR", "CleardownCode" -> "VARCHAR",
      "CommonName" -> "VARCHAR", "CommonNameLang" -> "VARCHAR",
      "ShortCommonName" -> "VARCHAR", "ShortCommonNameLang" -> "VARCHAR",
      "Landmark" -> "VARCHAR", "LandmarkLang" -> "VARCHAR",
      "Street" -> "VARCHAR", "StreetLang" -> "VARCHAR",
      "Crossing" -> "VARCHAR", "CrossingLang" -> "VARCHAR",
      "Indicator" -> "VARCHAR", "IndicatorLang" -> "VARCHAR",
      "Bearing" -> "VARCHAR", "NptgLocalityCode" -> "VARCHAR",
      "LocalityName" -> "VARCHAR", "ParentLocalityName" -> "VARCHAR",
      "GrandParentLocalityName" -> "VARCHAR", "Town" -> "VARCHAR",
      "TownLang" -> "VARCHAR", "Suburb" -> "VARCHAR",
      "SuburbLang" -> "VARCHAR", "LocalityCentre" -> "VARCHAR",
      "GridType" -> "VARCHAR", "Easting" -> "BIGINT",
      "Northing" -> "BIGINT", "Longitude" -> "DOUBLE",
      "Latitude" -> "DOUBLE", "StopType" -> "VARCHAR",
      "BusStopType" -> "VARCHAR", "TimingStatus" -> "VARCHAR",
      "DefaultWaitTime" -> "VARCHAR", "Notes" -> "VARCHAR",
      "NotesLang" -> "VARCHAR", "AdministrativeAreaCode" -> "VARCHAR",
      "CreationDateTime" -> "TIMESTAMP",
      "ModificationDateTime" -> "TIMESTAMP", "RevisionNumber" -> "BIGINT",
      "Modification" -> "VARCHAR", "Status" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, _) => Seq(TableLoad("LATEST_STOPS",
      readCsv(spark, input))))

  // -------------------------------------------------- cadent underground

  /** Cadent gas underground pipes (cadent_underground.py): the API CSV
    * as-is (column names keep their spaces — the reference loads the
    * header verbatim, `expected_columns=None`), plus the two WKT columns
    * the reference derives in-flight: `Geo Point` ("lat, lon") becomes
    * POINT(lon lat) (cadent_underground.py:243-252) and `Geo Shape`
    * (a GeoJSON geometry) becomes its WKT (`:260-275` shapely shape →
    * wkt). Unparseable values null-fill, never throw — the reference
    * returns None per bad row. */
  val cadentUnderground: SourcePipeline = SourcePipeline(
    name = "cadent_underground",
    schemaName = "cadent_underground_pipes",
    templates = Map("cadent_underground_pipes" -> ddl(
      "Geo Point" -> "VARCHAR", "Geo Shape" -> "VARCHAR",
      "TYPE" -> "VARCHAR", "PRESSURE" -> "VARCHAR",
      "MATERIAL" -> "VARCHAR", "DIAMETER" -> "VARCHAR",
      "DIAM_UNIT" -> "VARCHAR", "CARR_MAT" -> "VARCHAR",
      "CARR_DIA" -> "VARCHAR", "CARR_DI_UN" -> "VARCHAR",
      "ASSET_ID" -> "VARCHAR", "DEPTH" -> "VARCHAR",
      "AG_IND" -> "VARCHAR", "INST_DATE" -> "VARCHAR",
      "geo_point_wkt" -> "VARCHAR", "geo_shape_wkt" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, _) => {
      import graft.functions.Geo
      // escape=": the Geo Shape column is RFC-4180-quoted GeoJSON (embedded
      // doubled quotes) — Spark's default backslash escape would shred it
      val raw = readCsv(spark, input)
      val parts = split(col("`Geo Point`"), ",")
      // try_cast: a malformed coordinate nulls the WKT (the reference
      // returns None per bad row) instead of throwing under ANSI mode
      val lat = trim(element_at(parts, 1)).try_cast(DoubleType)
      val lon = when(size(parts) >= 2, trim(element_at(parts, 2)))
        .try_cast(DoubleType)
      val df = raw
        .withColumn("geo_point_wkt",
          when(size(parts) === 2 && lat.isNotNull && lon.isNotNull,
            Geo.stAsText(array(struct(lon.as("x"), lat.as("y"))), 1)))
        // full GeoJSON coverage like the reference's shapely shape().wkt:
        // all six concrete types, polygon holes intact
        .withColumn("geo_shape_wkt", Geo.geoJsonToWkt(col("`Geo Shape`")))
      Seq(TableLoad("cadent_underground_pipes", df))
    })

  // ----------------------------------------------------- dft road stats

  /** The reference's column cleaning for DfT ODS sheets
    * (dft_road_stats.py:76-100 clean_dataframe_columns): lowercase,
    * space/hyphen/slash → underscore, parens and quotes dropped,
    * trailing underscores stripped. */
  private[pipelines] def dftCleanName(c: String): String =
    c.toLowerCase
      .replace(" ", "_").replace("-", "_").replace("/", "_")
      .replace("(", "").replace(")", "").replace("'", "")
      .reverse.dropWhile(_ == '_').reverse

  /** Per-file-code sheet names and 0-based header rows — the pipeline's
    * hand-maintained map (dft_road_stats.py pipeline:54-66: RDL0101a at
    * header 6, RDL0202a at header 7, …). */
  private val dftSheets: Map[String, (String, Int)] = Map(
    "rdl0101" -> (("RDL0101a", 6)), "rdl0102" -> (("RDL0102a", 7)),
    "rdl0201" -> (("RDL0201a", 6)), "rdl0202" -> (("RDL0202a", 7)))

  /** DfT road lengths statistics (dft_road_stats.py): each staged .ods
    * file (file code = basename) is one landed table — sheet and header
    * row come from the file-code map, headers promote then snake-case
    * exactly like the reference's pandas read, every value lands as
    * STRING (`df.astype(str)`). Input: one .ods file or a directory of
    * them. */
  val dftRoadStats: SourcePipeline = SourcePipeline(
    name = "dft_road_stats",
    schemaName = "dft_road_stats",
    templates = Map("*" -> ddl(
      "ons_area_code" -> "VARCHAR", "region" -> "VARCHAR",
      "centrally_managed_motorways" -> "VARCHAR",
      "locally_managed_motorways" -> "VARCHAR",
      "all_motorways" -> "VARCHAR",
      "centrally_managed_rural_a_roads" -> "VARCHAR",
      "centrally_managed_urban_a_roads" -> "VARCHAR",
      "locally_managed_rural_a_roads" -> "VARCHAR",
      "locally_managed_urban_a_roads" -> "VARCHAR",
      "all_a_roads" -> "VARCHAR",
      "major_centrally_managed_roads" -> "VARCHAR",
      "major_locally_managed_roads" -> "VARCHAR",
      "all_major_roads" -> "VARCHAR", "rural_b_roads" -> "VARCHAR",
      "urban_b_roads" -> "VARCHAR", "rural_c_and_u_roads" -> "VARCHAR",
      "urban_c_and_u_roads" -> "VARCHAR", "all_minor_roads" -> "VARCHAR",
      "total_road_length" -> "VARCHAR", "notes" -> "VARCHAR")),
    allowMissing = true,
    parse = (spark, input, scratch) => {
      val f = new java.io.File(input)
      val odsFiles =
        if (f.isDirectory)
          f.listFiles().toSeq.map(_.getPath).filter(_.endsWith(".ods")).sorted
        else Seq(input)
      // only KNOWN file codes load — the reference's hand-maintained
      // filtered_links map never processes anything else, and guessing a
      // sheet/header for an unknown code would land a silently-garbage
      // table of null-filled rows under the '*' template
      val loads = odsFiles
        .map(p => p -> new java.io.File(p).getName
          .toLowerCase.stripSuffix(".ods"))
        .collect { case (path, code) if dftSheets.contains(code) =>
          val (sheet, headerRow) = dftSheets(code)
          val df = SpreadsheetSource.readOds(spark, path,
            java.nio.file.Files.createTempDirectory(
              java.nio.file.Paths.get(scratch), code).toString,
            headerRow = headerRow, sheet = Option(sheet))
          TableLoad(code, df.toDF(df.columns.map(dftCleanName): _*))
        }
      // zero matches is a MISNAMED input (e.g. 'RDL0101a.ods' with a
      // sheet suffix), not an empty dataset: loading nothing while
      // reporting success would let a scheduled run go green forever
      require(loads.nonEmpty,
        s"dft_road_stats: no staged .ods matches a known file code " +
          s"(${dftSheets.keys.toSeq.sorted.mkString(", ")}) in $input")
      loads
    })

  // ------------------------------------------------------ geoplace swa

  /** The reference's authority-name scrub for future joins
    * (geoplace_swa.py:16-36): strip org-form words as SUBSTRINGS in this
    * exact order (each with a trim), then lowercase. Mirrors python
    * `str.replace` semantics — substrings anywhere, including inside
    * words, exactly as the reference behaves. */
  private[pipelines] def geoplaceCleanName(c: Column): Column = {
    val stripped = Seq("LONDON BOROUGH OF", "COUNTY COUNCIL",
      "BOROUGH COUNCIL", "CITY COUNCIL", "COUNCIL", "ROYAL BOROUGH OF",
      "COUNCIL OF THE", "CITY OF", "COUNTY", "BOROUGH", "CITY",
      "METROPOLITAN", "DISTRICT", "CORPORATION", "OF")
      .foldLeft(c)((acc, w) => trim(replace(acc, lit(w), lit(""))))
    lower(stripped)
  }

  /** The post-clean literal fixups (geoplace_swa.py:71-88). */
  private val geoplaceFixups: Seq[(String, String)] = Seq(
    "peter" -> "peterborough",
    "bournemouth, christchurch and poole" -> "bournemouth christchurch and poole",
    "brighton & hove" -> "brighton and hove",
    "telford & wrekin" -> "telford and wrekin",
    "hammersmith & fulham" -> "hammersmith and fulham",
    "cheshire east" -> "east cheshire",
    "cheshire west and chester" -> "west cheshire",
    "east riding  yorkshire" -> "eastridingyorkshire")

  /** GeoPlace SWA street-works authority codes (geoplace_swa.py): a
    * LEGACY ENCRYPTED .xls (Excel's default "VelvetSweatshop" sheet
    * password) — decrypted and parsed natively ([[BiffReader.readXls]]),
    * header promoted from row 1 (`pd.read_excel(header=1)`), columns
    * snake-cased, `account_name` scrubbed for downstream authority joins,
    * and the load-audit `date_time_processed` column appended. */
  val geoplaceSwa: SourcePipeline = SourcePipeline(
    name = "geoplace_swa",
    schemaName = "geoplace_swa_codes",
    templates = Map("LATEST_ACTIVE" -> ddl(
      "swa_code" -> "VARCHAR", "account_name" -> "VARCHAR",
      "prefix" -> "VARCHAR", "account_type" -> "VARCHAR",
      "registered_for_street_manager" -> "VARCHAR",
      "account_status" -> "VARCHAR",
      "companies_house_number" -> "VARCHAR",
      "previous_company_names" -> "VARCHAR",
      "linked_parent_company" -> "VARCHAR", "website" -> "VARCHAR",
      "plant_enquiries" -> "VARCHAR",
      "ofgem_electricity_licence" -> "VARCHAR",
      "ofgem_gas_licence" -> "VARCHAR", "ofcom_licence" -> "VARCHAR",
      "ofwat_licence" -> "VARCHAR", "company_subsumed_by" -> "VARCHAR",
      "swa_code_of_new_company" -> "VARCHAR",
      "date_time_processed" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, _) => {
      val raw = BiffReader.readXls(spark, input, headerRow = 1,
        password = Some("VelvetSweatshop"))
      val snake = raw.toDF(raw.columns.map(
        _.toLowerCase.replace(" ", "_").replace("/", "_")): _*)
      // the cleaned name lands once, then the fixups apply as one CASE
      // over that column: a when/otherwise fold holds its accumulator
      // twice per level, so the 15-deep clean chain would appear 2^8
      // times in the tree and its projection would outgrow a codegen
      // method. No `to` is a later `from`, so first match == the fold.
      val name = col("account_name")
      val fixed = geoplaceFixups.tail.foldLeft(
        when(name === geoplaceFixups.head._1, geoplaceFixups.head._2)) {
        case (acc, (from, to)) => acc.when(name === from, to)
      }.otherwise(name)
      Seq(TableLoad("LATEST_ACTIVE", snake
        .withColumn("account_name", geoplaceCleanName(name))
        .withColumn("account_name", fixed)
        .withColumn("date_time_processed",
          date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss"))))
    })

  // ------------------------------------- national statistics postcodes

  /** NSPL — National Statistics Postcode Lookup
    * (national_stat_postcode_lookup.py): the staged archive (fetched
    * through the ArcGIS redirect hub — [[Fetch.resolveRedirects]]) holds
    * the postcode CSV under `Data/` with "NSPL" in the name
    * (`:205-215`); numeric columns type per the template with blank →
    * NULL (the reference's clean_dataframe_for_motherduck). */
  val nationalStatPostcodeLookup: SourcePipeline = SourcePipeline(
    name = "national_stat_postcode_lookup",
    schemaName = "post_code_data",
    templates = Map("national_statistic_postcode_lookup" -> ddl(
      "pcd" -> "VARCHAR", "pcd2" -> "VARCHAR", "pcds" -> "VARCHAR",
      "dointr" -> "BIGINT", "doterm" -> "BIGINT", "usertype" -> "BIGINT",
      // osnrth1m VARCHAR next to oseast1m BIGINT looks like a typo but
      // is the REFERENCE's own template (national_stat_postcode_lookup
      // .py:83) — kept verbatim for parity; retyping would fork the
      // warehouses
      "oseast1m" -> "BIGINT", "osnrth1m" -> "VARCHAR",
      "osgrdind" -> "BIGINT", "oa21" -> "VARCHAR", "cty" -> "VARCHAR",
      "ced" -> "VARCHAR", "laua" -> "VARCHAR", "ward" -> "VARCHAR",
      "nhser" -> "VARCHAR", "ctry" -> "VARCHAR", "rgn" -> "VARCHAR",
      "pcon" -> "VARCHAR", "ttwa" -> "VARCHAR", "itl" -> "VARCHAR",
      "park" -> "VARCHAR", "lsoa21" -> "VARCHAR", "msoa21" -> "VARCHAR",
      "wz11" -> "VARCHAR", "sicbl" -> "VARCHAR", "bua24" -> "VARCHAR",
      "ruc21" -> "VARCHAR", "oac11" -> "VARCHAR", "lat" -> "DOUBLE",
      "long" -> "DOUBLE", "lep1" -> "VARCHAR", "lep2" -> "VARCHAR",
      "pfa" -> "VARCHAR", "imd" -> "BIGINT", "icb" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val members = Fetch.unzip(input, scratch)
      val csvPath = members.find(m => m.toLowerCase.endsWith(".csv") &&
          new java.io.File(m).getName.contains("NSPL"))
        .getOrElse(sys.error("no NSPL .csv member in archive"))
      Seq(TableLoad("national_statistic_postcode_lookup",
        readCsv(spark, csvPath)))
    })

  // ------------------------------------------------------ gpkg sources

  /** OS Open Built Up Areas (built_up_areas.py): zip → the
    * `*built_up_areas*.gpkg` member (any .gpkg as fallback, `:99-115`),
    * read natively, POLYGON geometry rendered to WKT like the
    * reference's shapely `wkt.dumps`. */
  val builtUpAreas: SourcePipeline = SourcePipeline(
    name = "built_up_areas",
    schemaName = "built_up_areas",
    templates = Map("os_open_built_up_areas" -> ddl(
      "gsscode" -> "VARCHAR", "name1_text" -> "VARCHAR",
      "name1_language" -> "VARCHAR", "name2_text" -> "VARCHAR",
      "name2_language" -> "VARCHAR", "areahectares" -> "VARCHAR",
      "geometry_area_m" -> "VARCHAR", "geometry" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val gpkg = findGpkg(input, scratch, preferred = "built_up_areas")
      val feats = GeoPackageSource.readFeatures(spark, gpkg,
        "os_open_built_up_areas")
      Seq(TableLoad("os_open_built_up_areas", feats
        .withColumn("geometry",
          graft.functions.Geo.stAsText(col("geom_xy"), 3))
        .drop("geom", "geom_xy", "fid")))
    })

  /** OS Open USRN street centrelines (open_usrn.py /
    * os_open_usrn.py:80): zip → gpkg, LINESTRING geometry to WKT,
    * (geometry, street_type, usrn) — the dbt models' street-geometry
    * dimension. */
  val osOpenUsrn: SourcePipeline = SourcePipeline(
    name = "os_open_usrn",
    schemaName = "os_open_usrns",
    templates = Map("open_usrns_latest" -> ddl(
      "geometry" -> "VARCHAR", "street_type" -> "VARCHAR",
      "usrn" -> "BIGINT")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val gpkg = findGpkg(input, scratch, preferred = "usrn")
      val feats = GeoPackageSource.readFeatures(spark, gpkg, "openUSRN")
      Seq(TableLoad("open_usrns_latest", feats
        .withColumn("geometry",
          graft.functions.Geo.stAsText(col("geom_xy"), 2))
        .drop("geom", "geom_xy", "fid")))
    })

  /** Locate the .gpkg member of a staged archive (or pass a bare .gpkg
    * through): prefer a member whose name contains `preferred`, fall
    * back to any .gpkg — the reference's two-pass walk
    * (built_up_areas.py:99-115). */
  private def findGpkg(input: String, scratch: String,
                       preferred: String): String =
    if (input.toLowerCase.endsWith(".gpkg")) input
    else {
      val members = Fetch.unzip(input, scratch)
        .filter(_.toLowerCase.endsWith(".gpkg"))
      members.find(_.toLowerCase.contains(preferred))
        .orElse(members.headOption)
        .getOrElse(sys.error(s"no .gpkg member in $input"))
    }

  // ------------------------------------------- linked identifiers csvs

  /** OS Open Linked Identifiers UPRN↔USRN (os_usrn_uprn.py): zip → the
    * single correlation CSV (`:160-175`), typed per the template. */
  val osUsrnUprn: SourcePipeline = SourcePipeline(
    name = "os_usrn_uprn",
    schemaName = "os_open_linked_identifiers",
    templates = Map("os_open_linked_identifiers_uprn_usrn_latest" -> ddl(
      "correlation_id" -> "VARCHAR", "identifier_1" -> "BIGINT",
      "version_number_1" -> "VARCHAR", "version_date_1" -> "BIGINT",
      "identifier_2" -> "BIGINT", "version_number_2" -> "VARCHAR",
      "version_date_2" -> "BIGINT", "confidence" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val csvPath = Fetch.unzip(input, scratch).find(_.toLowerCase.endsWith(".csv"))
        .getOrElse(sys.error("no .csv member in archive"))
      Seq(TableLoad("os_open_linked_identifiers_uprn_usrn_latest",
        readCsv(spark, csvPath)))
    })

  /** ONS UPRN Directory (ons_uprn_directory.py): the archive carries one
    * `ONSUD_*.csv` PER REGION (`:203-214`) with a shared header — all of
    * them union into the one directory table. The multi-file read is one
    * distributed scan (spark.read over the member list), not a
    * driver-side concat. */
  val onsUprnDirectory: SourcePipeline = SourcePipeline(
    name = "ons_uprn_directory",
    schemaName = "post_code_data",
    templates = Map("ons_uprn_directory" -> ddl(
      "uprn" -> "BIGINT", "gridgb1e" -> "BIGINT", "gridgb1n" -> "BIGINT",
      "pcds" -> "VARCHAR", "cty24cd" -> "VARCHAR", "ced23cd" -> "VARCHAR",
      "lad24cd" -> "VARCHAR", "wd24cd" -> "VARCHAR",
      "parncp24cd" -> "VARCHAR", "hlth19cd" -> "VARCHAR",
      "ctry24cd" -> "VARCHAR", "rgn24cd" -> "VARCHAR",
      "pcon24cd" -> "VARCHAR", "eer20cd" -> "VARCHAR",
      "ttwa15cd" -> "VARCHAR", "itl25cd" -> "VARCHAR",
      "npark16cd" -> "VARCHAR", "oa21cd" -> "VARCHAR",
      "lsoa21cd" -> "VARCHAR", "msoa21cd" -> "VARCHAR",
      "wz11cd" -> "VARCHAR", "sicbl24cd" -> "VARCHAR",
      "bua24cd" -> "VARCHAR", "buasd11cd" -> "VARCHAR",
      "ruc21ind" -> "VARCHAR", "oac21ind" -> "VARCHAR",
      "lep21cd1" -> "VARCHAR", "lep21cd2" -> "VARCHAR",
      "pfa23cd" -> "VARCHAR", "imd19ind" -> "BIGINT")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val csvs = Fetch.unzip(input, scratch).filter(m => m.toLowerCase.endsWith(".csv") &&
        new java.io.File(m).getName.startsWith("ONSUD"))
      require(csvs.nonEmpty, "no ONSUD_*.csv members in archive")
      Seq(TableLoad("ons_uprn_directory",
        readCsv(spark, csvs: _*)))
    })

  // ------------------------------------------------ postcode estimates

  /** ONS postcode population estimates P001 (post_code_p001.py):
    * postcode × sex counts CSV, streamed straight to the typed table. */
  val postCodeP001: SourcePipeline = SourcePipeline(
    name = "post_code_p001",
    schemaName = "post_code_data",
    templates = Map("pcd_p001" -> ddl(
      "Postcode" -> "VARCHAR", "Sex_Code" -> "BIGINT",
      "Sex_Label" -> "VARCHAR", "Count" -> "BIGINT")),
    allowMissing = false,
    parse = (spark, input, _) => Seq(TableLoad("pcd_p001",
      readCsv(spark, input))))

  /** ONS postcode household estimates P002 (post_code_p002.py). */
  val postCodeP002: SourcePipeline = SourcePipeline(
    name = "post_code_p002",
    schemaName = "post_code_data",
    templates = Map("pcd_p002" -> ddl(
      "Postcode" -> "VARCHAR", "Count" -> "BIGINT")),
    allowMissing = false,
    parse = (spark, input, _) => Seq(TableLoad("pcd_p002",
      readCsv(spark, input))))

  // ----------------------------------------------------- bduk premises

  /** Python str.title() for table-name derivation: uppercase after any
    * non-letter, lowercase otherwise (bduk_premises_sept_2025.py:137). */
  private[pipelines] def pythonTitle(s: String): String = {
    val out = new StringBuilder(s.length)
    var prevLetter = false
    s.foreach { ch =>
      out += (if (ch.isLetter && !prevLetter) ch.toUpper
              else if (ch.isLetter) ch.toLower else ch)
      prevLetter = ch.isLetter
    }
    out.toString
  }

  /** `202509_BDUK_uprn_release_Region_Name` from the hub month segment +
    * zip URL (bduk_premises_sept_2025.py:107-140). The month segment
    * must START with the month word (`september-2025...`), exactly like
    * the reference's anchored `re.match(r"[a-z]+-\d{4}", p)` — a slug
    * embedding the month mid-segment yields no prefix THERE TOO, so the
    * cross-release collision hazard is shared reference behavior, kept
    * for parity. */
  private[pipelines] def bdukTableName(hubUrl: String, zipUrl: String): String = {
    val months = Map("january" -> "01", "february" -> "02", "march" -> "03",
      "april" -> "04", "may" -> "05", "june" -> "06", "july" -> "07",
      "august" -> "08", "september" -> "09", "october" -> "10",
      "november" -> "11", "december" -> "12")
    val prefix = hubUrl.split('/')
      .find(_.matches("[a-z]+-\\d{4}.*")) match {
        case Some(seg) =>
          val Array(m, y) = seg.split('-').take(2)
          s"$y${months.getOrElse(m.toLowerCase, "00")}_"
        case None => ""
      }
    val base = zipUrl.split('/').last.split('?').head
      .stripSuffix(".zip").replace('_', ' ')
    prefix + "BDUK_uprn_release_" + pythonTitle(base).replace(' ', '_')
  }

  /** BDUK premises gigabit-coverage releases (bduk_premises_sept_2025.py,
    * jul twin): the input IS the publication hub URL — attachment links
    * are discovered from the page ([[Fetch.discoverLinks]], the
    * reference's gem-c-attachment scan `:58-99`), each region zip is
    * fetched + unzipped, and each lands as its own
    * `{yyyymm}_BDUK_uprn_release_*` table with the shared premise
    * template (BOOLEAN flags cast from the CSV's True/False text). */
  val bdukPremises: SourcePipeline = SourcePipeline(
    name = "bduk_premises",
    schemaName = "bduk_premises",
    templates = Map("*" -> ddl(
      "uprn" -> "BIGINT", "struprn" -> "VARCHAR",
      "bduk_recognised_premises" -> "BOOLEAN", "country" -> "VARCHAR",
      "postcode" -> "VARCHAR", "lot_id" -> "BIGINT",
      "lot_name" -> "VARCHAR", "subsidy_control_status" -> "VARCHAR",
      "current_gigabit" -> "BOOLEAN", "future_gigabit" -> "BOOLEAN",
      "local_authority_district_ons_code" -> "VARCHAR",
      "local_authority_district_ons" -> "VARCHAR",
      "region_ons_code" -> "VARCHAR", "region_ons" -> "VARCHAR",
      "bduk_gis" -> "BOOLEAN", "bduk_gis_contract_scope" -> "VARCHAR",
      "bduk_gis_final_coverage_date" -> "VARCHAR",
      "bduk_gis_contract_name" -> "VARCHAR",
      "bduk_gis_supplier" -> "VARCHAR", "bduk_vouchers" -> "BOOLEAN",
      "bduk_vouchers_contract_name" -> "VARCHAR",
      "bduk_vouchers_supplier" -> "VARCHAR",
      "bduk_superfast" -> "BOOLEAN",
      "bduk_superfast_contract_name" -> "VARCHAR",
      "bduk_superfast_supplier" -> "VARCHAR", "bduk_hubs" -> "BOOLEAN",
      "bduk_hubs_contract_name" -> "VARCHAR",
      "bduk_hubs_supplier" -> "VARCHAR")),
    allowMissing = false,
    parse = (spark, input, scratch) => {
      val assetHosts = Set("assets.publishing.service.gov.uk")
      val links = Fetch.discoverLinks(input, "\\.zip".r,
        allowHosts = assetHosts)
      require(links.nonEmpty, s"no .zip attachment links found on $input")
      links.map { zipUrl =>
        val table = bdukTableName(input, zipUrl)
        val dir = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(scratch), "bduk").toString
        // thread the discovery allow-list into the DATA fetch too (the
        // landNhsFromApi pattern): a hub-hosted link that 302s onto the
        // asset host must not abort the load; truly foreign CDN hops
        // still fail loudly under the strict redirect policy
        val members = Fetch.unzip(
          Fetch.fetchToStaging(zipUrl, dir,
            allowRedirectHosts = assetHosts).path, s"$dir/x")
        val csvs = members.filter(_.toLowerCase.endsWith(".csv"))
        require(csvs.nonEmpty, s"no .csv member in $zipUrl")
        TableLoad(table, readCsv(spark, csvs: _*))
      }
    })

  /** Every catalog entry by pipeline name — the dispatch table behind
    * the by-name [[run]]. */
  val all: Map[String, SourcePipeline] = Seq(
    streetManager, nhsPrescriptions, codePoint, bodsTimetables, naptan,
    cadentUnderground, dftRoadStats, geoplaceSwa,
    nationalStatPostcodeLookup, builtUpAreas, osOpenUsrn, osUsrnUprn,
    onsUprnDirectory, postCodeP001, postCodeP002, bdukPremises)
    .map(p => p.name -> p).toMap
}
