package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** WKT geometry functions without UDFs — regexp + higher-order functions
  * only, so everything stays a Catalyst expression tree.
  *
  * The reference leans on DuckDB-spatial for exactly four shapes of work
  * (dbt wellbeing_overview/stg_emergency_works_by_authority.sql:24-38):
  * parse WKT (`ST_GeomFromText`), centroid (`ST_Centroid`), coordinate
  * extraction (`ST_X`/`ST_Y`), and distance/containment against a radius
  * (`ST_Buffer` + `ST_Contains`, which for a circular buffer IS a distance
  * predicate — see operators.RangeJoin for the join form).
  *
  * Geometries are modeled as `array<struct<x:double, y:double>>` — one
  * element for POINT, n for LINESTRING/POLYGON shells. That keeps every op
  * a per-row array expression (no shuffle, no codegen-breaking UDF).
  */
object Geo {

  /** Parse "POINT (x y)" / "LINESTRING (x y, x y, ...)" / single-shell
    * "POLYGON ((x y, ...))" into array<struct<x,y>>. Native codegen
    * scanner ([[graft.plans.WktPoints]]), pinned against a regex + HOF
    * specification in GeoPointsSpec. */
  def stGeomFromText(wkt: Column): Column =
    graft.plans.GeoPoints.wktPoints(wkt)

  /** Mean-of-vertices centroid (matches ST_Centroid for POINT and the
    * reference's use on small line geometries). Native sequential fold
    * ([[graft.plans.PointsCentroid]]) — same left-to-right double
    * addition order as the HOF specification, so bit-identical. */
  def stCentroid(geom: Column): Column =
    graft.plans.GeoPoints.centroid(geom)

  def stX(point: Column): Column = point.getField("x")
  def stY(point: Column): Column = point.getField("y")

  def stPoint(x: Column, y: Column): Column =
    struct(x.cast("double").as("x"), y.cast("double").as("y"))

  /** Euclidean distance between two points. */
  def stDistance(a: Column, b: Column): Column = {
    val dx = stX(a) - stX(b)
    val dy = stY(a) - stY(b)
    sqrt(dx * dx + dy * dy)
  }

  /** Parse a GeoJSON geometry string (RFC 7946 `Point` / `LineString` /
    * `Polygon`) into the same `array<struct<x,y>>` model — the reference's
    * cadent ingestion converts exactly these GeoJSON shapes to WKT before
    * load (`src/data_processors/cadent_underground.py:252` Point(lon,lat),
    * `:263-275` geojson_to_wkt via shapely.shape). No UDF: the type tag
    * routes via `get_json_object`, coordinates parse with `from_json` at
    * the nesting depth of each shape (Polygon takes the outer shell,
    * `$.coordinates[0]`, matching the single-shell WKT model above).
    * Unknown types and malformed JSON -> NULL, never a throw. */
  def stGeomFromGeoJson(j: Column): Column =
    stGeomFromGeoJsonTyped(j, get_json_object(j, "$.type"))

  /** [[stGeomFromGeoJson]] when the caller has already extracted the
    * type tag. ONE JSON parse per row, whatever the shape: the
    * coordinates subtree is pulled once as text (`get_json_object` —
    * a scan, not a parse tree), its nesting is NORMALIZED to Polygon
    * depth by wrapping the text per type (`Point [x,y]` -> `[[[x,y]]]`,
    * `LineString [[..]..]` -> `[[[..]..]]`, `Polygon` as-is), and a
    * single `from_json` at the one shared depth-3 schema parses it —
    * the per-type-schema CaseWhen this replaces evaluated up to three
    * full-document `from_json` passes per row (branch CONDITIONS are
    * not lazy across branches: a Polygon row paid the Point and
    * LineString parses before its own). The outer shell is then the
    * geometry for every type. Malformed JSON, unknown types, and
    * degenerate coordinate arrays -> NULL, never a throw: every
    * element_at is guarded by a size check in the SAME short-circuiting
    * conjunction (under ANSI mode — Spark 4's default — an
    * out-of-bounds element_at THROWS). */
  def stGeomFromGeoJsonTyped(j: Column, typ: Column): Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val co = get_json_object(j, "$.coordinates")
    val nested = when(typ === "Point", concat(lit("[["), co, lit("]]")))
      .when(typ === "LineString", concat(lit("["), co, lit("]")))
      .when(typ === "Polygon", co)
    val pg = from_json(nested,
      ArrayType(ArrayType(ArrayType(DoubleType))))
    val shell = element_at(pg, 1)
    def pts(arr: Column): Column = transform(arr, p =>
      struct(element_at(p, 1).as("x"), element_at(p, 2).as("y")))
    when(pg.isNotNull && size(pg) >= 1 && shell.isNotNull &&
        size(shell) >= 1 &&
        forall(shell, p => p.isNotNull && size(p) >= 2), pts(shell))
      .otherwise(lit(null).cast("array<struct<x:double,y:double>>"))
  }

  /** Render a GeoJSON geometry string directly as WKT, covering the six
    * concrete RFC 7946 types — Point / LineString / Polygon (interior
    * rings INTACT) / MultiPoint / MultiLineString / MultiPolygon — the
    * way the reference's shapely `shape(geojson).wkt` does
    * (cadent_underground.py:263-275). The single-ring
    * `array<struct<x,y>>` model above is the right shape for the
    * geometry OPERATORS (centroid, area, range join); for the cadent
    * load the WKT is a pass-through string, so it renders from the full
    * nested coordinate arrays without losing Multi* shapes or holes.
    * Each CaseWhen branch parses the whole document once with
    * `from_json` at that type's depth (branches are lazy); malformed /
    * degenerate / unknown-type input → NULL, never a throw (every
    * element_at is guarded in the same branch — ANSI-safe). */
  def geoJsonToWkt(j: Column): Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType,
      StructField, StructType}
    def docSchema(coords: org.apache.spark.sql.types.DataType) =
      StructType(Seq(StructField("type", StringType),
        StructField("coordinates", coords)))
    val d1 = ArrayType(DoubleType)
    val c1 = from_json(j, docSchema(d1))("coordinates")
    val c2 = from_json(j, docSchema(ArrayType(d1)))("coordinates")
    val c3 = from_json(j, docSchema(ArrayType(ArrayType(d1))))("coordinates")
    val c4 = from_json(j,
      docSchema(ArrayType(ArrayType(ArrayType(d1)))))("coordinates")
    def pt(p: Column): Column =
      concat(element_at(p, 1).cast("string"), lit(" "),
        element_at(p, 2).cast("string"))
    def ring(r: Column): Column = array_join(transform(r, pt(_)), ", ")
    def rings(poly: Column): Column = array_join(
      transform(poly, r => concat(lit("("), ring(r), lit(")"))), ", ")
    def polys(mp: Column): Column = array_join(
      transform(mp, poly => concat(lit("("), rings(poly), lit(")"))), ", ")
    // validity at each nesting level: non-empty arrays, every point >= 2
    def okPts(r: Column): Column =
      r.isNotNull && size(r) >= 1 && forall(r, p => size(p) >= 2)
    def okRings(poly: Column): Column =
      poly.isNotNull && size(poly) >= 1 && forall(poly, okPts)
    def okPolys(mp: Column): Column =
      mp.isNotNull && size(mp) >= 1 && forall(mp, okRings)
    val typ = get_json_object(j, "$.type")
    when(typ === "Point" && c1.isNotNull && size(c1) >= 2,
        concat(lit("POINT ("), pt(c1), lit(")")))
      .when(typ === "LineString" && okPts(c2),
        concat(lit("LINESTRING ("), ring(c2), lit(")")))
      .when(typ === "MultiPoint" && okPts(c2),
        concat(lit("MULTIPOINT ("),
          array_join(transform(c2, p =>
            concat(lit("("), pt(p), lit(")"))), ", "), lit(")")))
      .when(typ === "Polygon" && okRings(c3),
        concat(lit("POLYGON ("), rings(c3), lit(")")))
      .when(typ === "MultiLineString" && okRings(c3),
        concat(lit("MULTILINESTRING ("), rings(c3), lit(")")))
      .when(typ === "MultiPolygon" && okPolys(c4),
        concat(lit("MULTIPOLYGON ("), polys(c4), lit(")")))
      .otherwise(lit(null).cast("string"))
  }

  /** Parse (GeoPackage-)WKB binary into the same array<struct<x,y>> model
    * — the post-extract geometry path of the reference's .gpkg ingestion
    * (built_up_areas.py:80), parsed natively without GDAL: see
    * [[graft.plans.Wkb]]. Malformed input -> NULL. */
  def stGeomFromWkb(bin: Column): Column = graft.plans.Wkb.wkbGeom(bin)

  /** Write a geometry as little-endian WKB (1 = Point from the first
    * vertex, 2 = LineString, 3 = single-shell Polygon). */
  def stAsWkb(geom: Column, geomType: Int): Column =
    graft.plans.Wkb.wkbWrite(geom, geomType)

  /** Render a geometry as WKT text (same type codes as [[stAsWkb]]) —
    * the export inverse of [[stGeomFromText]], used by the code-point
    * pipeline exactly where the reference renders shapely `wkt.dumps`
    * (code_point.py:157). NULL/empty geometry → NULL (ANSI-safe: the
    * empty case is guarded before any element_at). */
  def stAsText(geom: Column, geomType: Int): Column = {
    val pts = array_join(transform(geom, p =>
      concat(p("x").cast("string"), lit(" "), p("y").cast("string"))), ", ")
    val body = geomType match {
      case 1 =>
        val p0 = element_at(geom, 1)
        concat(lit("POINT ("), p0("x").cast("string"), lit(" "),
          p0("y").cast("string"), lit(")"))
      case 2 => concat(lit("LINESTRING ("), pts, lit(")"))
      case 3 => concat(lit("POLYGON (("), pts, lit("))"))
      case other =>
        throw new IllegalArgumentException(s"geometry type $other")
    }
    when(geom.isNotNull && size(geom) >= 1, body)
      .otherwise(lit(null).cast("string"))
  }

  /** Shoelace area of a ring (array<struct<x,y>>, closing edge implied):
    * |Σ x_i·y_{i+1} − x_{i+1}·y_i| / 2. Pure HOF expressions —
    * shuffle-free, codegen'd; with integer-grid coordinates every cross
    * product is an exact double, so the area is engine-exact. */
  def stArea(geom: Column): Column =
    graft.plans.GeoPoints.area(geom)

  /** Polyline length (open path: n-1 segments, correctly-rounded IEEE
    * sqrt per segment — identical across engines). Native sequential
    * fold ([[graft.plans.PointsLength]]). */
  def stLength(geom: Column): Column =
    graft.plans.GeoPoints.pathLength(geom)

  /** ST_Contains(ST_Buffer(center, r), p) for circular buffers ==
    * distance(center, p) <= r (the reference's 500 m wellbeing predicate). */
  def withinBuffer(center: Column, p: Column, r: Double): Column = {
    val dx = stX(center) - stX(p)
    val dy = stY(center) - stY(p)
    dx * dx + dy * dy <= lit(r * r)
  }
}
