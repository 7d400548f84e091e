package graft.plans

import graft.{HofReference, SparkSpec}
import graft.functions.Geo
import org.apache.spark.sql.functions._

class GeoPointsSpec extends SparkSpec {
  import spark.implicits._

  private val wkts = Seq(
    "POINT (1 2)", "POINT (-1.5 2.25)", "LINESTRING (0 1, 2 3, 4 5)",
    "POLYGON ((0 0, 100 0, 100 100, 0 100))",
    "POINT (1.5e-3 -2E+4)", "POINT (1e2 2e-1)",
    // adversarial: non-pair runs, garbage, partial numbers, regex
    // find-position subtleties (the scanner must equal Java regex find)
    "", "NOT WKT", "12 34 56", "1a2 3", "1.2e 3 4", "12 a", "-- 5 6",
    "1.5e2.5 7", "- 5 6", "5  6", "1 2,3 4", "1,2 3 4", "POINT(7 8)",
    "3 -4", "-3 -4", "007 042", "1. 2", ".5 6", "-.5 6", "1.5. 2", null)

  test("native WKT parse == regex HOF spec on adversarial strings") {
    val df = wkts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "wkt")
      .select(col("id"),
        Geo.stGeomFromText(col("wkt")).as("native"),
        HofReference.stGeomFromTextHof(col("wkt")).as("hof"))
    val rows = df.selectExpr("id",
      "cast(native as string) n", "cast(hof as string) h").collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"wkt[${r.getLong(0)}]=${wkts(r.getLong(0).toInt)}: " +
          s"native=${r.getString(1)} hof=${r.getString(2)}")
    }
  }

  test("native centroid/area/length == HOF folds, bit-exact") {
    val geoms = Seq(
      Seq((0.0, 0.0), (100.0, 0.0), (100.0, 100.0), (0.0, 100.0)),
      Seq((1.0, 2.0)),
      Seq((0.1, 0.2), (0.3, 0.7), (-5.5, 2.25)),
      Seq.empty[(Double, Double)])
    val df = geoms.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      .toDF("id", "pts")
      .select(col("id"), expr(
        "transform(pts, p -> struct(p._1 AS x, p._2 AS y))").as("geom"))
    val out = df.select(col("id"),
      Geo.stCentroid(col("geom")).as("nc"),
      HofReference.stCentroidHof(col("geom")).as("hc"),
      Geo.stArea(col("geom")).as("na"),
      HofReference.stAreaHof(col("geom")).as("ha"),
      Geo.stLength(col("geom")).as("nl"),
      HofReference.stLengthHof(col("geom")).as("hl"))
      .selectExpr("id", "cast(nc as string)", "cast(hc as string)",
        "cast(na as string)", "cast(ha as string)",
        "cast(nl as string)", "cast(hl as string)")
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"centroid id=${r.getLong(0)}")
      assert(r.getString(3) == r.getString(4), s"area id=${r.getLong(0)}")
      assert(r.getString(5) == r.getString(6), s"length id=${r.getLong(0)}")
    }
  }

  test("null element propagates null like the HOF folds") {
    val df = spark.sql(
      "SELECT array(struct(1.0d AS x, 2.0d AS y), " +
        "struct(cast(null as double) AS x, 3.0d AS y)) AS geom")
    val r = df.select(
      Geo.stCentroid(col("geom")).as("c"),
      Geo.stArea(col("geom")).as("a"),
      Geo.stLength(col("geom")).as("l"))
      .selectExpr("c.x", "c.y", "a", "l").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }
}
