package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class XmlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val naptanish =
    """<StopPoints>
      |  <StopPoint><AtcoCode>490000001</AtcoCode><Descriptor><CommonName>High St</CommonName></Descriptor>
      |    <Place><Location><Easting>530000</Easting><Northing>180000</Northing></Location></Place></StopPoint>
      |  <StopPoint><AtcoCode>490000002</AtcoCode><Descriptor><CommonName>Market Sq</CommonName></Descriptor>
      |    <Place><Location><Easting>531000</Easting><Northing>181000</Northing></Location></Place></StopPoint>
      |</StopPoints>""".stripMargin

  test("XML file read with rowTag parses NaPTAN-like stop points") {
    val dir = java.nio.file.Files.createTempDirectory("xmlsrc")
    java.nio.file.Files.writeString(dir.resolve("stops.xml"), naptanish)
    val df = XmlSource.read(spark, dir.toString, "StopPoint")
    assert(df.count() === 2)
    val flat = JsonFlatten.flatten(df)
    assert(flat.columns.contains("Place_Location_Easting"))
    assert(flat.where(col("AtcoCode") === 490000001L).select("Descriptor_CommonName")
      .as[String].head() === "High St")
  }

  test("from_xml column parse + flatten") {
    val schema = StructType(Seq(
      StructField("AtcoCode", StringType),
      StructField("Descriptor", StructType(Seq(StructField("CommonName", StringType))))))
    val df = Seq(
      "<StopPoint><AtcoCode>x1</AtcoCode><Descriptor><CommonName>A</CommonName></Descriptor></StopPoint>"
    ).toDF("xml")
    val out = XmlSource.parseColumn(df, "xml", schema)
    assert(out.columns.toSet === Set("__parsed_AtcoCode", "__parsed_Descriptor_CommonName"))
    assert(out.select("__parsed_Descriptor_CommonName").as[String].head() === "A")
  }

  test("Pipeline retries flaky stages and records metadata") {
    var calls = 0
    val stages = Seq(
      Pipeline.Stage("clean", df => ColumnNormalizer.snakeCase(df)),
      Pipeline.Stage("flaky", df => df.withColumn("ok", lit(true))))
    // the first attempt runs the whole chain, then fails: a transient
    // after the plan executed, as a failed commit would be
    val recs = Pipeline.runObserved("naptan", Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      stages, out => {
        calls += 1
        assert(out.columns.contains("ok"))
        if (calls == 1) { out.collect(); throw new RuntimeException("transient") }
        out.write.format("noop").mode("overwrite").save()
      })
    assert(calls === 2)
    // one record per stage, from the successful attempt only
    assert(recs.map(r => (r.pipeline, r.stage, r.status, r.n_rows)) ===
      Seq(("naptan", "clean", "success", 2L), ("naptan", "flaky", "success", 2L)))
  }

  test("Pipeline gives up after 3 attempts and keeps the cause") {
    var calls = 0
    val cause = new IllegalStateException("warehouse down")
    val e = intercept[RuntimeException] {
      Pipeline.runObserved("p", Seq(1L, 2L).toDF("id"),
        Seq(Pipeline.Stage("load", identity)), _ => { calls += 1; throw cause })
    }
    assert(e.getMessage === "[p] failed after 3 attempts")
    assert(e.getCause eq cause)
    assert(calls === 3)
  }
}
