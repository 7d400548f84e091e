package graft.pipelines

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.{ColumnNormalizer, Fetch, JsonFlatten}
import org.apache.spark.sql.DataFrame

/** `Catalog.parseStreetManagerArchive` reads each permit file as one
  * whole-text row. These specs hold it to the multiLine JSON read it
  * replaced, kept here as the reference: same schema and same rows, on
  * the committed fixture and on the file shapes where the two readers
  * could part ways. */
class StreetManagerParseSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getResource(s"/graft/pipelines/$name").getPath

  /** The pre-whole-text parse: a multiLine JSON read of `dir`, flattened
    * and prefix-stripped exactly as the catalog does. */
  private def reference(dir: String): DataFrame =
    ColumnNormalizer.stripPrefix(JsonFlatten.flatten(
      spark.read.option("multiLine", "true").json(dir), sep = "."),
      "object_data.")

  private def parsed(dir: String): DataFrame =
    Catalog.parseStreetManagerArchive(spark, dir, dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameAsReference(dir: String): DataFrame = {
    val (got, want) = (parsed(dir), reference(dir))
    assert(got.schema === want.schema)
    assert(rows(got) === rows(want))
    got
  }

  /** A directory holding `files` (name -> raw bytes). */
  private def permits(files: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("sm-permits")
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    dir.toString
  }

  private def event(ref: Long, kind: String): String =
    s"""{"event_reference": $ref, "event_type": "$kind",
       |  "object_data": {"usrn": "84$ref", "works_location": {"town": "Leeds"}}}""".stripMargin

  private val two = Seq(
    "a.json" -> event(1, "WORK_START").getBytes(UTF_8),
    "b.json" -> event(2, "WORK_STOP").getBytes(UTF_8))

  test("the street_manager.zip fixture parses to the multiLine read's schema and rows") {
    val dir = Files.createTempDirectory("sm-fixture").toString
    Fetch.unzip(fixture("street_manager.zip"), dir)
    val got = assertSameAsReference(dir)
    assert(got.count() === 8)
  }

  test("a file holding a top-level array yields one row per event") {
    val arr = s"[${event(3, "WORK_START")},\n ${event(4, "WORK_STOP")}]"
    val got = assertSameAsReference(permits(two :+ ("c.json" -> arr.getBytes(UTF_8)): _*))
    assert(got.count() === 4)
  }

  test("a malformed file lands as a _corrupt_record row, which conform refuses") {
    val dir = permits(two :+ ("bad.json" -> """{"event_reference": 5, "event_ty""".getBytes(UTF_8)): _*)
    val got = assertSameAsReference(dir)
    assert(got.columns.contains("_corrupt_record"))
    val template = Catalog.streetManager.templates("01_2025")
    Seq(got, reference(dir)).foreach { df =>
      val e = intercept[IllegalArgumentException](
        Catalog.conform(df, template, allowMissing = true))
      assert(e.getMessage.contains("unexpected columns from source: _corrupt_record"))
    }
  }

  test("a UTF-8 byte order mark before the document is skipped") {
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val got = assertSameAsReference(
      permits(two :+ ("bom.json" -> (bom ++ event(6, "WORK_START").getBytes(UTF_8))): _*))
    assert(got.count() === 3 && !got.columns.contains("_corrupt_record"))
  }

  test("an empty file adds no row") {
    val got = assertSameAsReference(permits(two :+ ("empty.json" -> Array.emptyByteArray): _*))
    assert(got.count() === 2)
    val alone = assertSameAsReference(permits("empty.json" -> Array.emptyByteArray))
    assert(alone.columns.isEmpty && alone.count() === 0)
  }
}
