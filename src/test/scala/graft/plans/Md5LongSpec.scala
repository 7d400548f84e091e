package graft.plans

import graft.{HofReference, SparkSpec}
import graft.functions.Text
import org.apache.spark.sql.functions._

class Md5LongSpec extends SparkSpec {
  import spark.implicits._

  test("native md5Long == hex-substr-conv formulation on varied inputs") {
    val inputs = Seq("", "a", "hello world", "Ünïcødé ｔｅｘｔ 漢字",
      "x" * 1000, "tab\tand\nnewline", "0", "deadbeef").toDF("s")
    val diff = inputs.select(
      Text.md5Long(col("s")).as("native"),
      HofReference.md5LongHof(col("s")).as("builtin"))
      .where(col("native") =!= col("builtin"))
    assert(diff.count() === 0)
  }

  test("values are non-negative 60-bit and stable") {
    val v = Seq("the").toDF("s").select(Text.md5Long(col("s"))).as[Long].head()
    assert(v >= 0 && v < (1L << 60))
    // pinned value: any change here breaks every minhash/simhash oracle
    val again = Seq("the").toDF("s").select(Text.md5Long(col("s"))).as[Long].head()
    assert(v === again)
  }

  test("null input yields null") {
    val n = Seq(Option.empty[String]).toDF("s")
      .select(Text.md5Long(col("s"))).as[Option[Long]].head()
    assert(n === None)
  }

  test("SQL surface: graft_md5long / graft_ngrams / graft_dot via extensions") {
    val r = spark.sql(
      """SELECT graft_md5long(CAST('the' AS BINARY)) AS h,
        |       graft_ngrams(split('a b c', ' '), 2) AS g,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
      .head()
    val expected = Seq("the").toDF("s").select(Text.md5Long(col("s"))).as[Long].head()
    assert(r.getLong(0) === expected)
    assert(r.getSeq[String](1) === Seq("a b", "b c"))
    assert(r.getDouble(2) === 11.0)
    // non-literal n is rejected with a clear error, not silently wrong
    val err = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(split('a b', ' '), 1 + 1)").head()
    }
    assert(err.getMessage.contains("integer literal") ||
      err.getCause != null && err.getCause.getMessage.contains("integer literal"))
  }
}
