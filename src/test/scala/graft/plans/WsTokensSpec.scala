package graft.plans

import graft.{HofReference, SparkSpec}
import graft.functions.Text
import org.apache.spark.sql.functions._

class WsTokensSpec extends SparkSpec {
  import spark.implicits._

  test("native tokens == interpreted HOF filter(split) on varied inputs") {
    val texts = Seq(
      "a b c", "", " ", "   ", "one", "a  b", "  leading", "trailing  ",
      "  both  sides  ", "tabs\tstay intact", "unicode é ü 漢字 mix",
      "a b c", // NBSP is not a split char
      "x " * 1000 + "tail", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val diff = df.select(
      Text.tokens(col("text")).as("native"),
      HofReference.tokensHof(col("text")).as("hof"))
      .where(
        // element-wise AND null-vs-empty exact: =!= alone is null-blind
        (col("native") =!= col("hof")) ||
          (col("native").isNull =!= col("hof").isNull))
    assert(diff.count() === 0)
  }

  test("multibyte text never splits inside a code point") {
    val out = Seq((1L, "héllo wörld 漢 字")).toDF("id", "text")
      .select(WsTokens.wsTokens(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(out === Seq("héllo", "wörld", "漢", "字"))
  }

  test("null text stays null; blank text yields []") {
    val rows = Seq((1L, null: String), (2L, ""), (3L, "  "))
      .toDF("id", "text")
      .select(col("id"), WsTokens.wsTokens(col("text")).as("t"))
      .orderBy("id").as[(Long, Seq[String])].collect()
    assert(rows(0)._2 === null)
    assert(rows(1)._2 === Seq())
    assert(rows(2)._2 === Seq())
  }
}
