package graft.plans

import graft.{HofReference, SparkSpec}
import graft.operators.Dedup
import graft.functions.Text
import org.apache.spark.sql.functions._

class NGramsSpec extends SparkSpec {
  import spark.implicits._

  test("native ngrams == interpreted HOF shingles on varied docs") {
    val docs = Seq(
      "a b c d e f g", "a b", "", "one", "x x x x",
      "the quick brown fox jumps over the lazy dog",
      "  spaced   out   tokens  ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    for (n <- Seq(1, 2, 3, 4)) {
      val diff = docs.select(
        Dedup.shinglesOf(col("toks"), n).as("native"),
        HofReference.shinglesOfHof(col("toks"), n).as("hof"))
        .where(col("native") =!= col("hof"))
      assert(diff.count() === 0, s"n=$n mismatch")
    }
  }

  test("short inputs yield empty arrays, not errors") {
    val out = Seq((1L, Seq[String]())).toDF("id", "toks")
      .select(NGrams.ngrams(col("toks"), 3).as("g"))
      .as[Seq[String]].head()
    assert(out === Seq())
  }

  test("overlapping windows in order, space-joined") {
    val out = Seq((1L, Seq("a", "b", "c", "d"))).toDF("id", "toks")
      .select(NGrams.ngrams(col("toks"), 3).as("g"))
      .as[Seq[String]].head()
    assert(out === Seq("a b c", "b c d"))
  }
}
