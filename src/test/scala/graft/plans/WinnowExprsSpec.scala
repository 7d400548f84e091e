package graft.plans

import graft.{HofReference, SparkSpec}
import graft.functions.Text
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

class WinnowExprsSpec extends SparkSpec {
  import spark.implicits._

  test("native winnow == HOF spec across window sizes and shapes") {
    val arrays: Seq[Seq[java.lang.Long]] = Seq[Seq[java.lang.Long]](
      Seq(5L, 3L, 8L, 1L, 9L, 2L, 7L).map(Long.box),
      Seq(Long.box(1L)), Seq(2L, 2L, 2L, 2L).map(Long.box),
      Seq(9L, 8L, 7L, 6L, 5L).map(Long.box),
      Seq(1L, 2L, 3L, 4L, 5L).map(Long.box), Seq.empty,
      Seq(Long.box(5L), null, Long.box(8L), null, null, Long.box(2L)),
      Seq(null, null, null),
      Seq(Long.MaxValue, 0L, Long.MinValue, 42L).map(Long.box))
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "hs")
    for (w <- Seq(1, 2, 3, 5, 9)) {
      val diff = df.select(col("id"),
        Text.winnowOf(col("hs"), w).as("n"),
        HofReference.winnowOfHof(col("hs"), w).as("h"))
        .selectExpr("id", "cast(n as string) n", "cast(h as string) h")
        .collect()
      diff.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"w=$w id=${r.getLong(0)}: native=${r.getString(1)} hof=${r.getString(2)}")
      }
    }
  }

  test("native winnow == HOF on random long arrays (property)") {
    // one Spark job over MANY generated rows per window size (a job per
    // scalacheck sample would take minutes)
    val rnd = new scala.util.Random(42)
    val arrays = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(rnd.nextLong()))
    }
    val df = arrays.toDF("id", "hs")
    for (w <- 1 to 7) {
      val bad = df.select(
        Text.winnowOf(col("hs"), w).as("n"),
        HofReference.winnowOfHof(col("hs"), w).as("h"))
        .where(col("n") =!= col("h") || col("n").isNull =!= col("h").isNull)
      assert(bad.count() === 0, s"w=$w")
    }
  }

  test("md5LongMap == transform(md5Long) incl. null elements") {
    val df = Seq(
      (1L, Seq("a", "b", "the cat")),
      (2L, Seq.empty[String]),
      (3L, Seq("x", null, "z")),
      (4L, null: Seq[String])).toDF("id", "toks")
    val rows = df.select(col("id"),
      WinnowExprs.md5LongMap(col("toks")).as("n"),
      transform(col("toks"), t => Text.md5Long(t)).as("h"))
      .selectExpr("id", "cast(n as string)", "cast(h as string)").collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"id=${r.getLong(0)}")
    }
  }
}
