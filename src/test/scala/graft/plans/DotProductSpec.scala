package graft.plans

import graft.{HofReference, SparkSpec, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("native DotProduct == interpreted HOF fold, bit for bit") {
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    val paired = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(emb.select(col("embedding").as("other")).limit(5))
    val diffs = paired.select(
      Similarity.dot(col("embedding"), col("other")).as("native"),
      HofReference.dotHof(col("embedding"), col("other")).as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diffs.count() === 0)
  }

  test("works for float and double arrays, null-safe") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 4.0, 6.0))).toDF("f", "d")
    assert(df.select(Similarity.dot(col("f"), col("d"))).as[Double].head() === 28.0)
    val n = Seq((Option.empty[Array[Float]], Array(1.0f)))
      .toDF("f", "d")
      .select(Similarity.dot(col("f"), col("d"))).as[Option[Double]].head()
    assert(n === None)
  }

  test("mismatched lengths and null elements yield NULL, matching zip_with") {
    val mismatch = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))
      .toDF("a", "b")
    val nm = mismatch.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      HofReference.dotHof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].head()
    assert(nm === ((None, None))) // truncated partial sum would be wrong

    val nullElem = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val ne = nullElem.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      HofReference.dotHof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].head()
    assert(ne === ((None, None)))
  }

  test("graft_dot is SQL-callable via the injected GraftExtensions") {
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(r === 11.0)
  }
}
