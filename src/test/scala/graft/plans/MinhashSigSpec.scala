package graft.plans

import graft.{HofReference, SparkSpec}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MinhashSigSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)
  private val vocab = (0 until 500).map(i => s"w$i")

  // NULL text, empty text, repeated tokens, a single token, a 10k-token
  // document, and ordinary documents
  private val texts: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> "", 3L -> "   ", 4L -> "a a a b a b",
    5L -> "solo", 6L -> Seq.fill(10000)(vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
    (7L to 30L).map(i => i -> Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(60))).mkString(" "))

  // token-hash arrays: NULL elements, all-NULL, empty, NULL, negatives
  private val hashes: Seq[(Long, Seq[java.lang.Long])] = Seq(
    1L -> Seq[java.lang.Long](1L, null, 5L),
    2L -> Seq[java.lang.Long](null, null),
    3L -> Seq.empty[java.lang.Long],
    4L -> null,
    5L -> Seq[java.lang.Long](-7L, Long.MinValue, Long.MaxValue, 0L),
    6L -> Seq[java.lang.Long](0L)) ++
    (7L to 20L).map(i => i -> Seq.fill(1 + rnd.nextInt(30))(
      java.lang.Long.valueOf(rnd.nextLong() >>> 4)))

  // RDD scans, not LocalRelations: the optimizer would fold a projection
  // over local rows with the interpreted path
  private def textInput: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(texts.map { case (d, t) => Row(d, t) }, 2),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def hashInput: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(hashes.map { case (d, h) => Row(d, h) }, 2),
    StructType(Seq(StructField("doc", LongType),
      StructField("hs", ArrayType(LongType, containsNull = true)))))

  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  private def rows(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  test("signatures == explode + groupBy on token hashes, k = 1 and 16") {
    val compiled = rows(hashInput.select(col("doc"),
      MinhashSig.minhashSig(col("hs"), 16).as("s16"),
      MinhashSig.minhashSig(col("hs"), 1).as("s1")))
    for ((k, at) <- Seq(16 -> 0, 1 -> 1)) {
      val ref = rows(HofReference.minhashOfHashesRef(hashInput, "hs", k))
      hashes.foreach { case (d, _) =>
        val got = Option(compiled(d)(at).asInstanceOf[scala.collection.Seq[Long]])
        assert(got.map(_.toSeq) === ref.get(d).map(_.map(_.asInstanceOf[Long])),
          s"doc $d k=$k")
      }
    }
    // NULL array, empty array and all-NULL array have no signature
    assert(Seq(2L, 3L, 4L).forall(d => compiled(d)(0) == null && compiled(d)(1) == null))
    // a pinned value: h = 0 under permutation 0 is b_0 = 7
    assert(compiled(6L)(1).asInstanceOf[scala.collection.Seq[Long]].toSeq === Seq(7L))
  }

  test("Dedup.minhashSignatures == the explode + groupBy plan on text, k = 1 and 16") {
    for (k <- Seq(1, 16)) {
      val ref = rows(HofReference.minhashSignaturesRef(textInput, "doc_id", "text", k))
      val compiled = rows(Dedup.minhashSignatures(textInput, "doc_id", "text", k))
      val interp = interpreted(rows(Dedup.minhashSignatures(textInput, "doc_id", "text", k)))
      assert(compiled === ref, s"k=$k")
      assert(interp === ref, s"k=$k")
      // NULL, empty and blank text emit no row; every other doc one row
      assert(compiled.keySet === texts.map(_._1).toSet -- Set(1L, 2L, 3L))
      assert(compiled.values.forall(_.size == k))
    }
  }

  test("signatures are a projection: no exchange, and bucket stars shuffle on the band key") {
    val sigs = Dedup.minhashSignatures(textInput, "doc_id", "text", 16)
    val p = sigs.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Generate"), p)
    val stars = Dedup.bucketStarsFromSigs(sigs, 16, 4).queryExecution.executedPlan.toString
    assert(!"hashpartitioning\\(doc#".r.findFirstIn(stars).isDefined, stars)
    assert(stars.contains("hashpartitioning(band"), stars)
  }
}
