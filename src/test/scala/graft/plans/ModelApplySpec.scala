package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ModelApplySpec extends SparkSpec {

  private val entries = Map("a" -> 3L, "b" -> 5L, "é ü" -> 7L, "" -> 11L)
  private val unk = -1L

  // arrays with null elements, unseen keys, empty arrays and a NULL array
  private val rows = Seq(
    Row(Seq("a", "b", "a"), "a"),
    Row(Seq("a", null, "zz", "é ü"), "é ü"),
    Row(Seq.empty[String], "zz"),
    Row(Seq(null, ""), ""),
    Row(null, null))

  // an RDD scan, not a LocalRelation: the optimizer would fold a
  // projection over local rows with the interpreted path
  private def input: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2),
    StructType(Seq(StructField("toks", ArrayType(StringType)),
      StructField("key", StringType))))

  private def expected(t: Map[String, Long]): Seq[Row] = rows.map { r =>
    val toks = Option(r.getSeq[String](0))
    val key = Option(r.getString(1))
    def sum(f: Long => Long): Any =
      toks.map(_.flatMap(x => Option(x).flatMap(t.get)).map(f).sum).orNull
    Row(sum(v => v), sum(_ => 1L), key.flatMap(t.get).map(v => v: Any).orNull,
      toks.map(_.map(x => Option(x).flatMap(t.get).getOrElse(unk))).orNull)
  }

  private def project(m: ModelSource): Seq[Column] = Seq(
    ModelApply.sumOver(col("toks"), m), ModelApply.countIn(col("toks"), m),
    ModelApply.lookup(col("key"), m), ModelApply.mapOver(col("toks"), m, unk))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def check(out: Seq[Row], models: Seq[Map[String, Long]]): Unit =
    out.zip(rows.indices).foreach { case (got, i) =>
      val want = models.flatMap(t => expected(t)(i).toSeq)
      assert(got.toSeq === want, s"row $i ${rows(i)}")
    }

  test("two instances of every form in one projection: codegen == interpreted == spec") {
    val full = ModelApply.broadcast(spark, "full", ModelTable(entries))
    val empty = ModelApply.broadcast(spark, "empty", ModelTable(Nil))
    val df = input.select(project(full) ++ project(empty): _*)
    val models = Seq(entries, Map.empty[String, Long])
    // strict codegen: a compile failure fails the query, no silent fallback
    val compiled = withConf("spark.sql.codegen.fallback" -> "false") {
      assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"),
        "the model projection fell out of whole-stage codegen")
      df.collect().toSeq
    }
    check(compiled, models)
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      input.select(project(full) ++ project(empty): _*).collect().toSeq
    }
    check(interpreted, models)
    assert(compiled === interpreted)
  }

  test("embedded tables with equal content compare equal; the plan names the table") {
    val m1 = EmbeddedModel("stop", ModelTable.ones(Seq("a", "b")))
    val m2 = EmbeddedModel("stop", ModelTable.ones(Seq("a", "b")))
    val toks = org.apache.spark.sql.GraftShims.expression(col("toks"))
    val e1 = ModelApply(toks, m1, ModelApply.CountIn)
    val e2 = ModelApply(toks, m2, ModelApply.CountIn)
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    assert(e1 != ModelApply(toks, EmbeddedModel("stop", ModelTable.ones(Seq("a"))),
      ModelApply.CountIn))
    val plan = input.select(ModelApply.countIn(col("toks"), m1).as("n"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_model_count_in(toks") && plan.contains("stop)"), plan)
  }

  test("a table of many keys finds every key and no unseen one") {
    val n = 20000
    val t = ModelTable((0 until n).map(i => s"k$i" -> i.toLong))
    assert(t.size === n)
    (0 until n).foreach { i =>
      val s = t.slot(org.apache.spark.unsafe.types.UTF8String.fromString(s"k$i"))
      assert(s >= 0 && t.valueAt(s) === i.toLong)
    }
    assert((0 until 1000).forall(i =>
      t.slot(org.apache.spark.unsafe.types.UTF8String.fromString(s"u$i")) === -1))
    // a repeated key keeps its last value
    val r = ModelTable(Seq("x" -> 1L, "x" -> 2L))
    assert(r.size === 1 &&
      r.valueAt(r.slot(org.apache.spark.unsafe.types.UTF8String.fromString("x"))) === 2L)
  }

  test("wrong input types fail analysis") {
    val m = EmbeddedModel("m", ModelTable.ones(Seq("a")))
    intercept[org.apache.spark.sql.AnalysisException] {
      input.select(ModelApply.lookup(col("toks"), m)).queryExecution.assertAnalyzed()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      input.select(ModelApply.sumOver(col("key"), m)).queryExecution.assertAnalyzed()
    }
  }
}
