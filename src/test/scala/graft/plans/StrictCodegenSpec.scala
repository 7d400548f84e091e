package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every codegen'd expression in `plans/` under strict codegen
  * (`Driver.settings` turns `spark.sql.codegen.fallback` off, so a
  * generated class that fails to compile fails the query). Each row runs
  * two instances over two nullable inputs and two over two non-nullable
  * ones in ONE whole-stage-codegen'd projection. The instances read
  * different columns, so subexpression elimination cannot fold them into
  * one; over the non-nullable inputs their generated bodies share one
  * Java scope, so a fixed local name declared by each fails to compile.
  * The compiled result must equal the interpreted one
  * (`factoryMode=NO_CODEGEN`, whole-stage codegen off). */
class StrictCodegenSpec extends SparkSpec {

  /** An expression over one input column of type `inType`; `values` are
    * its non-null inputs (the nullable columns also get one NULL). */
  private case class Case(name: String, inType: DataType, values: Seq[Any],
                          f: Column => Column)

  private val strings = Seq("", "   ", "alpha beta  gamma", "a a a b a b",
    "é café 😀", "x" * 300)
  private val stringArrays = Seq(Seq("a", "b", "a", "c"), Seq("a", null, "zz"),
    Seq.empty[String], Seq(null, ""))
  private val longArrays = Seq(Seq(1L, null, 5L, 5L), Seq(null), Seq.empty[Any],
    Seq(-7L, Long.MinValue, Long.MaxValue, 0L, 3L))
  private val geoms = Seq(
    Seq(Row(0.0, 0.0), Row(100.0, 0.0), Row(100.0, 100.0), Row(0.0, 100.0)),
    Seq(Row(1.0, 2.0)), Seq(Row(0.1, 0.2), Row(0.3, 0.7), Row(-5.5, 2.25)),
    Seq.empty[Row], Seq(Row(1.0, 2.0), Row(null, 3.0)))

  private def wkb(geomType: Int, pts: (Double, Double)*): Array[Byte] = {
    val lineLike = geomType == 2
    val b = ByteBuffer.allocate(9 + 16 * pts.size).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(geomType)
    if (lineLike) b.putInt(pts.size)
    pts.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  private val model = ModelTable(Map("a" -> 3L, "b" -> 5L, "" -> 11L))
  private val unigram = new UnigramTable(Seq("ab" -> 1, "a" -> 3, "b" -> 3, "alpha" -> 2), 10)

  private def cases: Seq[Case] = {
    val bc = ModelApply.broadcast(spark, "full", model)
    val embedded = EmbeddedModel("embedded", model)
    Seq(
      Case("DeflateLen", StringType, strings, DeflateLen.deflateLen),
      Case("DotProduct", ArrayType(DoubleType), Seq(Seq(1.0, 2.0, -3.5), Seq.empty[Double],
        Seq(0.5, null)), c => DotProduct.dot(c, c)),
      Case("WktPoints", StringType, Seq("POINT (1 2)", "LINESTRING (0 1, 2 3, 4 5)",
        "NOT WKT", "1.5e2.5 7", ""), GeoPoints.wktPoints),
      Case("PointsCentroid", GeoPoints.PointsType, geoms, GeoPoints.centroid),
      Case("PointsArea", GeoPoints.PointsType, geoms, GeoPoints.area),
      Case("PointsLength", GeoPoints.PointsType, geoms, GeoPoints.pathLength),
      Case("Md5Long", StringType, strings, Md5Long.md5Long),
      Case("MinhashSig k=16", ArrayType(LongType), longArrays, MinhashSig.minhashSig(_, 16)),
      Case("MinhashSig k=1", ArrayType(LongType), longArrays, MinhashSig.minhashSig(_, 1)),
      Case("ModelApply sumOver", ArrayType(StringType), stringArrays, ModelApply.sumOver(_, bc)),
      Case("ModelApply countIn", ArrayType(StringType), stringArrays,
        ModelApply.countIn(_, embedded)),
      Case("ModelApply lookup", StringType, Seq("a", "b", "zz", ""), ModelApply.lookup(_, bc)),
      Case("ModelApply mapOver", ArrayType(StringType), stringArrays,
        ModelApply.mapOver(_, bc, -1L)),
      Case("NGrams", ArrayType(StringType), stringArrays, NGrams.ngrams(_, 2)),
      Case("NfcNormalize", StringType, strings, NfcNormalize.nfcNormalize),
      Case("SimhashFold", ArrayType(LongType), longArrays, SimhashFold.simhashFold(_, 32)),
      Case("UnigramSegment", StringType, Seq("abab", "alphab", "zzz", "", "😀a"),
        UnigramSegment.segment(_, unigram)),
      Case("Md5LongMap", ArrayType(StringType), stringArrays, WinnowExprs.md5LongMap),
      Case("WinnowMin", ArrayType(LongType), longArrays, WinnowExprs.winnowMin(_, 2)),
      Case("WkbGeom", BinaryType, Seq(wkb(1, 1.0 -> 2.0), wkb(2, 0.0 -> 1.0, 2.0 -> 3.0),
        Array[Byte](1, 2, 3)), Wkb.wkbGeom),
      Case("WkbWrite", Wkb.geomDataType, Seq(Seq(Row(0.0, 1.0), Row(2.0, 3.0)),
        Seq(Row(5.0, 6.0)), Seq.empty[Row]), Wkb.wkbWrite(_, 2)),
      Case("WsTokens", StringType, strings, WsTokens.wsTokens))
  }

  /** Simple names of the `graft.plans` classes inside `exprs`. */
  private def planExprClasses(exprs: Seq[Expression]): Set[String] =
    exprs.flatMap(_.collect {
      case e if e.getClass.getPackage.getName == "graft.plans" => e.getClass.getSimpleName
    }).toSet

  test("every codegen'd plans expression: two instances per nullability in one projection, codegen == interpreted") {
    val seen = Set.newBuilder[String]
    cases.foreach { c =>
      val schema = StructType(Seq("n1", "n2", "v1", "v2").map(name =>
        StructField(name, c.inType, nullable = name.startsWith("n"))))
      // an RDD scan, not a LocalRelation: the optimizer would fold a
      // projection over local rows with the interpreted path
      val rows = c.values.zip(c.values.reverse).map { case (a, b) => Row(a, b, a, b) } :+
        Row(null, null, c.values.head, c.values.last)
      def project = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(Seq("n1", "n2", "v1", "v2").map(n => c.f(col(n))): _*)
      val df = project
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("*(1) Project"),
        s"${c.name}: the projection fell out of whole-stage codegen\n$plan")
      seen ++= planExprClasses(plan.flatMap(_.expressions))
      val compiled = df.collect().toSeq
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(project.collect().toSeq)
      assert(compiled === interpreted, c.name)
      // the nullable and non-nullable columns hold the same values
      // (Row equality compares binary results by content)
      assert(compiled.init.forall(r => Row(r.get(0), r.get(1)) == Row(r.get(2), r.get(3))),
        s"${c.name}: nullability changed a result")
      assert(compiled.exists(!_.isNullAt(2)), s"${c.name}: every result is NULL")
    }
    // a new codegen'd expression in plans/ needs a row here
    val codegend = new java.io.File("src/main/scala/graft/plans").listFiles().toSeq
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try "case class (\\w+)".r.findAllMatchIn(src.mkString).map(_.group(1)).toList
        finally src.close()
      }
      // case classes nested in an object have no top-level class
      .flatMap(n => scala.util.Try(Class.forName(s"graft.plans.$n")).toOption)
      .filter(cls => classOf[Expression].isAssignableFrom(cls) &&
        cls.getDeclaredMethods.exists(_.getName == "doGenCode"))
      .map(_.getSimpleName).toSet
    assert(codegend.size === 18, codegend)
    assert(seen.result() === codegend)
  }
}
