package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("quantileDisc picks the exact rank-ceil(q*n) value per group") {
    val df = (1 to 10).map(i => ("a", i.toDouble)).toDF("g", "v")
    val row = Stats.quantileDisc(df, Seq("g"), "v", Seq(0.5, 0.9)).head()
    assert(row.getAs[Double]("p50") === 5.0)
    // 0.9*10 rounds to exactly 9.0 in IEEE doubles -> ceil 9; any engine
    // computing the same double product agrees, which is the portability
    // contract of quantileDisc
    assert(row.getAs[Double]("p90") === 9.0)
    assert(row.getAs[Long]("n") === 10L)
    assert(row.getAs[Double]("min_v") === 1.0)
    assert(row.getAs[Double]("max_v") === 10.0)
  }

  test("histogramQuantiles: answering bin CONTAINS the exact rank statistic (randomized)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val valsGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-5L, 120L))) // includes out-of-range lows
    val qsGen = Gen.someOf(Seq(1L, 100000L, 500000L, 900000L, 1000000L))
      .map(_.toList).suchThat(_.nonEmpty)
    val prop = Prop.forAll(valsGen, qsGen) { (vals, qs) =>
      val out = Stats.histogramQuantiles(vals.toDF("v"), col("v"),
          lo = 0L, hi = 100L, bins = 10, qsPpm = qs)
        .select("q_ppm", "bin", "cum_count", "n")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      def binOf(v: Long): Long = math.min(math.max((v - 0L) / 10L, 0L), 9L)
      val sorted = vals.map(v => binOf(v)).sorted // clamp BEFORE ranking:
      // the histogram ranks clamped bins, so the reference must too
      qs.forall { q =>
        val rank = math.max((q * vals.size + 999999L) / 1000000L, 1L).toInt
        val (bin, cum, n) = out(q)
        n == vals.size && bin == sorted(rank - 1) &&
          cum == sorted.count(_ <= bin)
      }
    }
    assert(check(Parameters.default.withMinSuccessfulTests(12), prop).passed)
  }

  test("histogramQuantiles: empty and all-null inputs yield empty results") {
    val empty = Stats.histogramQuantiles(
      Seq.empty[Long].toDF("v"), col("v"), 0L, 100L, 10, Seq(500000L))
    assert(empty.count() === 0L)
    val nulls = Stats.histogramQuantiles(
      Seq[Option[Long]](None, None).toDF("v"), col("v"), 0L, 100L, 10,
      Seq(500000L))
    assert(nulls.count() === 0L)
  }

  test("withPercentRank100 matches the global-window percent_rank cell-exactly") {
    import org.apache.spark.sql.expressions.Window
    // adversarial: heavy ties, negative scores, a hot value
    val df = ((1 to 500).map(i => (i.toLong, (i % 37).toDouble - 5)) ++
        (501 to 600).map(i => (i.toLong, 7.0)))
      .toDF("id", "score")
    val dist = Stats.withPercentRank100(df, "score", "pr")
      .select("id", "pr").as[(Long, Double)].collect().toMap
    val win = df.select(col("id"),
        (percent_rank().over(Window.orderBy(col("score"))) * 100).as("pr"))
      .as[(Long, Double)].collect().toMap
    assert(dist === win) // exact double equality, not approx
  }

  test("withNtile matches the global-window ntile for every bucket count") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 103).map(i => (i.toLong, (i % 11).toDouble)).toDF("id", "v")
    for (b <- Seq(1, 2, 4, 7, 103, 200)) {
      val dist = Stats.withNtile(df, "v", Seq(col("id")), b, "nt")
        .select("id", "nt").as[(Long, Int)].collect().toMap
      val win = df.select(col("id"),
          ntile(b).over(Window.orderBy(col("v"), col("id"))).as("nt"))
        .as[(Long, Int)].collect().toMap
      assert(dist === win, s"ntile($b) diverged")
    }
  }

  test("cumLess fast path (driver histogram) and range fallback agree cell-exactly") {
    // skewed scores with heavy ties + nulls: the default path collects
    // the histogram and broadcasts prefix sums as a LocalRelation; with
    // maxDriverHist=0 the same call runs the distributed range
    // machinery — the two must be indistinguishable
    val df = (1 to 1000).map(i =>
        (i.toLong, if (i % 17 == 0) null else java.lang.Long.valueOf((i % 37).toLong)))
      .toDF("id", "v")
    val (fast, nFast) = Stats.cumLess(df, "v")
    val (slow, nSlow) = Stats.cumLess(df, "v", maxDriverHist = 0)
    assert(nFast === nSlow)
    assert(fast.as[(Long, Long)].collect().toMap ===
      slow.as[(Long, Long)].collect().toMap)
    // the fast path IS the broadcast form: its data is driver-local
    assert(fast.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LocalRelation")),
      "fast-path cnt_less table should be a LocalRelation")
    // a histogram past the bound falls back (probe stops at bound+1)
    val (fb, nFb) = Stats.cumLess(df, "id", maxDriverHist = 10)
    assert(nFb === 1000L)
    assert(fb.where(col("id") === 500L).select("__cnt_less")
      .as[Long].head() === 499L)
  }

  test("cumLess handles the single-distinct-value and empty inputs") {
    val one = Seq((1L, 5.0), (2L, 5.0)).toDF("id", "v")
    val (cl, n) = Stats.cumLess(one, "v")
    assert(n === 2L)
    assert(cl.select("__cnt_less").as[Long].collect().toSeq === Seq(0L))
    val (cle, ne) = Stats.cumLess(one.where(col("id") < 0), "v")
    assert(ne === 0L && cle.isEmpty)
  }

  test("withRunningTotal matches the global running-sum window cell-exactly") {
    import org.apache.spark.sql.expressions.Window
    // desc primary order with heavy ties; unique id tie-break = total order
    val df = (1 to 777).map(i => (i.toLong, (i % 13).toLong, (i % 29).toLong + 1))
      .toDF("id", "score", "w")
    val dist = Stats.withRunningTotal(df, Nil,
        Seq(col("score").desc, col("id")), col("w"), "cum")
      .select("id", "cum").as[(Long, Long)].collect().toMap
    val win = df.select(col("id"),
        sum(col("w")).over(Window.orderBy(col("score").desc, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      .as[(Long, Long)].collect().toMap
    assert(dist === win)
    val empty = Stats.withRunningTotal(df.where(col("id") < 0), Nil,
      Seq(col("id")), col("w"), "cum")
    assert(empty.isEmpty && empty.columns.contains("cum"))
  }

  test("tokenBudgetSelect keeps exactly the best-first prefix under budget") {
    val df = Seq((1L, 10L, 4L), (2L, 9L, 4L), (3L, 8L, 4L), (4L, 7L, 4L))
      .toDF("doc_id", "q", "toks")
    val kept = Curate.tokenBudgetSelect(df,
        Seq(col("q").desc, col("doc_id")), col("toks"), 11L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L)) // 4+4=8 fits, +4=12 would exceed 11
  }

  test("hashSample is deterministic, monotonic in the fraction, and stratified") {
    val df = (1 to 5000)
      .map(i => (i.toLong, if (i % 10 == 0) "rare" else "bulk"))
      .toDF("id", "stratum")
    val frac = when(col("stratum") === "rare", lit(500000L)).otherwise(lit(50000L))
    val a = Stats.hashSample(df, col("id"), frac).as[(Long, String)].collect().toSet
    val b = Stats.hashSample(df, col("id"), frac).as[(Long, String)].collect().toSet
    assert(a === b) // deterministic: identical rows on re-run
    // monotonic: a smaller threshold selects a subset of a larger one
    val narrow = Stats.hashSample(df, col("id"), lit(50000L))
      .as[(Long, String)].collect().toSet
    val wide = Stats.hashSample(df, col("id"), lit(500000L))
      .as[(Long, String)].collect().toSet
    assert(narrow.subsetOf(wide))
    // stratified rates land near the requested ppm (md5 is uniform)
    val rareRate = a.count(_._2 == "rare").toDouble / 500
    val bulkRate = a.count(_._2 == "bulk").toDouble / 4500
    assert(rareRate > 0.4 && rareRate < 0.6, s"rare rate $rareRate")
    assert(bulkRate > 0.03 && bulkRate < 0.07, s"bulk rate $bulkRate")
  }

  test("grouped withRunningTotal matches the per-group window") {
    import org.apache.spark.sql.expressions.Window
    // adversarial: one group holds 80% of rows (the skew case the grouped
    // prefix sum exists for), another has a single row, a NULL group is
    // its own group (as in the window form), order ties broken by id
    val df = ((1 to 800).map(i => ("hot", i.toLong, (i % 13).toLong)) ++
        (1 to 150).map(i => ("mid", 1000L + i, (i % 7).toLong)) ++
        (1 to 40).map(i => (null, 2000L + i, (i % 5).toLong)) ++
        Seq(("one", 5000L, 42L)))
      .toDF("g", "id", "w")
    val dist = Stats.withRunningTotal(df, Seq(col("g")),
        Seq(col("w"), col("id")), col("w"), "rt")
      .select("id", "rt").as[(Long, Long)].collect().toMap
    val win = df.withColumn("rt",
        sum(col("w")).over(Window.partitionBy(col("g"))
          .orderBy(col("w"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "rt").as[(Long, Long)].collect().toMap
    assert(dist.size === 991 && dist === win)
    val empty = Stats.withRunningTotal(df.where(col("id") < 0), Seq(col("g")),
      Seq(col("id")), col("w"), "rt")
    assert(empty.isEmpty && empty.columns.contains("rt"))
  }

  test("groupSample: exactly k per group, deterministic, short groups whole") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
        (101 to 103).map(i => (i.toLong, "small")))
      .toDF("id", "g")
    val a = Stats.groupSample(df, Seq("g"), col("id"), 5)
      .select("id", "g", "sample_rank").as[(Long, String, Int)].collect()
    assert(a.count(_._2 == "big") === 5)   // exact k
    assert(a.count(_._2 == "small") === 3) // short group kept whole
    assert(a.filter(_._2 == "big").map(_._3).sorted.toSeq === Seq(1, 2, 3, 4, 5))
    val b = Stats.groupSample(df, Seq("g"), col("id"), 5)
      .select("id", "g", "sample_rank").as[(Long, String, Int)].collect()
    assert(a.toSet === b.toSet) // deterministic on re-run
  }

  test("saltedAgg matches direct groupBy exactly") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else "k" + (i % 7), i.toLong))
      .toDF("k", "v")
    val salted = Stats.saltedAgg(df, "k", pmod(col("v"), lit(8)), 8,
        Seq("sum_v" -> col("v")))
      .as[(String, Long, Long)].collect().toSet
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted === direct)
  }
}
