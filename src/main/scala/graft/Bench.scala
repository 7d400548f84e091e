package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * The timed action is a noop-sink write (`format("noop")`), NOT `count()`:
  * counting lets Catalyst prune unused projections and whole Window
  * operators, so map-only queries would be timed without the expressions
  * they exist to exercise. The noop sink materializes every output column
  * through the full plan with zero IO cost.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3); the reported
  * number is the per-query MIN (bench noise on this box is ~2x per query;
  * min is the stable estimator of plan cost).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Driver.session(Driver.cpus).getOrCreate()
    // The only unpartitioned windows in the suite run over
    // post-aggregation relations bounded by construction (≤ bins rows in
    // q_hist_quantiles, one row per source in q_epoch_plan, one row per
    // highway authority in q_model_authority_scores) —
    // PlanAuditSpec pins exactly that — so WindowExec's blanket "No
    // Partition Defined" warning is noise here, not a scale signal.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // JVM/codegen warmup so the first timed query isn't charged for it
    spark.range(1000000).selectExpr("sum(id)").collect()

    // optional args = query-name subset (local iteration); the driver's
    // contract call passes none and times the full suite. The whole
    // suite runs `runs` times (round-robin, not back-to-back per query)
    // so per-query numbers aren't flattered by a just-warmed cache; a
    // query that threw in every pass reads -1.
    val passes = (1 to runs).flatMap { _ =>
      Driver.eachQuery(spark, "bench", args.toSeq) { (_, query) =>
        val t0 = System.nanoTime()
        query(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val best = passes.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map {
      case (n, ts) => n -> ts.flatten.minOption.getOrElse(-1.0)
    }
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = best.map(_._2).filter(_ >= 0).sum
    // The ~100-entry per-query map overflows line-oriented tail capture
    // (round-6 BENCH parsed:null), so it goes to a FILE; stdout's final
    // line is the compact totals-only JSON the driver parses.
    // env-supplied paths go through JSON escaping (a quote or backslash
    // in SPARK_GRAFT_SF_DIR would otherwise break the driver's parse —
    // the exact failure mode the file-output workaround exists to avoid)
    def js(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local_detail.json")
    // knobs that change what a query COMPUTES ride in the artifact, so
    // the BASELINE series stays interpretable across knob changes
    // (q_ann_ivf at 4 Lloyd rounds is a different query than at 2)
    val knobs = s"""{"ivf_train_rounds":${OracleSql.IvfTrainRounds}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"knobs":$knobs,"queries":$qs,"sf":${js(sfDir)}}""")
    // stop Spark BEFORE the parseable line: its shutdown may log to the
    // console, and the driver reads the LAST stdout line as the result
    // (build.sbt routes forked stdout through unprefixed + no [success])
    spark.stop()
    // n_failed rides the parseable line: a crashing query's -1 shrinks
    // the total, which a line-oriented driver parse would otherwise read
    // as a speedup
    val nFailed = best.count(_._2 < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${best.size},"n_failed":$nFailed,"detail":${js(outFile)},"sf":${js(sfDir)}}""")
  }
}
