package graft

/** Plan-inspection tool: prints the formatted physical plan (and timing)
  * for named SparkEntry queries. Usage:
  *   runMain graft.Explain <sfDir> <query> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Driver.session(Driver.cpus).getOrCreate()
    Driver.eachQuery(spark, "explain", args.drop(1).toSeq) { (name, query) =>
      val df = query(spark, sfDir)
      println(s"\n========== $name ==========")
      df.explain("formatted")
      // noop-sink like Bench: count() would let Catalyst prune the very
      // expressions/Windows the printed plan shows, so the time would
      // not correspond to the plan above it
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
