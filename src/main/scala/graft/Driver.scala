package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness every driver main (`Bench`, `Verify`, `Explain`) and the
  * test base share: the one copy of the session settings and the one
  * per-query loop. Any other `spark.*` setting rides in as a JVM system
  * property (`-Dspark.eventLog.enabled=true`), which `SparkConf` loads
  * before the builder applies these. */
object Driver {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Harmless with timestamp[us] testdata (r7+); makes INT64
    // TIMESTAMP(NANOS) testdata (≤r6) read as BIGINT nanos. Either way
    // Tables.events normalizes ts to BIGINT epoch-nanos.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.log.level" -> "WARN",
    // Local-disk tuning mirroring "size maxPartitionBytes to the
    // cluster": the default 4 MB openCostInBytes floors the scan split
    // at 4 MB, so a 35 MB parquet table reads in 9 tasks on a 32-core
    // box and the longest scan stage runs at 28% parallelism. Local
    // NVMe has no real per-file open cost; 1 MB lets bytes-per-core
    // set the split down to the row-group scale. NOT lower: splits
    // below the row-group size are EMPTY (parquet parallelism is
    // row-group-bounded), and a scan that reports 32 splits with 6
    // non-empty defeats every numPartitions-based under-split floor
    // (Curate.contamination's repartition guard — measured 9.7 s vs
    // 5.7 s at sf1.5 when 256 KB splits masked the 6-row-group file).
    "spark.sql.files.openCostInBytes" -> (1024 * 1024).toString,
    // Codegen class cache sized to the workload, not Spark's default
    // 100 entries: this suite carries ~120 queries x 10-30 distinct
    // whole-stage/expression codegen units each, so at the default the
    // driver-side Janino cache thrashes — every stage of every query
    // RECOMPILES its generated class on every run (measured full-suite
    // A/B on one box session: 76.4/80.8 s at the default vs 47.9 s at
    // 5000; per-query wins are uniform across the suite, zero
    // regressions). Scale-independent: compile cost is pure driver/
    // executor-local constant per stage — at 100 TB the same classes
    // are compiled once and reused for hours, and a long-lived
    // production driver serving many queries wants exactly this
    // (~50-100 KB metaspace per cached class; 5000 entries is a few
    // hundred MB bounded, static conf so it must ride the builder).
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Strict codegen: a generated class that fails to compile fails the
    // query instead of silently falling back to interpreted execution,
    // so a native expression's codegen path is the path every driver
    // and spec exercises.
    "spark.sql.codegen.fallback" -> "false",
    // Let AQE size the partitioning INSIDE cached plans too: the
    // default (false) freezes an operator-persisted aggregate at the
    // static shuffle partition count, so every downstream stage of a
    // few-MB cached intermediate runs `spark.sql.shuffle.partitions`
    // near-empty tasks — ~0.2 CPU-s of fixed task cost each, dozens of
    // wasted task-slots per query tail.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A builder carrying [[settings]]; callers add only what is theirs
    * (the test base its temp warehouse dir). */
  def session(cpus: Int): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }

  /** Runs `body` once per named query (every registered query, sorted,
    * when `names` is empty) and returns its result per query, `None`
    * where the query failed. Unknown names are rejected before any query
    * runs: a typo'd last name must not surface after the others ran.
    *
    * Each query's jobs carry its name as job description, so an event
    * log (tools/profile_eventlog.py) attributes jobs and stages per
    * query. A failure is printed, counted and never stops the loop.
    *
    * `body` runs inside [[PersistScope.within]]: what the query's
    * operators cached is released when `body` ends (outside any timing
    * it takes). Afterwards the session's CacheManager must be empty. An
    * entry left behind is a `persist()` outside any scope, which would
    * pile up in a long-lived driver and, since CacheManager matches by
    * canonicalized plan, hand a later query sharing that sub-plan a
    * cache built on this query's clock: it fails the query, and it is
    * cleared so the next query starts empty. */
  def eachQuery[A](spark: SparkSession, tag: String, names: Seq[String],
                   queries: Map[String, Query] = SparkEntry.queries)
                  (body: (String, Query) => A): Seq[(String, Option[A])] = {
    val run = if (names.isEmpty) queries.keys.toSeq.sorted else names.distinct
    val unknown = run.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val results = run.map { name =>
      spark.sparkContext.setJobDescription(name)
      val out =
        try Some(PersistScope.within(body(name, queries(name))))
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
          None
        } finally spark.sparkContext.setJobDescription(null)
      val leaked = !cacheManager.isEmpty
      if (leaked) {
        System.err.println(s"[$tag] $name FAILED: left cached relations " +
          "behind (a persist() outside PersistScope)")
        spark.catalog.clearCache()
      }
      name -> (if (leaked) None else out)
    }
    val failed = results.collect { case (n, None) => n }
    if (failed.nonEmpty) System.err.println(
      s"[$tag] ${failed.size} of ${run.size} queries FAILED: ${failed.mkString(", ")}")
    results
  }
}
