package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Warehouse-load layer re-expressed for Spark: the reference batch-inserts
  * into MotherDuck/Postgres with retries and a delete-then-insert refresh
  * (reference: src/data_processors/utils/data_processor_utils.py:9
  * insert_into_motherduck, :60 insert_table_to_postgresql which DELETEs the
  * table first).
  *
  * On a cluster the equivalent durable, idempotent primitive is a
  * partitioned parquet write with DYNAMIC partition overwrite: re-running a
  * pipeline for one month replaces exactly that month's partitions, never
  * the whole table — the "delete then insert" pattern without a global
  * delete, safe to retry.
  */
object ParquetSink {

  /** Full-refresh write (the reference's replace-table path). */
  def writeReplace(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Idempotent partition-scoped refresh: only partitions present in `df`
    * are replaced. Partition columns become directory keys, enabling
    * partition pruning for downstream readers. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Write with parquet BLOOM FILTERS on `bloomCols`: point-lookup
    * file/row-group skipping for high-cardinality keys, where min/max
    * statistics are useless (uniformly distributed ids span the whole
    * domain in every file, so no range ever prunes). The complement of
    * [[ZOrder]]: z-order serves range boxes, blooms serve `key = x` /
    * `key IN (...)` probes — at 100 TB a single-document lookup touches
    * one row group instead of the table. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     expectedDistinct: Long = 1000000L): Unit =
    bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedDistinct.toString)
    }.parquet(path)

  /** Compact a table's small files in place: incremental month-by-month
    * appends (the reference's scheduled loads) accumulate one-file-per-run
    * partitions whose open/seek overhead eventually dominates scans at
    * 100 TB. Rewrites each partition into ~`targetFileMB` files via
    * per-partition-dir dynamic overwrite — a metadata-safe, idempotent
    * maintenance pass (re-running compacts nothing further).
    *
    * File count is the scoped scan's size over `targetFileMB`, the rule
    * [[SnapshotTable.compact]] shares. A partitioned table needs a
    * shuffle to keep every file partition-pure, so it hash-repartitions
    * on the partition columns plus a source-file salt. An unpartitioned
    * one has no purity to keep: it coalesces the scan to that count, with
    * no exchange, and with a `targetFileMB` below
    * `spark.sql.files.maxPartitionBytes` writes fewer, larger files than
    * the count (coalescing cannot split a scan partition). */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                         partitionCols: Seq[String],
                         targetFileMB: Int = 512,
                         scopePredicate: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    // an unpartitioned table has no dynamic-overwrite scope: writing the
    // scoped subset would replace the WHOLE path with it (silent data loss)
    require(partitionCols.nonEmpty || scopePredicate.isEmpty,
      "scopePredicate requires partitionCols: compacting an unpartitioned " +
        "table is all-or-nothing (the write replaces the entire path)")
    // partition DIR values must round-trip byte-identically: type
    // inference would rewrite area=007 as area=7, and dynamic overwrite
    // would then leave the original dirs behind as duplicate rows
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.getOption(inferKey)
    spark.conf.set(inferKey, "false")
    try {
      val all = spark.read.parquet(path)
      // at 100 TB you compact one partition scope (a month) per pass — that
      // also bounds the staging copy below
      val scoped = scopePredicate.fold(all)(all.where(_))
      val sizeBytes = scoped.queryExecution.optimizedPlan.stats.sizeInBytes
      val nFiles = math.max(1, (sizeBytes / (targetFileMB.toLong << 20)).toInt)
      // a source-file salt alongside the partition columns: hashing on
      // partitionCols alone lands a whole partition dir in ONE task and
      // writes it as one arbitrarily large file; the salt splits big dirs
      // while still keeping files partition-pure
      val salted =
        if (partitionCols.isEmpty) scoped.coalesce(nFiles)
        else scoped
          .withColumn("__salt",
            pmod(xxhash64(input_file_name()), lit(nFiles.toLong)).cast("int"))
          .repartition(nFiles, (partitionCols :+ "__salt").map(col): _*)
          .drop("__salt")
      // DURABLE two-phase swap: stage the compacted copy NEXT TO the
      // table, then overwrite from the staged (fault-tolerant) copy.
      // The previous in-place form (localCheckpoint + overwrite) deleted
      // the only durable copy while the data lived in executor-local
      // blocks — one lost executor mid-write lost the table.
      val tmp = path.stripSuffix("/") + ".__compact_tmp"
      if (partitionCols.nonEmpty) {
        salted.write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCols: _*).parquet(tmp)
        writePartitioned(spark.read.parquet(tmp), path, partitionCols)
      } else {
        salted.write.mode(SaveMode.Overwrite).parquet(tmp)
        writeReplace(spark.read.parquet(tmp), path)
      }
      val tmpP = new org.apache.hadoop.fs.Path(tmp)
      tmpP.getFileSystem(spark.sessionState.newHadoopConf()).delete(tmpP, true)
    } finally prevInfer match {
      case Some(v) => spark.conf.set(inferKey, v)
      case None => spark.conf.unset(inferKey)
    }
  }
}
