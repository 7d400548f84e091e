package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class ParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitioned with dynamic overwrite replaces only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("psink").toString
    val v1 = Seq((1L, "2024-01", 10.0), (2L, "2024-02", 20.0)).toDF("id", "month", "v")
    ParquetSink.writePartitioned(v1, dir, Seq("month"))
    // re-run "the January pipeline" with corrected data
    val fix = Seq((3L, "2024-01", 99.0)).toDF("id", "month", "v")
    ParquetSink.writePartitioned(fix, dir, Seq("month"))
    val out = spark.read.parquet(dir).select("id", "month")
      .as[(Long, String)].collect().toSet
    // January replaced (id 1 gone, 3 present); February untouched
    assert(out === Set((3L, "2024-01"), (2L, "2024-02")))
  }

  test("compactPartitioned merges small files, preserves data, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("psink3").toString
    // simulate many incremental appends: 6 small files per month
    val rows = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "2024-01" else "2024-02", i * 1.0))
    ParquetSink.writePartitioned(rows.toDF("id", "month", "v").repartition(6), dir, Seq("month"))
    def filesPerMonth: Map[String, Long] = {
      import java.nio.file._
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("month="))
        .map(p => p.getFileName.toString ->
          Files.list(p).iterator().asScala.count(_.toString.endsWith(".parquet")).toLong)
        .toMap
    }
    val before = filesPerMonth
    assert(before.values.forall(_ >= 6))
    ParquetSink.compactPartitioned(spark, dir, Seq("month"), targetFileMB = 512)
    val after = filesPerMonth
    assert(after.values.forall(_ <= 2), s"still fragmented: $after")
    val back = spark.read.parquet(dir)
    assert(back.count() === 60)
    assert(back.agg(sum("v")).as[Double].head() === (1 to 60).map(_ * 1.0).sum)
    // second pass is a no-op shape-wise
    ParquetSink.compactPartitioned(spark, dir, Seq("month"), targetFileMB = 512)
    assert(spark.read.parquet(dir).count() === 60)
  }

  test("compactPartitioned on an unpartitioned table coalesces: no shuffle, rows kept") {
    val dir = java.nio.file.Files.createTempDirectory("psink4").toString
    ParquetSink.writeReplace((1L to 60L).toDF("id").repartition(6), dir)
    assert(spark.read.parquet(dir).inputFiles.length === 6)
    val (_, shuffled) = shuffleBytesWritten(
      ParquetSink.compactPartitioned(spark, dir, Nil, targetFileMB = 512))
    assert(shuffled === 0L)
    val back = spark.read.parquet(dir)
    assert(back.inputFiles.length === 1)
    assert(back.as[Long].collect().sorted.toSeq === (1L to 60L))
  }

  test("writeWithBloom writes a working parquet bloom filter for point probes") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    val df = spark.range(0, 5000).selectExpr("id", "id * 2 AS v")
    ParquetSink.writeWithBloom(df.coalesce(1), s"$dir/t", Seq("id"),
      expectedDistinct = 5000)
    val file = spark.read.parquet(s"$dir/t").inputFiles.head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sparkContext.hadoopConfiguration))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val idCol = rg.getColumns.asScala.find(_.getPath.toDotString == "id").get
      val vCol = rg.getColumns.asScala.find(_.getPath.toDotString == "v").get
      assert(idCol.getBloomFilterOffset > 0, "no bloom filter written for id")
      assert(vCol.getBloomFilterOffset <= 0, "bloom leaked onto unlisted column")
      val bloom = reader.getBloomFilterDataReader(rg).readBloomFilter(idCol)
      // every present key answers true...
      assert((0L until 5000L by 97).forall(k => bloom.findHash(bloom.hash(k))))
      // ...and absent keys are overwhelmingly rejected (that IS the skip)
      val falsePos = (1000000L until 1000100L)
        .count(k => bloom.findHash(bloom.hash(k)))
      assert(falsePos < 10, s"$falsePos/100 absent keys hit — filter useless")
    } finally reader.close()
  }

  test("partitioned layout enables partition pruning in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("psink2").toString
    ParquetSink.writePartitioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "part"), dir, Seq("part"))
    val plan = spark.read.parquet(dir).where(col("part") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"))
  }
}
