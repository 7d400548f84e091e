package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional extra args: run only these queries (local iteration aid;
    // the driver always calls with exactly two args = full dump)
    val Array(sfDir, outDir, only @ _*) = args
    val spark = Driver.session(Driver.cpus).getOrCreate()
    new java.io.File(outDir).mkdirs()
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(rm))
      p.delete(); ()
    }
    // Canonical dump order: sort by every orderable column (name-sorted)
    // so the single output file is byte-stable across runs — insurance
    // against any order sensitivity in the driver's hash (round-6
    // q_transitions flake). Map-typed columns are not orderable in
    // Spark and are skipped as sort keys.
    def orderable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => orderable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => orderable(a.elementType)
      case _ => true
    }
    val results = Driver.eachQuery(spark, "verify", only) { (name, query) =>
      // delete any STALE dump from a prior run into the same outDir
      // first: if this query fails, the driver must not compare old
      // results as current
      rm(new java.io.File(s"$outDir/$name"))
      val df = query(spark, sfDir)
      val keys = df.schema.fields.filter(f => orderable(f.dataType))
        .map(_.name).sorted.map(org.apache.spark.sql.functions.col)
      val sorted = if (keys.isEmpty) df else df.coalesce(1).sortWithinPartitions(keys: _*)
      sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // a failure found after the dump was written (a cache the query left
    // behind) must not leave a dump the compare would pass
    for ((name, None) <- results) rm(new java.io.File(s"$outDir/$name"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
