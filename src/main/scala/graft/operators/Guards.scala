package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The two plan-construction guards operators share: a parallelism floor
  * for under-split inputs and a probe-first bounded driver collect. */
private[graft] object Guards {

  /** `df` repartitioned to `want` partitions when its plan has fewer,
    * else `df` itself (no exchange). The count is that of the frame's
    * own physical plan (`queryExecution.toRdd`), the same number
    * `Dataset.rdd` reports, without planning the extra full-width
    * `DeserializeToObject` that `Dataset.rdd` puts on top. Planning
    * still happens at build time and reads the pre-AQE partition
    * count, so callers floor map-only chains (scans and projections),
    * where AQE has nothing to coalesce. */
  def floorPartitions(df: DataFrame, want: Int): DataFrame =
    if (df.queryExecution.toRdd.getNumPartitions < want) df.repartition(want)
    else df

  /** The rows of `df` if there are at most `bound` of them, else fails
    * with `message`. The probe is `limit(bound + 1)`, so an oversized
    * input stops scanning one row past the bound instead of
    * materializing on the driver. A bound of `Int.MaxValue` or more is
    * uncapped (no array holds more rows); clamping here keeps the `+ 1`
    * from wrapping. */
  def collectAtMost(df: DataFrame, bound: Long)(message: => String): Array[Row] = {
    val rows =
      if (bound >= Int.MaxValue) df.collect() else df.limit(bound.toInt + 1).collect()
    require(rows.length <= bound, message)
    rows
  }
}
