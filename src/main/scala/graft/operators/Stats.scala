package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order statistics + skew-safe aggregation.
  *
  * The reference normalises scores with PERCENT_RANK (see ImpactScore);
  * the engine-grade generalisations here are exact discrete quantiles and
  * the two-stage salted aggregate for skewed keys.
  */
object Stats {

  /** Exact discrete quantiles per group: value at rank ceil(q*n)
    * (percentile_disc semantics — picks an actual data value, so results
    * are engine-portable; interpolating percentiles differ across engines
    * in float arithmetic). One shuffle + per-partition sort.
    *
    * NULL values are ignored (percentile_disc semantics — and the only
    * cross-engine-safe choice: Spark orders nulls first, DuckDB last).
    * The rank product is nudged down one part in 10^12 before ceil: the
    * float product of an exact-integer rank can land one ulp HIGH
    * (0.55*100 = 55.000000000000004 -> ceil 56, the 56th value, not the
    * 55th); the oracle applies the identical nudge. */
  def quantileDisc(df: DataFrame, keys: Seq[String], valueCol: String,
                   qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "quantileDisc needs at least one quantile")
    // p-names round to whole percents: two quantiles landing on one name
    // (0.995 and 1.0 both -> p100) would emit duplicate columns and break
    // any by-name downstream reference — refuse loudly
    val names = qs.map(q => s"p${(q * 100).round}")
    require(names.distinct.size == names.size,
      s"quantile column names collide after rounding: $names")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(valueCol))
    val ranked = df.where(col(valueCol).isNotNull)
      // LONG rank: IntegerType row_number wraps past 2^31 rows per group
      // (wrapped ranks spuriously match the probe) — same design-scale
      // guard as histogramQuantiles' decimal ceil-rank
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val aggs = qs.zip(names).map { case (q, name) =>
      // rank floored at 1: percentile_disc(0) is the MINIMUM, but
      // ceil(0*n) = 0 matches no row_number and returned NULL
      // (histogramQuantiles already clamps the same way)
      max(when(col("__rn") === greatest(
          ceil(lit(q) * col("__n") * lit(1.0 - 1e-12)), lit(1L)),
          col(valueCol)))
        .as(name)
    }
    ranked.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail ++ Seq(
        count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v")): _*)
  }

  /** One-pass histogram quantiles over an INTEGRAL value domain — the
    * 100 TB shape for "p50/p90/p99 of a distribution": [[quantileDisc]]
    * is exact but shuffles a per-key sort; this shuffles AT MOST `bins`
    * rows no matter the corpus size (the per-bin counts partial-combine
    * map-side), answering at bin-width resolution. Deterministic and
    * engine-exact by construction: integral domain, integral width
    * (`(hi-lo) % bins == 0` enforced), truncating DIV + edge clamps
    * (negative offsets truncate differently across engines but both
    * clamp to bin 0), ceil-rank in pure integer math.
    *
    * For each requested quantile q (ppm): the first bin whose cumulative
    * count reaches `max(ceil(q*n/1e6), 1)` — i.e. the bin CONTAINING the
    * exact rank statistic (spec-pinned against the sorted reference).
    * Output per q: `q_ppm, bin, bin_lo (inclusive lower bound),
    * cum_count, n`. The cumulative window and the quantile probe run
    * over <= `bins` rows (bounded by contract, like the per-source
    * fill in TrainMix); NULLs are ignored; an empty input yields an
    * empty result. */
  def histogramQuantiles(df: DataFrame, value: Column, lo: Long, hi: Long,
                         bins: Int, qsPpm: Seq[Long]): DataFrame = {
    require(hi > lo && bins > 0, "need hi > lo and bins > 0")
    require((hi - lo) % bins == 0,
      s"bin width must be integral: ($hi - $lo) % $bins != 0")
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 0L && q <= 1000000L),
      "quantiles are ppm in [0, 1e6]")
    val width = (hi - lo) / bins
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.where(value.isNotNull)
      .select(value.cast("long").as("__v"))
      // the offset runs in DECIMAL: (__v - lo) as a Long wraps when lo is
      // negative and a sentinel value sits near Long.MaxValue — the
      // wrapped NEGATIVE offset clamps the largest outlier into bin 0,
      // shifting every cumulative count (review-found). The decimal DIV
      // truncates like the Long DIV did, so in-range bins are unchanged.
      .selectExpr(
        s"LEAST(GREATEST(CAST((CAST(__v AS DECIMAL(38,0)) - ${lo}L) " +
          s"DIV ${width}L AS BIGINT), 0L), ${bins - 1}L) AS bin")
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    // n comes from an unbounded frame over the SAME windowed relation —
    // a separate hist.agg(sum) branch would re-run the corpus groupBy
    // (the plan referenced `hist` twice; caught by the plan pin)
    val cum = hist
      .withColumn("cum", sum("cnt").over(
        Window.orderBy(col("bin")).rowsBetween(Long.MinValue, 0)))
      .withColumn("n", sum("cnt").over(
        Window.orderBy(col("bin")).rowsBetween(Long.MinValue, Long.MaxValue)))
    qsPpm.toDF("q_ppm").crossJoin(cum)
      // ceil-rank in DECIMAL(38,0): q_ppm*n as a Long overflows past
      // ~9.2e12 rows (q_ppm up to 1e6) — within the 100 TB design scale
      .where(col("cum") >= greatest(
        expr("CAST((CAST(q_ppm AS DECIMAL(38,0)) * n + 999999) " +
          "DIV 1000000 AS BIGINT)"), lit(1L)))
      // cum is monotone in bin, so MIN(cum) rides with MIN(bin)
      .groupBy("q_ppm")
      .agg(min("bin").as("bin"), min("cum").as("cum_count"),
        first("n").as("n"))
      .select(col("q_ppm").cast("long").as("q_ppm"),
        col("bin").cast("long").as("bin"),
        (lit(lo) + col("bin") * lit(width)).cast("long").as("bin_lo"),
        col("cum_count").cast("long").as("cum_count"),
        col("n").cast("long").as("n"))
  }

  /** Exact count of rows strictly below each distinct `scoreCol` value,
    * with NO single-partition window: the distinct-score table is
    * range-partitioned (Spark's RangePartitioner — sampled boundaries, so
    * the split stays balanced under ANY score distribution, unlike
    * equi-width histogram buckets which collapse under skew), each range
    * partition learns its global offset from one bounded collect of
    * per-partition totals, and the only windows are partitioned by range
    * id. Partition boundaries only balance the work — ANY monotonic split
    * yields the same counts, because the offsets absorb whatever lands in
    * each partition.
    *
    * This is the scale-safe replacement for `rank()/percent_rank() OVER
    * (ORDER BY score)` with no PARTITION BY, which moves the entire
    * dataset into one task. Cost shape: one groupBy(score) shuffle, one
    * range shuffle of the (already aggregated) distinct-score table, ONE
    * driver collect of `numParts` totals (a bounded constant, like
    * broadcasting k-means centroids), range-partitioned windows, and an
    * equi-join back to the caller.
    *
    * Returns (DataFrame(scoreCol, __cnt_less), totalRowCount).
    *
    * Null scores are DROPPED (a global window would order them first
    * instead) — callers rank non-null measures; coalesce upstream if null
    * ranks are needed.
    *
    * Fast path: when the distinct-score histogram fits `maxDriverHist`
    * rows (probed with a sorted LIMIT, the capByFreq discipline — the
    * scan stops at maxDriverHist + 1 groups, it never collects an
    * unbounded set), the prefix sums are computed on the driver in ONE
    * action and returned as a broadcast LocalRelation. That folds the
    * range shuffle, its sampling pass, the per-partition offset collect,
    * and the offset windows into a single job, and the caller's
    * join-back becomes a map-side broadcast hash join — at sf1.5 the
    * rank tail of q_model_authority_scores dropped from ~12 AQE stages
    * to 1. Post-aggregation score tables are bounded by the score
    * domain, not the row count (an integer impact score has thousands of
    * distinct values at any SF), so the fast path is the one that fires
    * at the 100 TB design point too; a genuinely high-cardinality score
    * column (e.g. ranking on a float measure) overflows the probe and
    * falls back to the proven range machinery unchanged.
    */
  def cumLess(df: DataFrame, scoreCol: String,
              numParts: Int = 0,
              maxDriverHist: Int = 1 << 18): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    if (maxDriverHist > 0) {
      val grouped0 = df.where(col(scoreCol).isNotNull)
        .groupBy(col(scoreCol)).agg(count(lit(1)).as("__cnt"))
      // sorted limit-probe: TakeOrderedAndProject ships only the first
      // maxDriverHist + 1 (score, cnt) pairs to the driver — bounded
      // state (~16 B/row), like broadcasting k-means centroids
      val probe = grouped0.sort(col(scoreCol).asc)
        .limit(math.min(maxDriverHist.toLong + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (probe.length <= maxDriverHist) {
        var acc = 0L
        val rows = probe.map { r =>
          val c = r.getLong(1); val off = acc; acc += c
          org.apache.spark.sql.Row(r.get(0), off)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          grouped0.schema.head,
          org.apache.spark.sql.types.StructField("__cnt_less",
            org.apache.spark.sql.types.LongType, nullable = false)))
        import scala.jdk.CollectionConverters._
        return (broadcast(spark.createDataFrame(rows.toSeq.asJava, schema)),
          acc)
      }
      // else: fall through to the distributed range path (the probe's
      // groupBy shuffle re-runs there; callers cache their input, so the
      // recompute reads the cache, not the raw pipeline)
    }
    // persisted at the range shuffle: the totals job and the window job
    // must see the SAME partition ids (they do regardless — RangePartitioner
    // boundary sampling is seeded deterministically — but the cache also
    // saves recomputing the groupBy).
    // numParts <= 0 leaves the count to AQE: without an explicit N the
    // range shuffle is coalescable, so a post-aggregation score table of
    // a few thousand rows runs its offset window in 1-2 tasks instead of
    // numShufflePartitions near-empty ones (the offsets absorb ANY
    // monotonic split, so the partition count is pure cost tuning).
    // Coalescing merges ADJACENT range partitions — ids stay contiguous
    // and monotonic, which is all the prefix-sum needs.
    val grouped = df.where(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol)).agg(count(lit(1)).as("__cnt"))
    val ranged =
      if (numParts > 0) grouped.repartitionByRange(numParts, col(scoreCol))
      else grouped.repartitionByRange(col(scoreCol))
    val parted =
      graft.PersistScope.cache(ranged.withColumn("__p", spark_partition_id()))
    val totals = parted.groupBy("__p").agg(sum("__cnt").as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (totals.isEmpty)
      return (parted.select(col(scoreCol), lit(0L).as("__cnt_less")), 0L)
    val totalN = totals.iterator.map(_._2).sum
    // exclusive prefix sums: rows in strictly-lower range partitions
    val offsets = totals.map(_._1).zip(totals.map(_._2).scanLeft(0L)(_ + _))
    val offDf = offsets.toSeq.toDF("__p", "__off")
    val w = Window.partitionBy(col("__p")).orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cl = parted
      .withColumn("__within", coalesce(sum(col("__cnt")).over(w), lit(0L)))
      .join(broadcast(offDf), Seq("__p"))
      .select(col(scoreCol), (col("__off") + col("__within")).as("__cnt_less"))
    (cl, totalN)
  }

  /** `percent_rank() OVER (ORDER BY scoreCol) * 100` as a join-back —
    * cell-identical to the window form (rank-with-ties = cnt_less + 1,
    * same (rank-1)/(n-1) double division, same *100), but distributed:
    * see [[cumLess]]. Callers with an expensive upstream should persist
    * `df` — it is scanned twice (histogram + join-back).
    *
    * NULL-score rows are DROPPED (the cumLess contract), and `n` counts
    * non-null rows only — the window form would instead order nulls
    * first and count them; coalesce upstream if null ranks are needed.
    * Same caveat for [[withNtile]]. */
  def withPercentRank100(df: DataFrame, scoreCol: String, outCol: String): DataFrame = {
    val (cl, n) = cumLess(df, scoreCol)
    val denom = lit(math.max(n - 1L, 1L).toDouble)
    df.join(cl, Seq(scoreCol))
      .withColumn(outCol, col("__cnt_less").cast("double") / denom * 100)
      .drop("__cnt_less")
  }

  /** `NTILE(buckets) OVER (ORDER BY coarseCol, tieCols...)` without a
    * global window: global row_number = cnt_less(coarseCol) + a
    * per-coarse-value row_number (partitioned window), then the standard
    * ntile fill — first N % buckets buckets take one extra row — as a
    * scalar integer expression over (rn, N). */
  def withNtile(df: DataFrame, coarseCol: String, tieCols: Seq[Column],
                buckets: Int, outCol: String): DataFrame = {
    val (cl, n) = cumLess(df, coarseCol)
    val base = n / buckets
    val rem = n % buckets
    val threshold = rem * (base + 1)
    val w = Window.partitionBy(col(coarseCol)).orderBy(tieCols: _*)
    df.join(cl, Seq(coarseCol))
      .withColumn("__rn", col("__cnt_less") + row_number().over(w))
      .withColumn(outCol, expr(
        s"CAST(CASE WHEN $base = 0 OR __rn <= $threshold " +
          s"THEN (__rn - 1) DIV ${base + 1} + 1 " +
          s"ELSE $rem + (__rn - $threshold - 1) DIV $base + 1 END AS INT)"))
      .drop("__cnt_less", "__rn")
  }

  /** Global INCLUSIVE running total of `weight` in `orderCols` order,
    * with no single-partition window: the rows are range-partitioned on
    * the order columns (RangePartitioner — sampled boundaries, balanced
    * under any distribution), each range partition learns the total
    * weight of all strictly-earlier partitions from one bounded collect,
    * and the running sum inside each partition is an ordinary partitioned
    * window. The classic distributed prefix-sum, vs `SUM(w) OVER (ORDER
    * BY ...)`'s whole-table single task. It costs one range shuffle, one
    * `numParts`-row collect, and a SECOND full shuffle: the window's
    * `partitionBy(__p)` asks for hash clustering on `__p`, and the
    * planner cannot see that the range partitioning already clusters
    * the rows by their partition id, so the whole relation is
    * re-shuffled by `hashpartitioning(__p)` before the window.
    *
    * The input is persisted (the totals job and the window job both scan
    * it); callers streaming 100 TB through this should pass a projection
    * of only the columns they need downstream.
    *
    * `orderCols` must be a TOTAL order (append a unique id as the final
    * tiebreak, as every caller in this repo does): the within-partition
    * frame is ROWS-based, so rows TIED on the full ordering receive
    * arbitrary, run-varying prefixes (the SQL default RANGE frame would
    * instead give all ties the tie-group-inclusive total — neither is
    * meaningful without a total order). Same contract for
    * [[withRunningTotalBy]].
    *
    * `weight` must be NON-NULL (integral): the per-partition offset
    * coalesces an all-NULL-weight prefix to 0 where the single-window
    * SQL form `SUM(w) OVER (ORDER BY ...)` (and DuckDB) would yield
    * NULL — equivalence to the window form holds only under non-null
    * weights, which every caller in this repo satisfies (counts and
    * token lengths). Coalesce a nullable weight upstream if NULL
    * prefixes must stay NULL. */
  def withRunningTotal(df: DataFrame, orderCols: Seq[Column], weight: Column,
                       outCol: String, numParts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (numParts > 0) numParts else spark.sessionState.conf.numShufflePartitions
    val parted = graft.PersistScope.cache(df
      .repartitionByRange(parts, orderCols: _*)
      .withColumn("__p", spark_partition_id())
      .withColumn("__w", weight.cast("long"))) // integral weights: exact, order-free
    val totals = parted.groupBy("__p").agg(coalesce(sum("__w"), lit(0L)).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (totals.isEmpty)
      return parted.withColumn(outCol, col("__w")).drop("__p", "__w")
    // exclusive prefix sums: weight in strictly-earlier range partitions
    val offsets = totals.map(_._1).zip(totals.map(_._2).scanLeft(0L)(_ + _))
    val offDf = offsets.toSeq.toDF("__p", "__off")
    val w = Window.partitionBy(col("__p")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      // coalesce like cumLess: a partition slice whose prefix weights are
      // all NULL must contribute 0, not null the carried offset — the
      // single-window form this replaces sums across the boundary and
      // never sees the all-null prefix (review-found)
      .withColumn("__within", coalesce(sum(col("__w")).over(w), lit(0L)))
      .join(broadcast(offDf), Seq("__p"))
      .withColumn(outCol, col("__off") + col("__within"))
      .drop("__p", "__w", "__within", "__off")
  }

  /** Per-GROUP inclusive running total of `weight` in `orderCols` order,
    * with no per-group single-task window even when one group dominates
    * the data: rows are range-partitioned on (group, order) — a group
    * occupying 30% of a 100 TB corpus spans many contiguous range
    * partitions instead of landing in one window task. Each range
    * partition's slice of a group learns the group's weight in
    * strictly-earlier partitions from a window over the per-(partition,
    * group) totals (≤ numParts rows per group — aggregated data, never
    * the raw rows), then adds an ordinary (partition, group)-local
    * running sum. Unlike [[withRunningTotal]] there is no EXPLICIT
    * driver collect — the offset table stays a DataFrame — though the
    * broadcast join-back does materialize it (~numParts + spanning
    * groups rows; with extreme group cardinality drop the broadcast
    * hint or raise numParts).
    *
    * This is `SUM(w) OVER (PARTITION BY g ORDER BY ...)` made safe for
    * skewed/low-cardinality `g`. The input is persisted (totals pass +
    * window pass); pass a pruned projection at 100 TB. */
  def withRunningTotalBy(df: DataFrame, groupCols: Seq[Column],
                         orderCols: Seq[Column], weight: Column,
                         outCol: String, numParts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts else spark.sessionState.conf.numShufflePartitions
    val parted = graft.PersistScope.cache(df
      .repartitionByRange(parts, (groupCols ++ orderCols): _*)
      .withColumn("__p", spark_partition_id())
      .withColumn("__w", weight.cast("long"))) // integral weights: exact, order-free
    val groupNames = groupCols.indices.map(i => s"__g$i")
    val gCols = groupCols.zip(groupNames).map { case (c, n) => c.as(n) }
    // per-(partition, group) totals: bounded by rows-per-partition but in
    // practice ~(numParts + spanning groups) rows — aggregated, cheap
    val pg = parted.select(col("__p") +: col("__w") +: gCols: _*)
      .groupBy("__p", groupNames: _*).agg(sum("__w").as("__t"))
    // exclusive prefix across partitions WITHIN each group: window over
    // the aggregated totals, partitioned by group (≤ numParts rows each)
    val wOff = Window.partitionBy(groupNames.map(col): _*).orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = pg.withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .drop("__t")
    val wIn = Window.partitionBy(col("__p") +: groupNames.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE join back: an equi-join on the group columns would
    // silently DROP every null-group row (null never satisfies EqualTo),
    // while the window form this replaces keeps them as their own group
    val offR = off.select(
      (col("__p").as("__po") +: groupNames.map(n => col(n).as(n + "o"))) :+
        col("__off"): _*)
    val joinCond = (col("__p") === col("__po")) +: groupNames.map(n =>
      col(n) <=> col(n + "o"))
    parted.select(col("*") +: gCols: _*)
      .withColumn("__within", coalesce(sum(col("__w")).over(wIn), lit(0L)))
      .join(broadcast(offR), joinCond.reduce(_ && _))
      .withColumn(outCol, col("__off") + col("__within"))
      .drop("__p" :: "__po" :: "__w" :: "__within" :: "__off" ::
        (groupNames.toList ++ groupNames.map(_ + "o")): _*)
  }

  /** Deterministic hash sampling: keep a row iff
    * `md5hash(key) mod 1e6 < fractionPpm`. Reproducible across runs,
    * retries, and engines (never `rand()` — a task retry with rand()
    * silently changes the sample), shuffle-free (a scan filter), and
    * stratified by passing a per-row ppm expression (e.g. a CASE over the
    * stratum column: oversample rare strata, downsample bulk). Null keys
    * are never sampled (null predicate). The training-data downsampling
    * primitive. */
  def hashSample(df: DataFrame, key: Column, fractionPpm: Column): DataFrame =
    df.where(
      pmod(graft.plans.Md5Long.md5Long(key.cast("string")), lit(1000000L))
        < fractionPpm)

  /** Exact-k deterministic sample per group (the few-shot / per-category
    * selection primitive): rank rows inside each group by their key's
    * md5-derived hash (a uniform deterministic shuffle — same winners on
    * every run, retry, and engine; never rand()) and keep the first k.
    * One hash shuffle on the group key; the per-group window streams
    * (row_number, no full materialization). Complements [[hashSample]]
    * (rate-based) with an exact-count contract.
    *
    * Determinism requires `key` UNIQUE per row: two rows sharing a key
    * tie on both sort expressions, and which crosses a k-boundary can
    * change across retries (the writeShards precondition). */
  def groupSample(df: DataFrame, groupCols: Seq[String], key: Column,
                  k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(graft.plans.Md5Long.md5Long(key.cast("string")), key)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Two-stage salted aggregation for skewed group keys: stage 1 groups on
    * (key, salt) spreading a hot key over `salts` reducers (map-side
    * partial agg still applies), stage 2 merges the partials. Results are
    * identical to a direct groupBy for INTEGRAL/decimal sums (this
    * repo's discipline); float sums would round differently through the
    * extra merge order and break cell-exact oracle comparison. Salt must
    * be deterministic per row (not rand()) so retries/oracles agree. */
  def saltedAgg(df: DataFrame, key: String, saltSrc: Column, salts: Int,
                sums: Seq[(String, Column)]): DataFrame = {
    val stage1 = df
      .withColumn("__salt", pmod(saltSrc, lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__cnt"),
        sums.map { case (n, c) => sum(c).as(s"__s_$n") }: _*)
    stage1.groupBy(col(key))
      .agg(sum("__cnt").as("n_rows"),
        sums.map { case (n, _) => sum(s"__s_$n").as(n) }: _*)
  }
}
