package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

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
    * with NO single-partition window.
    *
    * This is the scale-safe replacement for `rank()/percent_rank() OVER
    * (ORDER BY score)` with no PARTITION BY, which moves the entire
    * dataset into one task.
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
    * at the 100 TB design point too. A genuinely high-cardinality score
    * column (e.g. ranking on a float measure) overflows the probe and
    * falls back to [[withRunningTotal]] over the (score, count)
    * histogram: count-less = inclusive running count − the score's own
    * count.
    */
  def cumLess(df: DataFrame, scoreCol: String,
              maxDriverHist: Int = 1 << 18): (DataFrame, Long) = {
    val spark = df.sparkSession
    val grouped = df.where(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol)).agg(count(lit(1)).as("__cnt"))
    if (maxDriverHist > 0) {
      // sorted limit-probe: TakeOrderedAndProject ships only the first
      // maxDriverHist + 1 (score, cnt) pairs to the driver — bounded
      // state (~16 B/row), like broadcasting k-means centroids
      val probe = grouped.sort(col(scoreCol).asc)
        .limit(math.min(maxDriverHist.toLong + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (probe.length <= maxDriverHist) {
        var acc = 0L
        val rows = probe.map { r =>
          val c = r.getLong(1); val off = acc; acc += c
          Row(r.get(0), off)
        }
        val schema = StructType(Seq(grouped.schema.head,
          StructField("__cnt_less", LongType, nullable = false)))
        return (broadcast(spark.createDataFrame(rows.toSeq.asJava, schema)),
          acc)
      }
      // else: fall through to the distributed prefix sum (the probe's
      // groupBy shuffle re-runs there; callers cache their input, so the
      // recompute reads the cache, not the raw pipeline)
    }
    val (cum, n) = runningTotal(grouped, Nil, Seq(col(scoreCol)),
      col("__cnt"), "__cnt_less")
    (cum.select(col(scoreCol), (col("__cnt_less") - col("__cnt")).as("__cnt_less")),
      n)
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

  /** INCLUSIVE running total of `weight` in `orderCols` order within
    * each group of `groupCols` (`Nil`: one global total) — `SUM(w) OVER
    * (PARTITION BY g ORDER BY ...)` with no single-task window, even
    * when there is no group or one group holds most of the data. The
    * classic distributed prefix sum, in four steps:
    *  1. range-partition the rows on `groupCols ++ orderCols` into
    *     `spark.sql.shuffle.partitions` partitions (RangePartitioner —
    *     sampled boundaries, balanced under any distribution, so a group
    *     holding 30% of a 100 TB corpus spans many contiguous partitions)
    *     and persist them: the totals job and the window both scan it;
    *  2. collect the weight total of every (partition, group) slice in
    *     one job. A range partition holds a contiguous run of groups, so
    *     that is at most #groups + #partitions rows of driver state —
    *     aggregated, never the raw rows, and the same rows the broadcast
    *     in step 4 holds on the driver anyway;
    *  3. on the driver, each slice's exclusive offset: its group's
    *     weight in strictly-earlier partitions;
    *  4. add the offsets to a (partition, group)-local ROWS running
    *     window through a broadcast LocalRelation, joined NULL-SAFELY on
    *     the group columns: an equi-join would drop every null-group
    *     row, while the window form keeps them as their own group.
    *
    * Besides the range shuffle, it costs a SECOND full shuffle: the
    * window's `partitionBy(__p, ...)` asks for hash clustering, and the
    * planner cannot see that the range partitioning already clusters
    * the rows by their partition id, so the whole relation is
    * re-shuffled by `hashpartitioning(__p, ...)` before the window.
    * Callers streaming 100 TB through this should pass a projection of
    * only the columns they need downstream.
    *
    * `orderCols` must be a TOTAL order within a group (append a unique
    * id as the final tiebreak, as every caller in this repo does): the
    * within-slice frame is ROWS-based, so rows TIED on the full ordering
    * receive arbitrary, run-varying prefixes (the SQL default RANGE
    * frame would instead give all ties the tie-group-inclusive total —
    * neither is meaningful without a total order).
    *
    * `weight` must be NON-NULL and integral; sums are exact longs. A
    * slice whose prefix weights are all NULL contributes 0 where the
    * window form `SUM(w) OVER (...)` (and DuckDB) would yield NULL —
    * equivalence holds only under non-null weights, which every caller
    * in this repo satisfies (counts and token lengths). Coalesce a
    * nullable weight upstream if NULL prefixes must stay NULL.
    *
    * Empty input returns the input with `outCol` added. */
  def withRunningTotal(df: DataFrame, groupCols: Seq[Column],
                       orderCols: Seq[Column], weight: Column,
                       outCol: String): DataFrame =
    runningTotal(df, groupCols, orderCols, weight, outCol)._1

  /** [[withRunningTotal]] plus the sum of every weight, which the
    * collected slice totals give for free. */
  private[operators] def runningTotal(df: DataFrame,
      groupCols: Seq[Column], orderCols: Seq[Column], weight: Column,
      outCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parted = graft.PersistScope.cache(df
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        (groupCols ++ orderCols): _*)
      .withColumn("__p", spark_partition_id())
      .withColumn("__w", weight.cast("long"))) // integral weights: exact, order-free
    val slices = parted.groupBy(col("__p") +: groupCols: _*)
      .agg(coalesce(sum("__w"), lit(0L)).as("__t"))
    val totals = slices.collect().sortBy(_.getInt(0))
    if (totals.isEmpty)
      return (parted.withColumn(outCol, col("__w")).drop("__p", "__w"), 0L)
    // exclusive prefix sums: the group's weight in strictly-earlier
    // partitions (a Row's Seq equality keeps NULL keys one group)
    val carried = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    val offsets = totals.map { r =>
      val g = r.toSeq.slice(1, r.length - 1)
      val off = carried.getOrElse(g, 0L)
      carried(g) = off + r.getLong(r.length - 1)
      Row.fromSeq(r.toSeq.init :+ off)
    }
    val keys = groupCols.indices.map(i => s"__g$i")
    val keyFields = slices.schema.fields.slice(1, 1 + groupCols.size)
      .zip(keys).map { case (f, k) => f.copy(name = k) }
    val offDf = spark.createDataFrame(offsets.toSeq.asJava, StructType(
      StructField("__po", IntegerType, nullable = false) +: keyFields :+
        StructField("__off", LongType, nullable = false)))
    val on = groupCols.zip(keys).foldLeft(col("__p") === col("__po")) {
      case (c, (g, k)) => c && (g <=> col(k))
    }
    val w = Window.partitionBy(col("__p") +: groupCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (parted
      .withColumn("__within", coalesce(sum(col("__w")).over(w), lit(0L)))
      .join(broadcast(offDf), on)
      .withColumn(outCol, col("__off") + col("__within"))
      .drop(Seq("__p", "__po", "__w", "__within", "__off") ++ keys: _*),
      totals.iterator.map(r => r.getLong(r.length - 1)).sum)
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
