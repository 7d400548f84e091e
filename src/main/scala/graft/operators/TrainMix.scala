package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Md5Long

/** Training-batch assembly: the last mile from a curated corpus to what a
  * trainer actually reads. Three primitives, all deterministic (no rand()
  * anywhere — retries, reruns, and the DuckDB oracle agree cell-exactly)
  * and all built on the repo's skew-safe distributed prefix-sum machinery
  * ([[Stats.withRunningTotal]], global or per group) so none of
  * them degenerates into a single-task global window at corpus scale:
  *
  *  - [[temperatureSample]] — WHAT to sample: per-source keep rates from
  *    temperature-flattened source shares (the multilingual-corpus mixing
  *    scheme: rare sources are upsampled relative to their natural share,
  *    bulk sources downsampled).
  *  - [[packSequences]]     — HOW to pack it: concat-and-chunk assignment
  *    of every document into fixed token-budget training sequences.
  *  - [[shardLayout]]       — WHERE it lands: deterministic shard
  *    assignment + a within-shard read order from a content hash, so the
  *    training order is a reproducible global shuffle.
  *
  * Reference anchor: the reference's pipelines end at warehouse tables
  * (src/data_processors write DuckDB/Postgres tables); these operators are
  * the mandated training-data extension of that hand-off boundary.
  */
object TrainMix {

  /** Temperature-based mixture sampling at alpha = 0.5: source `s` with
    * token mass `n_s` gets keep rate `sqrt(min_n) / sqrt(n_s)` — the
    * smallest source keeps everything, a source 100x larger keeps 10%, so
    * sampled shares are proportional to `sqrt(n_s)` (the flattened
    * distribution `p_s^alpha` that multilingual pretraining mixes use to
    * keep bulk sources from drowning rare ones).
    *
    * alpha is FIXED at 0.5 because sqrt is the one power IEEE 754
    * requires to be correctly rounded — `pow(x, a)` is libm-dependent
    * and would break cross-engine cell-exactness; the rate is floored to
    * integer ppm immediately and everything downstream is exact integer
    * math ([[Stats.hashSample]]'s md5 threshold).
    *
    * Plan shape: one groupBy(source) token-mass pass, a 1-row min
    * broadcast into the per-source rate table (broadcast — sources are
    * few by definition), then a scan-level hash filter on the corpus:
    * the 100 TB side is never shuffled.
    *
    * Null sources are excluded (same contract as
    * [[Curate.balancedSample]]: a phantom null group must not set
    * `min_n`). Output adds `rate_ppm` so audits can see the applied
    * mixture. */
  def temperatureSample(df: DataFrame, sourceCol: String, tokensCol: String,
                        key: Column): DataFrame =
    Stats.hashSample(
      df.join(broadcast(rateTable(df, sourceCol, tokensCol)), Seq(sourceCol)),
      key, col("rate_ppm"))

  /** The one rate derivation both mixture halves share (mass -> min ->
    * `floor(1e6 * sqrt(min_n) / sqrt(n_s))` ppm): [[temperatureSample]]
    * joins it broadcast, [[mixtureRates]] collects it — a single
    * definition so the streaming gate's "stream selects the same
    * documents as batch" contract cannot drift between copies. */
  private def rateTable(df: DataFrame, sourceCol: String,
                        tokensCol: String): DataFrame = {
    // sources with zero (or null/negative) token mass are excluded like
    // null sources, for the same reason: one all-empty source would set
    // min_n = 0 and zero EVERY source's rate — temperatureSample would
    // silently return an empty corpus, and mixtureRates would NPE on the
    // null sum (review-found). Their rows drop at the rate join exactly
    // as the old NaN rate dropped them — now by contract, not by NaN.
    val mass = df.where(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(sum(col(tokensCol)).as("__n"))
      .where(col("__n") > 0)
    val mn = mass.agg(min(col("__n")).as("__mn"))
    mass.crossJoin(broadcast(mn))
      .select(col(sourceCol),
        // floored at 1 ppm like Curate.balancedSample: a bulk source
        // more than 1e12x the smallest would floor to rate 0 and be
        // DELETED from the mixture instead of heavily downsampled
        greatest(
          floor(lit(1000000.0) * sqrt(col("__mn").cast("double"))
            / sqrt(col("__n").cast("double"))).cast("long"),
          lit(1L)).as("rate_ppm"))
  }

  /** Batch-train half of the train-batch/apply-stream split (the
    * [[Curate.lmModel]] discipline): the per-source temperature rates as
    * a broadcastable map for [[graft.streaming.EventStream
    * .mixtureGateStream]]'s stateless apply. Sources are few by
    * definition (the same contract that lets [[temperatureSample]]
    * broadcast the rate table), so the collect is bounded. */
  def mixtureRates(df: DataFrame, sourceCol: String,
                   tokensCol: String): Map[String, Long] =
    rateTable(df, sourceCol, tokensCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Concat-and-chunk sequence packing: documents are laid out in
    * `orderCols` order, concatenated, and cut every `budget` tokens; each
    * document learns which training sequence its first token lands in
    * (`seq_id`), at what offset (`seq_off`), and how many sequence
    * boundaries cut through it (`n_splits` — the "document fragmented by
    * packing" signal curation reports track, 0 when it fits entirely
    * inside its sequence).
    *
    * The global token offset is [[Stats.withRunningTotal]] with no group
    * columns (range shuffle + bounded offsets collect) — NOT
    * `SUM() OVER (ORDER BY ...)`, whose single task would hold the whole
    * corpus. Zero-token documents are dropped (they occupy no tokens, so
    * "which sequence" is undefined for them).
    *
    * `tokensCol` must be a non-negative integral column. */
  def packSequences(df: DataFrame, orderCols: Seq[Column], tokensCol: String,
                    budget: Long): DataFrame = {
    packedStarts(df, orderCols, tokensCol, budget)
      .withColumn("seq_id", expr(s"__start DIV ${budget}L"))
      .withColumn("seq_off", pmod(col("__start"), lit(budget)))
      .withColumn("n_splits", expr(s"(__cum - 1) DIV ${budget}L") - col("seq_id"))
      .drop("__cum", "__start")
  }

  /** The shared packing prelude (zero-token filter, distributed prefix
    * sum, per-doc start offset) — ONE definition so [[packSequences]]
    * and [[packSegments]]' spec-pinned seq_id/seq_off agreement cannot
    * drift between copies. */
  private def packedStarts(df: DataFrame, orderCols: Seq[Column],
                           tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    Stats.withRunningTotal(
        df.where(col(tokensCol) > 0), Nil, orderCols, col(tokensCol), "__cum")
      .withColumn("__start", col("__cum") - col(tokensCol))
  }

  /** The materialized form of [[packSequences]]: one row per
    * (document, training sequence) SEGMENT — a document spanning k
    * boundary cuts emits k+1 rows, each saying which token range of the
    * doc (`doc_off`, `seg_len`) lands where in which sequence
    * (`seq_id`, `seq_off`). This is the table a trainer (or a
    * token-level writer) actually consumes: per sequence, segments tile
    * `[0, budget)` exactly (the last sequence may be shorter), and per
    * document the segment lengths sum to its token count.
    *
    * Same single distributed prefix sum as [[packSequences]]; the
    * segment explode is a pure expression (`sequence()` over the
    * spanned seq ids — bounded by ceil(L/budget) per doc, never a
    * shuffle). */
  def packSegments(df: DataFrame, orderCols: Seq[Column], tokensCol: String,
                   budget: Long): DataFrame = {
    packedStarts(df, orderCols, tokensCol, budget)
      .withColumn("seq_id", explode(sequence(
        expr(s"__start DIV ${budget}L"), expr(s"(__cum - 1) DIV ${budget}L"))))
      .withColumn("__segs", greatest(col("__start"), col("seq_id") * budget))
      .withColumn("__sege", least(col("__cum"), (col("seq_id") + 1) * budget))
      .select(col("*") +: Seq(
        (col("__segs") - col("__start")).as("doc_off"),
        pmod(col("__segs"), lit(budget)).as("seq_off"),
        (col("__sege") - col("__segs")).as("seg_len")): _*)
      .drop("__cum", "__start", "__segs", "__sege")
  }

  /** Data-constrained epoch planning: how many times to repeat each
    * source when the training token budget exceeds the corpus (the
    * epoch-capped mixing question data-constrained scaling work poses).
    * Budget `T = corpus_tokens * budgetPpm / 1e6` is allocated across
    * sources proportional to the sqrt-flattened weight `w_s =
    * floor(sqrt(n_s))` (integer weights — a SUM of doubles would be
    * ordering-sensitive across engines), capped at `maxEpochs * n_s`
    * per source, by UNROLLED water-filling: `rounds` counts the INITIAL
    * proportional allocation plus `rounds - 1` deterministic
    * redistribution rounds (the oracle unrolls the same shape: initial +
    * rounds-1 CTE rounds; the surplus the caps and floor losses free
    * up is re-shared across still-uncapped sources ∝ w and capped
    * again — the fixed-unroll Lloyd-round discipline), then a closing
    * greedy fill that hands any residual, in (w desc, source) order,
    * to sources with remaining cap room. The closing fill makes the
    * allocation EXACT: `sum(alloc_tokens) == min(T, sum(cap))` always
    * (spec-pinned) — the budget is fully spent unless every source is
    * epoch-capped. Output per source: `n_tokens`, `alloc_tokens`,
    * `epochs_ppm = alloc * 1e6 / n`, and `capped`.
    *
    * All arithmetic is exact: products in DECIMAL(38,0) (long products
    * overflow at 100 TB token counts), floors via the `(a - a % b) / b`
    * decimal idiom (Spark's `DIV` is Long-typed even for decimals —
    * see TfIdf.scoreTfIdf). The per-source table is tiny by contract
    * (cardinality = #sources), so its round aggregates broadcast and
    * the closing fill's ordered window is over a bounded relation —
    * the corpus side remains one groupBy pass. */
  def epochPlan(df: DataFrame, sourceCol: String, tokensCol: String,
                budgetPpm: Long = 3000000L, maxEpochs: Int = 4,
                rounds: Int = 3): DataFrame = {
    // fail fast like packSequences/shardLayout: a negative budget would
    // flow through the decimal floor-div (which truncates toward zero,
    // not floor, for negative operands) into silently negative
    // allocations; zero-mass sources are excluded below like rateTable's
    require(budgetPpm > 0, s"budgetPpm must be positive, got $budgetPpm")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def fdiv(a: String, b: String) =
      s"CAST((($a) - ($a) % ($b)) / ($b) AS DECIMAL(38,0))"
    val dec0 = expr("CAST(0 AS DECIMAL(38,0))")
    // localCheckpoint: every redistribution round (and the closing fill)
    // runs its own tiny-table aggregate action — without materializing
    // the per-source mass here, EACH of those jobs would re-run the
    // corpus groupBy (measured 2.6x on the bench when rounds went 1->3).
    // The table is one row per source (bounded contract).
    val mass = df.where(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(sum(col(tokensCol)).as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("__w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .localCheckpoint()
    val tot = mass.agg(sum("n_tokens").as("__tn"), sum("__w").as("__tw"))
    var cur = mass.crossJoin(broadcast(tot))
      .withColumn("__T", expr(fdiv(
        s"CAST(__tn AS DECIMAL(38,0)) * $budgetPpm", "CAST(1000000 AS DECIMAL(19,0))")))
      .withColumn("__cap", expr(s"CAST(n_tokens AS DECIMAL(38,0)) * $maxEpochs"))
      .withColumn("__alloc", least(expr(fdiv(
        "CAST(__w AS DECIMAL(38,0)) * __T", "CAST(__tw AS DECIMAL(19,0))")),
        col("__cap")))
    for (_ <- 1 until math.max(rounds, 1)) {
      val agg = cur.agg(sum("__alloc").as("__sumA"),
        sum(when(col("__alloc") < col("__cap"), col("__w"))).as("__uw"))
      cur = cur.crossJoin(broadcast(agg))
        .withColumn("__alloc", least(col("__alloc") +
          when(col("__alloc") >= col("__cap") || col("__uw").isNull, dec0)
            .otherwise(expr(fdiv(
              "CAST(__w AS DECIMAL(38,0)) * (__T - CAST(__sumA AS DECIMAL(38,0)))",
              "CAST(__uw AS DECIMAL(19,0))"))),
          col("__cap")))
        .drop("__sumA", "__uw")
    }
    // closing greedy fill: residual R = min(T, sum(cap)) - sum(alloc)
    // goes to cap room in (w desc, source) order — the sequential take is
    // the clamp of (R - room consumed by earlier sources) to [0, room].
    // The window is single-partition BY DESIGN: its input has one row
    // per source (bounded contract), never corpus-scale.
    val fin = cur.agg(sum("__alloc").as("__sumA"), sum("__cap").as("__sumC"))
    cur.crossJoin(broadcast(fin))
      .withColumn("__room", col("__cap") - col("__alloc"))
      .withColumn("__prev", coalesce(sum("__room").over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__w").desc, col(sourceCol))
          .rowsBetween(Long.MinValue, -1)), dec0))
      .withColumn("__R",
        least(col("__T"), col("__sumC").cast("decimal(38,0)")) -
          col("__sumA").cast("decimal(38,0)"))
      .withColumn("__alloc", col("__alloc") +
        greatest(least(col("__room"), col("__R") - col("__prev")), dec0))
      .select(col(sourceCol), col("n_tokens"),
        col("__alloc").cast("long").as("alloc_tokens"),
        expr(fdiv("__alloc * 1000000", "CAST(n_tokens AS DECIMAL(19,0))"))
          .cast("long").as("epochs_ppm"),
        (col("__alloc") === col("__cap")).as("capped"))
  }

  /** Materialize [[shardLayout]] as the files a trainer actually reads:
    * one `shard=N/` directory per shard, rows WITHIN each file in
    * `shard_pos` order (`sortWithinPartitions` after a shard
    * repartition: each shard is written by its own task set, so every
    * file is an ordered run of the shard's read sequence). A reader
    * streaming `shard=K` in file order replays the deterministic
    * global shuffle with zero coordination — and because shard and
    * position derive from content hashes, RE-RUNNING the writer on the
    * same corpus reproduces the same layout bit-for-bit (the retry /
    * resume contract rand()-based shuffles cannot give).
    *
    * `partsPerShard` splits a shard across that many writer tasks
    * (contiguous `shard_pos` ranges via range repartition) — at 100 TB
    * a shard is written in parallel and read as a few ordered files.
    * Size `partsPerShard` so one part fits a writer task: the DEFAULT 1
    * funnels each shard through a single sorting/writing task — fine for
    * the spec-scale layouts this default serves, a multi-TB straggler at
    * corpus scale (aim for shards x partsPerShard >= cluster cores and
    * <= ~1 GB per part). Determinism precondition (shardLayout /
    * interleaveBySource alike): `key` must be UNIQUE per row — two rows
    * sharing a key get identical (shard, __ord) and their within-window
    * tie order (hence shard_pos and the bit-for-bit layout) is not
    * reproducible across runs. */
  def writeShards(df: DataFrame, key: Column, shards: Int, path: String,
                  partsPerShard: Int = 1): Unit =
    shardLayout(df, key, shards)
      .repartitionByRange(shards * math.max(partsPerShard, 1),
        col("shard"), col("shard_pos"))
      .sortWithinPartitions(col("shard"), col("shard_pos"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)

  /** Deterministic round-robin source interleave: the global training
    * ORDER for a multi-source corpus. Within each source, documents get
    * a deterministic shuffled round number (rank by salted content
    * hash); the global order is then (round, source) — round 1 of every
    * source first, then round 2, … — so consecutive training documents
    * cycle through sources instead of draining one source before the
    * next (the curriculum failure mode source-sequential layouts have).
    *
    * The per-source round is [[Stats.withRunningTotal]] grouped by the
    * source (a source holding 30% of the corpus spans many range
    * partitions, not one window task); the global position is a closed
    * form over the per-source sizes — never a global `ROW_NUMBER() OVER
    * (ORDER BY ...)`.
    *
    * Null sources are dropped (same contract as [[temperatureSample]]).
    * Output adds `round` and the 1-based `global_pos`. */
  def interleaveBySource(df: DataFrame, sourceCol: String,
                         key: Column): DataFrame = {
    val hashed = df.where(col(sourceCol).isNotNull)
      .withColumn("__ord", Md5Long.md5Long(concat(lit("i|"), key.cast("string"))))
    val rounds = Stats.withRunningTotal(hashed, Seq(col(sourceCol)),
        Seq(col("__ord"), key), lit(1L), "round")
      .drop("__ord")
    // global_pos in CLOSED FORM instead of a second distributed prefix
    // sum (r22, guide §2.4): `round` is a dense per-source rank, so
    // (source, round) is UNIQUE per row and the rank over
    // (round, source[, key]) decomposes into counting — rows in earlier
    // rounds contribute min(round-1, n_s') each, and within this round
    // one row per earlier source s' with n_s' >= round. The per-source
    // sizes are ONE bounded broadcast row (source cardinality — the
    // same boundedness as the broadcast rate tables above), so the
    // whole second range-shuffle + offsets collect + window pass of the
    // prior form drops out; the key tiebreaker was vacuous (no two rows
    // share (round, source)). Cell-identical by construction; pinned by
    // TrainMixSpec against the two-pass form.
    val counts = hashed.groupBy(col(sourceCol).as("__s"))
      .agg(count(lit(1)).as("__n"))
      .agg(sort_array(collect_list(struct(col("__s"), col("__n"))))
        .as("__sc"))
    rounds.crossJoin(broadcast(counts))
      .withColumn("global_pos", expr(
        "aggregate(__sc, 0L, (a, x) -> a + least(round - 1, x.__n)) + " +
          s"size(filter(__sc, x -> x.__n >= round AND x.__s < $sourceCol))" +
          " + 1L"))
      .drop("__sc")
  }

  /** Deterministic shard layout: every row hashes to one of `shards`
    * output shards (`md5(key) mod shards` — stable across runs, retries,
    * and engines), and gets a dense 1-based `shard_pos` read position
    * inside its shard ordered by an INDEPENDENT salted content hash
    * (prefix "o|" — reusing the shard hash would sort each shard by the
    * very value that is constant mod `shards` within it, leaving runs of
    * colliding order). The result is a reproducible global shuffle: a
    * trainer reading shard files in `shard_pos` order sees a fixed
    * pseudo-random document order with no coordination.
    *
    * `shard_pos` comes from [[Stats.withRunningTotal]] grouped by the
    * shard, NOT `row_number() OVER (PARTITION BY
    * shard)`: with a handful of shards over a 100 TB corpus a
    * per-shard window is a single multi-TB task, while the grouped
    * prefix sum range-partitions on (shard, order-hash) so each shard
    * spans many balanced partitions. */
  def shardLayout(df: DataFrame, key: Column, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val keyed = df
      // 's|' salts the shard hash away from Stats.hashSample's unsalted
      // md5(key) threshold: a temperature-sampled corpus keeps rows with
      // pmod(md5(key), 1e6) < rate, so an UNSALTED shard residue
      // pmod(same hash, shards) is correlated with survival whenever
      // gcd(shards, 1e6) > 1 (8, 10, 100...) — degenerate at
      // shards=1000, rate=900: shards 900-999 get ZERO rows of that
      // source (review-found). The oracle salts identically.
      .withColumn("shard",
        pmod(Md5Long.md5Long(concat(lit("s|"), key.cast("string"))),
          lit(shards.toLong)))
      .withColumn("__ord",
        Md5Long.md5Long(concat(lit("o|"), key.cast("string"))))
    Stats.withRunningTotal(keyed, Seq(col("shard")),
        Seq(col("__ord"), key), lit(1L), "shard_pos")
      .drop("__ord")
  }
}
