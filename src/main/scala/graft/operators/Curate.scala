package graft.operators

import graft.PersistScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators for training-data pipelines: benchmark
  * decontamination (train/eval n-gram overlap), the counterpart of the
  * reference's cross-dataset integrity checks (reference:
  * dbt/models/marts/street_manager quality models join two datasets to
  * find leaked keys; here the "key" is a token n-gram and the scale shape
  * is an inverted-index equi-join).
  */
object Curate {

  /** Benchmark contamination: every (corpus doc, benchmark doc) pair
    * sharing at least `minShared` distinct token `n`-grams, with the
    * fraction of the benchmark doc's n-grams covered (exact integer ppm —
    * engine-portable, no float division).
    *
    * Plan shape: both sides explode to distinct (doc, ngram) rows via the
    * native [[graft.plans.NGrams]] expression; candidates come from an
    * EQUI-join on the n-gram (inverted index), never a doc x doc scan.
    *
    * `maxNgramDf` drops n-grams present in more than that many BENCHMARK
    * docs (cross-benchmark boilerplate) before the join. That cap is what
    * makes the join linear at 100 TB: each corpus n-gram row fans out to
    * at most `maxNgramDf` pairs, so candidate volume is
    * O(|corpus n-grams| * maxNgramDf) regardless of how hot a phrase is.
    * The oracle applies the identical cap, so results stay cell-exact.
    *
    * At real scale the benchmark side is tiny (eval sets) and the corpus
    * side is the 100 TB relation: the join shuffles the corpus once on the
    * n-gram; AQE broadcasts the capped benchmark index when it fits.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    n: Int, minShared: Int,
                    maxNgramDf: Int = Int.MaxValue,
                    broadcastBenchMaxRows: Long = 4000000): DataFrame = {
    // xxhash64 the shingle strings right after the map stage: the join
    // key, the df-cap key, and the BROADCAST payload all shrink to
    // 8-byte longs (the jaccardPairs discipline — identical results
    // modulo 2^-64 collisions; the shingle text never reaches the output)
    def hashed(df: DataFrame): DataFrame =
      Dedup.shingleRows(df, idCol, textCol, n)
        .select(col("doc"), xxhash64(col("sh")).as("sh"))
    val benchAll = hashed(benchmark)
    // capped benchmark inverted index: consumed three times (probe, join,
    // per-doc totals) — materialize once; the cap itself is the shared
    // hot-key anti-join (Dedup.capByFreq), never a count-over-window on
    // the skewed key
    val bench = Dedup.capByFreq(PersistScope.cache(benchAll), Seq("sh"),
      maxNgramDf, Seq("doc", "sh"))
    // broadcast-or-shuffle guard, measured on the quantity that is
    // actually broadcast: the capped INDEX's (doc, ngram) ROWS — a
    // benchmark of few-but-long documents passes any doc-count probe
    // while its index is far beyond broadcastable (review-found). The
    // probe is one driver job at plan-construction time over the
    // benchmark side only (eval sets are small by nature; the limit
    // stops the scan at rowCap+1 rows, and the probe warms the cache the
    // join reads). Callers that must stay construction-lazy pass
    // broadcastBenchMaxRows = 0 to force the shuffle path probe-free.
    val rowCap = math.min(broadcastBenchMaxRows,
      (Int.MaxValue - 1).toLong).toInt.max(0)
    val benchIsSmall = rowCap > 0 &&
      bench.limit(rowCap + 1).count() <= rowCap
    // Broadcasting removes every exchange upstream of the pair count, so
    // the whole shingle-explode + probe + partial-agg pipeline runs at
    // the SCAN's parallelism — which for an under-split input (few
    // parquet files) is the file count, not the cluster. Floor it before
    // shingling: the repartition moves raw documents once (bounded by
    // numPartitions x maxPartitionBytes, i.e. only ever cheap inputs)
    // and is a no-op at real scale where file count >= cores. Measured
    // at sf1.5 (one 8 MB file, local[32]): broadcast without the floor
    // 56 s — single task; with it 4.2 s vs 7.8 s for the shuffled join.
    val corpSrc =
      if (benchIsSmall) Guards.floorPartitions(corpus,
        corpus.sparkSession.sparkContext.defaultParallelism)
      else corpus
    val corp = hashed(corpSrc)
    val nBench = bench.groupBy(col("doc").as("doc_b"))
      .agg(count(lit(1)).as("n_bench_sh"))
    val benchIdx = bench.select(col("doc").as("doc_b"), col("sh"))
    val joinSide = if (benchIsSmall) broadcast(benchIdx) else benchIdx
    corp.select(col("doc").as("doc_a"), col("sh"))
      .join(joinSide, Seq("sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      // the per-doc totals follow the same guard: nBench is one row per
      // benchmark doc, far smaller than the index, so whenever the index
      // broadcast, this broadcasts too. On the shuffle path this join
      // re-exchanges the pair frame (its (doc_a, doc_b) hash partitioning
      // does not satisfy a doc_b-only join) — the pair frame is already
      // minShared-filtered by then, the smallest relation in the plan
      .join(if (benchIsSmall) broadcast(nBench) else nBench, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_bench_sh"),
        expr("(n_shared * 1000000) DIV n_bench_sh").as("coverage_ppm"))
  }


  /** Exact integer `a * 1e6 floor-div b` at ANY count: the raw BIGINT
    * product wraps silently past a ~9.2e12 count (a stop-word bigram at
    * PB scale) under non-ANSI Spark; decimal `(x - x % b) / b` is the
    * exact floor (IntegralDivide returns LongType even for decimal
    * operands — see TfIdf.scoreTfIdf), and the quotient is <= 1e6 so the
    * final BIGINT cast is safe. The oracle side needs nothing: DuckDB
    * widens to INT128. */
  private[operators] def ppmDivSql(a: String, b: String): String = {
    val x = s"(CAST($a AS DECIMAL(38,0)) * 1000000)"
    val d = s"CAST($b AS DECIMAL(38,0))"
    s"CAST(($x - $x % $d) / $d AS BIGINT)"
  }

  /** Token-budget corpus selection: rank documents by a quality ordering
    * and keep the prefix whose INCLUSIVE cumulative token count fits the
    * budget — "take the best docs until N tokens", the standard way a
    * training mix is cut from a scored corpus.
    *
    * The cumulative sum is [[Stats.withRunningTotal]]'s distributed
    * prefix sum with no group columns (range shuffle + bounded offset
    * collect), never a global single-task window; the budget cut is then
    * a per-row filter.
    *
    * `orderCols` must be a TOTAL order (append the doc id as the final
    * tiebreak, as q_token_budget and its oracle do): with ties at the
    * budget boundary, which of the tied docs survives the cut would
    * otherwise vary run to run. */
  def tokenBudgetSelect(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
                        tokenCount: org.apache.spark.sql.Column,
                        budget: Long): DataFrame =
    Stats.withRunningTotal(df, Nil, orderCols, tokenCount, "cum_tokens")
      .where(col("cum_tokens") <= budget)

  /** The distinct (df-capped) benchmark n-gram universe, collected — eval
    * benchmarks are driver-scale by nature, and the collected set is what
    * the STATELESS streaming gate
    * ([[graft.streaming.EventStream.contaminationGateStream]]) broadcasts
    * once as a [[graft.plans.ModelApply]] membership table and probes per
    * row of an unbounded stream. Same cap semantics as [[contamination]].
    *
    * `maxCollected` bounds the driver collect (default 4M n-grams): a
    * "benchmark" frame misconfigured to a corpus would otherwise OOM the
    * driver with no actionable error. The probe is a LIMIT, so the scan
    * stops at the cap instead of materializing the overflow. */
  def benchmarkNgrams(benchmark: DataFrame, idCol: String, textCol: String,
                      n: Int, maxNgramDf: Int = Int.MaxValue,
                      maxCollected: Int = 4 << 20): Array[String] = {
    val all = Dedup.shingleRows(benchmark, idCol, textCol, n)
    val kept =
      if (maxNgramDf == Int.MaxValue) all.select("sh").distinct()
      else all.groupBy("sh").agg(count(lit(1)).as("__df"))
        .where(col("__df") <= maxNgramDf).select("sh")
    // Int.MaxValue means "deliberately uncapped" (the same sentinel as
    // maxNgramDf above)
    val rows = Guards.collectAtMost(kept, maxCollected)(
      s"benchmarkNgrams: benchmark yields more than $maxCollected " +
        s"distinct $n-grams — this is a driver-collected EVAL-BENCHMARK " +
        "model, not a corpus operator. Train on a bounded reference set " +
        "or raise maxCollected deliberately.")
    rows.map(_.getString(0)).sorted
  }

  /** Cross-document boilerplate removal (the C4/RefinedWeb "drop lines
    * shared by many pages" rule — headers, footers, cookie banners):
    * lines whose DISTINCT-document frequency exceeds `maxLineDf` are
    * removed from every document, and each document is reassembled in
    * original line order. Complements [[graft.functions.Text.dedupLinesOf]]
    * (within-document) with the ACROSS-document pass.
    *
    * Plan shape: one posexplode, a distinct + groupBy on the line (hash
    * shuffle on uniform-ish text keys), an anti join co-partitioned on
    * the same key, and a per-document reassembly groupBy. Documents whose
    * every line is boilerplate still appear (n_kept = 0, md5 of empty).
    *
    * `sep` is a JAVA REGEX (Spark's `split`), not a literal: pass "\n"
    * as-is but escape regex metacharacters ("\\|", "\\."). An unescaped
    * "|" would split between every character and scrub the whole corpus
    * to empty. The DuckDB oracle mirrors with the literal string, which
    * matches whenever the regex is an escaped literal. */
  def boilerplateRemove(df: DataFrame, idCol: String, textCol: String,
                        sep: String, maxLineDf: Int): DataFrame = {
    // consumed 3x (hot-line counts, anti join, per-doc totals): one scan
    // NULL text coalesces to "" so the doc still appears (n_lines = 1)
    // instead of vanishing from the audit output — split(NULL) is NULL
    // and posexplode(NULL) generates zero rows (review-found; the oracle
    // mirrors the COALESCE)
    val lines = PersistScope.cache(df.select(col(idCol).as("doc"),
      posexplode(split(coalesce(col(textCol), lit("")), sep))
        .as(Seq("pos", "line"))))
    val hot = lines.select("doc", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxLineDf)
      .select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
    val keptAgg = kept.groupBy("doc").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").cast("binary")).as("clean_md5"))
    lines.groupBy("doc").agg(count(lit(1)).as("n_lines"))
      .join(keptAgg, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit("").cast("binary"))).as("clean_md5"))
  }

  /** Per-source token-share cap (the RefinedWeb/CCNet source-mixing rule:
    * no single source may exceed `sharePpm` of the corpus' tokens): within
    * each source, documents are taken best-first in `orderCols` order
    * until the source's INCLUSIVE cumulative token count passes its
    * budget. The comparison `cum * 1e6 <= total * sharePpm` runs in
    * DECIMAL(38,0) — exact at any corpus size, no float division, no
    * driver-side budget constant.
    *
    * Scale shape: the per-source running total is
    * [[Stats.withRunningTotal]]'s core grouped by the source — a source
    * holding 30% of 100 TB spans many range partitions instead of one
    * window task — and the corpus total is the sum of the slice totals
    * that core already collects, entering the filter as a literal. */
  def sourceShareCap(df: DataFrame, groupCol: String,
                     orderCols: Seq[org.apache.spark.sql.Column],
                     tokenCount: org.apache.spark.sql.Column,
                     sharePpm: Long): DataFrame = {
    val (cum, total) = Stats.runningTotal(
      df.withColumn("n_tokens", tokenCount.cast("long")),
      Seq(col(groupCol)), orderCols, col("n_tokens"), "cum_tokens")
    cum.where(col("cum_tokens").cast("decimal(38,0)") * lit(1000000L)
      <= lit(total).cast("decimal(38,0)") * lit(sharePpm))
  }

  /** (doc, g = "w1 w2") bigram instances with multiplicity — a
    * shuffle-free row expression over the materialized token array, via
    * the native codegen'd [[graft.plans.NGrams]] (r22: the previous
    * `transform(sequence(1, size-1), i -> struct(t[i-1], t[i]))` put an
    * interpreted HOF in the hottest projection). The joined single
    * string IS the bigram key: whitespace tokens cannot contain a
    * space, so "w1 w2" is bijective with (w1, w2) — consumers group,
    * join and cache ONE string instead of two (guide §2.3 narrower
    * shuffle keys) and recover w1 with `substring_index(g, ' ', 1)`
    * when the marginal count needs it.
    *
    * NO under-split floor here (tried r21 AND re-tried r22 post
    * codegen-cache-fix, lost both times: sf0.1 solo 1.11→1.24 s, sf1.5
    * solo 2.53→6.98 s for q_lm_score): lmScore CACHES this relation,
    * and a 32-partition cached explode multiplies every downstream
    * stage's task constants while the repartition itself moves the full
    * text column once for a map-only producer. */
  private def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        graft.functions.Text.tokens(col(textCol)).as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc"),
        explode(graft.plans.NGrams.ngrams(col("t"), 2)).as("g"))

  /** The bigram model over bigram instances `bg`: one row per distinct
    * bigram `g = "w1 w2"` with its conditional probability
    * `ppm = c(w1,w2) * 1e6 DIV c(w1,·)` (exact, see [[ppmDivSql]]).
    * c(w1,·) comes from the BIGRAM counts, not a second pass over the
    * instance relation: SUM(c12) per w1 is the identical integer, and
    * the c12 subtree feeding both consumers canonicalizes equal, so
    * ReuseExchange serves it once — one full bg scan instead of two
    * (guide §2.3 aggregate-before-shuffle, §2.4 shared exchange); w1 is
    * recovered from the key ("w1 w2" is bijective, see bigramRows). */
  private def bigramModel(bg: DataFrame): DataFrame = {
    val c12 = bg.groupBy("g").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    c12.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, "w1")
      .select(col("g"), expr(ppmDivSql("c12", "c1")).as("ppm"))
  }

  /** Corpus-trained bigram language-model score per document (the
    * CCNet-style "how typical of the corpus is this text" quality
    * signal, integer-exact instead of a float perplexity): for every
    * bigram instance (w1, w2), its conditional probability in ppm is
    * `c(w1,w2) * 1e6 DIV c(w1,·)` where both counts come from the WHOLE
    * corpus; a document's score is the mean instance ppm
    * (`SUM DIV n_bigrams`). No ln()/float math — engine-portable
    * (libm last-bit rounding differs per engine, see SURVEY §5).
    *
    * Plan shape: one bigram explode (shuffle-free row expression over the
    * materialized token array), two groupBy count passes over the bigram
    * relation, a model join back on (w1, w2) — all equi-joins on uniform
    * text keys, never a doc × doc or vocab × vocab product. The bigram
    * relation is consumed three times (c12, c1, score join): cached once.
    * Documents with < 2 tokens carry no bigram and are absent (score
    * undefined). */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = PersistScope.cache(bigramRows(df, idCol, textCol))
    bg.join(bigramModel(bg), Seq("g"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("__sum_ppm"))
      .select(col("doc").as("doc_id"), col("n_bigrams"),
        expr("__sum_ppm DIV n_bigrams").as("lm_score_ppm"))
  }

  /** The trained bigram model collected for broadcast-side application:
    * `"w1 w2" -> conditional ppm` (same `c12 * 1e6 DIV c1` integers as
    * [[lmScore]]). This is the train-batch / apply-stream split (CCNet
    * trains the LM on a reference corpus, then filters everything else):
    * the collected map must be broadcast-sized — train on a bounded
    * reference corpus, not the 100 TB stream. Consumed by
    * [[graft.streaming.EventStream.lmGateStream]], which broadcasts it
    * once as a [[graft.plans.ModelApply]] hash table (the plan carries
    * the handle, not the bigrams).
    *
    * `maxCollected` bounds the driver collect (default 4M bigrams) with
    * a loud error — pointing this trainer at an unbounded corpus must
    * fail actionably, not OOM the driver (same discipline as
    * [[benchmarkNgrams]] and the contamination broadcast guard). */
  def lmModel(df: DataFrame, idCol: String, textCol: String,
              maxCollected: Int = 4 << 20): Map[String, Long] = {
    // the key already IS "w1 w2" — no concat_ws rebuild
    val scored = bigramModel(bigramRows(df, idCol, textCol))
    // Int.MaxValue = deliberately uncapped (see benchmarkNgrams)
    val rows = Guards.collectAtMost(scored, maxCollected)(
      s"lmModel: reference corpus yields more than $maxCollected " +
        "distinct bigrams — the collected model would not be " +
        "broadcast-sized. Train on a bounded reference corpus or raise " +
        "maxCollected deliberately.")
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Corpus-trained quality classifier (the fastText/CCNet "reference
    * corpus vs everything else" filter), integer-exact naive-Bayes form:
    * `labelCol` marks the positive/reference class (CCNet uses
    * wikipedia-vs-crawl; pass any deterministic predicate), the model is
    * per-token class counts with add-one smoothing, and a document
    * scores the MEAN over its token instances of `P(positive | token)`
    * in exact ppm — `(cPos + 1) * 1e6 DIV (cTotal + 2)`. No ln()/floats
    * (libm rounding differs per engine), so train AND apply are
    * cell-exact in any engine.
    *
    * Shape: one token explode (cached, consumed twice), one
    * groupBy(token) model pass (partial-agg friendly; vocab-sized
    * result, broadcastable at 100 TB), an equi-join back on token, one
    * groupBy(doc) mean. Same scale discipline as [[lmScore]] — never
    * doc x doc, never vocab x vocab. */
  def nbQualityScore(df: DataFrame, idCol: String, textCol: String,
                     labelCol: Column): DataFrame = {
    val toks = PersistScope.cache(
      df.select(col(idCol).as("doc"), labelCol.as("__pos"),
        explode(graft.functions.Text.tokens(col(textCol))).as("tok")))
    val model = toks.groupBy("tok").agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("cp"),
        count(lit(1)).as("ct"))
      .select(col("tok"), expr(ppmDivSql("(cp + 1)", "(ct + 2)")).as("ppm"))
    toks.join(model, "tok")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum(col("ppm")).as("__s"))
      .select(col("doc").as("doc_id"), col("n_tokens"),
        expr("__s DIV n_tokens").as("quality_ppm"))
  }

  /** Mixture balancing: deterministically downsample every stratum to
    * approximately the smallest stratum's size (uniform target mixture).
    * Per-stratum keep rate = (min_count * 1e6) DIV count in exact integer
    * ppm, applied through [[Stats.hashSample]]'s content-hash predicate —
    * reproducible across runs, retries, and engines (no rand()).
    *
    * Plan shape: one groupBy(stratum) count pass, a 1-row min aggregate
    * broadcast into the per-stratum rate table (itself broadcast — strata
    * are few by definition), then a scan-level filter on the fact table:
    * the 100 TB side is never shuffled. */
  def balancedSample(df: DataFrame, stratumCol: String,
                     key: org.apache.spark.sql.Column): DataFrame = {
    // null strata are EXCLUDED: the inner rate join below drops their
    // rows anyway, and letting a phantom null group set the global min
    // would crush every real stratum's keep rate
    val counts = df.where(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val mn = counts.agg(min(col("__n")).as("__mn"))
    // rate floor of 1 ppm: a stratum more than 1e6x the smallest would
    // floor to ppm 0 and be deleted ENTIRELY from the "balanced" output
    // (review-found — e.g. one mislabeled singleton type crushing the
    // dominant stratum to nothing); 1 ppm keeps the closest achievable
    // non-empty rate at this resolution. The oracle mirrors GREATEST.
    // The quotient rides ppmDivSql like every other ppm site: the raw
    // BIGINT product __mn * 1e6 wraps past a ~9.2e12 minimum-stratum
    // count where DuckDB's widened // stays exact.
    val rates = counts.crossJoin(broadcast(mn))
      .select(col(stratumCol),
        greatest(expr(ppmDivSql("__mn", "__n")), lit(1L)).as("__ppm"))
    Stats.hashSample(df.join(broadcast(rates), Seq(stratumCol)), key, col("__ppm"))
      .drop("__ppm")
  }

  /** Pairwise token-distribution DRIFT between sources: the L1 distance
    * of per-source token probability vectors in exact integer ppm — the
    * "did this crawl/source shift" monitor a corpus operator alerts on
    * (the distribution-shift companion to q_corpus_report's volume
    * signals). Identity used: L1(a,b) over the vocab UNION = sum over
    * SHARED tokens of |pa - pb| plus each side's unshared mass
    * (Ta - Sa) + (Tb - Sb) — so the join is the (source,token) inverted
    * index with itself (a.src < b.src), linear in vocab per pair, never
    * doc x doc. Integer p_ppm = c * 1e6 DIV n both engines. Pairs with
    * zero shared vocabulary drop out (fully-disjoint sources are a
    * different alarm). */
  def sourceDrift(docs: DataFrame, sourceCol: String,
                  textCol: String): DataFrame = {
    val counts = PersistScope.cache(docs
      .select(col(sourceCol).as("src"),
        explode(graft.functions.Text.tokens(col(textCol))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c")))
    // per-source totals as a map-side-combinable groupBy broadcast back:
    // the previous sum-over-Window(src) hash-partitioned the whole
    // (src, tok) vocabulary on src — a web-scale source's 1e9 distinct
    // tokens through ONE sorting WindowExec task (the straggler shape
    // Dedup.capByFreq documents). One row per source broadcasts for free.
    // p_ppm in decimal: c * 1e6 wraps BIGINT once a token's count passes
    // ~9.2e12 (roughly a PB of one stop word) — (a - a%b)/b is the exact
    // decimal floor (IntegralDivide is Long-typed even on decimals, see
    // TfIdf.scoreTfIdf); the quotient <= 1e6 so the final BIGINT is safe.
    val srcTotals = counts.groupBy("src").agg(sum("c").as("n"))
    val p = counts.join(broadcast(srcTotals), Seq("src"))
      .select(col("src"), col("tok"), expr(
        "CAST((CAST(c AS DECIMAL(38,0)) * 1000000 " +
          "- CAST(c AS DECIMAL(38,0)) * 1000000 % CAST(n AS DECIMAL(38,0))) " +
          "/ CAST(n AS DECIMAL(38,0)) AS BIGINT)").as("p_ppm"))
    val totals = p.groupBy("src").agg(sum("p_ppm").as("t"))
    p.as("a").join(p.as("b"),
        col("a.tok") === col("b.tok") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(sum(abs(col("a.p_ppm") - col("b.p_ppm"))).as("d_shared"),
        sum(col("a.p_ppm")).as("s_a"), sum(col("b.p_ppm")).as("s_b"))
      .join(broadcast(totals.as("ta")), col("src_a") === col("ta.src"))
      .join(broadcast(totals.as("tb")), col("src_b") === col("tb.src"))
      .select(col("src_a"), col("src_b"),
        (col("d_shared") + (col("ta.t") - col("s_a")) +
          (col("tb.t") - col("s_b"))).as("l1_ppm"))
  }
}
