package graft.operators

import graft.PersistScope
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale shape: every near-dup variant generates candidates with an
  * EQUI-join (inverted index on shingle / band signature / hamming block),
  * never an all-pairs comparison; shuffles are hash-partitioned on those
  * keys and benefit from map-side partial aggregation.
  */
object Dedup {

  /** Exact duplicate groups by content hash: md5 groupBy — one shuffle on
    * the 128-bit digest, uniform by construction (no skew).
    *
    * NULL text pools into ONE group (content_md5 NULL): groupBy treats
    * NULL as a value, and the SQL oracle's GROUP BY does the same, so
    * the two engines agree — but "missing text" is unknown content, not
    * equal content. A keep-canonical consumer must pre-filter NULL/empty
    * text (the curation recipes do, via the token floor) or it will drop
    * every text-less doc but one as a "duplicate". */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** Distinct n-token shingles over a token-array column, via the native
    * codegen'd [[graft.plans.NGrams]] expression (single tight loop per
    * row; short docs yield []). NGramsSpec pins it against the
    * interpreted HOF specification the DuckDB oracle mirrors
    * (list_transform over range). */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(graft.plans.NGrams.ngrams(toks, n))

  /** Convenience: text column -> shingles (tokenizes in a separate
    * projection step so the array is computed once per row). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("doc"), explode(shinglesOf(col("__toks"), n)).as("sh"))

  /** The inverted-index fan-out cap shared by all four pair generators:
    * drop every row whose `keys` value occurs more than `cap` times in
    * `rel` (`rel` is pre-cached by the caller — both passes below read
    * the cache, not the explode).
    *
    * Shape: the HOT key set is a map-side-combinable groupBy (one row
    * per key per mapper reaches the shuffle) anti-joined back under a
    * broadcast hint, so the data relation itself never shuffles for the
    * cap and — the part that matters at 100 TB — a hot key's
    * occurrences never serialize through one task. The previous
    * count-over-window form hash-partitioned the relation on the very
    * key whose skew the cap exists to defuse: a stop-word shingle in
    * 100M docs became one straggling, spilling WindowExec task. The hot
    * set is small by construction (a key is hot only above `cap`
    * occurrences, so |hot| < rows/cap, and zipf reality makes it a
    * handful of stop-grams). |hot| < rows/cap is a LOOSE bound, though —
    * 1e12 rows at cap=64 still permits ~1.5e10 hot keys on a flat
    * distribution — so the hot set is probed with a LIMIT and a
    * misconfigured cap fails with an actionable message instead of a
    * driver OOM mid-broadcast.
    *
    * The probe IS the broadcast build (r22, guide §2.4): the limited
    * hot set is collected once and re-enters the plan as a
    * LocalRelation under the broadcast hint. BroadcastExchange collects
    * its input to the driver anyway, so the explicit collect adds zero
    * driver exposure — it folds the old guard-count job and the
    * broadcast-build job into one, and drops the hot-set cache (one
    * consumer now, nothing left to share). */
  private[graft] def capByFreq(rel: DataFrame, keys: Seq[String], cap: Int,
                        keep: Seq[String],
                        maxHotKeys: Long = 4L << 20): DataFrame =
    if (cap == Int.MaxValue) rel
    else {
      val hot = rel.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > cap)
        .select(keys.map(col): _*)
      // limit-probe, not count(): on a pathological key universe the
      // probe stops scanning at maxHotKeys + 1 rows
      val hotRows = Guards.collectAtMost(hot, maxHotKeys)(
        s"capByFreq: more than $maxHotKeys keys exceed cap=$cap on " +
          s"(${keys.mkString(", ")}) — the hot set no longer fits a " +
          "broadcast. Raise the frequency cap (fewer keys qualify as " +
          "hot) or pre-filter the key universe; a broadcast this size " +
          "would OOM the driver instead of failing here.")
      val hotLocal = rel.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotRows: _*), hot.schema)
      rel.join(broadcast(hotLocal), keys, "left_anti")
        .select(keep.map(col): _*)
    }

  /** Near-dup pairs with n-gram Jaccard >= tau.
    *
    * Inverted-index plan: explode shingles -> self-equi-join on shingle ->
    * count per (a,b) = |intersection| (map-side combinable) -> join back the
    * per-doc shingle counts -> Jaccard filter. No cartesian product.
    *
    * `maxShingleDf` caps the inverted-index fan-out: shingles appearing in
    * more than that many documents (stop-word boilerplate) are removed from
    * the shingle universe BEFORE the self-join — a single hot shingle would
    * otherwise produce a quadratic bucket at 100 TB. The Jaccard is then
    * computed over the capped universe on both engines identically, so the
    * result stays oracle-exact (recall-bounded by construction: only pairs
    * whose entire overlap is boilerplate are lost).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, tau: Double,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // The exploded shingle relation is consumed 4x (both join sides + the
    // per-doc counts); shingling is a heavy interpreted HOF chain, so
    // materialize it once instead of recomputing per consumer.
    //
    // The shingle STRING never outlives the map stage: every downstream
    // step (df window, cache, self-equi-join) keys on its xxhash64 — an
    // 8-byte sort/shuffle/compare key instead of a ~40-byte string. The
    // per-doc distinct already happened on the strings (array_distinct in
    // shinglesOf), so hashing preserves all set cardinalities exactly
    // modulo 64-bit collisions (~n²/2⁶⁴ — no observable effect at any
    // tested SF; the string-keyed DuckDB oracle stays bit-identical).
    val all = shingleRows(df, idCol, textCol, n)
      .select(col("doc"), xxhash64(col("sh")).as("sh"))
    // doc frequency per shingle == row count (shingles are distinct per
    // doc); the cache is on the UNCAPPED explode so both capByFreq passes
    // read it, never the interpreted shingling
    val sh = capByFreq(PersistScope.cache(all), Seq("sh"), maxShingleDf,
      Seq("doc", "sh"))
    val counts = sh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh"))
      .where(col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
  }

  /** Winnowing-fingerprint pair detection (the MOSS cross-document step):
    * pairs of documents sharing at least `minShared` winnowed fingerprints
    * ([[graft.functions.Text.winnowOf]] over md5 k-gram hashes — any
    * >= w+k-1-token overlap is guaranteed to surface at least one shared
    * fingerprint). Same scale discipline as [[jaccardPairs]]: an
    * inverted-index self-equi-join on the fingerprint, with `maxFpDf`
    * dropping fingerprints present in more than that many documents
    * (shared boilerplate k-grams) BEFORE the join — candidate volume is
    * linear in the fingerprint relation no matter how hot a phrase is;
    * the cap is mirrored in the oracle so results stay cell-exact. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, minShared: Int,
                  maxFpDf: Int = Int.MaxValue): DataFrame = {
    val all = df
      .select(col(idCol).as("doc"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("doc"), graft.plans.NGrams.ngrams(col("__toks"), k).as("__gk"))
      .select(col("doc"),
        graft.plans.WinnowExprs.md5LongMap(col("__gk")).as("__hs"))
      .select(col("doc"), explode(Text.winnowOf(col("__hs"), w)).as("fp"))
    // fingerprints are distinct per doc, so the row count per fp IS the
    // document frequency
    val fps = capByFreq(PersistScope.cache(all), Seq("fp"), maxFpDf,
      Seq("doc", "fp"))
    fps.select(col("doc").as("doc_a"), col("fp"))
      .join(fps.select(col("doc").as("doc_b"), col("fp")), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** MinHash scheme: k permutations h_i(x) = (a_i*x + b_i) mod P over
    * md5-derived 60-bit token hashes reduced mod P. Deterministic and
    * reproducible in ANSI SQL (oracle-verifiable). */
  val MinhashMod = 1000000007L
  def minhashPerm(i: Int) = (2L * i + 3L, 5L * i + 7L)

  /** A token array's k-value MinHash signature as one `array<bigint>`:
    * token hashes ([[graft.plans.WinnowExprs.md5LongMap]]) folded by the
    * per-row [[graft.plans.MinhashSig]] kernel. NULL for a NULL or empty
    * token array. */
  def minhashSig(toks: Column, k: Int): Column =
    graft.plans.MinhashSig.minhashSig(graft.plans.WinnowExprs.md5LongMap(toks), k)

  /** MinHash signature columns `(doc, mh0 .. mh{k-1})`: a projection,
    * ONE output row per input row that has at least one token (NULL or
    * token-less text has no signature and emits no row). No explode, no
    * shuffle: the signature is computed where the document is, so this
    * frame keeps its input's partitioning.
    *
    * Contract: `idCol` must be unique in `df`. A repeated id yields one
    * signature row per occurrence, not one signature of the merged token
    * set, and every consumer bands and joins on `doc`. Every caller's
    * ids are unique: `documents`' key, an exact-dedup survivor set, a
    * stream micro-batch. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"minhash needs k >= 1 (got $k)")
    sigColumns(df.select(col(idCol).as("doc"),
      minhashSig(Text.tokens(col(textCol)), k).as("__mh")), "__mh", k)
  }

  /** `(doc, mh0 .. mh{k-1})` from a frame holding `doc` and a signature
    * array column; rows with a NULL signature drop out. */
  private[graft] def sigColumns(df: DataFrame, sigCol: String, k: Int): DataFrame =
    df.where(col(sigCol).isNotNull)
      .select(col("doc") +: (0 until k).map(i => col(sigCol)(i).as(s"mh$i")): _*)

  /** LSH candidate pairs: band the k-signature into `bands` groups of
    * k/bands rows; docs sharing any band signature are candidates.
    * Banding turns near-dup detection into an equi-join on (band, sig).
    *
    * `maxBucket` drops buckets with more than that many docs before the
    * self-join (standard LSH practice): pair count is quadratic in bucket
    * size, so one degenerate signature ("the empty doc bucket") otherwise
    * dominates the whole job at scale. Dropped buckets are the least
    * discriminative signatures; recall loss is bounded and the oracle
    * applies the identical cap. The pair dedup is a groupBy-min (map-side
    * combinable partial agg collapses the up-to-`bands` duplicates of each
    * pair before the shuffle). */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int, bands: Int,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    candidatePairsFromSigs(minhashSignatures(df, idCol, textCol, k),
      k, bands, maxBucket)

  /** (doc, band, sig) banding of a minhash signature frame — THE one
    * banding expression (pairs path, star path, and the streaming
    * filter all share it, so the LSH scheme cannot drift between them).
    * Fails fast on a k/bands mismatch: bands > k would band on EMPTY
    * signatures (every doc lands in one bucket — the doc x doc explosion
    * this file's design forbids) and a remainder would silently drop
    * trailing signature coordinates (a lower-recall scheme than asked). */
  private[graft] def bandedSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    // k >= 1 matters too: k=0, bands=1 would pass the divisibility check,
    // band every doc on the empty-concat signature "" and put the whole
    // corpus in ONE bucket — the exact explosion this guard forbids
    require(k >= 1 && bands >= 1 && k % bands == 0,
      s"minhash k=$k must be >= 1 and divide into bands=$bands")
    val rows = k / bands
    sigs.select(
      col("doc"),
      posexplode(array((0 until bands).map { b =>
        concat_ws("_", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*)
      }: _*)).as(Seq("band", "sig")))
  }

  /** [[minhashCandidatePairs]] from a PRE-COMPUTED signature relation —
    * callers that also consume the signatures (e.g. [[verifyPairs]])
    * cache them once instead of hashing the corpus twice. */
  def candidatePairsFromSigs(sigs: DataFrame, k: Int, bands: Int,
                             maxBucket: Int = Int.MaxValue): DataFrame = {
    // sized + filtered + both self-join sides consume the banded relation:
    // materialize once
    val all = bandedSigs(sigs, k, bands)
    val banded = capByFreq(PersistScope.cache(all), Seq("band", "sig"),
      maxBucket, Seq("doc", "band", "sig"))
    banded.as("a").join(banded.as("b"), Seq("band", "sig"))
      .where(col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(min(col("band")).as("__first_band"))
      .select("doc_a", "doc_b")
  }

  /** Pairwise verification of LSH candidates (the stage after candidate
    * generation in every production dedup pipeline): each pair gets the
    * minhash ESTIMATE of its Jaccard (fraction of agreeing signature
    * coordinates) next to the EXACT Jaccard of the distinct-token sets,
    * plus the absolute estimation error — all in exact integer ppm, so the
    * sketch-accuracy audit itself is engine-portable.
    *
    * Scale shape: the candidate-pair set is the (LSH-capped, linear)
    * output of [[minhashCandidatePairs]]; the signature and token-set
    * relations join back to it on doc id — per-pair work only, never
    * all-pairs. */
  def verifyPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int, bands: Int,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    // signatures cached ONCE and shared: candidate generation and the
    // per-pair estimate both read them — the corpus is hashed one time
    val sigs = PersistScope.cache(minhashSignatures(df, idCol, textCol, k))
    val pairs = candidatePairsFromSigs(sigs, k, bands, maxBucket)
    // consumed by BOTH pair sides: cache, or the corpus is re-tokenized
    // and re-distincted once per side
    val tokSets = PersistScope.cache(df.select(col(idCol).as("doc"),
      array_distinct(Text.tokens(col(textCol))).as("ts")))
    def side(p: String) =
      sigs.select(col("doc").as(s"doc_$p") +:
        (0 until k).map(i => col(s"mh$i").as(s"${p}_mh$i")): _*)
    val nMatch = (0 until k)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .withColumn("__nm", nMatch)
      .join(tokSets.select(col("doc").as("doc_a"), col("ts").as("__ta")), Seq("doc_a"))
      .join(tokSets.select(col("doc").as("doc_b"), col("ts").as("__tb")), Seq("doc_b"))
      .withColumn("__inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("__union",
        size(col("__ta")).cast("long") + size(col("__tb")) - col("__inter"))
      .select(col("doc_a"), col("doc_b"),
        expr(s"(__nm * 1000000) DIV $k").as("est_jaccard_ppm"),
        expr("(__inter * 1000000) DIV __union").as("exact_jaccard_ppm"),
        abs(expr(s"(__nm * 1000000) DIV $k") - expr("(__inter * 1000000) DIV __union"))
          .as("abs_err_ppm"))
  }

  /** Star edges for duplicate CLUSTERING: each LSH bucket (band, sig)
    * with k docs is a clique; for connectivity purposes a star to the
    * bucket's min doc carries the same components with k-1 edges instead
    * of k(k-1)/2 pairs. Feed these to [[DupClusters.clustersAdaptive]]
    * — never materialize the quadratic candidate-pair set just to
    * cluster it.
    * The signatures are [[minhashSignatures]]' per-row projection, so
    * the only exchanges are [[bucketStarsFromSigs]]'. */
  def minhashBucketStars(df: DataFrame, idCol: String, textCol: String,
                         k: Int, bands: Int): DataFrame =
    bucketStarsFromSigs(minhashSignatures(df, idCol, textCol, k), k, bands)

  /** [[minhashBucketStars]] from a PRE-COMPUTED signature frame `(doc,
    * mh0 .. mh{k-1})` — the twin of [[candidatePairsFromSigs]]. The hub
    * is `min(doc)` over a `(band, sig)` window: the banded rows shuffle
    * once, on the bucket key, and the star edges are the rows that are
    * not their bucket's hub. No `groupBy` + join-back, and the banded
    * relation has one consumer, so nothing is cached. */
  def bucketStarsFromSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    bandedSigs(sigs, k, bands)
      .withColumn("__hub", min(col("doc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")))
      .where(col("doc") =!= col("__hub"))
      .select(col("__hub").as("doc_a"), col("doc").as("doc_b"))
      .distinct()

  /** 64-bit SimHash: per-token md5-derived 60-bit hash -> +-1 per bit ->
    * per-doc bit-wise sum via a zip_with fold (no explode, no shuffle:
    * the whole fingerprint is a per-row expression chain). */
  val SimhashBits = 60

  /** Majority fold over an array of 60-bit token hashes — the native
    * codegen expression ([[graft.plans.SimhashFold]]); one primitive
    * int[60] accumulator per row instead of the interpreted ±1-vector
    * HOF chain (r21; DedupSpec pins it bit-identical to the HOF
    * specification including empty/null-element inputs). The
    * native fold evaluates its child ONCE, so callers no longer need the
    * two-projection split that protected the HOF form from re-hashing
    * each token per bit term. */
  def simhashOfHashes(hs: Column): Column =
    graft.plans.SimhashFold.simhashFold(hs, SimhashBits)

  /** Two-projection simhash: token hashes computed ONCE per token in their
    * own select, then the bit-majority fold. ~60x less md5 work than
    * inlining the hash into the fold (interpreted-HOF expression copies). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              outCol: String = "simhash"): DataFrame =
    df.select(col(idCol),
        graft.plans.WinnowExprs.md5LongMap(
          array_distinct(Text.tokens(col(textCol)))).as("__hs"))
      .select(col(idCol), simhashOfHashes(col("__hs")).as(outCol))

  /** Single-expression form, composing to the same work as [[simhash]]
    * (the hash array is one native Md5LongMap pass, not a per-element
    * lambda). */
  def simhash64(textCol: String): Column = {
    val toks = array_distinct(Text.tokens(col(textCol)))
    simhashOfHashes(graft.plans.WinnowExprs.md5LongMap(toks))
  }

  /** SimHash near-dup PAIRS by Hamming-block candidates (the Manku/WWW'07
    * web-dedup scheme): split the 60-bit fingerprint into `SimhashBlocks`
    * 15-bit blocks — by pigeonhole, any pair within Hamming distance
    * `SimhashBlocks - 1` shares at least one EXACT block — so candidates
    * come from an equi-join on (block index, block value) and the exact
    * `bit_count(xor)` distance then verifies each candidate. Recall is
    * therefore EXACT (not probabilistic) for `maxHamming <=
    * SimhashBlocks - 1`, which the require enforces.
    *
    * `maxBucket` drops degenerate blocks (e.g. the all-zeros block of
    * empty-ish docs) before the self-join, same cap-in-oracle contract as
    * the minhash LSH pairs. */
  val SimhashBlocks = 4
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= SimhashBlocks - 1,
      s"pigeonhole guarantee needs maxHamming <= ${SimhashBlocks - 1}")
    val sh = simhash(df, idCol, textCol, "sh")
    val all = sh.select(col(idCol).as("doc"), col("sh"),
      posexplode(array((0 until SimhashBlocks).map(b =>
        shiftright(col("sh"), b * 15).bitwiseAND(0x7FFF)): _*))
        .as(Seq("blk", "bv")))
    val banded = capByFreq(PersistScope.cache(all), Seq("blk", "bv"),
      maxBucket, Seq("doc", "sh", "blk", "bv"))
    val a = banded.select(col("doc").as("doc_a"), col("sh").as("__sha"),
      col("blk"), col("bv"))
    val b = banded.select(col("doc").as("doc_b"), col("sh").as("__shb"),
      col("blk"), col("bv"))
    a.join(b, Seq("blk", "bv"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(min(col("__sha")).as("__ha"), min(col("__shb")).as("__hb")) // sh is per-doc constant
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(__ha ^ __hb)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact repeated n-gram SPAN detection — the distributed approximation
    * of suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a suffix array finds
    * every maximal substring repeated across the corpus; at cluster scale
    * the equivalent join-shaped formulation is "every n-token window whose
    * gram text occurs in >= `minDocs` DISTINCT documents is duplicated",
    * with overlapping/adjacent duplicated windows merged into maximal
    * spans per document (the byte ranges a substring-level dedup pass
    * would cut, vs the whole-document verdicts of the minhash family).
    *
    * Shape: one positional gram explode (the native [[graft.plans.NGrams]]
    * loop; array index IS the token position), a gram-frequency pass
    * (partial-agg-friendly groupBy on [[Text.md5Long]] of the gram — a
    * 60-bit md5 TRUNCATION, the 8-byte-key shuffle trade jaccardPairs
    * documents for xxhash64: uniform so no skew, with ~G²/2⁶¹ expected
    * colliding gram pairs at G distinct grams — at 1e12 grams that is
    * a ~1e-7 fraction of grams spuriously marked duplicated, each
    * costing at most one n-token span; the DuckDB oracle truncates
    * identically so parity holds), an equi-join back on that hash, and ONE
    * per-document window to merge islands (windows p, p' belong to the
    * same maximal span iff p' - p <= n — touching or overlapping coverage
    * of [p, p+n-1] and [p', p'+n-1]). Never doc x doc; the inverted
    * index is linear in corpus tokens exactly like the shingle family. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int, minDocs: Int = 2): DataFrame = {
    val pos = gramIndex(
      df.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__t")), n)
    spanGroups(pos.join(dupGrams(pos, minDocs), Seq("g")), n)
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).cast("long").as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** The cached positional n-gram index (doc_id, pos, g) of a tokenized
    * frame (doc_id, __t): `pos` is the window's first token position,
    * `g` the gram's [[Text.md5Long]] — a long key, 8-byte shuffle rows.
    * It is the heaviest chain of the span operators (tokenize →
    * n-grams → md5) and feeds both the gram-frequency aggregate and the
    * join back onto it. */
  private def gramIndex(tokens: DataFrame, n: Int): DataFrame =
    PersistScope.cache(
      tokens.select(col("doc_id"),
          posexplode(graft.plans.NGrams.ngrams(col("__t"), n)).as(Seq("pos", "__g")))
        .select(col("doc_id"), col("pos"), Text.md5Long(col("__g")).as("g")))

  /** Grams present in >= minDocs DISTINCT documents: (g, `__mn` = the
    * lowest doc holding it, the canonical occurrence). For the common
    * minDocs=2 the distinct test is `min(doc) != max(doc)` — a
    * single-phase aggregate whose partials combine map-side, vs
    * count_distinct's per-(gram, doc) expansion; the oracle keeps the
    * COUNT(DISTINCT) formulation as the independent mirror. */
  private def dupGrams(pos: DataFrame, minDocs: Int): DataFrame =
    if (minDocs == 2)
      pos.groupBy("g")
        .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
        .where(col("__mn") =!= col("__mx"))
        .select("g", "__mn")
    else
      pos.groupBy("g")
        .agg(count_distinct(col("doc_id")).as("__df"), min(col("doc_id")).as("__mn"))
        .where(col("__df") >= minDocs)
        .select("g", "__mn")

  /** Duplicated-window hits (doc_id, pos) grouped by maximal span:
    * windows p < p' of one document share a span iff no gap between
    * consecutive hits exceeds n — touching or overlapping coverage of
    * [p, p+n-1] and [p', p'+n-1]. ONE per-document window. */
  private def spanGroups(hits: DataFrame, n: Int): RelationalGroupedDataset = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits.select("doc_id", "pos")
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(wDoc).isNull
          .or(col("pos") - lag(col("pos"), 1).over(wDoc) > n), 1).otherwise(0))
      .withColumn("__span", sum(col("__brk")).over(wDoc))
      .groupBy(col("doc_id"), col("__span"))
  }

  /** Substring-dedup MATERIALIZATION — the corpus with every duplicated
    * span's tokens REMOVED (the cut step after [[dupSpans]] detection;
    * this is the aggressive every-occurrence cut — a keep-one-canonical
    * variant is a doc_id predicate on the same covered set). Docs whose
    * every token is cut, and empty docs, drop out entirely — the same
    * contract as a length-0 filter downstream.
    *
    * Shape: the same positional-gram index ([[gramIndex]]), duplicate
    * test ([[dupGrams]], whose min doc is the canonical occurrence) and
    * span merge ([[spanGroups]]) as [[dupSpans]]; each document's merged
    * spans then filter its cached token array in position order. Never
    * doc x doc. */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int, minDocs: Int = 2,
               keepCanonical: Boolean = false): DataFrame = {
    // tokenize the corpus ONCE: both the token relation and the n-gram
    // relation derive from the same cached (doc_id, tokens) base — the
    // tokenizer chain is the heaviest map stage in the operator and
    // would otherwise run twice over the full corpus
    val base = PersistScope.cache(
      df.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__t")))
    val pos = gramIndex(base, n)
    // keepCanonical = the Lee-et-al. keep-one policy: each duplicated
    // gram's min-doc occurrence survives, every other doc's is cut —
    // one per-window predicate on the same join, zero extra shuffles
    val hits0 = pos.join(dupGrams(pos, minDocs), Seq("g"))
    val hits = if (keepCanonical) hits0.where(col("doc_id") =!= col("__mn")) else hits0
    // Cut with merged INTERVALS at doc grain, not exploded positions:
    // the position form generated n rows per hit window (135M at sf6),
    // deduped them through two aggregation passes, and handed AQE a
    // CORPUS-SIZED relation as the anti-join's small side — at sf6 it
    // broadcast 16M covered positions (~0.5 GB of driver hash table, an
    // OOM in waiting at any larger SF), then collected every surviving
    // token through an ObjectHashAggregate sort. The span merge below
    // is [[dupSpans]]' [[spanGroups]] (gap > n breaks; gap <= n unions
    // contiguously, so merged intervals ARE the covered-position set),
    // producing a FEW DISJOINT SPANS per document; the reassembly then
    // filters the already-cached per-doc token ARRAY against them with
    // a higher-order function — no token explode, no corpus-sized join
    // side, no collect_list re-sort, and the only shuffles left are the
    // hit index's (the part measured at dupSpans speed). Per-token cost
    // is O(spans-in-doc); spans are disjoint and merged, so the worst
    // case (everything duplicated) collapses to ONE span per doc.
    val spans = spanGroups(hits, n)
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__cuts"))
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        "filter(__t, (tok, i) -> __cuts IS NULL OR " +
          "NOT exists(__cuts, c -> i >= c.s AND i <= c.e))").as("__kept"))
      // a document whose every token is cut (or that had no tokens)
      // emitted no surviving rows under the anti-join form — keep that
      // contract: it is absent from the output, not an empty row
      .where(size(col("__kept")) > 0)
      .select(col("doc_id"),
        size(col("__kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("__kept")).cast("binary")).as("kept_md5"))
  }
}
