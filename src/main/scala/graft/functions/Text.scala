package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines.
  *
  * Everything here is pure `org.apache.spark.sql.functions` + higher-order
  * functions — no UDFs — so the whole path stays inside whole-stage codegen
  * and runs per-row with zero shuffles.
  */
object Text {

  /** Whitespace tokens with empties dropped (matches DuckDB
    * `list_filter(string_split(t,' '), x -> x <> '')`). Native codegen
    * byte-scan ([[graft.plans.WsTokens]]); [[tokensHof]] is the
    * interpreted specification it is pinned against. */
  def tokens(text: Column): Column =
    graft.plans.WsTokens.wsTokens(text)

  /** Higher-order-function formulation of [[tokens]] — kept as the
    * executable specification the DuckDB oracle mirrors and as the
    * equivalence baseline for the native expression (the
    * NGrams/shinglesOfHof discipline). ArrayFilter is CodegenFallback,
    * which interprets the whole subtree per row — the reason the hot
    * path uses the native expression. */
  def tokensHof(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** BPE-ish word/number tokens via regex (lowercase letters runs | digit
    * runs); same count under Java regex and DuckDB RE2 for this class.
    * Caveat (shared with [[canonicalize]]): `lower()` is Java full case
    * mapping in Spark but utf8proc simple mapping in DuckDB — exotic
    * code points (U+0130 'İ' maps to 'i'+combining dot vs bare 'i')
    * can diverge cross-engine; [a-z0-9]-class text is exact. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+"), lit(0))

  /** Count of tokens present in a fixed vocabulary (stopword hits): one
    * native [[graft.plans.ModelApply]] `countIn` over a membership table
    * carried in the expression, as an `int` (the `langId` fold's
    * struct accumulator is typed on it). Null tokens do not count; a
    * NULL token array gives NULL. */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    graft.plans.ModelApply.countIn(toks,
      graft.plans.EmbeddedModel("vocab", graft.plans.ModelTable.ones(vocab)))
      .cast("int")

  /** The stopword list q_text_quality's ratio signal counts against. */
  val StopWords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Compression ratio in ppm: `deflate_len(text) * 1e6 DIV byte_len` —
    * the Gopher/RefinedWeb quality signal (repetition and boilerplate
    * compress far below natural prose). Native codegen Deflater pass
    * ([[graft.plans.DeflateLen]]), exact integer division; empty text
    * ratios to 1e6 (neutral). No DuckDB deflate exists, so consumers are
    * spec-verified rather than oracled. */
  def compressionRatioPpm(text: Column): Column = {
    val bytes = length(text.cast("binary")).cast("long")
    val defl = graft.plans.DeflateLen.deflateLen(text).cast("long")
    // NULL text propagates NULL (a missing document is not "neutral
    // prose"); only genuinely EMPTY text takes the 1e6 fallback
    when(text.isNull, lit(null).cast("long"))
      .when(bytes > 0, intDiv(defl * lit(1000000L), bytes))
      .otherwise(lit(1000000L))
  }

  /** Dedup-grade text canonicalization (the CCNet/OSCAR pre-minhash
    * normalization): Unicode NFC (native [[graft.plans.NfcNormalize]] —
    * composed and decomposed accents must signature identically), then
    * lowercase, then every non-alphanumeric run collapses to one space,
    * trimmed. Pure codegen expression chain; DuckDB mirror is
    * `trim(regexp_replace(lower(nfc_normalize(t)),'[^a-z0-9]+',' ','g'))`
    * (Java regex and RE2 agree on this class; `lower()` carries the
    * [[regexTokens]] full-vs-simple case-mapping caveat on exotic code
    * points — ASCII-dominant corpora are exact). */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(
      lower(graft.plans.NfcNormalize.nfcNormalize(text)),
      "[^a-z0-9]+", " "))

  /** Exact integer division as a Column (the SQL `DIV` operator). */
  private def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftShims.expression(a),
        org.apache.spark.sql.GraftShims.expression(b)))

  /** 64-bit token hash from md5 (first 15 hex chars -> < 2^60), identical
    * in DuckDB as `('0x'||substr(md5(t),1,15))::BIGINT`. Native codegen'd
    * expression straight from the digest bytes (plans.Md5Long); the
    * built-in-chain formulation is kept below as the executable spec. */
  def md5Long(s: Column): Column =
    graft.plans.Md5Long.md5Long(s.cast("binary"))

  /** Built-in-only formulation of [[md5Long]] (hex string -> substr ->
    * conv) — the cross-engine specification the native expression is
    * equivalence-tested against. */
  def md5LongHof(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Polynomial rolling-hash fingerprint of the token sequence:
    * fold(acc = (acc*31 + ascii(t)*7 + len(t)) mod P). Order-sensitive, so
    * it fingerprints the document, not the bag of words. */
  val FpMod = 1000000007L
  def fingerprint(toks: Column): Column =
    aggregate(
      toks,
      lit(0L),
      (acc, t) => pmod(acc * 31 + ascii(t).cast("long") * 7 + length(t), lit(FpMod)))

  /** PII detection/redaction — the pre-training scrub pass. Pattern
    * syntax is restricted to the Java-regex ∩ RE2 common subset (char
    * classes, +, {m,}, alternation — no backrefs/lookaround), so the
    * DuckDB oracle runs the IDENTICAL patterns; replacement order is
    * url → email → phone (a URL may embed an @; emails embed digits)
    * and must match on both sides. Spark's regexp_replace is global by
    * default; DuckDB needs the 'g' flag. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    // [^\s], not [^ ]: a bare space-class complement runs across
    // newlines/tabs and swallows the first token of the next line
    // (\s is in the Java-regex ∩ RE2 subset, so the oracle mirrors it)
    "url" -> "https?://[^\\s]+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\+[0-9][0-9 -]{7,}[0-9]")

  /** Count of matches for one PII category. */
  def piiCount(text: Column, category: String): Column = {
    val pat = PiiPatterns.collectFirst { case (c, p) if c == category => p }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown PII category '$category' — known: " +
          PiiPatterns.map(_._1).mkString(", ")))
    // count matches without materializing every match string
    // (the oracle's len(regexp_extract_all(...)) counts identically)
    regexp_count(text, lit(pat)).cast("int")
  }

  /** Redact every PII category to its [CATEGORY] placeholder, in the
    * fixed order above. */
  def piiScrub(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (cat, pat)) =>
      // Locale.ROOT: a Turkish-locale JVM would uppercase "email" to
      // "EMAİL" and the scrubbed md5 would diverge from the oracle's
      // hardcoded [EMAIL]
      regexp_replace(acc, pat, s"[${cat.toUpperCase(java.util.Locale.ROOT)}]")
    }

  /** First-occurrence line dedup (the C4/Gopher "remove duplicate lines
    * within a document" normalization): keep element i iff its FIRST
    * occurrence index is i, preserving order. `lines` MUST be a plain
    * column reference to a pre-materialized array (interpreted HOFs copy
    * argument trees into every use site — the array is referenced once
    * per element here). O(lines^2) per row; lines per document are
    * bounded, rows are not — this is a per-row expression, no shuffle.
    * NULL ELEMENTS are dropped (array_position(_, NULL) is NULL, failing
    * the keep predicate) — fine for split() output (never null), and
    * stated here because DuckDB's list_position NULL handling differs. */
  def dedupLinesOf(lines: Column): Column =
    filter(lines, (x, i) => array_position(lines, x) === (i + 1).cast("long"))

  /** Winnowing fingerprints (the MOSS scheme): over the rolling k-gram
    * hash sequence, take the min hash of every `w`-window, then the
    * distinct selected hashes are the document's fingerprint set —
    * guaranteed to share fingerprints with any document overlapping by
    * >= w+k-1 tokens. `hs` MUST be a plain reference to the
    * pre-materialized hash array ([[md5Long]] over k-gram shingles).
    * Exact integer arithmetic throughout: the fingerprint SET is
    * engine-portable. */
  def winnowOf(hs: Column, w: Int): Column =
    graft.plans.WinnowExprs.winnowMin(hs, w)

  /** HOF formulation of [[winnowOf]] — the executable spec the DuckDB
    * oracle mirrors, O(n*w) interpreted with a slice allocation per
    * window (the native deque is O(n)); WinnowExprsSpec pins them
    * equal. */
  def winnowOfHof(hs: Column, w: Int): Column = {
    val cnt = size(hs) - (w - 1)
    // NULL input -> NULL (missing document), not [] (too short to
    // fingerprint) — the shinglesOfHof discipline; oracle mirrors
    when(hs.isNull, lit(null).cast("array<bigint>"))
      .when(cnt >= 1,
      array_sort(array_distinct(
        transform(sequence(lit(1), cnt), i => array_min(slice(hs, i, lit(w)))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Language-ID heuristic: stopword-profile hit counts per language,
    * argmax with deterministic lexicographic tie-break. Profiles are tiny
    * broadcast-free literals; scoring is per-row codegen. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "db" -> Seq("table", "scan", "join", "query", "index", "merge", "hash"),
    "sp" -> Seq("spark", "batch", "row", "data", "filter", "group", "window"))

  def langScores(toks: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, vocab) => lang -> vocabHits(toks, vocab) }

  /** Predicted language = lexicographically-first lang with maximal score;
    * ZERO signal (no profile word hit at all, or NULL tokens) is
    * undetermined — without the zero guard the first profile in sort
    * order would confidently claim every empty/foreign document.
    *
    * Shape: ONE argmax fold over a (score, lang) struct array. The
    * greatest+CASE formulation embedded every vocab-filter tree into the
    * base condition AND each branch — HOFs never codegen and conditional
    * branches get no subexpression elimination, so each row paid ~5x the
    * filter passes (review-found). Here each score tree appears exactly
    * once; strict `>` keeps the FIRST maximal lang of the sorted array
    * (the same lexicographic tie-break), NULL scores never displace the
    * accumulator, and the -1 seed makes all-zero/NULL finish as 'und'. */
  def langId(toks: Column): Column = {
    val pairs = array(langScores(toks).sortBy(_._1).map { case (lang, s) =>
      struct(s.as("s"), lit(lang).as("l"))
    }: _*)
    aggregate(pairs,
      struct(lit(-1).cast("int").as("s"), lit("und").as("l")),
      (acc, p) => when(p.getField("s") > acc.getField("s"), p).otherwise(acc),
      acc => when(acc.getField("s") <= 0, lit("und"))
        .otherwise(acc.getField("l")))
  }
}
