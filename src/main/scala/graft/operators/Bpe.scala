package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al., ACL'16 — the
  * subword-tokenizer trainer), distributed the way BPE is actually run at
  * corpus scale: ONE pass over the corpus builds the word-frequency
  * vocabulary (groupBy word — the only operation that touches 100 TB),
  * then every merge round works on the AGGREGATED vocab: explode adjacent
  * symbol pairs weighted by word count, one groupBy(pair) shuffle, one
  * 1-row collect (the argmax pair, ties broken lexicographically —
  * deterministic across runs and cluster sizes), and a per-row greedy
  * merge fold. `localCheckpoint` truncates the per-round lineage exactly
  * like the Lloyd/label-propagation loops (SURVEY §6).
  *
  * No end-of-word marker is appended (merges never span words because
  * symbols never cross the word boundary of their row). */
object Bpe {

  /** Learn `nMerges` merges from whitespace words of `textCol`.
    * Returns them in application order. */
  def train(df: DataFrame, textCol: Column, nMerges: Int): Seq[(String, String)] = {
    val vocab = df
      .select(explode(graft.functions.Text.tokens(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    // sequence(1, 0) DESCENDS in Spark, so the empty word must be guarded
    // even though tokens() never emits one
    trainFromSyms(vocab.select(col("n"),
      expr("CASE WHEN length(w) = 0 THEN array() " +
        "ELSE transform(sequence(1, length(w)), i -> substring(w, i, 1)) END").as("s")),
      nMerges)
  }

  /** Learn `nMerges` merges at the BYTE level (GPT-2 style): pretokens
    * from the lookahead-free split, symbols from the byte↔unicode
    * remap — see [[encodeWordBytes]] for why that keeps every merge a
    * literal replace. */
  def trainBytes(df: DataFrame, textCol: Column, nMerges: Int): Seq[(String, String)] = {
    val vocab = df
      .select(explode(pretokenize(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    trainFromSyms(vocab.select(col("n"), byteSymbols(col("w")).as("s")), nMerges)
  }

  /** The shared greedy merge-learning loop over an aggregated
    * (count, symbol-array) vocabulary — the symbol domain (chars or
    * remapped bytes) is the caller's choice. */
  private def trainFromSyms(symsDf: DataFrame, nMerges: Int): Seq[(String, String)] = {
    var syms = symsDf.localCheckpoint()
    val merges = mutable.Buffer.empty[(String, String)]
    var exhausted = false
    for (_ <- 0 until nMerges if !exhausted) {
      val top = syms.where(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(s) - 1), i -> struct(s[i-1] AS a, s[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        syms = syms.select(col("n"), mergeFold(col("s"), a, b).as("s"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Greedy left-to-right single-merge application over a symbol array:
    * every adjacent (a, b) becomes a+b, non-overlapping, one pass — the
    * standard BPE round semantics ("aaa" + (a,a) -> [aa, a]). A fold over
    * the aggregated vocab rows (never the raw corpus), carrying
    * (emitted, pending) state. */
  private[operators] def mergeFold(s: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(s,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("prev")),
      (st, x) => {
        val prev = st.getField("prev")
        val out = st.getField("out")
        val isMerge = prev === lit(a) && x === lit(b)
        struct(
          when(isMerge, out)
            .otherwise(when(prev.isNull, out)
              .otherwise(concat(out, array(prev)))).as("out"),
          when(isMerge, lit(merged)).otherwise(x).as("prev"))
      },
      st => when(st.getField("prev").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("prev")))))
  }

  /** Corpus-scale BPE ENCODE — the half a training pipeline actually runs
    * over 100 TB (train is one bounded pass; apply touches every token).
    *
    * Pure codegen'd string expressions, no UDF, no shuffle: a word is
    * rendered as a double-space-delimited symbol string where every
    * symbol owns a leading AND trailing space (`" a  b  c "`), so merge
    * rank k is the LITERAL replacement `" a  b " -> " ab "`. Literal
    * `replace` is greedy left-to-right non-overlapping in one pass —
    * exactly the per-merge BPE round semantics ([[applyMerges]]) — and
    * needs no regex, so DuckDB mirrors it verbatim
    * (`replace`/`array_to_string`/`string_split`). Symbols never contain
    * whitespace (they come from whitespace-tokenized words), so the
    * delimiting is unambiguous even when one symbol prefixes another.
    * The merge list arrives as literals folded into the plan (the
    * broadcast-literal discipline of the LSH hyperplanes). */
  def encodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    val spaced = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))), "  "),
      lit(" "))
    val replaced = merges.foldLeft(spaced) { case (s, (a, b)) =>
      call_function("replace", s, lit(s" $a  $b "), lit(s" ${a + b} "))
    }
    // sequence(1, 0) DESCENDS in Spark: empty input must short-circuit
    when(length(word) === 0, array().cast("array<string>"))
      .otherwise(split(trim(replaced), "  "))
  }

  /** Encode whitespace tokens of `text`, flattened in document order. */
  def encodeText(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(graft.functions.Text.tokens(text),
      w => encodeWord(w, merges)))

  // ------------------------------------------------ byte-level (GPT-2)

  /** The GPT-2 byte↔unicode remap (public gpt-2 `bytes_to_unicode`):
    * printable bytes map to themselves, the rest to U+0100+n, so every
    * one of the 256 byte values renders as exactly ONE visible non-space
    * character. Consequences this module relies on: (a) arbitrary UTF-8
    * encodes with NO UNK — the base alphabet is closed over all bytes;
    * (b) no symbol contains whitespace, so the double-space literal-
    * replace encode ([[encodeWord]]) stays sound at the byte level. */
  val byteAlphabet: IndexedSeq[String] = {
    val self = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ'))
      .map(_.toInt).toSet
    var n = 0
    (0 until 256).map { b =>
      if (self(b)) b.toChar.toString
      else { val c = (256 + n).toChar.toString; n += 1; c }
    }
  }

  /** GPT-2-shaped pretokenization WITHOUT lookahead:
    * ` ?\p{L}+ | ?\p{N}+ | ?[^WS\p{L}\p{N}]+ | WS+` — the reference
    * pattern minus the English contraction branches and minus the
    * `\s+(?!\S)` trailing-space branch (RE2, hence the DuckDB oracle,
    * has no lookahead; the only divergence is that a multi-space run
    * keeps ALL its spaces instead of donating the last one to the next
    * word). A single leading space still attaches to the following
    * word — the property byte-level BPE vocabularies are built on.
    *
    * Whitespace is an EXPLICIT class, not `\s`: Java's `\s` includes
    * vertical tab (\x0B) but RE2's does not, so the shorthand would
    * tokenize VT-containing text differently per engine. The literal
    * class below means the same six characters to both. */
  val PretokenPattern: String = {
    val ws = "\\t\\n\\x0B\\f\\r " // identical escape text in Java + RE2
    s" ?\\p{L}+| ?\\p{N}+| ?[^$ws\\p{L}\\p{N}]+|[$ws]+"
  }

  /** Pretokens of `text` in document order (regexp_extract_all: the
    * pattern branches cover every character, so concatenating the
    * pretokens reconstructs the text — nothing is dropped). */
  def pretokenize(text: Column): Column =
    call_function("regexp_extract_all", text, lit(PretokenPattern), lit(0))

  /** A pretoken as its byte-remap symbol array: UTF-8 bytes via
    * `encode`, each byte indexed into the [[byteAlphabet]] literal —
    * pure codegen'd expressions, no UDF. */
  def byteSymbols(w: Column): Column = {
    val lut = array(byteAlphabet.map(lit): _*)
    // fully qualified: Bpe.encode (the DataFrame entry point) shadows
    // the functions.encode string→binary conversion
    val bin = org.apache.spark.sql.functions.encode(w, "UTF-8")
    when(octet_length(bin) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), octet_length(bin)), i =>
        call_function("element_at", lut,
          conv(hex(bin.substr(i, lit(1))), 16, 10).cast("int") + 1)))
  }

  /** Byte-level [[encodeWord]]: the same double-space literal-replace
    * merge chain over the byte-remapped symbols. Merge tables for this
    * entry point come from [[trainBytes]] (their symbols live in the
    * remapped domain). */
  def encodeWordBytes(word: Column, merges: Seq[(String, String)]): Column = {
    val spaced = concat(lit(" "), array_join(byteSymbols(word), "  "), lit(" "))
    val replaced = merges.foldLeft(spaced) { case (s, (a, b)) =>
      call_function("replace", s, lit(s" $a  $b "), lit(s" ${a + b} "))
    }
    when(length(word) === 0, array().cast("array<string>"))
      .otherwise(split(trim(replaced), "  "))
  }

  /** Byte-level corpus encode: pretokenize, then per-pretoken
    * [[encodeWordBytes]], flattened in document order. Total function:
    * any UTF-8 input, no UNK, scan→project, zero shuffles. */
  def encodeTextBytes(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(pretokenize(text), w => encodeWordBytes(w, merges)))

  /** DataFrame-level corpus encode: appends `outCol` with the BPE token
    * array of `textCol` under `merges`. Scan -> project, zero shuffles;
    * the whole chain stays inside whole-stage codegen. */
  def encode(df: DataFrame, textCol: Column, merges: Seq[(String, String)],
             outCol: String = "bpe_tokens"): DataFrame =
    df.withColumn(outCol, encodeText(textCol, merges))

  /** Token-id table in the standard BPE vocab layout: the (sorted,
    * deduplicated) base alphabet first, then one id per merge PRODUCT in
    * rank order (products already in the alphabet keep their alphabet
    * id). Deterministic: same merges + alphabet => same ids on every
    * machine and run. */
  def vocab(merges: Seq[(String, String)],
            alphabet: Seq[String]): Map[String, Int] = {
    val base = alphabet.distinct.sorted
    val seen = scala.collection.mutable.LinkedHashSet(base: _*)
    merges.foreach { case (a, b) => seen += (a + b) }
    seen.toSeq.zipWithIndex.toMap
  }

  /** Corpus encode to TRAINER IDS: [[encodeText]] then one native
    * [[graft.plans.ModelApply]] `mapOver` of the vocab, broadcast once
    * as a hash table — still zero shuffles. Symbols outside the vocab
    * (characters never seen at train time) become `unkId`, the standard
    * UNK contract. */
  def encodeIds(df: DataFrame, textCol: Column,
                merges: Seq[(String, String)], alphabet: Seq[String],
                unkId: Int = -1, outCol: String = "bpe_ids"): DataFrame =
    df.withColumn(outCol, graft.plans.ModelApply.vocabIds(df.sparkSession,
      "bpe_vocab", vocab(merges, alphabet), encodeText(textCol, merges), unkId))

  /** Persist a learned merge table as the training artifact (one merge
    * per line, rank order, two escaped fields). Symbols never contain
    * spaces (they come from whitespace-split words) but CAN contain
    * newlines/tabs, so both fields are backslash-escaped. */
  def saveMerges(path: String, merges: Seq[(String, String)]): Unit = {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    val body = merges.map { case (a, b) => s"${esc(a)}\t${esc(b)}" }
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Load a merge table written by [[saveMerges]], rank order intact. */
  def loadMerges(path: String): Seq[(String, String)] = {
    def unesc(s: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case '\\' => out += '\\'
            case 'n' => out += '\n'
            case 'r' => out += '\r'
            case 't' => out += '\t'
            case c => out += c
          }
          i += 2
        } else { out += s(i); i += 1 }
      }
      out.toString
    }
    java.nio.file.Files.readString(
        java.nio.file.Paths.get(path),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).toSeq.filter(_.nonEmpty)
      .map { line =>
        val t = line.split("\t", -1)
        require(t.length == 2, s"malformed merge line: '$line'")
        (unesc(t(0)), unesc(t(1)))
      }
  }

  /** Apply a learned merge list to one word (driver/executor-side helper
    * for encode paths and specs) — same greedy pass per merge, in order. */
  def applyMerges(word: String, merges: Seq[(String, String)]): Seq[String] =
    applyMergesSyms(word.map(_.toString), merges)

  /** The same serial reference from an explicit initial symbol list —
    * the byte-level paths start from [[byteAlphabet]]-rendered bytes
    * instead of characters. */
  def applyMergesSyms(init: Seq[String],
                      merges: Seq[(String, String)]): Seq[String] = {
    var syms: List[String] = init.toList
    merges.foreach { case (a, b) =>
      val out = mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toList
    }
    syms
  }

  /** Driver-side byte rendering of one pretoken (the serial mirror of
    * [[byteSymbols]]). */
  def byteRender(w: String): Seq[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => byteAlphabet(b & 0xff))
}
