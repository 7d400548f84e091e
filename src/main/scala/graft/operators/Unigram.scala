package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{UnigramSegment, UnigramTable}

/** SentencePiece-style UNIGRAM-LM tokenizer (Kudo 2018, "Subword
  * Regularization"), hard-EM variant — the third member of the tokenizer
  * family next to symbol BPE ([[Bpe.train]]) and byte-level BPE
  * ([[Bpe.trainBytes]]). Where BPE grows a vocabulary bottom-up by
  * merging, unigram starts from an over-complete substring seed and
  * PRUNES: score pieces by corpus likelihood, re-segment, drop the
  * least-used, repeat. The apply step is the Viterbi DP
  * ([[graft.plans.UnigramSegment]] — native codegen'd expression).
  *
  * Everything that scales with the corpus is distributed and
  * partial-agg-friendly: ONE pass builds the distinct (pretoken, count)
  * word table (vocabulary-sized, not corpus-sized — the same shape
  * [[Bpe.train]] iterates on); seeding explodes each distinct word's
  * substrings weighted by its count (two codegen'd explodes, grouped
  * sums); every EM round is one segment-explode + hash aggregate over
  * the word table. Only the piece table itself is collected — bounded
  * by ~2x the target vocab, the same driver-side legitimacy as the
  * k-bounded PQ/IVF codebooks.
  *
  * Determinism (the oracle/replay discipline): counts are exact
  * integers; costs are INTEGER scaled negative log-probabilities
  * (`round(scale * ln(total/cnt))` on driver-computed doubles — one
  * platform, one rounding); all top-N cuts tie-break on the piece
  * string. Same inputs -> bit-identical piece table, and the integer
  * Viterbi is exactly reproducible anywhere. */
object Unigram {

  /** Train a piece table: returns (piece, cost) with every single
    * character of the corpus always retained (the coverage floor) plus
    * the `vocabSize` best multi-character pieces. `rounds` hard-EM
    * re-estimations over the distinct-word table; `maxPieceLen` caps
    * both seeding and the DP window. */
  def train(df: DataFrame, textCol: Column, vocabSize: Int,
            rounds: Int = 2, maxPieceLen: Int = 8,
            scale: Int = 1000): UnigramTable = {
    val words = df
      .select(explode(Bpe.pretokenize(textCol)).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // EM re-reads this small table every round:
                         // truncate lineage or each round re-runs the
                         // corpus pretokenize (the epochPlan lesson)

    // seed: every substring of every distinct word, len <= maxPieceLen,
    // weighted by word count — two codegen'd explodes, no HOF in the
    // grouped path
    val subs = words
      .select(col("w"), col("cnt"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("st"))
      .select(col("w"), col("cnt"), col("st"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("st")))).as("ln"))
      .select(expr("substring(w, st + 1, ln)").as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("total"))

    val singles = subs.where(length(col("piece")) === 1)
    val multis = subs.where(length(col("piece")) > 1)
      .orderBy(col("total").desc, col("piece"))
      .limit(vocabSize * 2) // over-complete seed; EM prunes to vocabSize
    var table = toTable(
      singles.unionByName(multis).select("piece", "total")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq, scale)

    var r = 0
    while (r < rounds) {
      // E-step (hard): Viterbi counts under the current table;
      // M-step: re-cost, keep singles + top multis
      val segCounts = words
        .select(explode(UnigramSegment.segment(col("w"), table)).as("piece"),
          col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val used = segCounts.toMap
      // singles = one CODE POINT (seeding's Spark length() counts code
      // points, so an astral char is a protected single there; a Java
      // char-length test here would eject it from the coverage floor)
      def cp1(p: String) = p.codePointCount(0, p.length) == 1
      val singlesKept = table.pieces.map(_._1).filter(cp1)
        .map(p => (p, used.getOrElse(p, 0L) max 1L))
      val multisKept = segCounts.filterNot(c => cp1(c._1))
        .sortBy { case (p, n) => (-n, p) }.take(vocabSize)
      table = toTable(singlesKept ++ multisKept, scale)
      r += 1
    }
    table
  }

  /** Integer costs from weighted counts: cost = round(scale * ln(T/n)).
    * Unknown-char fallback = the worst in-vocab cost + scale (one "nat"
    * worse than the rarest piece — always the last resort). No
    * surrogate filtering is needed: Spark's substring (the seeding
    * path) and the segment DP are both code-point based, so lone
    * surrogates never reach a piece. */
  private def toTable(counts: Seq[(String, Long)], scale: Int): UnigramTable = {
    require(counts.nonEmpty,
      "unigram: no pieces to score — empty or whitespace-only corpus")
    val total = counts.map(_._2).sum.toDouble
    val costs = counts.map { case (p, n) =>
      (p, math.round(scale * math.log(total / n)).toInt)
    }
    new UnigramTable(costs, costs.map(_._2).max + scale)
  }

  /** Whole-text encode: pretokenize (the shared GPT-2-shaped split),
    * Viterbi-segment each pretoken, concatenate in document order —
    * lossless (piece concatenation reconstructs the text). */
  def encodeText(text: Column, table: UnigramTable): Column =
    flatten(transform(Bpe.pretokenize(text),
      w => UnigramSegment.segment(w, table)))

  /** Deterministic id layout: pieces in sorted order (the order
    * [[graft.plans.UnigramTable.pieces]] returns) — same table, same
    * ids, anywhere. */
  def vocab(table: UnigramTable): Map[String, Int] =
    table.pieces.map(_._1).zipWithIndex.toMap

  /** Corpus encode to ids under [[vocab]]'s layout; pieces outside the
    * table (UNK code points surfaced by the DP's fallback) become
    * `unkId` — the [[Bpe.encodeIds]] contract. */
  def encodeIds(df: DataFrame, textCol: Column, table: UnigramTable,
                unkId: Int = -1, outCol: String = "piece_ids"): DataFrame =
    df.withColumn(outCol, graft.plans.ModelApply.vocabIds(df.sparkSession,
      "unigram_vocab", vocab(table), encodeText(textCol, table), unkId))

  /** Persist a trained piece table (first line = the UNK cost, then one
    * `piece \t cost` per line in sorted piece order). Pieces CAN contain
    * spaces (space-run pretokens), tabs, and newlines, so the piece
    * field is backslash-escaped exactly like [[Bpe.saveMerges]]. */
  def savePieces(path: String, table: UnigramTable): Unit = {
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    val body = (table.unkCost.toString +: table.pieces.map { case (p, c) =>
      s"${esc(p)}\t$c" }).mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Load a piece table written by [[savePieces]]. */
  def loadPieces(path: String): UnigramTable = {
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
    val lines = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty, s"empty piece artifact: $path")
    val unk = lines.head.toInt
    val pieces = lines.tail.map { line =>
      val cut = line.lastIndexOf('\t')
      require(cut > 0, s"malformed piece line: '$line'")
      (unesc(line.substring(0, cut)), line.substring(cut + 1).toInt)
    }
    new UnigramTable(pieces, unk)
  }
}
