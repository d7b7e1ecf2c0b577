package graft.operators

import graft.functions.{FixedLog, UnigramFunctions}
import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM subword tokenizer training (SentencePiece's
  * unigram algorithm, Kudo 2018 — public literature; the tokenizer
  * family T5/LLaMA-style models use alongside BPE).
  *
  * Same 100 TB discipline as [[Bpe]]: the corpus is touched ONCE (the
  * word-count aggregation); everything after runs on the distinct-word
  * vocabulary weighted by frequency. Each EM iteration is one
  * segmentation pass over the vocabulary (the native codegen'd
  * [[graft.functions.UnigramSegment]] Viterbi) plus one piece-count
  * shuffle; the piece table (vocabSize entries) is the only driver
  * state and ships to executors as an expression literal.
  *
  * Simplification vs full SentencePiece, documented on purpose: the
  * prune step keeps the top `vocabSize` pieces by expected count
  * instead of computing each piece's exact likelihood-loss delta (the
  * loss-delta rank and the expected-count rank differ only in the tail
  * at these vocab sizes, and expected count needs no second pass).
  * Single characters are always kept so every string remains
  * segmentable (SentencePiece's coverage guarantee).
  *
  * EXACT ARITHMETIC (round-9 rebase, the BPE/OPQ/PCA playbook): piece
  * costs are Q20 fixed-point negated log-probs,
  * `cost(p) = log2_fp(total) - log2_fp(count_p)` over exact integer
  * counts ([[FixedLog.log2Fp]] — shift-and-square, no libm), and the
  * Viterbi DP minimizes an integer sum with a total deterministic
  * tie-break (longest piece wins equal cost). Training and
  * tokenization are therefore bit-replayable in ANY engine with 64-bit
  * integers: the `text_unigram_tokens` oracle unrolls both EM rounds as
  * recursive-CTE Viterbi passes in DuckDB and hash-matches.
  */
object Unigram {

  /** Longest candidate piece. 6 covers the useful subword range at
    * these corpus sizes; DP cost per word is O(len * MaxPieceLen). */
  val MaxPieceLen = 6

  /** Floor cost for a character the table lost: worse than any real
    * piece path (real costs are < 2^26; a word contributes < len·2^26),
    * but finite, so coverage never breaks. */
  val UnkCostFp: Long = 1L << 40

  /** Seed vocabulary: every substring of every distinct word up to
    * [[MaxPieceLen]], frequency-weighted, top `maxSeed` by (count DESC,
    * piece ASC) UNION all single characters. The explode is bounded by
    * |vocabulary| * wordLen * MaxPieceLen — vocabulary-sized work. */
  def seedPieces(words: DataFrame, maxSeed: Int): DataFrame = {
    val subs = words.select(col("wc"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> transform(sequence(i, least(length(w), i + ${MaxPieceLen - 1})),
         |         j -> substring(w, i, j - i + 1))))""".stripMargin))
      .as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("freq"))
    val top = subs.orderBy(col("freq").desc, col("piece")).limit(maxSeed)
    // single chars must survive seeding no matter their rank
    top.unionByName(subs.filter(length(col("piece")) === 1))
      .groupBy(col("piece")).agg(max(col("freq")).as("freq"))
  }

  /** (piece, count) -> (piece, Q20 cost = L(total) − L(count)): the
    * fixed-point negated log-prob, ≥ 0, exact. */
  private def toCosts(pieces: Seq[(String, Long)]): Seq[(String, Long)] = {
    val total = pieces.map(_._2).sum
    val lTotal = FixedLog.log2Fp(total)
    pieces.map { case (p, c) => p -> (lTotal - FixedLog.log2Fp(c)) }
  }

  /** Train: seed, then `emIters` rounds of (Viterbi E-step over the
    * distinct-word vocabulary, expected-count M-step, top-`vocabSize`
    * prune keeping single chars). Returns (piece, costFp). */
  def train(docs: DataFrame, text: Column, vocabSize: Int,
      emIters: Int = 2, seedFactor: Int = 4): Seq[(String, Long)] = {
    require(vocabSize > 0 && emIters >= 1, "vocabSize/emIters must be >= 1")
    val words = Bpe.wordCounts(docs, text).pinned()
    val seed = seedPieces(words, vocabSize * seedFactor)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    var vocab = toCosts(seed)
    var it = 0
    while (it < emIters) {
      // E+M in one shuffle: re-segment every distinct word under the
      // current table, count pieces weighted by word frequency
      val counts = words.select(col("wc"),
          explode(UnigramFunctions.unigram_segment(col("w"), vocab,
            MaxPieceLen, UnkCostFp)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wc")).as("freq"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // prune by expected count; chars always survive (coverage) — a
      // "char" is one CODE POINT (an astral char is 2 UTF-16 units;
      // classifying by .length would let it be pruned and break the
      // segmentability guarantee)
      def isOneCp(p: String) = p.codePointCount(0, p.length) == 1
      val chars = seed.filter(p => isOneCp(p._1)).map { case (p, c) =>
        p -> math.max(counts.getOrElse(p, 0L), 1L) }
      val multi = counts.filter(p => !isOneCp(p._1)).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - chars.size))
      vocab = toCosts((chars ++ multi).distinct)
      it += 1
    }
    vocab.sortBy { case (p, c) => (c, p) }
  }

  /** Tokenize: Viterbi-best pieces of every space-separated word, one
    * flat array per document — map-only, one native call per row. */
  def tokens(text: Column, vocab: Seq[(String, Long)]): Column =
    UnigramFunctions.unigram_segment(text, vocab, MaxPieceLen, UnkCostFp)
}
