package graft.operators

import graft.functions.BpeFunctions
import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE subword-vocabulary training + encoding (Sennrich et
  * al. 2016 — public literature; the algorithm every LLM tokenizer
  * family descends from).
  *
  * Training never touches the corpus after the first pass: it runs over
  * the WORD-COUNT vocabulary (distinct words x frequency), which is what
  * makes it distributable at 100 TB — the corpus-sized work is one
  * word-count aggregation; each merge iteration is then one pair-count
  * shuffle over the (much smaller, but still distributed) vocabulary plus
  * a driver-side argmax of ONE row. Driver state is the merge list
  * (nMerges pairs), never data rows. The per-iteration symbol rewrite is
  * the native codegen'd [[graft.functions.BpeMerge]] expression;
  * `localCheckpoint` truncates the growing lineage each iteration (the
  * established iterative-loop discipline, see Dedup.nearDupClusters).
  *
  * The argmax tie-break is total and deterministic — (weight DESC, a ASC,
  * b ASC) — so the learned vocabulary is identical across partitionings
  * and cluster sizes.
  *
  * Encoding applies the learned merges in rank order ([[graft.functions.
  * BpeEncode]], one fused JVM pass) — the standard reference behavior:
  * rank-order application reproduces exactly the merges training would
  * have made on that word.
  */
object Bpe {
  /** End-of-word marker so merges never cross word boundaries and a
    * word-final subword is distinct from the same prefix mid-word. */
  val EndMark = "</w>"

  /** Corpus -> (word, count) vocabulary. The one corpus-sized pass. */
  def wordCounts(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))

  /** Word -> initial symbol sequence: characters + the end marker. */
  def asSymbols(words: DataFrame): DataFrame =
    words.select(col("wc"),
      concat(split(col("w"), ""), array(lit(EndMark))).as("sym"))

  /** Frequency-weighted adjacent-pair counts over the vocabulary. */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.filter(size(col("sym")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(0, size(sym)-2), " +
          "i -> struct(element_at(sym, i+1) AS a, element_at(sym, i+2) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wc")).as("weight"))

  /** Learn `nMerges` merges. Stops early when no pair repeats. */
  def train(docs: DataFrame, text: Column, nMerges: Int)
      : Seq[(String, String)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var syms = asSymbols(wordCounts(docs, text)).pinned()
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val top = pairCounts(syms)
        .orderBy(col("weight").desc, col("a"), col("b")).limit(1).collect()
      // a pair occurring once can still merge, but contributes nothing
      // to compression; the classic stop is weight < 2
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        syms = syms.withColumn("sym",
          BpeFunctions.bpe_merge(col("sym"), a, b)).pinned()
      }
      i += 1
    }
    merges.toSeq
  }

  /** Tokenize a text column with a learned merge list: per word, the
    * char+EndMark symbols run through the rank-order encode; the word
    * token lists concatenate in order. */
  def tokens(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(
      filter(split(text, " "), w => length(w) > 0),
      w => BpeFunctions.bpe_encode(
        concat(split(w, ""), array(lit(EndMark))), merges)))
}
