package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-source content-overlap matrix — the corpus observability
  * report behind mixture decisions ("how much of source A is already
  * in source B?"): for every source pair, the intersection and union
  * of their distinct word-shingle sets, plus per-source set sizes. The
  * Jaccard is left as the exact integer pair (n_common, union) so the
  * report hash-matches across engines (a ratio would drift in float).
  *
  * Scale shape: the corpus collapses to DISTINCT (source, shingle)
  * pairs first (one map-side-combined aggregation — the only
  * corpus-sized pass); the shingle-keyed self-join then emits at most
  * C(|sources|, 2) rows per distinct shingle regardless of how hot the
  * shingle is (sources, not documents, bound the fan-out — the reason
  * this is cheap where document-pair Jaccard needs prefix filtering),
  * and the (a, b) counts partial-aggregate map-side. */
object CorpusOverlap {

  /** `(src_a, src_b, n_a, n_b, n_common, n_union)` for all pairs with
    * `src_a < src_b`, plus the per-source distinct-shingle sizes joined
    * in. Shingles are RAW n-gram strings (oracle-replayable); use
    * `TextAnalysis.shingles`' word convention. */
  def pairwiseShingleOverlap(df: DataFrame, sourceCol: Column,
      text: Column, n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1: $n")
    val postings = df
      .filter(text.isNotNull && sourceCol.isNotNull)
      .select(sourceCol.as("__co_src"),
        explode(array_distinct(TextAnalysis.shingles(text, n)))
          .as("__co_sh"))
      .distinct()
      .pinned() // consumed three times below (sizes + both join sides)
    val sizes = postings.groupBy(col("__co_src"))
      .agg(count(lit(1)).as("__co_n"))
    val common = postings.as("a")
      .join(postings.as("b"),
        col("a.__co_sh") === col("b.__co_sh") &&
          col("a.__co_src") < col("b.__co_src"))
      .groupBy(col("a.__co_src").as("src_a"), col("b.__co_src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("__co_src").as("src_a"), col("__co_n").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("__co_src").as("src_b"), col("__co_n").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_a") + col("n_b") - col("n_common")).as("n_union"))
  }
}
