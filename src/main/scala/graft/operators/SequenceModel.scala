package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Markov-chain sequence scoring over event streams: fit the first-order
  * transition model on the corpus itself, then score every entity's
  * event sequence by its total and per-step SURPRISAL under that model —
  * the classic sequence-anomaly readout (bot/fraud sessions follow paths
  * the population rarely takes, so their mean transition surprisal is
  * high). The LM-scoring idea of [[TextAnalysis]]'s bigram scorer
  * applied to behavioral sequences instead of tokens.
  *
  * All arithmetic is the engine's cross-engine-exact fixed point:
  * surprisal(a -> b) = log2_fp(c(a, *)) - log2_fp(c(a, b)) >= 0 (counts,
  * never probabilities, so no division until the final non-negative
  * integer `div` by the step count) — bit-identical in any engine, fully
  * oracle-checkable including the top-k cut.
  *
  * Scale shape: ONE user-keyed window pass forms transitions (the
  * events_transitions shuffle); the model is |types|^2 rows — broadcast
  * back onto the transition stream; one user-keyed aggregate; the k cut
  * is TakeOrderedAndProject, never a global sort. The START row makes
  * every entity carry >= 1 transition, so no empty-group edge exists.
  */
object SequenceModel {

  /** The per-user transition stream: (user, prev, next) with the START
    * sentinel on each user's first event, ONE window pass. */
  private def transitions(events: DataFrame, userCol: Column,
      tsCol: Column, tieCol: Column, typeCol: Column): DataFrame = {
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"), col("__tie"))
    events
      .select(userCol.as("__u"), tsCol.as("__ts"), tieCol.as("__tie"),
        typeCol.as("__next"))
      .withColumn("__prev",
        coalesce(lag(col("__next"), 1).over(w), lit("START")))
      .select(col("__u"), col("__prev"), col("__next"))
  }

  /** The fitted model: one row per observed transition with its
    * fixed-point surprisal `__s = log2_fp(c(a,*)) - log2_fp(c(a,b))`.
    * |types|^2-bounded — broadcast-sized by construction (the type
    * vocabulary is a schema property, not a data-size one). */
  def transitionModel(events: DataFrame, userCol: Column, tsCol: Column,
      tieCol: Column, typeCol: Column): DataFrame =
    modelOfTransitions(
      transitions(events, userCol, tsCol, tieCol, typeCol))

  /** [[transitionModel]] over an ALREADY-FORMED transition stream —
    * lets [[sequenceAnomaly]] share one window pass between scoring
    * stream and model fit instead of shuffling the events twice. */
  private def modelOfTransitions(tr: DataFrame): DataFrame = {
    import graft.functions.FixedLogFunctions.log2_fp
    val bi = tr.groupBy(col("__prev"), col("__next"))
      .agg(count(lit(1)).as("__n_ab"))
    val uni = bi.groupBy(col("__prev")).agg(sum(col("__n_ab")).as("__n_a"))
    bi.join(uni, "__prev")
      .withColumn("__s", log2_fp(col("__n_a")) - log2_fp(col("__n_ab")))
      .select(col("__prev"), col("__next"), col("__s"))
  }

  /** Top-`k` most anomalous entities by mean transition surprisal.
    * Output: (user_id, n_trans, surprise_fp, avg_surprise_fp), ordered
    * most-anomalous first with id tie-break. `tieCol` makes the
    * within-timestamp event order deterministic. */
  def sequenceAnomaly(events: DataFrame, userCol: Column, tsCol: Column,
      tieCol: Column, typeCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    // ONE window pass: persist the transition stream so the model fit
    // and the scoring join share it instead of re-shuffling the events
    val tr = transitions(events, userCol, tsCol, tieCol, typeCol)
      .pinned()
    val model = broadcast(modelOfTransitions(tr))
    tr.join(model, Seq("__prev", "__next"))
      .groupBy(col("__u"))
      .agg(count(lit(1)).as("n_trans"), sum(col("__s")).as("surprise_fp"))
      .select(col("__u").as("user_id"), col("n_trans"),
        col("surprise_fp"),
        expr("surprise_fp div n_trans").as("avg_surprise_fp"))
      .orderBy(col("avg_surprise_fp").desc, col("user_id"))
      .limit(k)
  }
}
