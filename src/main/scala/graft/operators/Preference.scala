package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise-preference aggregation — the model behind preference-data
  * curation (ranking models/prompts/sources from "A beat B" judgments,
  * the Bradley–Terry layer of an RLHF reward pipeline).
  */
object Preference {

  /** Q20 fixed-point unit: strengths live in units of 2⁻²⁰. */
  val Scale: Long = 1L << 20

  private val Scale2: Long = 1L << 40

  /** Bradley–Terry strengths from directed win counts via Hunter's
    * (2004) MM iteration, run `iters` rounds in EXACT Q20 fixed point:
    *   p'_i = W_i / Σ_j n_ij/(p_i + p_j),  then L1-normalize to C·2²⁰.
    * Every round is two integer floor-divisions per pair/item —
    * t_ij = n_ij·2⁴⁰ div (p_i+p_j), p'_i = W_i·2⁴⁰ div S_i — with
    * products held in decimal(38,0), so all `iters` rounds replay
    * bit-identically as unrolled SQL CTEs (the [[Graph.hits]]
    * protocol). MM monotonically increases the BT likelihood; a few
    * rounds separate strengths far beyond the 2⁻²⁰ grain.
    *
    * `pairs` rows are single comparisons (winner, loser); ties should
    * be dropped upstream. Items that never win converge to strength 0
    * (the MLE boundary — standard BT needs every item to win and lose
    * somewhere for interior estimates; no smoothing is imposed here).
    *
    * Scale shape: counts collapse the comparison stream to the
    * distinct ordered-pair domain first; each round is one pair⋈item
    * join + one groupBy over that domain, localCheckpoint'd (bounded:
    * |items| rows) so round r+1 rereads results, not lineage. Driver
    * state: none beyond the checkpoint bookkeeping.
    *
    * Output: (item, wins, games, strength_fp, strength) with
    * strength = strength_fp/2²⁰ (mean strength ≡ 1 by normalization). */
  def bradleyTerry(pairs: DataFrame, winner: Column, loser: Column,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters out of [1,50]")
    val wl = pairs.select(winner.as("w"), loser.as("l"))
      .where(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
    // directed win counts, then the symmetric games-per-ordered-pair
    // table (i, j, n_ij) and per-item win totals
    val wins = wl.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
      .pinned()
    val sym = wins.select(col("w").as("i"), col("l").as("j"), col("n"))
      .unionByName(wins.select(col("l").as("i"), col("w").as("j"),
        col("n")))
      .groupBy(col("i"), col("j")).agg(sum(col("n")).as("nij"))
      .pinned()
    val items = sym.select(col("i")).distinct().pinned()
    val totW = items.join(
        wins.groupBy(col("w")).agg(sum(col("n")).as("wins")),
        items("i") === col("w"), "left")
      .select(col("i"), coalesce(col("wins"), lit(0L)).as("wins"))
      .pinned()
    // |items| once, before the loop — it never changes, and the old
    // per-round broadcast cross-join re-aggregated it every round
    val nItems = items.count()

    var p = items.select(col("i"), lit(Scale).as("p"))
    var r = 0
    while (r < iters) {
      val scored = sym
        .join(p.select(col("i"), col("p").as("__pi")), "i")
        .join(p.select(col("i").as("j"), col("p").as("__pj")), "j")
        .withColumn("__t",
          expr(s"(CAST(nij AS DECIMAL(38,0)) * $Scale2)" +
            " div (__pi + __pj)"))
        .groupBy(col("i")).agg(sum(col("__t")).as("__S"))
      // ONE action per round (r11): the L1 total rides the round's
      // checkpoint job as an observed metric (decimal: Σp' can outrun
      // int64 when |items| is huge) and lands in the next projection as
      // a LITERAL — the old shape ran a second checkpoint plus two
      // broadcast cross-joins per round to move two scalars
      val (raw, obs) = Pin.step(totW.join(scored, "i")
        .withColumn("__pn",
          when(col("__S") > 0,
            expr(s"(CAST(wins AS DECIMAL(38,0)) * $Scale2) div __S"))
            .otherwise(0L)),
        sum(col("__pn").cast("decimal(38,0)")))
      // null: no comparisons at all (no rows to normalize). A zero total
      // over a non-empty frame would mean every strength collapsed to 0
      // (MM keeps the strongest winner positive, so it should not
      // happen) and the next round would divide by p_i + p_j = 0
      val tot =
        if (obs.isNullAt(0)) BigDecimal(1)
        else BigDecimal(obs.getDecimal(0))
      if (tot.signum == 0) throw new IllegalStateException(
        s"bradleyTerry: every strength is 0 after round ${r + 1}")
      p = raw.select(col("i"),
        expr(s"CAST((CAST(__pn AS DECIMAL(38,0)) * $nItems * $Scale)" +
          s" div CAST('$tot' AS DECIMAL(38,0)) AS BIGINT)").as("p"))
      r += 1
    }
    totW.join(sym.groupBy(col("i")).agg(sum(col("nij")).as("games")), "i")
      .join(p, "i")
      .select(col("i").as("item"), col("wins"), col("games"),
        col("p").as("strength_fp"),
        (col("p").cast("double") / lit(Scale.toDouble)).as("strength"))
  }
}
