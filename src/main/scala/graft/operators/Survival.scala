package graft.operators

import graft.functions.FixedLogFunctions.log2_fp
import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Survival analysis — the Kaplan–Meier product-limit estimator, the
  * standard churn/retention curve under right-censoring (users still
  * active at observation end haven't churned YET; dropping them or
  * counting them as churned both bias the curve). No reference
  * counterpart; sibling of the retention-cohort matrix, which this
  * generalizes with censoring.
  *
  * Determinism contract: survival is a PRODUCT of step ratios
  * Π(n_i − d_i)/n_i — a float product would drift with evaluation
  * order and exp(Σln) would drift between libm builds, so the curve
  * is carried in log2 fixed point: each step contributes
  * log2_fp(n_i − d_i) − log2_fp(n_i) (exact integers, graft's
  * shift-and-square log — functions.FixedLog), and the cumulative sum
  * is exact. `log2_surv_fp` is floor-accurate to ~2e-6·steps in
  * log2; S(t) = 2^(log2_surv_fp / 2^20). Once a step's at-risk set
  * churns out entirely (n_i = d_i, S hits exact 0), that step and all
  * later ones report NULL (log of 0) — the curve's support ends.
  *
  * Scale shape: one grouped count on the duration domain, then three
  * distributed prefix sums over DISTINCT durations ([[Ids.prefixSum]]
  * — never a single-partition window): cost follows the duration
  * domain (bounded by the observation window), not the subject count.
  */
object Survival {

  /** Kaplan–Meier over per-subject rows: `t` = duration (integral,
    * e.g. days), `event` = 1 churn observed / 0 right-censored.
    * Returns one row per EVENT step (durations where ≥1 churn):
    * (t, n_risk, n_events, n_censored, log2_surv_fp), censored
    * subjects at t remaining at risk for t's own step (the standard
    * convention). */
  def kaplanMeier(df: DataFrame, t: Column, event: Column): DataFrame = {
    // materialize the duration-domain relation ONCE: the prefix sums
    // below each fire their own action (partition-total collect), and
    // without this the per-subject upstream (e.g. the sessionize
    // window feeding the gate query) would recompute per action —
    // measured 3.9 s -> the domain is bounded by the observation
    // window, so the checkpoint is tiny at any corpus scale
    val perDur = df
      .select(t.cast("long").as("t"), event.cast("long").as("__e"))
      .groupBy(col("t"))
      .agg(sum(col("__e")).as("n_events"),
        sum(lit(1L) - col("__e")).as("n_censored"),
        count(lit(1)).as("__all"))
      .pinned()
    val total = perDur.agg(sum(col("__all")).as("__n"))
    // at risk at step t = subjects with duration >= t: total minus the
    // EXCLUSIVE prefix count (inclusive cum minus own row)
    val cum = Ids.prefixSum(perDur, Seq(col("t")), col("__all"), "__cum")
      .crossJoin(broadcast(total))
      .withColumn("n_risk", col("__n") - (col("__cum") - col("__all")))
    val steps = cum.where(col("n_events") > 0)
      .withColumn("__term",
        when(col("n_risk") > col("n_events"),
          log2_fp(col("n_risk") - col("n_events")) -
            log2_fp(col("n_risk"))).otherwise(lit(0L)))
      .withColumn("__z",
        when(col("n_risk") === col("n_events"), 1L).otherwise(0L))
    val c1 = Ids.prefixSum(steps, Seq(col("t")), col("__term"), "__cterm")
    val c2 = Ids.prefixSum(c1, Seq(col("t")), col("__z"), "__cz")
    c2.withColumn("log2_surv_fp",
        when(col("__cz") === 0, col("__cterm")))
      .select(col("t"), col("n_risk"), col("n_events"),
        col("n_censored"), col("log2_surv_fp"))
  }
}
