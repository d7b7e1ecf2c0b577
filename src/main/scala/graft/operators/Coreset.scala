package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Diversity-based data selection: greedy k-center coreset over an
  * embedding column — pick k documents such that every document is close
  * to some pick (the classic 2-approximation to the k-center objective,
  * Gonzalez 1985). Where [[Dedup.semanticDedup]] REMOVES redundant
  * near-neighbors and DSIR importance-weights toward a target domain,
  * this SELECTS a maximally-spread representative subset — the "cover
  * the space with n examples" budget shape (seed sets, eval panels,
  * curriculum anchors).
  *
  * Scale shape: driver state is exactly the k selected centers (k x dim
  * longs — bounded, like the k-means codebooks); each of the k rounds is
  * ONE map-only pass over the corpus (distances to the selected centers
  * from BROADCAST literals, no shuffle) folded into a single `max_by`
  * aggregate action. Total work k^2/2 dots per row — the deliberate
  * recompute-over-materialize trade (a running-min column would halve
  * the dots but checkpoint the corpus k times; k is small, corpus is
  * not). Distances are EXACT int64 squared Euclidean on quantized
  * vectors (`round(x * scale)`), so selection is bit-deterministic under
  * any partitioning — same centers on every run/engine (ties cannot
  * happen: the argmax key (dist, -id) is unique per row).
  */
object Coreset {

  private def q(vec: Column, scale: Double): Column =
    transform(vec, x => round(x.cast("double") * lit(scale)).cast("long"))

  /** Exact |a - c|^2 with c a driver-side literal array: |a|^2 is the
    * precomputed `xx` column, c contributes a constant and one codegen'd
    * long dot per row. */
  private def d2(xx: Column, v: Column, c: Array[Long]): Column = {
    val cc = c.map(x => BigInt(x) * BigInt(x)).sum
    require(cc.isValidLong, s"center norm overflows int64: lower scale ($cc)")
    xx + lit(cc.toLong) -
      lit(2L) * graft.functions.VectorFunctions
        .vec_dot_long(v, typedLit(c.toSeq))
  }

  /** Greedy k-center selection. Returns every input row plus
    * `center_id` (the id of its nearest selected center),
    * `center_rank` (that center's selection order, 0-based — rank 0 is
    * the min-id seed) and `d2_to_center` (exact quantized squared
    * distance). The selected rows themselves are the coreset
    * (`center_id = idCol`); the max of `d2_to_center` is the squared
    * coverage radius the greedy bound guarantees within 2x of optimal.
    *
    * `scale` must keep dim * (maxAbs * scale)^2 well under 2^63; the
    * default 1e6 leaves room for |x| <= ~30 at dim <= 1024. */
  def kCenter(df: DataFrame, idCol: String, vecCol: Column, k: Int,
      scale: Double = 1e6): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    val reserved =
      Seq("center_id", "center_rank", "d2_to_center", "__kc_q", "__kc_xx")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"kCenter reserves output columns ${reserved.mkString(", ")}; " +
        s"input already has: ${clash.mkString(", ")}")
    val base = df.select(col(idCol), vecCol.as("__kc_v"))
      .filter(col("__kc_v").isNotNull && size(col("__kc_v")) > 0)
      .select(col(idCol), q(col("__kc_v"), scale).as("__kc_q"))
      .withColumn("__kc_xx",
        graft.functions.VectorFunctions
          .vec_dot_long(col("__kc_q"), col("__kc_q")))
      // localCheckpoint, not cache(): re-scanned once per selected
      // center (k rounds) — per-scan columnar array decode dominates
      // (see Graph.pageRank's ew note)
      .pinned()
    try {
      val seed = base.orderBy(col(idCol)).limit(1)
        .select(col(idCol), col("__kc_q")).collect()
      require(seed.nonEmpty, "kCenter needs at least one non-null vector")
      val centers = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])](
        (seed(0).getLong(0), seed(0).getSeq[Long](1).toArray))
      while (centers.size < k) {
        val minDist = centers.map { case (_, c) =>
          d2(col("__kc_xx"), col("__kc_q"), c)
        }.reduce(least(_, _))
        // one action: the row maximizing (min-dist-to-selected, -id).
        // -id breaks distance ties deterministically (smallest id wins),
        // so the pick is partition-order-independent.
        val far = base.agg(max_by(
          struct(col(idCol).as("id"), col("__kc_q").as("v")),
          struct(minDist.as("d"), (-col(idCol)).as("nid"))).as("p"))
          .select(col("p.id"), col("p.v")).collect()(0)
        val id = far.getLong(0)
        if (centers.exists(_._1 == id)) {
          // fewer than k distinct points: every row is already a center
          return assign(df, idCol, vecCol, centers.toSeq, scale)
        }
        centers += ((id, far.getSeq[Long](1).toArray))
      }
      assign(df, idCol, vecCol, centers.toSeq, scale)
    } finally base.unpersist()
  }

  /** Map-only nearest-center assignment from broadcast center literals
    * (array_min over k (dist, rank) structs — ties go to the earliest-
    * selected center, deterministically). */
  private def assign(df: DataFrame, idCol: String, vecCol: Column,
      centers: Seq[(Long, Array[Long])], scale: Double): DataFrame = {
    val withQ = df
      .withColumn("__kc_q", q(vecCol, scale))
      .withColumn("__kc_xx",
        when(vecCol.isNotNull && size(vecCol) > 0,
          graft.functions.VectorFunctions
            .vec_dot_long(col("__kc_q"), col("__kc_q"))))
    val scored = centers.zipWithIndex.map { case ((cid, c), rank) =>
      struct(d2(col("__kc_xx"), col("__kc_q"), c).as("d"),
        lit(rank).as("rank"), lit(cid).as("cid"))
    }
    val best = array_min(array(scored: _*))
    withQ
      .withColumn("center_id",
        when(col("__kc_xx").isNotNull, best.getField("cid")))
      .withColumn("center_rank",
        when(col("__kc_xx").isNotNull, best.getField("rank")))
      .withColumn("d2_to_center",
        when(col("__kc_xx").isNotNull, best.getField("d")))
      .drop("__kc_q", "__kc_xx")
  }
}
