package graft.operators

import graft.operators.Pin.syntax._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for the count/sum aggregate
  * family — apply a CDC delta to a stored aggregate instead of
  * recomputing from the base table (classic delta-propagation IVM; the
  * reference's writer can only full-reload, reference
  * database/dbms/writer/task.go:17-32).
  *
  * count and sum are self-maintainable: inserted rows contribute +1/+x,
  * removed rows -1/-x, and an update is remove(old) ⊎ insert(new). The
  * maintenance cost is O(|delta| + |touched groups|) — independent of
  * the base table size, which is the whole point at 100 TB: a nightly
  * delta of a few GB maintains an aggregate over the full corpus without
  * rescanning it. (min/max are NOT self-maintainable under deletes and
  * are deliberately not offered here.)
  */
object Matview {

  /** Apply one round of delta maintenance.
    *
    * `prevAgg` must have columns `groupCols ++ ("n_rows") ++
    * sumCols.map("sum_" + _)` — exactly what this function returns, so
    * rounds chain. `inserted` / `removed` carry the after-image of
    * inserts+updates and the BEFORE-image of updates+deletes
    * respectively (each with `groupCols` and the raw `sumCols`).
    * Groups whose maintained count reaches zero are dropped, matching a
    * recompute. Sums accumulate as longs (cast upstream for decimals). */
  def maintainSums(prevAgg: DataFrame, inserted: DataFrame,
                   removed: DataFrame, groupCols: Seq[String],
                   sumCols: Seq[String]): DataFrame = {
    val pick = (groupCols ++ sumCols).map(col)
    val signed = inserted.select(pick: _*).withColumn("__sgn", lit(1L))
      .unionByName(removed.select(pick: _*).withColumn("__sgn", lit(-1L)))
    val deltaAgg = signed.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__sgn")).as("__dn"),
        sumCols.map(c =>
          sum(col(c).cast("long") * col("__sgn")).as(s"__d_$c")): _*)
    prevAgg.join(deltaAgg, groupCols, "full_outer")
      .select(groupCols.map(col) ++
        Seq((coalesce(col("n_rows"), lit(0L)) +
          coalesce(col("__dn"), lit(0L))).as("n_rows")) ++
        sumCols.map(c => (coalesce(col(s"sum_$c"), lit(0L)) +
          coalesce(col(s"__d_$c"), lit(0L))).as(s"sum_$c")): _*)
      .where(col("n_rows") > 0)
  }

  /** Bootstrap the aggregate shape [[maintainSums]] maintains. */
  def sumsOf(base: DataFrame, groupCols: Seq[String], sumCols: Seq[String])
      : DataFrame =
    base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c).cast("long")).as(s"sum_$c")): _*)

  /** Incremental maintenance for an INNER equi-join view `V = L ⋈ R`
    * on `on` — the delta-propagation identity
    *
    *   V1 − V0 = ΔL ⋈ R0  +  L1 ⋈ ΔR
    *
    * (exact in bag semantics: expanding (L0+ΔL)⋈(R0+ΔR) − L0⋈R0 gives
    * ΔL⋈R0 + L0⋈ΔR + ΔL⋈ΔR, and the last two fold into L1⋈ΔR). The
    * cost is two joins whose DELTA side is O(|ΔL|)/(O(|ΔR|)) — the base
    * tables are probed, never re-joined against each other, so a small
    * nightly delta maintains a 100 TB join view without rescanning it.
    *
    * `lKey`/`rKey` are the sides' primary keys (update = remove(before)
    * ⊎ insert(after), the CDC convention [[maintainSums]] uses); view
    * rows are identified by the (lKey, rKey) pair. Returns the view
    * delta: every output row is a full view row plus `__op` —
    * `'D'` retract (the before-image) or `'I'` assert (the after-image).
    * An updated row yields a D and an I under the same (lKey, rKey);
    * apply D-without-I as deletes and every I as an upsert
    * ([[applyJoinDelta]] does exactly that against a versioned view). */
  def joinDelta(l0: DataFrame, lIns: DataFrame, lDel: DataFrame,
      lKey: String, r0: DataFrame, rIns: DataFrame, rDel: DataFrame,
      rKey: String, on: Seq[String]): DataFrame = {
    require(on.nonEmpty, "need at least one join column")
    require(l0.columns.toSet.intersect(r0.columns.toSet) == on.toSet,
      "the join columns must be the only names the sides share " +
        s"(shared: ${l0.columns.toSet.intersect(r0.columns.toSet)})")
    val reserved = Seq("__sgn", "__net", "__op")
    require(!(l0.columns ++ r0.columns).exists(reserved.contains),
      s"joinDelta reserves the ${reserved.mkString("/")} column names")
    require(l0.columns.contains(lKey) && r0.columns.contains(rKey),
      s"primary keys must exist on their sides: $lKey / $rKey")
    val sgn = col("__sgn")
    val dl = lIns.withColumn("__sgn", lit(1L))
      .unionByName(lDel.withColumn("__sgn", lit(-1L)))
    val dr = rIns.withColumn("__sgn", lit(1L))
      .unionByName(rDel.withColumn("__sgn", lit(-1L)))
    val l1 = l0.join(lDel.select(col(lKey)).distinct(), Seq(lKey),
      "left_anti").unionByName(lIns)
    val d1 = dl.join(r0, on)
    val d2 = l1.join(dr, on)
    val viewCols = d1.columns.filterNot(_ == "__sgn").toSeq
    // net per FULL ROW: an L-update's retract(old payload) and
    // assert(new payload) are different rows and must both survive;
    // only identical-row +/- pairs (e.g. delete+reinsert of the same
    // values) cancel
    d1.select((viewCols.map(col) :+ sgn): _*)
      .unionByName(d2.select((viewCols.map(col) :+ sgn): _*))
      .groupBy(viewCols.map(col): _*)
      .agg(sum(sgn).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn("__op", when(col("__net") > 0, lit("I")).otherwise(lit("D")))
      .drop("__net")
  }

  /** Apply a [[joinDelta]] to a versioned view table keyed
    * (lKey, rKey): pure retractions (a D with no I on the same view
    * key) delete; every assertion upserts (covering the update case
    * where D and I share the key). Both operations are file-pruned lake
    * commits — O(|delta| + matching files). */
  def applyJoinDelta(spark: org.apache.spark.sql.SparkSession,
      viewRoot: String, delta: DataFrame, lKey: String, rKey: String)
      : Unit = {
    val keys = Seq(lKey, rKey)
    // materialize the delta ONCE: it is O(|delta|) by construction, and
    // the lake's upsert/merge machinery (key probe, staging, stats,
    // commit retry) evaluates its input several times — lazily each
    // evaluation would re-run the CDC diffs and both maintenance joins
    val d = delta.pinned()
    val inserts = d.filter(col("__op") === "I").drop("__op")
    val pureDeletes = d.filter(col("__op") === "D")
      .join(inserts.select(keys.map(col): _*), keys, "left_anti")
      .drop("__op")
    if (!pureDeletes.isEmpty)
      graft.sinks.VersionedTable.merge(pureDeletes, viewRoot, keys,
        matchedDelete = Some(lit(true)), matchedUpdate = Map.empty,
        insertUnmatched = false)
    if (!inserts.isEmpty)
      graft.sinks.VersionedTable.upsert(inserts, viewRoot, keys)
  }
}
