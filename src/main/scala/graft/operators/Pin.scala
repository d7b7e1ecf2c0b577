package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The ONE pinning point for iterative / multi-consumer working sets.
  *
  * Every operator that re-scans an intermediate (graph iteration edge
  * sets, CC labels, k-means vectors, ER blocking inputs, prefix-sum
  * frames) pins it here — `df.pinned()` after
  * `import graft.operators.Pin.syntax._`, or [[Pin.step]] for a loop
  * round that also reads a driver-side scalar — never by calling
  * `localCheckpoint()` inline, so the materialization posture is a
  * single switch:
  *
  *  - default: eager `localCheckpoint()` — blocks live on executors,
  *    lineage is cut, per-scan columnar decode is avoided (guide §5;
  *    measured 10-17 s/iteration of re-scan saved on pageRank at
  *    sf0.1/32 cores in r10).
  *  - `spark.graft.pin.reliable=true` AND a `SparkContext.setCheckpointDir`
  *    directory set: reliable `checkpoint()` — blocks go to the
  *    checkpoint dir and survive executor loss. `localCheckpoint` is NOT
  *    fault-tolerant: on a real cluster one lost executor (or dynamic
  *    allocation reclaiming one) makes the pinned RDD unrecoverable, so
  *    a 100 TB deployment must flip this switch (the speed cost is one
  *    write+read of the working set through the checkpoint FS).
  *
  * Both modes return a DataFrame with the SAME rows and schema; the
  * choice can never change query results (PinSpec runs every loop
  * operator in both modes and compares, and checks that reliable pins
  * land in the checkpoint dir).
  *
  * The pin's job is attributed to the CALLER: Spark names an action by
  * its first non-Spark stack frame, which would be this file for every
  * pin, so the call site ("localCheckpoint at Graph.scala:132" — the
  * key `tools.Profile` groups stages by) is set from the frame that
  * called into `Pin`. An explicit call site the caller already set wins.
  */
object Pin {
  /** Config key: set "true" (with a checkpoint dir) for fault-tolerant
    * pins on clusters where executors can be lost. */
  val ReliableKey = "spark.graft.pin.reliable"

  /** One loop round: pin `df` and read `metric` (plus `more`) over it in
    * the SAME job — an anonymous observation rides the pin action, so a
    * round's convergence test costs no second scan. Returns the pinned
    * frame and the observed row (aggregates over an empty frame follow
    * SQL rules: `count` is 0, `sum` is null). */
  def step(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val pinned = materialize(df.observe(obs, metric, more: _*))
    (pinned, Await.result(obs.future, Duration.Inf))
  }

  private def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val reliable =
      spark.conf.getOption(ReliableKey).exists(_.equalsIgnoreCase("true")) &&
        sc.getCheckpointDir.isDefined
    val action = if (reliable) "checkpoint" else "localCheckpoint"
    val siteKey = "callSite.short" // Spark's CallSite.SHORT_FORM
    val prevSite = sc.getLocalProperty(siteKey)
    if (prevSite == null) sc.setCallSite(s"$action at $callerFrame")
    try if (reliable) df.checkpoint() else df.localCheckpoint()
    finally sc.setLocalProperty(siteKey, prevSite)
  }

  /** `File.scala:line` of the first stack frame outside this object. */
  private def callerFrame: String =
    Thread.currentThread.getStackTrace.iterator
      .drop(1) // getStackTrace itself
      .find(f => !f.getClassName.startsWith("graft.operators.Pin$"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("unknown")

  /** Import for the `.pinned()` postfix form — the only pinning
    * spelling outside [[step]]. */
  object syntax {
    implicit class PinnedDataFrame(private val df: DataFrame)
        extends AnyVal {
      def pinned(): DataFrame = Pin.materialize(df)
    }
  }
}
