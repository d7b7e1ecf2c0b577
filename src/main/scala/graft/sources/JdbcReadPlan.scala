package graft.sources

import graft.operators.split.RangeSplitter

/** Assembled JDBC read plan — the reference reader job's parameter
  * assembly (reference database/dbms/reader/job.go:121-186 +
  * parameter.go:94-120) as a pure function: dialect scan SQL (the user
  * WHERE inside it) + split predicates, in exactly the shape
  * `spark.read.jdbc(url, table, predicates, props)` consumes (one
  * partition per predicate). No DBMS is needed to verify the
  * assembly — the builders are side-effect-free, like the reference's.
  */
final case class JdbcScanPlan(
    /** Full scan statement per task; one element when unsplit, one per
      * querySql statement in passthrough mode. */
    statements: Seq[String],
    /** Partition predicates for spark.read.jdbc's `predicates` overload
      * (empty in querySql/unsplit modes — a single-partition read). */
    predicates: Seq[String])

object JdbcReadPlan {

  /** Build the read plan. `bounds` are the split key's (min, max) from
    * the dialect's minMaxSql probe, already normalized to BigInt by the
    * key domain (long/string/time — RangeSplitter domains); None when
    * the caller skipped the probe or the table is empty.
    *
    * Mode precedence mirrors the reference Split()
    * (job.go:123-142): querySql beats everything (one statement per
    * entry, no split); a missing split key or numPartitions <= 1 reads
    * unsplit; otherwise equal-width slices over the filtered statement.
    * The user WHERE stays INSIDE the statement even when split: Spark
    * wraps the statement as a subquery and applies the slice predicates
    * outside it, where only the projected columns exist — a WHERE on an
    * unprojected column would not resolve there. */
  def plan(cfg: ReaderConfig, dialect: SqlDialect,
      bounds: Option[(BigInt, BigInt)],
      quote: BigInt => String = _.toString): JdbcScanPlan = {
    if (cfg.querySql.nonEmpty)
      return JdbcScanPlan(cfg.querySql, Seq.empty)
    val base = dialect.scanSql(cfg.table, cfg.columns, Seq(cfg.where))
    if (cfg.split.key.isEmpty || cfg.numPartitions <= 1 || bounds.isEmpty)
      return JdbcScanPlan(Seq(base), Seq.empty)
    val (mn, mx) = bounds.get
    val slices = RangeSplitter.split(mn, mx, cfg.numPartitions)
    JdbcScanPlan(Seq(base), RangeSplitter.predicateSql(
      dialect.quote(cfg.split.key), slices, quote))
  }
}
