package perfbench

import java.io.File

import org.apache.spark.sql.Row

/** `sql_mix`: registry queries (`graft.SparkEntry.queries`) over the
  * repository's sf0.01 TPC-H-style fixture (about 60k lineitem rows, the
  * scale of the oracle correctness checks; a byte copy of its seven TPC-H
  * tables is shipped in `perfbench/data`), in seed-shuffled order. Each
  * result is collected and checked against the row count and
  * order-insensitive rounded hash recorded in `expected_sql.json`. The
  * data is fixed, so `--seed` only orders the queries. */
class SqlMix extends Workload {
  import SqlMix._

  private var ctx: Ctx = _
  private var dir: String = _
  private var expected: Map[String, (Long, Long)] = Map.empty

  def setup(c: Ctx): Unit = {
    ctx = c
    dir = c.opts("data")
    require(new File(dir, "lineitem.parquet").exists(),
      s"sql_mix: no lineitem.parquet under $dir")
    expected = c.opts.get("expected").map(readExpected).getOrElse(Map.empty)
    c.opts.get("record").foreach { p => record(p); expected = readExpected(p) }
  }

  private def query(name: String): Op = Op.timed("read", name) {
    val q = graft.SparkEntry.queries(name)
    val df = Trace.span("queries.build")(q(ctx.spark, dir))
    val rows = Trace.span("queries.run")(df.collect())
    Outcome(rows.length, () => {
      val got = digest(rows)
      val want = expected.getOrElse(name,
        throw new CheckFailed(s"no expected result for $name"))
      Check.require(got == want, s"$name: got $got, expected $want")
    })
  }

  def warmup(): Seq[Op] = Queries.map(query)

  def cycleSeconds: Double = 6.0

  def cycle(c: Int): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + c)
    rng.shuffle(Queries).map(query)
  }

  private def record(path: String): Unit = {
    val lines = Queries.map { n =>
      val rows = graft.SparkEntry.queries(n)(ctx.spark, dir).collect()
      val (cnt, h) = digest(rows)
      s"""  "$n": [$cnt, "$h"]"""
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(lines.mkString("{\n", ",\n", "\n}")) finally w.close()
  }
}

object SqlMix {
  /** The queries timed: two TPC-H shapes (an aggregation, a three-way
    * join with top-k), a rollup, a window and a correlated-subquery shape
    * from the relational registry, and the graph registry's BFS loop,
    * which pins its frontier every round. A full pass over all 72
    * relational queries is far too long for one run within the
    * benchmark's time budget. */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "agg_rollup_orders",
    "window_running_total", "subq_scalar_avg", "graph_shortest_hops")

  def digest(rows: Array[Row]): (Long, Long) = {
    val d = Check.Digest.of(rows.toSeq.map(_.toSeq))
    (d.rows, d.sum)
  }

  def readExpected(path: String): Map[String, (Long, Long)] = {
    import org.json4s._
    if (!new File(path).exists()) return Map.empty
    org.json4s.jackson.JsonMethods.parse(new File(path)) match {
      case JObject(fs) => fs.collect {
        case (n, JArray(List(JInt(c), JString(h)))) => n -> (c.toLong, h.toLong)
      }.toMap
      case _ => Map.empty
    }
  }
}
