package graft

import graft.operators.Preference
import org.apache.spark.sql.functions._

/** Pins Preference.bradleyTerry: transitive dominance ordering,
  * exact symmetry, the zero-win boundary, L1 normalization, and
  * bit-stability under repartitioning. */
class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  private def games(rows: (String, String, Int)*) =
    rows.flatMap { case (w, l, n) => Seq.fill(n)((w, l)) }
      .toDF("w", "l")

  test("dominance hierarchy orders strengths") {
    val df = games(("A", "B", 9), ("B", "A", 1), ("B", "C", 9),
      ("C", "B", 1), ("A", "C", 9), ("C", "A", 1))
    val m = Preference.bradleyTerry(df, $"w", $"l")
      .select("item", "strength_fp").as[(String, Long)].collect().toMap
    assert(m("A") > m("B") && m("B") > m("C"))
    // BT for this balanced design: A's strength ratio over B ~ 9x^0 ...
    // at least assert separation is material, not grain-level
    assert(m("A") > 2 * m("C"))
  }

  test("perfect symmetry gives exactly equal strengths") {
    val df = games(("A", "B", 5), ("B", "A", 5), ("B", "C", 5),
      ("C", "B", 5), ("A", "C", 5), ("C", "A", 5))
    val s = Preference.bradleyTerry(df, $"w", $"l")
      .select("strength_fp").as[Long].collect().toSet
    assert(s.size == 1) // identical fixed-point values, not just close
  }

  test("an item that never wins collapses to zero strength") {
    val df = games(("A", "B", 3), ("B", "A", 2), ("A", "C", 4),
      ("B", "C", 4))
    val m = Preference.bradleyTerry(df, $"w", $"l")
      .select("item", "strength_fp", "wins", "games")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(m("C")._2 == 0L && m("C")._3 == 0L && m("C")._4 == 8L)
    assert(m("A")._2 > 0L && m("B")._2 > 0L)
  }

  test("no comparisons: no items, no strengths") {
    assert(Preference.bradleyTerry(games(), $"w", $"l").count() == 0L)
  }

  test("L1 normalization and bit-stability under repartitioning") {
    val df = games(("A", "B", 7), ("B", "A", 3), ("B", "C", 6),
      ("C", "B", 4), ("C", "D", 5), ("D", "C", 5), ("A", "D", 2),
      ("D", "A", 8))
    def run(p: Int) = Preference.bradleyTerry(df.repartition(p),
        $"w", $"l")
      .select("item", "strength_fp").as[(String, Long)]
      .collect().sortBy(_._1)
    val a = run(1)
    // sum of strengths ~ C * 2^20 (floor divisions lose < C units)
    val tot = a.map(_._2).sum
    assert(math.abs(tot - 4L * Preference.Scale) <= 8L)
    assert(a.sameElements(run(13)))
  }
}
