package perfbench

import org.apache.spark.sql.Row

/** Unit tests of the JVM-side check code, runnable without Spark:
  * `python3 perfbench/run.py --self-test` builds and runs them. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val rng = new scala.util.Random(11)
    val rows: Seq[Seq[Any]] = (0 until 500).map(i =>
      Seq(i.toLong, rng.nextDouble() * 1000, s"s${rng.nextInt(50)}",
        if (i % 7 == 0) null else i % 3))
    val d = Check.Digest.of(rows)

    test("checksum is independent of row order") {
      (1 to 20).forall(k => Check.Digest.of(new scala.util.Random(k)
        .shuffle(rows)) == d)
    }
    test("checksum counts duplicate rows") {
      Check.Digest.of(rows :+ rows.head) != d &&
        Check.Digest.of(rows :+ rows.head).rows == d.rows + 1
    }
    test("checksum sees one changed value") {
      val changed = rows.updated(17, rows(17).updated(1, 0.5))
      Check.Digest.of(changed) != d
    }
    test("checksum depends on column order within a row") {
      Check.rowHash(Seq(1L, 2L)) != Check.rowHash(Seq(2L, 1L))
    }
    test("digest arithmetic: adding then removing a row restores it") {
      val h = Check.rowHash(Seq(9L, "x"))
      (d + h - h) == d && (d ++ Check.Digest.of(Seq(Seq(9L, "x")))) == d + h
    }
    test("floating point is compared at 10 significant digits") {
      Check.rowHash(Seq(0.1 + 0.2)) == Check.rowHash(Seq(0.3)) &&
        Check.rowHash(Seq(105000.12)) != Check.rowHash(Seq(105000.13)) &&
        Check.rowHash(Seq(-0.0)) == Check.rowHash(Seq(0.0))
    }
    test("decimals compare like doubles; rows and arrays render nested") {
      Check.render(new java.math.BigDecimal("12.50")) == Check.render(12.5) &&
        Check.render(Row(1, Seq(2.0, null))) == "(1,[2.000000000e+00,~])"
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all JVM self-tests passed")
  }
}
