package perfbench

import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** A failed output check. Counts as a failed op. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def require(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** 64-bit hash of one rendered value list. */
  def hash64(s: String): Long = {
    val hi = MurmurHash3.stringHash(s, 0x3c074a61)
    val lo = MurmurHash3.stringHash(s, 0x61c88647)
    (hi.toLong << 32) ^ (lo.toLong & 0xffffffffL)
  }

  /** Canonical text of a value: floating point rounded to 10 significant
    * digits (so results may differ in the last bits between plans),
    * decimals compared as doubles, nested values rendered recursively. */
  def render(v: Any): String = v match {
    case null => "~"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case b: java.math.BigDecimal => renderDouble(b.doubleValue)
    case b: scala.math.BigDecimal => renderDouble(b.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.9e", java.lang.Double.valueOf(d))

  def rowHash(values: Seq[Any]): Long =
    hash64(values.map(render).mkString("\u0001"))

  /** Order-independent digest of a multiset of rows: row count and the
    * wrapping sum of row hashes. */
  final case class Digest(rows: Long, sum: Long) {
    def +(h: Long): Digest = Digest(rows + 1, sum + h)
    def -(h: Long): Digest = Digest(rows - 1, sum - h)
    def ++(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  }
  object Digest {
    val empty: Digest = Digest(0, 0)
    def of(rows: Iterable[Seq[Any]]): Digest =
      rows.foldLeft(empty)((d, r) => d + rowHash(r))
  }
}
