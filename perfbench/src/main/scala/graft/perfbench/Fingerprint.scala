package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-independent fingerprint of a fully materialised result: the row
  * count plus the wrapping sum of one 64-bit hash per row. Every column of
  * every row feeds the hash, so a changed cell changes the fingerprint while
  * a reordering of rows does not.
  *
  * Floating-point cells hash at 11 significant digits, so last-bit noise
  * from a different summation order does not count as a mismatch; `-0.0`
  * hashes as `0.0`. */
final case class Fingerprint(rows: Long, hash: Long) {
  def render: String = f"$rows:$hash%016x"
}

object Fingerprint {

  /** Collects `df` to the driver (the whole result is computed, nothing is
    * pruned) and fingerprints it. */
  def collect(df: DataFrame): Fingerprint = of(df.collect().iterator)

  def of(rows: Iterator[Row]): Fingerprint = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Fingerprint(n, sum)
  }

  def rowHash(r: Row): Long = {
    val s = token(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
  }

  private def token(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => token(b.bigDecimal)
    case t: java.sql.Timestamp => s"ts${t.getTime}:${t.getNanos}"
    case r: Row => r.toSeq.map(token).mkString("(", "\u0001", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case v: org.apache.spark.ml.linalg.Vector => token(v.toArray.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => token(k) + "\u0002" + token(x) }.sorted
        .mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(token).mkString("[", "\u0001", "]")
    case a: Array[_] => token(a.toSeq)
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.10e", Double.box(d))
}
