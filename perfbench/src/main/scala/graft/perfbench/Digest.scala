package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive result digests. Every value is rendered in one
  * canonical text form (doubles rounded to 9 significant digits so a
  * changed summation order does not flip the last bit; -0.0 folds to
  * 0.0; maps sorted by key), each row is hashed, and the row hashes are
  * summed modulo 2^64 — a multiset hash, so row order never matters
  * but every row, column and value does. */
object Digest {

  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def rowHash(r: Row): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical(r).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** "<rows>:<16 hex digits>" — row count plus the multiset hash. */
  def of(rows: Seq[Row]): String =
    f"${rows.length}:${rows.iterator.map(rowHash).sum}%016x"
}
