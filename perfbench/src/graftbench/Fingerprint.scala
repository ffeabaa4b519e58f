package graftbench

import java.math.MathContext
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}

/** Order-normalized fingerprint of a query's complete output.
  *
  * Columns are taken in name order, each row is rendered to a
  * canonical string (floating-point cells rounded to 10 significant
  * digits, as `tools/preflight.py` compares them), hashed to 64 bits,
  * and the row hashes are summed with wrap-around. The sum does not
  * depend on row order or partitioning, and a changed, missing or extra
  * row changes it. */
object Fingerprint {
  final case class Print(rows: Long, columns: String, rowSum: Long) {
    def columnsHash: String = f"${MurmurHash3.stringHash(columns)}%08x"
    def rowSumHex: String = f"$rowSum%016x"
  }

  private val Digits = new MathContext(10)

  def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row, order: Array[Int]): Long = {
    val s = order.map(i => cell(r.get(i))).mkString("\u001f")
    val hi = MurmurHash3.stringHash(s, 0x9747b28c)
    val lo = MurmurHash3.stringHash(s, 0x5bd1e995)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  def of(df: DataFrame): Print = {
    val names = df.columns
    val order = names.indices.sortBy(names(_)).toArray
    val (n, sum) = df.rdd
      .map(r => (1L, rowHash(r, order)))
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    Print(n, order.map(names(_)).mkString(","), sum)
  }
}
