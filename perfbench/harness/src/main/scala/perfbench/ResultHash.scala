package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical hash of a query result, canonicalized the way
  * scripts/check.py does it: columns ordered by name, rows sorted,
  * doubles rounded to 1e-9 with -0.0 folded into 0.0. */
object ResultHash {
  def of(df: DataFrame): (String, Int) = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(StandardCharsets.UTF_8)) }
    (md.digest().map(b => f"${b & 0xff}%02x").mkString, lines.length)
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: JBigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case o => o.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }
}
