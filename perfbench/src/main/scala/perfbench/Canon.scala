package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical hash of a collected result: columns ordered by name, each
  * value stringified, rows sorted, SHA-256 over the lines. Doubles and
  * floats keep 10 significant digits, so a re-run whose float sums
  * associate in another order still hashes equal. Compares one run of
  * an op with another run of the same op inside one JVM; the oracle
  * comparison uses the Python canonical form of `tools/check.py`. */
object Canon {
  private val mc = new MathContext(10)

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => value(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}
