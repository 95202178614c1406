package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Result fingerprints for the correctness check: schema, row count and
  * a digest of the sorted rows with every floating value rounded to six
  * significant digits, so summation order cannot flip the digest.
  */
object Check {
  final case class Digest(schema: String, rows: Long, sha: String)

  private val Six = new MathContext(6)

  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Six).stripTrailingZeros.toString

  def rowsOf(rows: Array[Row]): Seq[String] = rows.toSeq.map(norm).sorted

  def digest(df: DataFrame): Digest = {
    val rows = rowsOf(df.collect())
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    Digest(df.schema.catalogString, rows.size.toLong,
      md.digest().map("%02x".format(_)).mkString)
  }
}
