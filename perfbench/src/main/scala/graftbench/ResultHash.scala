package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: every row is rendered to a
  * canonical string, the strings are sorted, and the sorted list is hashed.
  * Floating-point values keep 9 significant digits so that a different
  * summation order across partitions cannot flip the digest (the DuckDB
  * oracle in `tools/check.py` compares at 10 digits). */
object ResultHash {

  final case class Digest(rows: Long, sha256: String)

  def of(df: DataFrame): Digest = {
    val rendered = df.collect().map(render)
    java.util.Arrays.sort(rendered.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString(",").getBytes("UTF-8"))
    rendered.foreach { r => md.update('\n'.toByte); md.update(r.getBytes("UTF-8")) }
    Digest(rendered.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def render(row: Row): String =
    (0 until row.length).map(i => value(row.get(i))).mkString("\u0001")

  private def number(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", java.lang.Double.valueOf(d))

  private def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => "(" + render(r) + ")"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
