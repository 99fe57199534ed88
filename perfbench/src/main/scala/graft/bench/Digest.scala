package graft.bench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent digest of a query result, computed the way
  * `tools/check.py` compares a Spark dump with its DuckDB oracle:
  * columns sorted by name, rows sorted, values compared exactly.
  * Numbers compare by value (an integral double equals the same
  * integer, as Python's `1 == 1.0`); other doubles by their IEEE bits.
  * `perfbench/oracle.py` implements the same canonical form over
  * DuckDB rows, so equal digests mean equal results. */
object Digest {

  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.iterator
      .map(r => order.map(i => cell(r.get(i))).mkString("|"))
      .toArray
      .sorted
    sha256(columns.sorted.mkString(",") + "\n" + lines.mkString("\n"))
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private val TwoTo53 = 9007199254740992.0

  def cell(v: Any): String = v match {
    case null                 => "n"
    case b: Boolean           => if (b) "b1" else "b0"
    case x: Byte              => "i" + x
    case x: Short             => "i" + x
    case x: Int               => "i" + x
    case x: Long              => "i" + x
    case f: Float             => double(f.toDouble)
    case d: Double            => double(d)
    case s: String            => "s" + jsonQuote(s)
    case d: java.math.BigDecimal => "x" + d.stripTrailingZeros.toPlainString
    case d: BigDecimal        => "x" + d.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row               => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other                => "o" + other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "dnan"
    else if (d == math.rint(d) && math.abs(d) < TwoTo53) "i" + d.toLong
    else "d" + f"${java.lang.Double.doubleToLongBits(d)}%016x"

  /** Python `json.dumps` (ensure_ascii) string quoting. */
  def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case c if c < ' ' || c > '~' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}
