package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result, canonicalized the way the
  * DuckDB oracle gate compares results: columns by name, rows as a set,
  * floating-point values by their float64 bit pattern. `make_digests.py`
  * renders DuckDB's answer with the same rules, so a Spark result matches
  * its stored digest exactly when the gate would call it equal.
  *
  * Cell rendering (both sides): NULL is `\N`; integers in decimal; floats
  * widened to float64 and printed as 16 hex digits of the bit pattern
  * (-0.0 as 0.0, every NaN as the canonical NaN); decimals in plain
  * notation at their scale; dates ISO; timestamps as epoch microseconds;
  * strings with `\`, tab and newline escaped; binary as hex. Cells join
  * with a tab in column-name order, each row is SHA-256'd, and the digest
  * is the SHA-256 of the sorted row hashes, one per line, after a header
  * line of the sorted column names.
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val rowHashes = rows.map { r =>
      sha(order.map { case (_, i) => cell(r.get(i)) }.mkString("\t"))
    }.sorted
    sha((order.map(_._1).mkString(",") +: rowHashes).mkString("\n"))
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def bits(d: Double): String = {
    val v = if (d == 0.0) 0.0 else d
    f"${java.lang.Double.doubleToLongBits(v)}%016x"
  }

  private def micros(seconds: Long, nanos: Long): Long =
    Math.addExact(Math.multiplyExact(seconds, 1000000L), nanos / 1000L)

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => bits(f.toDouble)
    case d: Double => bits(d)
    case d: java.math.BigDecimal => d.toPlainString
    case s: String =>
      s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => cell(t.toInstant)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano).toString
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }
}
