package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result: each row is rendered to one
  * canonical string (columns sorted by name), hashed with SHA-256, and the
  * first 8 bytes of every row hash are summed modulo 2^64. Reordering the
  * rows keeps the sum; a changed, missing or duplicated row moves it.
  * `perfbench/digest.py` renders DuckDB rows by the same rules, so an
  * oracle result and a Spark result of equal values have equal digests.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  /** Canonical text of one value. Doubles are rendered as their IEEE bit
    * pattern (-0.0 folded into 0.0) so no decimal printing rule is involved.
    */
  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case n: Byte => "I" + n
    case n: Short => "I" + n
    case n: Int => "I" + n
    case n: Long => "I" + n
    case n: BigInt => "I" + n
    case f: Float => renderDouble(f.toDouble)
    case d: Double => renderDouble(d)
    case d: java.math.BigDecimal => "D" + d.toPlainString
    case d: BigDecimal => "D" + d.bigDecimal.toPlainString
    case s: String =>
      val b = s.getBytes(UTF_8)
      "S" + b.length + ":" + s
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "B" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def renderDouble(d: Double): String = {
    val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    "F" + f"$bits%016x"
  }

  /** Row hash: first 8 bytes of SHA-256 of the canonical text, big-endian. */
  def rowHash(canonical: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(canonical.getBytes(UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  /** Digest of rows given as canonical strings. */
  def of(canonicalRows: Iterable[String]): Result = {
    var sum = 0L
    var n = 0L
    canonicalRows.foreach { r => sum += rowHash(r); n += 1 }
    Result(n, f"$sum%016x")
  }

  /** Digest of collected rows, columns taken in name order. */
  def ofRows(columns: Array[String], rows: Array[Row]): Result = {
    val order = columns.indices.sortBy(i => columns(i))
    of(rows.toSeq.map(r => order.map(i => render(r.get(i))).mkString("|")))
  }

  def ofFrame(df: DataFrame): Result = ofRows(df.columns, df.collect())
}
