package perfbench

import org.apache.spark.sql.Row

/** Type-tagged rendering of collected rows, for the DuckDB compare in
  * `perfbench/oracle.py`, and the check that every later execution of a
  * query returns what its first execution returned.
  */
object Rows {
  private val nineDigits = new java.math.MathContext(9)

  /** One value as `[tag, payload]`; the Python side turns it back into the
    * value DuckDB's Arrow output would give for the same SQL type.
    */
  def encode(v: Any): Any = v match {
    case null => null
    case b: Boolean => Seq("b", b)
    case n: Byte => Seq("i", n.toLong)
    case n: Short => Seq("i", n.toLong)
    case n: Int => Seq("i", n.toLong)
    case n: Long => Seq("i", n)
    case d: Double => Seq("f", java.lang.Double.toString(d))
    case f: Float => Seq("f", java.lang.Double.toString(f.toDouble))
    case d: java.math.BigDecimal => Seq("dec", d.toPlainString)
    case d: scala.math.BigDecimal => Seq("dec", d.bigDecimal.toPlainString)
    case s: String => Seq("s", s)
    case d: java.sql.Date => Seq("d", d.toLocalDate.toString)
    case d: java.time.LocalDate => Seq("d", d.toString)
    case t: java.sql.Timestamp => Seq("ts", micros(t.toInstant))
    case t: java.time.Instant => Seq("ts", micros(t))
    case t: java.time.LocalDateTime => Seq("ts", micros(t.toInstant(java.time.ZoneOffset.UTC)))
    case b: Array[Byte] => Seq("bin", b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row => Seq("r", r.toSeq.map(encode))
    case m: scala.collection.Map[_, _] => Seq("m", m.toSeq.map { case (k, x) => Seq(encode(k), encode(x)) })
    case s: scala.collection.Seq[_] => Seq("a", s.map(encode))
    case other => Seq("s", other.toString)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** A row's comparison key: floats rounded to 9 significant digits, the
    * same rule the DuckDB compare applies.
    */
  def key(r: Row): String = r.toSeq.map(keyOf).mkString("(", ",", ")")

  private def keyOf(v: Any): String = v match {
    case d: Double => roundKey(d)
    case f: Float => roundKey(f.toDouble)
    case r: Row => key(r)
    case s: scala.collection.Seq[_] => s.map(keyOf).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => keyOf(k) + "->" + keyOf(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("0x", ".", "")
    case null => "null"
    case other => other.getClass.getSimpleName + ":" + other.toString
  }

  private def roundKey(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else "f:" + new java.math.BigDecimal(d).round(nineDigits).stripTrailingZeros.toPlainString

  /** Order-sensitive and order-insensitive keys of a whole result. */
  final case class Digest(ordered: IndexedSeq[String]) {
    lazy val multiset: IndexedSeq[String] = ordered.sorted
  }

  def digest(rows: Array[Row]): Digest = Digest(rows.iterator.map(key).toIndexedSeq)
}
