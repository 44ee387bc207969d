package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** Order-insensitive fingerprint of a collected result.
  *
  * Every row is rendered canonically without its top-level floating
  * point columns and hashed; the fingerprint keeps the row count and
  * the sum of those 64-bit hashes, which no row order can change.
  * Floating point columns are summed instead of hashed, because their
  * last bits depend on the order in which partial aggregates merge:
  * for each such column it keeps the plain sum, a sum weighted by the
  * row's hash (which ties each value to its row) and the sum of
  * absolute values that scales the comparison tolerance in `run.py`.
  * Floats nested inside arrays or structs are rendered to 9
  * significant digits.
  */
object Fingerprint {

  final case class Fp(rows: Long, hash: Long,
                      floats: Map[String, (Double, Double, Double)]) {
    def toJson: Map[String, Any] = Map(
      "rows" -> rows,
      "hash" -> f"$hash%016x",
      "floats" -> floats.map { case (k, (s, w, a)) => k -> Seq(s, w, a) })
  }

  def of(schema: StructType, rows: Iterable[Row]): Fp = {
    val n = schema.fields.length
    val sum = new Array[Double](n)
    val wsum = new Array[Double](n)
    val asum = new Array[Double](n)
    val isFloat = schema.fields.map(f => f.dataType == DoubleType || f.dataType == FloatType)
    var hash = 0L
    var count = 0L
    rows.foreach { r =>
      val sb = new StringBuilder
      (0 until n).foreach { i =>
        if (isFloat(i) && !r.isNullAt(i) && finite(r.get(i))) sb.append("\u0001f")
        else render(r.get(i), sb)
        sb.append('\u0000')
      }
      val h = hash64(sb.toString)
      hash += h
      count += 1
      val w = 1.0 + (h >>> 40).toDouble / (1L << 24).toDouble
      (0 until n).foreach { i =>
        if (isFloat(i) && !r.isNullAt(i) && finite(r.get(i))) {
          val v = asDouble(r.get(i))
          sum(i) += v; wsum(i) += v * w; asum(i) += math.abs(v)
        }
      }
    }
    val floats = (0 until n).filter(i => isFloat(i)).map(i =>
      s"$i:${schema.fields(i).name}" -> ((sum(i), wsum(i), asum(i)))).toMap
    Fp(count, hash, floats)
  }

  private def asDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
  }

  private def finite(v: Any): Boolean = {
    val d = asDouble(v)
    !d.isNaN && !d.isInfinite
  }

  private def render(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("\u0001n")
    case d: Double => sb.append(fmt(d))
    case f: Float => sb.append(fmt(f.toDouble))
    case r: Row =>
      sb.append('(')
      (0 until r.length).foreach { i => render(r.get(i), sb); sb.append(',') }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val s = new StringBuilder; render(k, s); s.append("->"); render(x, s); s.toString
      }.sorted
      sb.append(parts.mkString("{", ",", "}"))
    case xs: scala.collection.Seq[_] =>
      sb.append('['); xs.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case a: Array[Byte] => sb.append(a.map(b => f"$b%02x").mkString)
    case other => sb.append(other.toString)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  private def hash64(s: String): Long = {
    val b = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL))
  }
}
