package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Checks of the fingerprint's own properties; prints one line per
  * check and exits non-zero if any fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType),
      StructField("x", DoubleType), StructField("tags", ArrayType(DoubleType))))
    val rows = Seq(
      Row("a", 1L, 0.1, Seq(1.5)), Row("b", 2L, 0.2, Seq.empty[Double]),
      Row(null, 3L, null, null), Row("c", 4L, 1e-3, Seq(2.0, 3.0)))
    val base = Fingerprint.of(schema, rows)
    val failures = Seq(
      "row order does not change the count or the hash" -> {
        val r = Fingerprint.of(schema, rows.reverse)
        r.rows == base.rows && r.hash == base.hash
      },
      "float sums agree across summation orders within 1e-12" -> {
        val other = Fingerprint.of(schema, Seq(rows(3), rows(1), rows(0), rows(2)))
        base.floats.forall { case (k, (s, w, _)) =>
          math.abs(other.floats(k)._1 - s) < 1e-12 && math.abs(other.floats(k)._2 - w) < 1e-12 }
      },
      "a changed key changes the hash" ->
        (Fingerprint.of(schema, rows.updated(0, Row("z", 1L, 0.1, Seq(1.5)))).hash != base.hash),
      "a changed float changes its weighted sum" ->
        (Fingerprint.of(schema, rows.updated(1, Row("b", 2L, 0.3, Seq.empty[Double])))
          .floats("2:x")._2 != base.floats("2:x")._2),
      "moving a float between rows changes its weighted sum" ->
        (Fingerprint.of(schema, Seq(Row("a", 1L, 0.2, Seq(1.5)), Row("b", 2L, 0.1,
          Seq.empty[Double]), rows(2), rows(3))).floats("2:x")._2 != base.floats("2:x")._2),
      "a dropped row changes the count" ->
        (Fingerprint.of(schema, rows.tail).rows == base.rows - 1)
    ).collect { case (name, ok) =>
      println(s"${if (ok) "PASS" else "FAIL"} fingerprint: $name"); (name, ok)
    }.filterNot(_._2)
    if (failures.nonEmpty) sys.exit(1)
  }
}
