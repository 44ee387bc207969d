package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.JaccardUtil
import graft.operators.Multimodal

/** Randomized property checks over the pure JVM kernels — no Spark
  * session, hundreds of cases per property in milliseconds. Seeds are
  * fixed, so failures are reproducible, not flaky. */
class KernelPropertySpec extends AnyFunSuite {

  private def naiveJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val (sa, sb) = (a.toSet, b.toSet)
    val union = (sa ++ sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union
  }

  test("JaccardUtil.jaccard == naive set Jaccard over 500 random cases") {
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 500) {
      // small value domain forces overlaps; sizes include 0 and 1
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(30).toLong)
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(30).toLong)
      val got = JaccardUtil.jaccard(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(got == naiveJaccard(a, b), s"a=$a b=$b")
    }
  }

  test("jaccardPresorted == jaccard when inputs are sorted, over 500 random cases") {
    val rnd = new scala.util.Random(23)
    for (_ <- 0 until 500) {
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(30).toLong).sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(30).toLong).sorted
      val general = JaccardUtil.jaccard(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      val presorted = JaccardUtil.jaccardPresorted(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(presorted == general, s"a=$a b=$b")
    }
  }

  test("NfcClean kernel: idempotent, reference-equal to Normalizer+filter, fast path aliases input") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.NfcClean
    def reference(s: String): String =
      java.text.Normalizer.normalize(
        s.filterNot(ch =>
          (ch < 0x20 && ch != '\t' && ch != '\n' && ch != '\r') || ch == 0x7f ||
            (ch >= 0x80 && ch <= 0x9f)),
        java.text.Normalizer.Form.NFC)
    val rnd = new scala.util.Random(29)
    // alphabet mixes ascii, combining marks, precomposed chars,
    // controls, structure whitespace, and an NFC-stable ligature
    val alphabet: IndexedSeq[Char] =
      ('a' to 'z') ++ Seq(0x0301.toChar, 0x030A.toChar, 'é', 'Å',
        0x00.toChar, 0x07.toChar, 0x9C.toChar, 0x7F.toChar,
        '\t', '\n', '\r', ' ', 'ﬁ', '中')
    for (_ <- 0 until 500) {
      val s = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size)))
        .mkString
      val once = NfcClean.clean(UTF8String.fromString(s)).toString
      assert(once == reference(s),
        s"kernel != reference on ${s.map(c => f"\\u${c.toInt}%04X").mkString}")
      val twice = NfcClean.clean(UTF8String.fromString(once)).toString
      assert(twice == once, "nfc_clean must be idempotent")
    }
    // already-clean input comes back as the SAME object (no copy)
    val clean = UTF8String.fromString("plain ascii, nothing to do")
    assert(NfcClean.clean(clean) eq clean)
  }

  test("stubKernel: deterministic, dim-sized, [0,1) floats on random bytes") {
    val rnd = new scala.util.Random(29)
    for (_ <- 0 until 100) {
      val bytes = Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte)
      val f1 = Multimodal.stubKernel(8)(bytes)
      val f2 = Multimodal.stubKernel(8)(bytes)
      assert(f1.toSeq == f2.toSeq)
      assert(f1.length == 8 && f1.forall(v => v >= 0f && v < 1f))
    }
  }

  test("Md5Grams kernel == code-point windows through MessageDigest over 600 random strings") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.Md5Grams
    val md = java.security.MessageDigest.getInstance("MD5")
    // the definition: window p = code points [p, p+k) → UTF-8 bytes →
    // md5 → top 60 bits, which is also the SQL chain's first 15 hex
    // digits read as a number
    def reference(s: String, k: Int): Seq[Long] = {
      val cps = s.codePoints.toArray
      (0 to cps.length - k).map { p =>
        val d = md.digest(new String(cps, p, k).getBytes(UTF_8))
        val top = java.nio.ByteBuffer.wrap(d).getLong >>> 4
        val hex = d.map(b => f"${b & 0xff}%02x").mkString
        assert(top == java.lang.Long.parseLong(hex.substring(0, 15), 16))
        top
      }
    }
    val rnd = new scala.util.Random(31)
    // 1-, 2-, 3- and 4-byte characters (the emoji is a surrogate pair)
    val alphabet = IndexedSeq("a", "q", " ", "7", "é", "ß", "中", "語",
      "😀")
    var empties = 0
    for (k <- Seq(8, 25, 256); i <- 0 until 200) {
      val len = i match {
        case 0 => k - 1
        case 1 => k
        case 2 => k + 1
        case _ => rnd.nextInt(601)
      }
      val s = Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString
      val want = reference(s, k)
      val got = Md5Grams.grams(UTF8String.fromString(s), k).toLongArray.toSeq
      assert(got == want, s"k=$k len=$len")
      if (len < k) { assert(got.isEmpty); empties += 1 }
      // a string that is a slice of a larger buffer (a row-backed
      // string's shape) hashes the same
      val bytes = s.getBytes(UTF_8)
      val padded = Array.fill[Byte](3)(0x41) ++ bytes ++ Array.fill[Byte](5)(0x42)
      val slice = UTF8String.fromBytes(padded, 3, bytes.length)
      assert(Md5Grams.grams(slice, k).toLongArray.toSeq == want,
        s"slice k=$k len=$len")
    }
    assert(empties >= 3, "the k-1 cases must produce empty arrays")
  }
}
