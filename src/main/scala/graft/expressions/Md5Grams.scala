package graft.expressions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Every k-character gram's md5-prefix hash in one pass over the text:
  * element p (0-based) is the top 60 bits of md5 over the UTF-8 bytes
  * of characters [p, p+k) — `(first 8 digest bytes, big-endian) >>> 4`,
  * the value `conv(substring(md5(substr(t, p+1, k)), 1, 15), 16, 10)`
  * yields, so both engines replay it. A text shorter than k gives the
  * empty array; NULL gives NULL; elements are never null. (Where the
  * last character is a truncated multi-byte sequence, that chain's
  * `substr` copies bytes from past the string's end; the kernel hashes
  * only the string's own bytes.)
  *
  * Why a native expression and not that chain per position: each
  * `substr` walks the UTF-8 bytes from byte 0 to its start, so a
  * document of n chars costs O(n²) walks, and every position also pays
  * a hex string and a `conv` round trip. The kernel walks the bytes
  * once with two cursors k characters apart (character boundaries by
  * `UTF8String.numBytesForFirstByte`, the rule `length`/`substr` use,
  * clamped at the end of the buffer), digests each window straight out
  * of the string's bytes and writes the results into the output array:
  * O(n·k) bytes hashed, no per-position allocation. Interpreted and
  * codegen paths call one static kernel, as [[NfcClean]] does.
  */
case class Md5Grams(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1) TypeCheckResult.TypeCheckFailure(
      s"md5_grams needs k >= 1, got $k")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_grams expects a string, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_grams"

  override def nullSafeEval(input: Any): Any =
    Md5Grams.grams(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Md5Grams$$.MODULE$$.grams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Md5Grams =
    copy(child = newChild)
}

object Md5Grams {

  // one digest per task thread, reused for every window of every row
  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The shared interpreted/codegen kernel. */
  def grams(s: UTF8String, k: Int): ArrayData = {
    val n = s.numChars()
    if (n < k) return UnsafeArrayData.createFreshArray(0, 8)
    val grams = n - k + 1
    val res = UnsafeArrayData.createFreshArray(grams, 8)
    // heap strings (every row-backed one) wrap without a copy
    val buf = s.getByteBuffer
    val bytes = buf.array()
    val base = buf.arrayOffset() + buf.position()
    val nb = s.numBytes()
    def next(i: Int): Int =
      math.min(i + UTF8String.numBytesForFirstByte(bytes(base + i)), nb)
    val md = digest.get()
    val d = new Array[Byte](16)
    var hi = 0
    var c = 0
    while (c < k) { hi = next(hi); c += 1 }
    var lo = 0
    var p = 0
    while (p < grams) {
      md.update(bytes, base + lo, hi - lo)
      md.digest(d, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      res.setLong(p, h >>> 4)
      p += 1
      if (p < grams) { lo = next(lo); hi = next(hi) }
    }
    res
  }
}
