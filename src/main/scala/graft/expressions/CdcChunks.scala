package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunks of a text in one walk over its UTF-8 bytes
  * (the chunker of [[graft.operators.Dedup.cdcChunks]]). The rolling
  * hash over the characters' code points (the value `ascii` gives) is
  * `h_i = pmod(h_{i-1}·131 + c_i − c_{i−window}·131^window, 1e9+7)`,
  * with `c_{i−window}` = 0 for i ≤ window; a chunk ends after
  * character i when i ≥ window and `h_i mod (avgMask + 1)` = 0, and
  * always at the end of the text. Chunks are byte slices at character
  * boundaries (`UTF8String.numBytesForFirstByte`, the rule `length`
  * and `substr` use, clamped at the end of the buffer), so they
  * concatenate back to the text. An empty or NULL text gives the
  * empty array; elements are never null. (Where the last character is
  * a truncated multi-byte sequence, the `substr` chain this replaced
  * copied bytes from past the string's end, both into that
  * character's code and into the last chunk; the kernel reads only
  * the string's own bytes, so the code is U+FFFD, what Java's decoder
  * makes of the truncated sequence, and the last chunk ends at the
  * buffer's end.)
  *
  * Why a native expression: the chain built a per-character code
  * array, folded it with one interpreted struct-building lambda step
  * per character, and cut each chunk with a `substr` that walked the
  * text from byte 0. Interpreted and codegen paths call one static
  * kernel, as [[Md5Grams]] does. */
case class CdcChunks(child: Expression, window: Int, avgMask: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (window < 2) TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks needs window >= 2, got $window")
    else if (avgMask < 1) TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks needs avgMask >= 1, got $avgMask")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks expects a string, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cdc_chunks"

  override def eval(input: InternalRow): Any =
    CdcChunks.chunks(child.eval(input).asInstanceOf[UTF8String], window,
      avgMask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.expressions.CdcChunks$$.MODULE$$.chunks(
          ${c.isNull} ? null : ${c.value}, $window, $avgMask);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  private val M = 1000000007L
  private val B = 131L

  /** The shared interpreted/codegen kernel; NULL reads as empty. */
  def chunks(s: UTF8String, window: Int, avgMask: Int): ArrayData = {
    if (s == null || s.numBytes == 0)
      return new GenericArrayData(Array.empty[Any])
    // heap strings (every row-backed one) wrap without a copy
    val buf = s.getByteBuffer
    val bytes = buf.array()
    val base = buf.arrayOffset() + buf.position()
    val nb = s.numBytes()
    var bw = 1L // 131^window mod M
    for (_ <- 0 until window) bw = bw * B % M
    val cut = avgMask + 1L
    // the last `window` codes; character i's slot is (i − 1) mod
    // window, which is also where character i − window sat
    val ring = new Array[Long](window)
    val out = Array.newBuilder[Any]
    var h = 0L
    var i = 0
    var pos = 0
    var start = 0
    while (pos < nb) {
      val len = math.min(UTF8String.numBytesForFirstByte(bytes(base + pos)),
        nb - pos)
      val c = codePoint(bytes, base + pos, len).toLong
      pos += len
      i += 1
      val slot = (i - 1) % window
      val cOut = if (i > window) ring(slot) else 0L
      ring(slot) = c
      h = (h * B + c - cOut * bw) % M
      if (h < 0) h += M
      if ((i >= window && h % cut == 0) || pos == nb) {
        out += UTF8String.fromBytes(bytes, base + start, pos - start)
        start = pos
      }
    }
    new GenericArrayData(out.result())
  }

  /** What `ascii` returns for the character in `len` bytes: the first
    * code point Java's decoder reads from them (U+FFFD for a
    * malformed sequence). */
  private def codePoint(b: Array[Byte], off: Int, len: Int): Int =
    if (b(off) >= 0) b(off)
    else new String(b, off, len, UTF_8).codePointAt(0)
}
