package graft.expressions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions

/** The block battery of [[graft.functions.TextFunctions.htmlBlocks]]
  * in one pass per document: `<script>`/`<style>` elements and
  * comments are removed and the document split on
  * [[graft.functions.TextFunctions.blockBoundaryRe]] once; then each
  * block's tag strip, whitespace collapse and trim, its anchor pass,
  * its word split and its stopword count run once. Returns
  * `array<struct<text, n_chars, n_words, link_ppm, stop_ppm, good>>`
  * in document order, empty blocks dropped; NULL gives NULL.
  *
  * The values are the Column chain's: the same `java.util.regex`
  * patterns `regexp_replace`, `split` and `regexp_extract_all` run
  * (over the same `UTF8String.toString` decoding), `trim` of ASCII
  * spaces only, lengths in code points as `length` counts them, the
  * per-word lower-casing `lower` applies (ICU or not, by the same
  * `spark.sql.icu.caseMappings.enabled` switch) and the integer ppm
  * `div`. Even the field nullability is the chain's: `div` declares
  * its result nullable, so `link_ppm`, `stop_ppm` and `good` are too.
  *
  * Why a native expression and not that chain: Catalyst evaluates the
  * chain's lambdas interpreted and does not share subexpressions
  * inside them, so every field that reads the block's text re-ran the
  * strip and collapse (10 and 12 times per block in q303's final
  * plan), the word split ran 6 times and the anchor pass twice.
  * Interpreted and codegen paths call one static kernel, as
  * [[Md5Grams]] does. */
case class HtmlBlocks(child: Expression) extends UnaryExpression {

  // read as `Lower` reads it, so both lower-case a word alike
  private lazy val icuLower: Boolean =
    SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_blocks expects a string, got ${other.simpleString}")
  }

  override def dataType: DataType = HtmlBlocks.blocksType
  override def prettyName: String = "html_blocks"

  override def nullSafeEval(input: Any): Any =
    HtmlBlocks.blocks(input.asInstanceOf[UTF8String], icuLower)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.HtmlBlocks$$.MODULE$$.blocks($c, $icuLower)")

  override protected def withNewChildInternal(newChild: Expression): HtmlBlocks =
    copy(child = newChild)
}

object HtmlBlocks {

  private val blocksType: ArrayType = ArrayType(StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("link_ppm", LongType, nullable = true),
    StructField("stop_ppm", LongType, nullable = true),
    StructField("good", BooleanType, nullable = true))), containsNull = false)

  private val script = Pattern.compile("(?is)<script[^>]*>.*?</script>")
  private val style = Pattern.compile("(?is)<style[^>]*>.*?</style>")
  private val comment = Pattern.compile("(?s)<!--.*?-->")
  private val boundary = Pattern.compile(TextFunctions.blockBoundaryRe)
  private val anchor = Pattern.compile("(?is)<a[^>]*>([^<]*)</a>")
  private val tag = Pattern.compile("<[^>]*>")
  private val space = Pattern.compile("\\s+")

  private val stopwords: Set[String] = TextFunctions.contentStopwords.toSet
  private val longestStopword = stopwords.map(_.length).max

  /** The shared interpreted/codegen kernel. */
  def blocks(html: UTF8String, icuLower: Boolean): ArrayData = {
    var doc = script.matcher(html.toString).replaceAll(" ")
    doc = style.matcher(doc).replaceAll(" ")
    doc = comment.matcher(doc).replaceAll(" ")
    val out = Array.newBuilder[Any]
    for (b <- boundary.split(doc, -1)) {
      val text = collapse(tag.matcher(b).replaceAll(" "))
      if (!text.isEmpty) {
        var linkChars = 0L
        val a = anchor.matcher(b)
        while (a.find()) linkChars += chars(collapse(a.group(1)))
        var nWords = 0L
        var stops = 0L
        var i = 0
        while (i < text.length) {
          val end = text.indexOf(' ', i) match { case -1 => text.length; case e => e }
          if (end > i) {
            nWords += 1
            if (isStopword(text.substring(i, end), icuLower)) stops += 1
          }
          i = end + 1
        }
        val nChars = chars(text)
        val linkPpm = linkChars * 1000000L / math.max(nChars, 1L)
        val stopPpm = stops * 1000000L / math.max(nWords, 1L)
        out += InternalRow(UTF8String.fromString(text), nChars, nWords,
          linkPpm, stopPpm,
          nWords >= 5L && linkPpm <= 333333L && stopPpm >= 30000L)
      }
    }
    new GenericArrayData(out.result())
  }

  /** `trim(regexp_replace(s, "\\s+", " "))`: runs of `\s` become one
    * space, then ASCII spaces (only those, as `trim` does) are cut
    * from both ends. */
  private def collapse(s: String): String = {
    val c = space.matcher(s).replaceAll(" ")
    var st = 0
    var en = c.length
    while (st < en && c.charAt(st) == ' ') st += 1
    while (en > st && c.charAt(en - 1) == ' ') en -= 1
    c.substring(st, en)
  }

  private def chars(s: String): Long = s.codePointCount(0, s.length).toLong

  /** `array_contains(stopwords, lower(w))`. An ASCII word lower-cases
    * to ASCII under either case mapping; any other word goes through
    * `lower`'s own function (under ICU, U+0130 `İ` lower-cases to
    * `i`, so `İT` is the stopword `it`). */
  private def isStopword(w: String, icuLower: Boolean): Boolean =
    if (w.forall(_ < 0x80))
      w.length <= longestStopword &&
        stopwords.contains(w.toLowerCase(java.util.Locale.ROOT))
    else stopwords.contains(CollationSupport.Lower.exec(
      UTF8String.fromString(w), CollationFactory.UTF8_BINARY_COLLATION_ID,
      icuLower).toString)
}
