package graft

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.{CdcChunks, HtmlBlocks, JaccardUtil}
import graft.functions.TextFunctions
import graft.operators.Multimodal

/** Randomized property checks over the pure JVM kernels — hundreds of
  * cases per property. Most need no Spark session and run in
  * milliseconds; the native Catalyst kernels are checked through a
  * session against the Column chains they replaced, under codegen and
  * interpreted evaluation. Seeds are fixed, so failures are
  * reproducible, not flaky. */
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

  // ---- native expressions against the Column chains they replaced ------

  private lazy val spark = SparkTestSession.spark

  private def intDiv(a: Column, b: Column): Column = GraftPlanBridge.columnOf(
    IntegralDivide(GraftPlanBridge.exprOf(a), GraftPlanBridge.exprOf(b)))

  /** The Column chain `TextFunctions.htmlBlocks` was before the
    * [[HtmlBlocks]] kernel: the reference it must equal. */
  private def htmlBlocksChain(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val cleaned = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val stops = typedLit(TextFunctions.contentStopwords)
    val blocks = transform(split(cleaned, TextFunctions.blockBoundaryRe), b => {
      val linkChars = aggregate(
        regexp_extract_all(b, lit("(?is)<a[^>]*>([^<]*)</a>"), lit(1)),
        lit(0L),
        (acc, t) => acc +
          length(trim(regexp_replace(t, "\\s+", " "))).cast(LongType))
      val text = trim(regexp_replace(
        regexp_replace(b, "<[^>]*>", " "), "\\s+", " "))
      val words = filter(split(text, " "), w => length(w) > 0)
      val nChars = length(text).cast(LongType)
      val nWords = size(words).cast(LongType)
      val stopCount = size(filter(words,
        w => array_contains(stops, lower(w)))).cast(LongType)
      val linkPpm = intDiv(linkChars * lit(1000000L),
        greatest(nChars, lit(1L)))
      val stopPpm = intDiv(stopCount * lit(1000000L),
        greatest(nWords, lit(1L)))
      struct(text.as("text"), nChars.as("n_chars"), nWords.as("n_words"),
        linkPpm.as("link_ppm"), stopPpm.as("stop_ppm"),
        (nWords >= 5L && linkPpm <= 333333L && stopPpm >= 30000L)
          .as("good"))
    })
    filter(blocks, s => s.getField("n_chars") > 0L)
  }

  /** The three staged projections `Dedup.cdcChunks` was before the
    * [[CdcChunks]] kernel (codes, then boundaries, then `substr`
    * slices): the reference it must equal. */
  private def cdcChunksChain(d: DataFrame, window: Int,
                             avgMask: Int): DataFrame = {
    val M = 1000000007L
    val B = 131L
    val bw = BigInt(B).modPow(window, BigInt(M)).toLong
    val codes = col("codes")
    val len = length(col("t"))
    val ends = array_distinct(concat(
      when(len >= window,
        aggregate(
          sequence(lit(1), len),
          struct(lit(0L).as("h"), array().cast("array<int>").as("hits")),
          (acc, i) => {
            val cIn = element_at(codes, i)
            val cOut = when(i > window, element_at(codes, i - window))
              .otherwise(lit(0L))
            val h2 = pmod(acc.getField("h") * B + cIn - cOut * bw, lit(M))
            struct(h2.as("h"),
              when(i >= window && h2 % (avgMask + 1) === 0,
                concat(acc.getField("hits"), array(i)))
                .otherwise(acc.getField("hits")).as("hits"))
          },
          acc => acc.getField("hits")))
        .otherwise(array().cast("array<int>")),
      when(len > 0, array(len)).otherwise(array().cast("array<int>"))))
    d.select(col("id"), col("t"),
        transform(split(col("t"), ""), c => ascii(c).cast(LongType))
          .as("codes"))
      .select(col("id"), col("t"), ends.as("ends"))
      .select(col("id"), zip_with(
        slice(concat(array(lit(0)), col("ends")), lit(1), size(col("ends"))),
        col("ends"), (st, en) => col("t").substr(st + 1, en - st)).as("c"))
  }

  /** `rows` as an (id, t) frame whose strings are exactly `bytes`
    * (NULL for None), pinned so that neither side is folded at
    * optimize time. */
  private def textFrame(rows: Seq[Option[Array[Byte]]]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.zipWithIndex
      .map { case (b, i) => (i.toLong, b.map(_.map(x => f"${x & 0xff}%02X").mkString).orNull) }
      .toDF("id", "hx")
      .select($"id", unhex($"hx").cast(StringType).as("t"))
      .localCheckpoint()
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Malformed UTF-8 in the middle of a text (a lone continuation, an
    * invalid lead, an encoded surrogate, an overlong form), never at
    * the end: the ASCII tail keeps any multi-byte lead complete. */
  private def brokenBytes(rnd: scala.util.Random, body: String): Array[Byte] = {
    val junk = IndexedSeq(Array(0x80), Array(0xC0, 0x41), Array(0xFF),
      Array(0xED, 0xA0, 0x80), Array(0xE0, 0x80, 0x80), Array(0xE4, 0x41),
      Array(0xF0, 0x9F, 0x98)).map(_.map(_.toByte))
    val b = utf8(body)
    val at = rnd.nextInt(b.length + 1)
    b.take(at) ++ junk(rnd.nextInt(junk.size)) ++ b.drop(at) ++
      utf8(" tail end")
  }

  test("HtmlBlocks == the html block Column chain over 640 random documents, codegen and interpreted") {
    val rnd = new scala.util.Random(37)
    val pieces = IndexedSeq(
      "<p>", "</p>", "<P class=\"lead\">", "<div id=x>", "</DIV>", "<br/>",
      "<BR>", "<h2>", "</h2>", "<li>", "<ul>", "<td", "<tr >", "<hr/>",
      "<a href=\"/n\">", "</a>", "<A HREF='y'>", "<b>", "</b>", "<span>",
      "<script>var x = 1 < 2;</script>", "<SCRIPT type=t>", "</script>",
      "<style>p { color: red }</style>", "<style>", "<!-- note -->",
      "<!--", "-->", "<", ">", "<p class='open'",
      "The", "the", "THE", "and", "Of", "it", "IT", "\u0130T", "\u0130t",
      "\u0130s", "\u212Aey", "to", "was", "word", "lorem", "ipsum",
      "dolor", "na\u00efve", "\u4e2d\u6587", "\ud83d\ude00", "\u00a0",
      "\t", "\n", "\r", " ", "  ", "\u0001", "\u001f", "\u000b", "\f",
      "&amp;", "x")
    def doc(): String = Seq.fill(rnd.nextInt(60))(
      pieces(rnd.nextInt(pieces.size)) + (if (rnd.nextInt(3) == 0) "" else " "))
      .mkString
    val docs = Seq.fill(600)(doc())
    val rows = Seq(None, Some(Array.empty[Byte])) ++
      docs.map(d => Some(utf8(d))) ++
      Seq.fill(38)(Some(brokenBytes(rnd, doc())))
    val d = textFrame(rows)
    val kernel = GraftPlanBridge.columnOf(HtmlBlocks(GraftPlanBridge.exprOf(col("t"))))
    val want = d.select(col("id"), htmlBlocksChain(col("t")).as("b"))
    val wantRows = want.orderBy("id").collect().toSeq
    assert(wantRows.size == 640)
    assert(wantRows.head.isNullAt(1), "NULL html gives a NULL array")
    assert(wantRows.count(r => !r.isNullAt(1) && r.getSeq[Row](1).nonEmpty) > 400)
    // the verdicts are not degenerate: both outcomes occur
    val verdicts = wantRows.filterNot(_.isNullAt(1))
      .flatMap(_.getSeq[Row](1).map(_.getAs[Boolean]("good"))).toSet
    assert(verdicts == Set(true, false))
    SparkTestSession.underBothEvaluators { codegen =>
      val got = d.select(col("id"), kernel.as("b"))
      assert(got.queryExecution.executedPlan.toString.contains("*(") == codegen)
      assert(got.schema == want.schema, "same field names, types and nullability")
      val gotRows = got.orderBy("id").collect().toSeq
      gotRows.zip(wantRows).foreach { case (g, w) =>
        assert(g == w, s"row ${w.getLong(0)}: ${rows(w.getLong(0).toInt)
          .map(b => new String(b, "UTF-8")).orNull}")
      }
    }
  }

  test("CdcChunks == the staged CDC Column chain over 640 random texts, codegen and interpreted") {
    val rnd = new scala.util.Random(41)
    val alphabet = IndexedSeq("a", "e", "t", "q", "Z", "7", " ", ".", "\t",
      "\n", "\r", "\u00a0", "\u0001", "\u001f", "\u00e9", "\u00df",
      "\u212a", "\u0130", "\u4e2d", "\u8a9e", "\ud83d\ude00", "lorem ",
      "ipsum ")
    def text(): String = Seq.fill(rnd.nextInt(400))(
      alphabet(rnd.nextInt(alphabet.size))).mkString
    val rows = Seq(None, Some(Array.empty[Byte]), Some(utf8("tiny"))) ++
      Seq.fill(600)(Some(utf8(text()))) ++
      Seq.fill(37)(Some(brokenBytes(rnd, text())))
    val d = textFrame(rows)
    for ((window, avgMask) <- Seq((16, 63), (4, 7))) {
      val want = cdcChunksChain(d, window, avgMask).orderBy("id").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toSeq
      assert(want.size == 640)
      assert(want.head._2.isEmpty && want(1)._2.isEmpty, "NULL and empty text: no chunks")
      assert(want.map(_._2.size).max > 5)
      val kernel = GraftPlanBridge.columnOf(
        CdcChunks(GraftPlanBridge.exprOf(col("t")), window, avgMask))
      SparkTestSession.underBothEvaluators { codegen =>
        val got = d.select(col("id"), kernel.as("c"))
        assert(got.queryExecution.executedPlan.toString.contains("*(") == codegen)
        assert(got.schema("c").dataType == ArrayType(StringType, containsNull = false))
        val gotRows = got.orderBy("id").collect()
          .map(r => r.getLong(0) -> r.getSeq[String](1)).toSeq
        gotRows.zip(want).foreach { case (g, w) =>
          assert(g == w, s"window $window, row ${w._1}")
        }
      }
    }
  }
}
