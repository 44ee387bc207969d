package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** BPE merge induction vs a straight JVM reference implementation:
  * same census, argmax tie-break and greedy merge scan. */
class BpeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Reference BPE: word-type census → per-round pair count (every
    * adjacent occurrence, weighted by word count) → argmax by
    * (count DESC, l ASC, r ASC) → greedy leftmost non-overlapping
    * merge. */
  private def referenceMerges(texts: Seq[String], k: Int)
      : Seq[(Long, String, String, Long)] = {
    val census = scala.collection.mutable.Map.empty[Vector[String], Long]
    for (t <- texts; w <- t.toLowerCase.split("\\s+")
           if w.nonEmpty && w.forall(c => c >= '!' && c <= '~'))
      census.updateWith(w.map(_.toString).toVector)(c => Some(c.getOrElse(0L) + 1))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var words = census.toMap
    var rank = 1L
    var done = false
    while (rank <= k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sy, n) <- words; i <- 0 until sy.length - 1)
        pairs.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + n))
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), cnt) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r, cnt))
        words = words.groupMapReduce { case (sy, _) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < sy.length) {
            if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += sy(i); i += 1 }
          }
          merged.toVector
        }(_._2)(_ + _)
        rank += 1
      }
    }
    out.toSeq
  }

  test("learnBpeMerges equals the JVM reference on the classic corpus") {
    val texts = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest widest widest")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnBpeMerges(docs, "text", nMerges = 6)
      .as[(Long, String, String, Long)].collect().toSeq
    val want = referenceMerges(texts, 6)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    // merges actually compose: later merges can consume earlier ones
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      s"no learned merge built on a previous one: $got")
  }

  test("overlap semantics: 'aaa' merges greedily to [aa, a]") {
    // pair (a,a) counts every adjacent occurrence (2 per 'aaa'), but
    // the merge scan is non-overlapping: round 2's top pair must be
    // (aa, a) — which only exists if round 1 merged greedily
    val docs = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    val got = Bpe.learnBpeMerges(docs, "text", nMerges = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "a", 6L), (2L, "aa", "a", 3L)), got.toString)
  }

  test("non-ASCII words are excluded; early stop when pairs run out") {
    val docs = Seq((1L, "ab ab café café café"))
      .toDF("doc_id", "text")
    val got = Bpe.learnBpeMerges(docs, "text", nMerges = 5)
      .as[(Long, String, String, Long)].collect().toSeq
    // only 'ab' survives the ASCII guard: one merge then exhaustion
    assert(got == Seq((1L, "a", "b", 2L)), got.toString)
    intercept[IllegalArgumentException] {
      Bpe.learnBpeMerges(docs, "text", nMerges = 0)
    }
    intercept[IllegalArgumentException] {
      Bpe.learnBpeMerges(docs, "text", nMerges = 65)
    }
  }

  test("bpeTokenCounts: encode replays training's greedy overlap rules") {
    val docs = Seq(
      (1L, "aaa aaa aaa"),     // merge (a,a) then (aa,a): 1 token each
      (2L, "aa café"),         // 'aa' → 1 token; non-ASCII word skipped
      (3L, "")                 // no words at all
    ).toDF("doc_id", "text")
    // learned on this corpus: rank1 (a,a), rank2 (aa,a)
    val m = Bpe.learnBpeMerges(docs, "text", nMerges = 2)
      .as[(Long, String, String, Long)].collect().toSeq.map(r => (r._2, r._3))
    assert(m == Seq(("a", "a"), ("aa", "a")))
    val got = Bpe.bpeTokenCounts(docs, "doc_id", "text", m)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 3L, 9L, 3L),  // each 'aaa' → [aaa] after both merges
      (2L, 2L, 1L, 2L, 1L),  // 'aa' → [aa]; café counted in n_words only
      (3L, 0L, 0L, 0L, 0L)), got.toString)
    // zero merges: every char is its own token
    val plain = Bpe.bpeTokenCounts(docs, "doc_id", "text", Nil)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(plain.map(r => r._5) == Seq(9L, 2L, 0L))
    // merge symbols outside printable ASCII violate the census contract
    intercept[IllegalArgumentException] {
      Bpe.bpeTokenCounts(docs, "doc_id", "text", Seq(("a", "é")))
    }
  }

  test("layout invariance: repartitioned corpus learns identical merges") {
    val texts = (0 until 200).map(i =>
      s"tok$i the the quick quick brown fox ${"ab" * (i % 4 + 1)}")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val a = Bpe.learnBpeMerges(docs, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    val b = Bpe.learnBpeMerges(docs.repartition(13), "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(a == b)
    assert(a == referenceMerges(texts, 4))
  }

  /** Reference BATCHED learner — the r14 batch rule word for word:
    * census order (cnt DESC, l, r), window 8·batch, greedy selection
    * skipping any pair sharing a symbol with one selected this round,
    * sequential rank-order apply. */
  private def referenceBatched(texts: Seq[String], k: Int, batch: Int)
      : Seq[(Long, String, String, Long)] = {
    val census = scala.collection.mutable.Map.empty[Vector[String], Long]
    for (t <- texts; w <- t.toLowerCase.split("\\s+")
           if w.nonEmpty && w.forall(c => c >= '!' && c <= '~'))
      census.updateWith(w.map(_.toString).toVector)(c => Some(c.getOrElse(0L) + 1))
    var words = census.toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    def applyMerge(sy: Vector[String], l: String, r: String): Vector[String] = {
      val merged = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < sy.length) {
        if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == r) {
          merged += (l + r); i += 2
        } else { merged += sy(i); i += 1 }
      }
      merged.toVector
    }
    while (out.size < k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sy, n) <- words; i <- 0 until sy.length - 1)
        pairs.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + n))
      if (pairs.isEmpty) done = true
      else {
        val window = pairs.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.take(8 * batch)
        val used = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val want = math.min(batch, k - out.size)
        window.iterator.takeWhile(_ => sel.size < want).foreach {
          case ((l, r), c) =>
            // the merged symbol is reserved too (ADVICE r14): a round
            // must not co-select (a,b) and (ab,x)
            if (!used(l) && !used(r) && !used(l + r)) {
              sel += ((l, r, c)); used += l; used += r; used += (l + r)
            }
        }
        sel.foreach { case (l, r, c) => out += ((out.size + 1L, l, r, c)) }
        for ((l, r, _) <- sel)
          words = words.groupMapReduce {
            case (sy, _) => applyMerge(sy, l, r) }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("learnBpeMergesBatched equals the JVM reference at 256 merges") {
    // a corpus rich enough to sustain 256 merges: many distinct word
    // families with shared prefixes/suffixes and repeated bigrams
    val texts = (0 until 300).map(i =>
      s"alpha$i beta$i gamma${i % 50} ing${i % 20}tion " +
        s"pre${"xy" * (i % 5 + 1)}fix the${i % 9} and${i % 7}")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnBpeMergesBatched(docs, "text",
        nMerges = 256, batchSize = 32)
      .as[(Long, String, String, Long)].collect().toSeq
    val want = referenceBatched(texts, 256, 32)
    assert(got.size == 256, s"corpus exhausted at ${got.size} merges")
    assert(got == want,
      s"first divergence: ${got.zip(want).find(p => p._1 != p._2)}")
    // layout invariance
    val re = Bpe.learnBpeMergesBatched(docs.repartition(13), "text",
        nMerges = 256, batchSize = 32)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(re == got)
  }

  test("learnBpeMergesBatched leaves as many pins behind at any merge count") {
    import SeamSpec.pinsLeftBy
    val docs = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest widest widest")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m2, left2) = pinsLeftBy(Bpe.learnBpeMergesBatched(docs, "text",
      nMerges = 2, batchSize = 1))
    val (m8, left8) = pinsLeftBy(Bpe.learnBpeMergesBatched(docs, "text",
      nMerges = 8, batchSize = 1))
    assert(m2.count() == 2 && m8.count() == 8)
    assert(left2 == left8, s"pins left: $left2 at 2 merges, $left8 at 8")
  }

  test("learnBpeMergesBatched: the round that fills the merge budget fires no job after its census") {
    val docs = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest widest widest")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val sc = spark.sparkContext
    // each job by its result stage's call site, in submission order
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.ListenerDrain(sc) // earlier suites' events first
    sc.addSparkListener(listener)
    val merges = try {
      val m = Bpe.learnBpeMergesBatched(docs, "text", nMerges = 2,
        batchSize = 1)
      org.apache.spark.ListenerDrain(sc)
      m
    } finally sc.removeSparkListener(listener)
    val names = jobs.toArray(Array.empty[String]).toSeq
    // the framed census's pin, round 1's census collect, the rewrite
    // pin round 2 reads, round 2's census collect — and no rewrite
    // pin after it, since no round reads one
    val pins = names.count(_.startsWith("localCheckpoint at Seam.scala"))
    assert(pins == 2 && !names.last.startsWith("localCheckpoint"),
      s"jobs: ${names.mkString("; ")}")
    assert(merges.count() == 2)
  }

  test("batchSize = 1 batched learning degenerates to the classic learner") {
    val texts = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest widest widest")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val classic = Bpe.learnBpeMerges(docs, "text", nMerges = 6)
      .as[(Long, String, String, Long)].collect().toSeq
    val batched = Bpe.learnBpeMergesBatched(docs, "text",
        nMerges = 6, batchSize = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(batched == classic)
  }

  // ---- byte tier (r15) --------------------------------------------------

  private def byteSymbols(w: String): Vector[String] =
    w.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").toVector

  private def applyMergeSeq(sy: Vector[String], l: String,
                            r: String): Vector[String] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sy.length) {
      if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == r) {
        merged += (l + r); i += 2
      } else { merged += sy(i); i += 1 }
    }
    merged.toVector
  }

  /** Reference BYTE-level batched learner: same batch rule as
    * [[referenceBatched]] (window 8·batch, symbol + merged-product
    * reservation), census over UTF-8 bytes as lowercase hex pairs,
    * NO ascii gate — every word enters. */
  private def referenceBatchedBytes(texts: Seq[String], k: Int, batch: Int)
      : Seq[(Long, String, String, Long)] = {
    val census = scala.collection.mutable.Map.empty[Vector[String], Long]
    for (t <- texts; w <- t.toLowerCase.split("\\s+") if w.nonEmpty)
      census.updateWith(byteSymbols(w))(c => Some(c.getOrElse(0L) + 1))
    var words = census.toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (out.size < k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sy, n) <- words; i <- 0 until sy.length - 1)
        pairs.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + n))
      if (pairs.isEmpty) done = true
      else {
        val window = pairs.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.take(8 * batch)
        val used = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        val want = math.min(batch, k - out.size)
        window.iterator.takeWhile(_ => sel.size < want).foreach {
          case ((l, r), c) =>
            if (!used(l) && !used(r) && !used(l + r)) {
              sel += ((l, r, c)); used += l; used += r; used += (l + r)
            }
        }
        sel.foreach { case (l, r, c) => out += ((out.size + 1L, l, r, c)) }
        for ((l, r, _) <- sel)
          words = words.groupMapReduce {
            case (sy, _) => applyMergeSeq(sy, l, r) }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  /** A multilingual corpus: CJK, emoji, accents, plus English — the
    * text the ASCII tier had to exclude. */
  private def mlTexts: Seq[String] = (0 until 240).map { i =>
    val zh = Seq("数据引擎", "查询计划", "排序分区", "聚合统计")(i % 4)
    val acc = Seq("requête", "schlüssel", "días", "café")(i % 4)
    val emo = Seq("🙂", "🚀")(i % 2)
    s"the quick${i % 7} $zh $zh $acc $emo merge sort"
  }

  test("byte-level batched learner equals the JVM reference and learns non-ASCII merges") {
    val docs = mlTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.learnBpeMergesBytesBatched(docs, "text",
        nMerges = 48, batchSize = 8)
      .as[(Long, String, String, Long)].collect().toSeq
    val want = referenceBatchedBytes(mlTexts, 48, 8)
    assert(got.size == 48, s"corpus exhausted at ${got.size} merges")
    assert(got == want,
      s"first divergence: ${got.zip(want).find(p => p._1 != p._2)}")
    // the whole point of the byte tier: merges over NON-ASCII bytes
    // (CJK lead bytes e4-e9, the c3 accents, the f0 emoji plane)
    val nonAscii = got.filter { case (_, l, r, _) =>
      val first = Integer.parseInt((l + r).take(2), 16)
      first >= 0x80
    }
    assert(nonAscii.nonEmpty,
      s"no non-ASCII merge learned on a CJK-heavy corpus: $got")
    // layout invariance
    val re = Bpe.learnBpeMergesBytesBatched(docs.repartition(13), "text",
        nMerges = 48, batchSize = 8)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(re == got)
  }

  test("bpeTokenCountsBytes: chunked dictionary encode equals the JVM reference at a real merge count") {
    // mlTexts alone sustains ~90 merges; add the 256-merge test's
    // ASCII word families so a 300-merge vocabulary trains
    val rich = mlTexts ++ (0 until 300).map(i =>
      s"alpha$i beta$i gamma${i % 50} ing${i % 20}tion " +
        s"pre${"xy" * (i % 5 + 1)}fix the${i % 9} and${i % 7}")
    val docs = rich.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = referenceBatchedBytes(rich, 300, 32)
      .map(m => (m._2, m._3))
    assert(merges.size == 300, s"corpus exhausted at ${merges.size}")
    // JVM reference encode: sequential rank-order replay per word
    def refCounts(t: String): (Long, Long, Long) = {
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val toks = ws.map { w =>
        merges.foldLeft(byteSymbols(w)) { case (sy, (l, r)) =>
          applyMergeSeq(sy, l, r) }.length.toLong
      }.sum
      (ws.size.toLong,
        ws.map(_.getBytes("UTF-8").length.toLong).sum, toks)
    }
    val want = rich.zipWithIndex.map { case (t, i) =>
      val (nw, nb, nt) = refCounts(t); (i.toLong, nw, nb, nt) }
    // chunkSize 64 forces 5 chunks; 512 runs in one — identical by
    // construction (chunking changes plan shape, not segmentation)
    for (chunk <- Seq(64, 512)) {
      val got = Bpe.bpeTokenCountsBytes(docs, "doc_id", "text", merges,
          chunkSize = chunk)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == want, s"chunkSize=$chunk diverged: " +
        s"${got.zip(want).find(p => p._1 != p._2)}")
    }
    // merges actually fire on non-ASCII words: some CJK word costs
    // fewer tokens than bytes
    assert(want.exists { case (_, _, nb, nt) => nt < nb })
    // empty merge list: every byte is its own token
    val plain = Bpe.bpeTokenCountsBytes(docs.limit(50), "doc_id", "text", Nil)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(plain.forall { case (_, _, nb, nt) => nb == nt })
    // char-tier symbols refuse the byte gate loudly
    intercept[IllegalArgumentException] {
      Bpe.bpeTokenCountsBytes(docs, "doc_id", "text", Seq(("a", "b")))
    }
  }

  test("bpeTokenIdsBytes: byte-level id convention, count consistency, lossless decode on CJK/emoji") {
    val texts = mlTexts.take(80)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = referenceBatchedBytes(texts, 24, 8).map(m => (m._2, m._3))
    val ids = Bpe.bpeTokenIdsBytes(docs, "doc_id", "text", merges,
        chunkSize = 16) // forces 2 chunks through the shared core
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // token totals agree with the counts tier exactly
    val counts = Bpe.bpeTokenCountsBytes(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    val perDoc = ids.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(perDoc == counts.filter(_._2 > 0),
      "id rows must sum to the counts tier per document")
    // the id convention: a 2-hex symbol IS its byte; a merged symbol
    // is 256 + its 0-based rank
    val mergeId = merges.zipWithIndex
      .map { case ((l, r), i) => (l + r) -> (256L + i) }.toMap
    ids.foreach { case (_, _, _, id, sym) =>
      if (sym.length == 2)
        assert(id == java.lang.Long.parseLong(sym, 16), s"$sym -> $id")
      else assert(id == mergeId(sym), s"$sym -> $id")
    }
    // LOSSLESS: concatenating a word's symbols in token order and
    // unhexing reproduces the word's exact UTF-8 bytes — the whole
    // point of the byte tier, on exactly the text the char tier
    // had to exclude
    ids.groupBy(t => (t._1, t._2)).foreach { case ((d, wi), toks) =>
      val hexcat = toks.sortBy(_._3).map(_._5).mkString
      val bytes = hexcat.grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      val got = new String(bytes, "UTF-8")
      val want = texts(d.toInt).toLowerCase.split("\\s+")
        .filter(_.nonEmpty)(wi.toInt)
      assert(got == want, s"doc $d word $wi: '$got' != '$want'")
    }
  }

  test("encodedTokenCountBytes: the pure column equals the dictionary tier; merge cap refuses") {
    val texts = mlTexts.take(60)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = referenceBatchedBytes(texts, 24, 8).map(m => (m._2, m._3))
    val viaCol = docs.select($"doc_id",
        Bpe.encodedTokenCountBytes($"text", merges).as("n"))
      .as[(Long, Long)].collect().toMap
    val viaDict = Bpe.bpeTokenCountsBytes(docs, "doc_id", "text", merges)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    assert(viaCol == viaDict,
      "the column and dictionary tiers must agree token for token")
    // non-ASCII text is actually priced (the char-tier column costs 0)
    val zh = Seq((1L, "数据引擎 查询计划")).toDF("doc_id", "text")
    val priced = zh.select(
        Bpe.encodedTokenCountBytes($"text", merges).as("n"))
      .as[Long].collect().head
    assert(priced > 0L, "CJK must cost real tokens on the byte tier")
    intercept[IllegalArgumentException] {
      Bpe.encodedTokenCountBytes($"text",
        (0 until 1025).map(i => (f"$i%04x", "ff")))
    }
  }

  test("byte vocabulary round-trips with its alphabet; tier mismatch refuses loudly") {
    val docs = mlTexts.take(40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val learned = Bpe.learnBpeMergesBytesBatched(docs, "text",
      nMerges = 24, batchSize = 8)
    val want = learned.as[(Long, String, String, Long)].collect().toSeq
      .map(m => (m._2, m._3))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpevocab_bytes_").toString
    Bpe.writeBpeVocab(learned, dir, alphabet = "bytes")
    assert(Bpe.readBpeVocab(spark, dir, alphabet = "bytes") == want)
    // asking for the char tier against a byte vocabulary is the
    // silent-nothing-fuses footgun — loud refusal
    val e = intercept[IllegalArgumentException] {
      Bpe.readBpeVocab(spark, dir, alphabet = "char")
    }
    assert(e.getMessage.contains("alphabet"), e.getMessage)
    intercept[IllegalArgumentException] {
      Bpe.writeBpeVocab(learned, dir, alphabet = "hex")
    }
  }

  test("persisted vocabulary round-trips; truncation and missing sidecar refuse loudly") {
    val docs = Seq((1L, "low low lower newest newest widest"))
      .toDF("doc_id", "text")
    val learned = Bpe.learnBpeMerges(docs, "text", nMerges = 4)
    val want = learned.as[(Long, String, String, Long)].collect().toSeq
      .map(m => (m._2, m._3))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpevocab_spec_").toString
    Bpe.writeBpeVocab(learned, dir)
    assert(Bpe.readBpeVocab(spark, dir) == want)
    // sidecar count mismatch (a truncated or doubly-appended table)
    Seq(9L).toDF("n_merges").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    val e1 = intercept[IllegalArgumentException] {
      Bpe.readBpeVocab(spark, dir)
    }
    assert(e1.getMessage.contains("inconsistent"), e1.getMessage)
    // missing sidecar entirely
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_bpevocab_spec2_").toString
    learned.write.mode("overwrite").parquet(s"$dir2/merges")
    val e2 = intercept[IllegalArgumentException] {
      Bpe.readBpeVocab(spark, dir2)
    }
    assert(e2.getMessage.contains("meta sidecar"), e2.getMessage)
  }

  test("sampled vocabulary learning: full sample with floor 1 is the unsampled learner; half sample keeps the head") {
    val docs = mlTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val full = Bpe.learnBpeMergesBytesBatched(docs, "text",
        nMerges = 24, batchSize = 8)
      .as[(Long, String, String, Long)].collect().toSeq
    // exactness corner: samplePpm = 10⁶ keeps every word type and
    // minPairCount = 1 is the unfloored rule — the trajectories are
    // the same loop over the same census, bit for bit
    val fullSampled = Bpe.learnBpeMergesBytesBatchedSampled(docs, "text",
        nMerges = 24, batchSize = 8, samplePpm = 1000000L)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(fullSampled == full)
    // divergence bound: type-sampling is only stable when pair counts
    // are SHARED across many word types (the Heaps/Zipf regime real
    // corpora live in — mlTexts is deliberately the opposite: each
    // planted type is its own head, and a half sample there keeps only
    // 8/24 merges). On a compositional vocabulary (root×suffix words,
    // so 'er'/'ing'/root-internal pairs recur across ~100 types) the
    // half-sample merge set keeps >= half the full set — the measured
    // bound the operator's scaladoc documents.
    val roots = Seq("merge", "sort", "hash", "scan", "join", "group",
      "shuffle", "filter")
    val sufs = Seq("ing", "er", "ed", "s")
    val rich = (0 until 400).map { i =>
      (i.toLong, Seq(
        roots(i % 8) + sufs(i % 4),
        roots((i / 2) % 8) + sufs((i / 3) % 4),
        roots((i / 5) % 8),
        sufs(i % 4) + roots((i * 3) % 8)).mkString(" "))
    }.toDF("doc_id", "text")
    val rfull = Bpe.learnBpeMergesBytesBatched(rich, "text",
        nMerges = 24, batchSize = 8)
      .as[(Long, String, String, Long)].collect().toSeq
    val rhalf = Bpe.learnBpeMergesBytesBatchedSampled(rich, "text",
        nMerges = 24, batchSize = 8, samplePpm = 500000L)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(rhalf.nonEmpty, "half sample must still learn")
    val fullSet = rfull.map(m => (m._2, m._3)).toSet
    val overlap = rhalf.map(m => (m._2, m._3)).count(fullSet)
    assert(overlap * 2 >= rfull.size,
      s"half-sample merge set kept only $overlap/${rfull.size} of the " +
        s"full vocabulary — shared head pairs should survive sampling")
    // the floor actually gates: with an absurd floor nothing clears
    val floored = Bpe.learnBpeMergesBytesBatchedSampled(docs, "text",
        nMerges = 24, batchSize = 8, samplePpm = 1000000L,
        minPairCount = 1000000L)
      .collect()
    assert(floored.isEmpty, "a floor above every pair count must stop " +
      "learning immediately")
  }

  test("decodeTokenIdsBytes: reconstruction through the vocabulary alone; unknown id raises") {
    val texts = mlTexts.take(60)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = referenceBatchedBytes(texts, 24, 8).map(m => (m._2, m._3))
    val ids = Bpe.bpeTokenIdsBytes(docs, "doc_id", "text", merges)
      .localCheckpoint()
    val got = Bpe.decodeTokenIdsBytes(ids, "doc_id", merges)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the decode consults only (id → vocabulary); the expected text is
    // the whitespace-normalized lowercased original — CJK/emoji/accents
    // included (the LOSSLESS byte contract, now via the id door)
    texts.zipWithIndex.foreach { case (t, i) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val (nw, nt, dec) = got(i.toLong)
      assert(dec == ws.mkString(" "), s"doc $i: '$dec'")
      assert(nw == ws.length.toLong)
      assert(nt >= nw, "every word is at least one token")
    }
    // an id outside both ranges (the stream and vocabulary disagree)
    // raises loudly instead of silently dropping bytes
    val bad = ids.withColumn("token_id",
      org.apache.spark.sql.functions.when(
        $"doc_id" === 0L && $"word_idx" === 0L && $"tok_idx" === 0L,
        org.apache.spark.sql.functions.lit(999999L))
        .otherwise($"token_id"))
    val e = intercept[Exception] {
      Bpe.decodeTokenIdsBytes(bad, "doc_id", merges).collect()
    }
    assert(e.getMessage.contains("unknown token id"), e.getMessage)
  }

  test("writeBpeVocab validates symbols against the declared alphabet") {
    // ADVICE r15: hex-pair byte merges are printable ASCII, so a byte
    // merge table written WITHOUT the alphabet arg used to land a
    // 'char' meta tag — and the char encode would silently fuse
    // nothing. The write now refuses the mistag loudly.
    val byteish = Seq((1L, "c3", "a9", 5L), (2L, "c3a9", "20", 3L))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bpevocab_tag_").toString
    val e = intercept[IllegalArgumentException] {
      Bpe.writeBpeVocab(byteish, dir) // default alphabet = "char"
    }
    assert(e.getMessage.contains("bytes"), e.getMessage)
    // the same table under its true tier writes and round-trips
    Bpe.writeBpeVocab(byteish, dir, alphabet = "bytes")
    assert(Bpe.readBpeVocab(spark, dir, alphabet = "bytes") ==
      Seq(("c3", "a9"), ("c3a9", "20")))
    // a malformed byte symbol (odd hex length) refuses at write time
    val odd = Seq((1L, "c3", "a", 2L))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
    intercept[IllegalArgumentException] {
      Bpe.writeBpeVocab(odd, java.nio.file.Files
        .createTempDirectory("graft_bpevocab_odd_").toString,
        alphabet = "bytes")
    }
    // a genuine char vocabulary (any non-hex symbol) still writes
    val charv = Seq((1L, "t", "h", 7L), (2L, "th", "e", 4L))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_bpevocab_charok_").toString
    Bpe.writeBpeVocab(charv, dir2)
    assert(Bpe.readBpeVocab(spark, dir2) == Seq(("t", "h"), ("th", "e")))
  }
}
