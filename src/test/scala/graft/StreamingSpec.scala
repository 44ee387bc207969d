package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.generate.SyntheticOrderSource
import graft.pipeline.OrderPipeline
import graft.streaming.OrderStream

/** Streaming semantics (SURVEY.md §2.10, VERDICT.md r1 item 5):
  * per-file incremental processing under Trigger.AvailableNow, and
  * exactly-once across a restart — a new file added after the first
  * run is the only thing the second run processes. Plus the A6
  * observe-counter surface in batch. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  /** Pin every file under `p` to `epochMs` — tests that depend on
    * maxFilesPerTrigger=1 shard ORDER (mod-time ascending) must set
    * distinct times explicitly: two shards written back-to-back can
    * tie on filesystem timestamp granularity and flake the order
    * (ADVICE r12). */
  private def setMtimeRec(p: Path, epochMs: Long): Unit =
    Files.walk(p).forEach(f =>
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(epochMs)))

  test("AvailableNow drains per-file and restarts exactly-once") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_stream_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(raw)

    val orders = SyntheticOrderSource.orders(spark, 300, seed = 7).cache()
    val total = orders.count()
    // two initial files
    orders.filter(col("gid") < 150).coalesce(1).write.json(raw.resolve("f1").toString)
    orders.filter(col("gid") >= 150).coalesce(1).write.json(raw.resolve("f2").toString)

    OrderStream.runAvailableNow(spark, raw.toString + "/*/", out.toString,
      ckpt.toString, maxFilesPerTrigger = 1)
    val afterFirst = spark.read.json(out.toString).count()
    assert(afterFirst == total, s"first drain: $afterFirst != $total")
    // one micro-batch per file ⇒ at least 2 committed batches
    val batches = Files.list(ckpt.resolve("commits"))
      .filter(p => !p.getFileName.toString.startsWith(".")).count()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")

    // restart with one NEW file: only its rows are appended
    val extra = SyntheticOrderSource.orders(spark, 500, seed = 7)
      .filter(col("gid") >= 300)
    val extraCount = extra.count()
    extra.coalesce(1).write.json(raw.resolve("f3").toString)
    OrderStream.runAvailableNow(spark, raw.toString + "/*/", out.toString,
      ckpt.toString, maxFilesPerTrigger = 1)
    val afterSecond = spark.read.json(out.toString).count()
    assert(afterSecond == total + extraCount,
      s"restart reprocessed or skipped: $afterSecond != ${total + extraCount}")
    deleteRec(root)
  }

  test("observe counters report valid/invalid side-outputs (A6)") {
    val obs = Observation("graft_spec_counts")
    val corrupted = SyntheticOrderSource.corrupt(
      SyntheticOrderSource.orders(spark, 500, seed = 42), seed = 42)
    val validated = OrderPipeline.withValidation(corrupted).observe(obs,
      count(lit(1)).as("total_orders"),
      count(when(size(col("validation_errors")) === 0, 1)).as("valid_orders"),
      count(when(size(col("validation_errors")) > 0, 1)).as("invalid_orders"))
    val validCount = validated.filter(size(col("validation_errors")) === 0).count()
    val m = obs.get
    assert(m("total_orders") == 500L)
    assert(m("valid_orders") == validCount)
    assert(m("invalid_orders") == 500L - validCount)
  }

  test("StreamingQueryListener surfaces per-micro-batch observe counters (A6 streaming)") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_listener_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val corrupted = SyntheticOrderSource.corrupt(
      SyntheticOrderSource.orders(spark, 300, seed = 17), seed = 17).cache()
    val expectValid = OrderPipeline.withValidation(corrupted)
      .filter(size(col("validation_errors")) === 0).count()
    (0 until 3).foreach(i =>
      corrupted.filter(col("gid") % 3 === i).coalesce(1)
        .write.json(raw.resolve(s"f$i").toString))

    val name = s"graft_listener_${System.nanoTime()}"
    val listener = new OrderStream.PipelineMetricsListener(name)
    spark.streams.addListener(listener)
    try {
      val processed = OrderPipeline.processOrders(
        OrderStream.readRawStream(spark, raw.toString + "/*/", maxFilesPerTrigger = 1), name)
      val q = processed.writeStream.format("json")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // progress events are async; give the bus a moment to drain
      val deadline = System.nanoTime() + 15_000_000_000L
      while (listener.batches.map(_.getOrElse("total_orders", 0L)).sum < 300 &&
             System.nanoTime() < deadline) Thread.sleep(100)
      assert(listener.batches.size >= 3,
        s"one observation per micro-batch expected, got ${listener.batches.size}")
      val t = listener.totals
      assert(t("total_orders") == 300L)
      assert(t("valid_orders") == expectValid)
      assert(t("invalid_orders") == 300L - expectValid)
    } finally spark.streams.removeListener(listener)
    deleteRec(root)
  }

  test("streaming dedup: duplicate file deliveries don't double-count across restart") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_dedup_stream_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 200, seed = 31).cache()
    val first = orders.filter(col("gid") < 100)
    first.coalesce(1).write.json(raw.resolve("f1").toString)
    OrderStream.runDedupedAvailableNow(spark, raw.toString + "/*/",
      out.toString, ckpt.toString, watermarkDelay = "30 days")
    assert(spark.read.json(out.toString).count() == 100)

    // redeliver the SAME 100 orders (a new file, same content - the
    // reference's at-least-once retry), plus 100 genuinely new ones
    first.coalesce(1).write.json(raw.resolve("f1_retry").toString)
    orders.filter(col("gid") >= 100).coalesce(1)
      .write.json(raw.resolve("f2").toString)
    OrderStream.runDedupedAvailableNow(spark, raw.toString + "/*/",
      out.toString, ckpt.toString, watermarkDelay = "30 days")
    val back = spark.read.json(out.toString)
    assert(back.count() == 200,
      s"duplicates double-counted or new rows lost: ${back.count()}")
    assert(back.select(col("order_id")).distinct().count() == 200)
    deleteRec(root)
  }

  test("dedup path drops malformed lines before watermark/dedup state (ADVICE r3)") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_dedup_corrupt_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 100, seed = 37)
    orders.coalesce(1).write.json(raw.resolve("f1").toString)
    // garbage shard: without dropCorrupt these parse to null order_ids
    // (one shared dedup state entry) and null event times, and the
    // observe gate would miscount them as invalid ORDERS
    Files.createDirectories(raw.resolve("f2"))
    Files.writeString(raw.resolve("f2").resolve("bad.json"),
      "{\"order_id\": nope\n\n  \n{not json either}\n")
    OrderStream.runDedupedAvailableNow(spark, raw.toString + "/*/",
      out.toString, ckpt.toString, watermarkDelay = "30 days")
    val landed = spark.read.json(out.toString)
    assert(landed.count() == 100,
      s"corrupt lines must vanish from the dedup path: ${landed.count()}")
    assert(landed.select(col("order_id")).distinct().count() == 100)
    deleteRec(root)
  }

  test("stream-static broadcast join: dimension lookup inside micro-batches") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_streamdim_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 100, seed = 41)
    orders.coalesce(1).write.json(raw.resolve("f1").toString)
    // static dimension: city → major-city flag (the broadcast side)
    val majors = graft.schema.OrderSchema.majorCities.toSet
    val dim = graft.schema.OrderSchema.cities
      .map(c => (c, majors.contains(c))).toDF("customer_city", "is_major")
    val q = OrderPipeline.dropCorrupt(
        OrderStream.readRawStream(spark, raw.toString + "/*/"))
      .join(broadcast(dim), Seq("customer_city"))
      .select(col("order_id"), col("customer_city"), col("is_major"))
      .writeStream.format("json")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.json(out.toString)
    assert(back.count() == 100, "every order must survive the dimension join")
    val wrong = back.filter(col("is_major") =!=
      col("customer_city").isin(majors.toSeq: _*)).count()
    assert(wrong == 0, "is_major must equal the static lookup per row")
    deleteRec(root)
  }

  test("stream-stream watermarked join: click attribution equals the batch join") {
    import graft.streaming.ClickAttribution
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_ss_join_spec")
    deleteRec(root)
    val viewsDir = root.resolve("views"); val clicksDir = root.resolve("clicks")
    val outDir = root.resolve("out"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(viewsDir); Files.createDirectories(clicksDir)

    // fixture exercises every edge of the 10-minute window: a click
    // matching one of two same-ad views, a boundary-exact click, a
    // click past the window, and a click with no view at all
    def jline(id: Long, field: String, ts: String) =
      s"""{"ad_id":$id,"$field":"$ts"}"""
    Files.writeString(viewsDir.resolve("v1.json"), Seq(
      jline(1, "view_time", "2024-03-01 10:00:00"),
      jline(1, "view_time", "2024-03-01 10:30:00"),
      jline(2, "view_time", "2024-03-01 10:00:00")).mkString("\n"))
    Files.writeString(viewsDir.resolve("v2.json"),
      jline(3, "view_time", "2024-03-01 10:00:00"))
    Files.writeString(clicksDir.resolve("c1.json"), Seq(
      jline(1, "click_time", "2024-03-01 10:05:00"), // → the 10:00 view only
      jline(1, "click_time", "2024-03-01 10:40:00"), // → the 10:30 view only
      jline(2, "click_time", "2024-03-01 10:10:00")).mkString("\n")) // boundary: kept
    Files.writeString(clicksDir.resolve("c2.json"), Seq(
      jline(3, "click_time", "2024-03-01 10:20:00"), // past the window: dropped
      jline(4, "click_time", "2024-03-01 10:01:00")).mkString("\n")) // no view

    // batch ground truth through the SAME transform
    val batchViews = spark.read.schema(ClickAttribution.viewSchema).json(viewsDir.toString)
    val batchClicks = spark.read.schema(ClickAttribution.clickSchema).json(clicksDir.toString)
    val expected = ClickAttribution.attribute(batchViews, batchClicks)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size == 3, s"fixture should attribute 3 clicks: $expected")

    ClickAttribution.runAvailableNow(spark, viewsDir.toString, clicksDir.toString,
      outDir.toString, ckpt.toString)
    val got = spark.read.parquet(outDir.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected, s"stream-stream join diverged from batch:\n$got\n$expected")
    deleteRec(root)
  }

  test("stream-stream join FROM SQL TEXT: attributionSql over streaming temp views equals batch") {
    // r6 stretch: the Athena-layer user writes plain SQL; Structured
    // Streaming must plan the same watermarked stream-stream join the
    // DataFrame API gets (watermarks ride on the registered views)
    import graft.streaming.ClickAttribution
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_ss_sql_spec")
    deleteRec(root)
    val viewsDir = root.resolve("views"); val clicksDir = root.resolve("clicks")
    val outDir = root.resolve("out"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(viewsDir); Files.createDirectories(clicksDir)
    def jline(id: Long, field: String, ts: String) =
      s"""{"ad_id":$id,"$field":"$ts"}"""
    Files.writeString(viewsDir.resolve("v1.json"), Seq(
      jline(1, "view_time", "2024-03-01 10:00:00"),
      jline(2, "view_time", "2024-03-01 10:00:00"),
      jline(3, "view_time", "2024-03-01 11:00:00")).mkString("\n"))
    Files.writeString(clicksDir.resolve("c1.json"), Seq(
      jline(1, "click_time", "2024-03-01 10:04:00"), // in window
      jline(2, "click_time", "2024-03-01 10:30:00"), // past window
      jline(3, "click_time", "2024-03-01 11:10:00")).mkString("\n")) // boundary

    val batchViews = spark.read.schema(ClickAttribution.viewSchema).json(viewsDir.toString)
    val batchClicks = spark.read.schema(ClickAttribution.clickSchema).json(clicksDir.toString)
    batchViews.createOrReplaceTempView("views")
    batchClicks.createOrReplaceTempView("clicks")
    val expected = spark.sql(ClickAttribution.attributionSql())
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size == 2, s"fixture should attribute 2 clicks: $expected")
    // and the SQL text agrees with the DataFrame transform on batch
    assert(expected == ClickAttribution.attribute(batchViews, batchClicks)
      .collect().map(_.toString).sorted.toSeq)

    spark.readStream.schema(ClickAttribution.viewSchema).json(viewsDir.toString)
      .withWatermark("view_time", "30 minutes")
      .createOrReplaceTempView("views")
    spark.readStream.schema(ClickAttribution.clickSchema).json(clicksDir.toString)
      .withWatermark("click_time", "30 minutes")
      .createOrReplaceTempView("clicks")
    val q = spark.sql(ClickAttribution.attributionSql())
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir.toString)
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected, s"SQL-text stream join diverged from batch:\n$got\n$expected")
    spark.catalog.dropTempView("views")
    spark.catalog.dropTempView("clicks")
    deleteRec(root)
  }

  test("stream-stream LEFT OUTER join: unmatched views emit nulls once the watermark decides") {
    import graft.streaming.ClickAttribution
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_ss_outer_spec")
    deleteRec(root)
    val viewsDir = root.resolve("views"); val clicksDir = root.resolve("clicks")
    val outDir = root.resolve("out"); val ckpt = root.resolve("ckpt")
    Files.createDirectories(viewsDir); Files.createDirectories(clicksDir)
    def jline(id: Long, field: String, ts: String) =
      s"""{"ad_id":$id,"$field":"$ts"}"""

    // phase 1: one matched view, one never-clicked view
    Files.writeString(viewsDir.resolve("v1.json"), Seq(
      jline(1, "view_time", "2024-03-01 10:00:00"),
      jline(9, "view_time", "2024-03-01 10:00:00")).mkString("\n")) // no click ever
    Files.writeString(clicksDir.resolve("c1.json"),
      jline(1, "click_time", "2024-03-01 10:05:00"))
    ClickAttribution.runAvailableNow(spark, viewsDir.toString, clicksDir.toString,
      outDir.toString, ckpt.toString, joinType = "left_outer")
    // ad 9's fate is UNDECIDABLE at watermark 10:05-30min — it must
    // still be absent, not emitted with a premature null
    val phase1 = spark.read.parquet(outDir.toString).collect()
    assert(phase1.map(_.getLong(0)).toSet == Set(1L),
      s"outer result emitted before the watermark could decide: ${phase1.toSeq}")

    // phase 2 (restart on the same checkpoint): late traffic on BOTH
    // streams — the global watermark is the MIN across all watermarked
    // inputs, so a late click alone leaves the view-side watermark
    // (and with it the join's eviction clock) parked at phase 1.
    // After this batch commits, watermark = 13:00−30min = 12:30, far
    // past ad 9's view_time + window ⇒ "no click arrived" is provable.
    Files.writeString(viewsDir.resolve("v2.json"),
      jline(7, "view_time", "2024-03-01 13:00:00"))
    Files.writeString(clicksDir.resolve("c2.json"),
      jline(8, "click_time", "2024-03-01 13:05:00"))
    ClickAttribution.runAvailableNow(spark, viewsDir.toString, clicksDir.toString,
      outDir.toString, ckpt.toString, joinType = "left_outer")
    // a batch USES the watermark its predecessor committed, so the
    // eviction runs one drain later — and an AvailableNow restart with
    // no new files runs no batch at all, so ship one more click
    Files.writeString(clicksDir.resolve("c3.json"),
      jline(8, "click_time", "2024-03-01 13:06:00"))
    ClickAttribution.runAvailableNow(spark, viewsDir.toString, clicksDir.toString,
      outDir.toString, ckpt.toString, joinType = "left_outer")
    val got = spark.read.parquet(outDir.toString).collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.toString))).toSet
    assert(got == Set(
      (1L, Some("2024-03-01 10:05:00.0")),
      (9L, None)),
      s"left-outer stream-stream join diverged: $got")
    deleteRec(root)
  }

  test("live ProcessingTime ingest: dedup state spans micro-batches as shards arrive") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_live_ingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(raw)
    def doc(id: Int, text: String) =
      s"""{"doc_id":$id,"source":"crawl","lang":"en","text":"$text"}"""
    Files.writeString(raw.resolve("shard1.json"),
      doc(1, "alpha beta gamma delta") + "\n" + doc(2, "one two three four") + "\n")
    val q = graft.streaming.DocIngest.runProcessingTime(
      spark, raw.toString, out.toString, ckpt.toString, intervalMs = 200)
    try {
      q.processAllAvailable()
      assert(spark.read.json(out.toString).count() == 2)
      // a LATER shard lands while the query is live: doc 3 duplicates
      // doc 1's content (cross-shard redelivery), doc 4 is new
      Files.writeString(raw.resolve("shard2.json"),
        doc(3, "alpha beta gamma delta") + "\n" + doc(4, "five six seven eight") + "\n")
      q.processAllAvailable()
      val landed = spark.read.json(out.toString)
      assert(landed.count() == 3,
        s"cross-shard duplicate must be dropped by live state: ${landed.count()}")
      val ids = landed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), s"wrong survivors: $ids")
    } finally q.stop()
    deleteRec(root)
  }

  test("streaming tolerates malformed JSONL lines (P3 under streaming)") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_corrupt_stream_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 100, seed = 23)
    orders.coalesce(1).write.json(raw.resolve("f1").toString)
    // a shard that is pure garbage plus blank lines — the reference's
    // processor hits these files in its event loop (proc:177-182)
    Files.createDirectories(raw.resolve("f2"))
    Files.writeString(raw.resolve("f2").resolve("bad.json"),
      "{\"order_id\": broken\n\n   \n{also not json}\n")
    OrderStream.runAvailableNow(spark, raw.toString + "/*/", out.toString,
      ckpt.toString, maxFilesPerTrigger = 1)
    val landed = spark.read.json(out.toString)
    assert(landed.count() == 100,
      s"corrupt lines must vanish, valid rows must land: ${landed.count()}")
    deleteRec(root)
  }

  test("streaming doc ingest: quality gate + digest dedup equal the batch composition") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_docingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // two shards with deliberate overlap: shard 2 re-delivers half of shard 1
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    docs.filter(col("doc_id") % 4 =!= 1).coalesce(1)
      .write.json(raw.resolve("f2").toString)

    graft.streaming.DocIngest.runAvailableNow(spark,
      raw.toString + "/*/", out.toString, ckpt.toString)
    val streamed = spark.read.json(out.toString)
    val expected = graft.streaming.DocIngest.ingest(
      docs.filter(col("doc_id") % 2 === 0)
        .union(docs.filter(col("doc_id") % 4 =!= 1)))
    assert(streamed.count() == expected.count(),
      s"streamed ${streamed.count()} != batch ${expected.count()}")
    // every landed hash is unique — the dedup state worked across batches
    assert(streamed.select(col("content_hash")).distinct().count() == streamed.count())
    deleteRec(root)
  }

  test("streaming postings ingest: the search index grown per batch equals batch-built") {
    import graft.operators.Search
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_postingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val post = root.resolve("post")
    val lens = root.resolve("lens"); val ckpt = root.resolve("ckpt")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // two shards; shard 2 re-delivers part of shard 1 (digest dedup
    // must keep the index from double-counting a re-delivered doc)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    docs.filter(col("doc_id") % 4 =!= 1).coalesce(1)
      .write.json(raw.resolve("f2").toString)
    graft.streaming.DocIngest.runPostingsIngest(spark,
      raw.toString + "/*/", post.toString, lens.toString, ckpt.toString)

    val ingested = graft.streaming.DocIngest.ingest(
      docs.filter(col("doc_id") % 2 === 0)
        .union(docs.filter(col("doc_id") % 4 =!= 1)))
    val wantPost = Search.termPostings(ingested, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val gotPost = spark.read.parquet(post.toString)
      .collect().map(_.toSeq).toSet
    assert(gotPost == wantPost)
    // a BM25 probe over the streamed index equals the batch twin —
    // consumed through the documented keep-first read repair
    // (dedupIngestedIndex), the contract runPostingsIngest's
    // at-least-once delivery requires of every reader
    import spark.implicits._
    def repaired(): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) =
      Search.dedupIngestedIndex(spark.read.parquet(post.toString),
        spark.read.parquet(lens.toString))
    val qs = Seq((0L, "dup scan table")).toDF("qid", "qtext")
    val wantTop = Search.bm25TopK(qs,
      Search.termPostings(ingested, "doc_id", "text"),
      Search.corpusStats(ingested, "doc_id", "text"), 5).collect().toSeq
    val (p1, l1) = repaired()
    assert(Search.bm25TopK(qs, p1, Search.statsFromLens(l1), 5)
      .collect().toSeq == wantTop)
    // simulate the at-least-once failure mode the repair exists for: a
    // micro-batch re-executed after its parquet commit re-lands the
    // IDENTICAL rows. Raw statistics drift (n_docs inflates); the
    // keep-first read restores the exactly-once index bit-for-bit.
    val replay = graft.streaming.DocIngest.ingest(
      docs.filter(col("doc_id") % 2 === 0))
    Search.termPostings(replay, "doc_id", "text")
      .write.mode("append").parquet(post.toString)
    Search.docLens(replay, "doc_id", "text")
      .write.mode("append").parquet(lens.toString)
    assert(spark.read.parquet(lens.toString).count() >
      Search.docLens(ingested, "doc_id", "text").count(),
      "replay fixture landed nothing — the drift case is untested")
    val (p2, l2) = repaired()
    assert(Search.bm25TopK(qs, p2, Search.statsFromLens(l2), 5)
      .collect().toSeq == wantTop)
    deleteRec(root)
  }

  test("streaming view maintenance: the maintained state equals the batch rebuild; drained re-run is a no-op") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_viewingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val st = root.resolve("state")
    val ckpt = root.resolve("ckpt")
    // shard 1: inserts; shard 2: a delete, a group-moving update, an insert
    Seq(("I", "a", 10L, null.asInstanceOf[String], 0L),
      ("I", "a", 20L, null.asInstanceOf[String], 0L),
      ("I", "b", 30L, null.asInstanceOf[String], 0L))
      .toDF("op", "grp", "val", "old_grp", "old_val")
      .coalesce(1).write.json(raw.resolve("f1").toString)
    Seq(("D", null.asInstanceOf[String], 0L, "b", 30L),
      ("U", "c", 25L, "a", 20L),
      ("I", "d", 50L, null.asInstanceOf[String], 0L))
      .toDF("op", "grp", "val", "old_grp", "old_val")
      .coalesce(1).write.json(raw.resolve("f2").toString)
    graft.streaming.ViewIngest.runAggViewIngest(spark,
      raw.toString + "/*/", st.toString, ckpt.toString)
    def state(): Set[(String, Long, Long)] =
      graft.streaming.ViewIngest.readAggView(spark, st.toString)
        .as[(String, Long, Long)].collect().toSet
    // final facts: a=10, c=25, d=50 → b evicted at zero count
    val expected = Set(("a", 1L, 10L), ("c", 1L, 25L), ("d", 1L, 50L))
    assert(state() === expected)
    // drained re-run (no new files) must not disturb the state
    graft.streaming.ViewIngest.runAggViewIngest(spark,
      raw.toString + "/*/", st.toString, ckpt.toString)
    assert(state() === expected)
  }

  test("streaming PQ ingest: the grown code table equals the batch encode; replay collapses keep-first") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_pqingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val idx = root.resolve("pqidx")
    val ckpt = root.resolve("ckpt")
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    e.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    e.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.json(raw.resolve("f2").toString)
    graft.streaming.DocIngest.runPqIngest(spark,
      raw.toString + "/*/", idx.toString, ckpt.toString)
    val want = graft.operators.Similarity.Pq.encodeWide(
        e.select(col("vec_id").as("cid"),
          col("embedding").as("v")), "cid", "v")
      .collect().map(_.toSeq).toSet
    def landed(): Set[Seq[Any]] =
      spark.read.parquet(idx.resolve("codes").toString)
        .dropDuplicates("cid")
        .collect().map(_.toSeq).toSet
    assert(landed() === want)
    // the bootstrap seeded a books sidecar, so the grown index is
    // probeable by ANY session with no out-of-band book knowledge
    assert(graft.operators.Similarity.Pq
      .readPqBooks(spark, idx.toString) ===
      graft.operators.Similarity.Pq.md5Codebooks)
    // at-least-once: re-land batch 0's identical rows; keep-first
    // read restores the exactly-once table (codes are pure functions
    // of the vector, so any copy is the right one)
    graft.operators.Similarity.Pq.encodeWide(
        e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("v")),
        "cid", "v")
      .write.mode("append").parquet(idx.resolve("codes").toString)
    assert(landed() === want)
    deleteRec(root)
  }

  test("streaming PQ ingest onto a trained-book index encodes with the SIDECAR books, not the md5 default") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_pqingest_books_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val idx = root.resolve("pqidx")
    val ckpt = root.resolve("ckpt")
    val Pq = graft.operators.Similarity.Pq
    // distinguishable non-default books: md5 books with every
    // centroid negated — any vector whose md5 code differs from its
    // negated-book code proves which books the ingest used
    val books = Pq.md5Codebooks.map(_.map(_.map(-_)))
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    // existing index built with the trained books, empty code table
    Pq.writePqIndex(e.filter(col("vec_id") < 0)
      .select(col("vec_id").as("cid"), col("embedding").as("v")),
      "cid", "v", idx.toString, books)
    e.coalesce(1).write.json(raw.resolve("f1").toString)
    graft.streaming.DocIngest.runPqIngest(spark,
      raw.toString + "/*/", idx.toString, ckpt.toString)
    val want = Pq.encodeWideWith(
        e.select(col("vec_id").as("cid"), col("embedding").as("v")),
        "cid", "v", books)
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(idx.resolve("codes").toString)
      .dropDuplicates("cid").collect().map(_.toSeq).toSet
    assert(got === want)
    // and the plant is live: the md5 default would have landed codes
    // that differ (negated books flip argmins on this corpus)
    val md5Want = Pq.encodeWide(
        e.select(col("vec_id").as("cid"), col("embedding").as("v")),
        "cid", "v")
      .collect().map(_.toSeq).toSet
    assert(got !== md5Want,
      "fixture cannot distinguish sidecar books from the md5 default")
    deleteRec(root)
  }

  test("streaming SQ ingest: grown codes equal the batch encode under frozen sidecar ranges; missing seed refuses") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_sqingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val idx = root.resolve("sqidx")
    val ckpt = root.resolve("ckpt")
    val Sq = graft.operators.Similarity.Sq
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    val ev = e.select(col("vec_id").as("cid"), col("embedding").as("v"))
    // no sidecar and no seed: loud refusal (ranges are trained
    // geometry — inventing them would mis-quantize every batch)
    val err = intercept[IllegalArgumentException] {
      graft.streaming.DocIngest.runSqIngest(spark,
        raw.toString + "/*/", idx.toString, ckpt.toString)
    }
    assert(err.getMessage.contains("seedMinMax"), err.getMessage.take(200))
    // seed trained on the FIRST shard only, then both shards ingest
    // under those frozen ranges — shard 2 values outside them clamp,
    // exactly like the batch encode with the same ranges
    val (mns, mxs) = Sq.minMax(
      ev.filter(col("cid") % 2 === 0), "v", 64)
    e.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    e.filter(col("vec_id") % 2 =!= 0).coalesce(1)
      .write.json(raw.resolve("f2").toString)
    graft.streaming.DocIngest.runSqIngest(spark,
      raw.toString + "/*/", idx.toString, ckpt.toString,
      seedMinMax = Some((mns, mxs)))
    val want = ev.select(col("cid"), Sq.encode(col("v"), mns, mxs)
        .as("codes"))
      .collect().map(_.toSeq).toSet
    def landed(): Set[Seq[Any]] =
      spark.read.parquet(idx.resolve("codes").toString)
        .dropDuplicates("cid").collect().map(_.toSeq).toSet
    assert(landed() === want)
    // the sidecar recorded the seed ranges: probeable by ANY session
    assert(Sq.readSqMinMax(spark, idx.toString) === ((mns, mxs)))
    // at-least-once: re-land shard 1's identical rows; keep-first
    // read restores the exactly-once table
    ev.filter(col("cid") % 2 === 0)
      .select(col("cid"), Sq.encode(col("v"), mns, mxs).as("codes"))
      .write.mode("append").parquet(idx.resolve("codes").toString)
    assert(landed() === want)
    deleteRec(root)
  }

  test("streaming sketch ingest: merged grid equals the batch build; replay repaired") {
    import graft.operators.Sketches
    import graft.functions.TextFunctions.whitespaceTokens
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_sketchingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val sk = root.resolve("sketch")
    val ckpt = root.resolve("ckpt")
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    docs.filter(col("doc_id") % 4 =!= 1).coalesce(1)
      .write.json(raw.resolve("f2").toString)
    graft.streaming.DocIngest.runSketchIngest(spark,
      raw.toString + "/*/", sk.toString, ckpt.toString,
      depth = 3, width = 32)
    // cross-batch digest dedup means the merged grid covers each doc
    // ONCE even though shard 2 re-delivers half of shard 1
    val ingested = graft.streaming.DocIngest.ingest(
      docs.filter(col("doc_id") % 2 === 0)
        .union(docs.filter(col("doc_id") % 4 =!= 1)))
    val want = Sketches.countMinBuild(
        ingested.select(explode(whitespaceTokens(col("text"))).as("token")),
        "token", 3, 32)
      .collect().map(_.toSeq).toSet
    def merged(): Set[Seq[Any]] =
      graft.streaming.DocIngest.readSketch(spark, sk.toString)
        .collect().map(_.toSeq).toSet
    assert(merged() == want)
    // the at-least-once failure mode: a batch re-executed after its
    // parquet commit re-lands its IDENTICAL stamped grid rows. Raw
    // cell sums would double-count; the keep-first on
    // (batch_id, row, cell) restores the exactly-once sketch.
    val batch0 = spark.read.parquet(sk.toString)
      .filter(col("batch_id") === 0L)
    assert(batch0.count() > 0, "no batch-0 rows — replay fixture empty")
    batch0.write.mode("append").parquet(sk.toString)
    assert(merged() == want)
    deleteRec(root)
  }

  test("streaming IVF ingest: the embedding index grown per batch probes like a batch build; replay repaired") {
    import graft.operators.Similarity
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_ivfingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val idx = root.resolve("idx")
    val ckpt = root.resolve("ckpt")
    val dim = 8
    val rnd = new scala.util.Random(23)
    val all = (0L until 80L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
    val cents: Seq[Seq[Double]] = Seq.fill(6)(Seq.fill(dim)(rnd.nextGaussian()))
    Similarity.writeIvfIndex(all.filter(_._1 < 40L).toDF("cid", "cvec"),
      idx.toString, cents)
    // two arriving vector shards land as JSONL and stream into the index
    val shard1 = all.filter(t => t._1 >= 40L && t._1 < 60L)
    shard1.toDF("vec_id", "embedding")
      .coalesce(1).write.json(raw.resolve("f1").toString)
    all.filter(_._1 >= 60L).toDF("vec_id", "embedding")
      .coalesce(1).write.json(raw.resolve("f2").toString)
    graft.streaming.DocIngest.runIvfIngest(spark, raw.toString + "/*/",
      idx.toString, ckpt.toString)
    val qdf = all.filter(_._1 < 6L).toDF("qid", "qvec")
    def probe(dir: String) = Similarity
      .probeIvfIndex(spark, dir, qdf, k = 5, nProbe = 2)
      .select($"qid", $"rank", $"cid").as[(Long, Long, Long)].collect().toSet
    Similarity.writeIvfIndex(all.toDF("cid", "cvec"),
      root.resolve("rebuilt").toString, cents)
    val want = probe(root.resolve("rebuilt").toString)
    val streamed = probe(idx.toString)
    assert(streamed == want,
      "index grown by streaming must probe like a from-scratch build")
    assert(streamed.exists(_._3 >= 40L),
      "no streamed vector ever surfaced in the top-k")
    // the at-least-once failure mode: a retried micro-batch re-appends
    // the identical shard; keep-first on cid through the frame-level
    // probe restores the exactly-once result
    Similarity.appendToIvfIndex(spark, idx.toString,
      shard1.toDF("cid", "cvec"))
    val repaired = Similarity.probeIvfIndexFrame(
        spark.read.parquet(s"$idx/centroids"),
        spark.read.parquet(s"$idx/cells").dropDuplicates("cid"),
        qdf, k = 5, nProbe = 2)
      .select($"qid", $"rank", $"cid").as[(Long, Long, Long)].collect().toSet
    assert(repaired == want)
    deleteRec(root)
  }

  test("streaming decontamination gate: streamed equals batch, planted hit blocked") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_decontam_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val bench = Seq((1000L, "b0", "en", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "source", "lang", "text")
    val hashes = DocIngest.benchGramHashes(bench, "text")
    val incoming = Seq(
      (1L, "s0", "en", "totally clean document with many safe words here"),
      // shares the 5-gram "alpha beta gamma delta epsilon" → blocked
      (2L, "s0", "en", "prefix alpha beta gamma delta epsilon suffix words"),
      (3L, "s1", "en", "short"), // under the 3-token quality floor
      (4L, "s1", "en", "another clean document that must land fine"))
      .toDF("doc_id", "source", "lang", "text")
    // shard 2 re-delivers doc 1 (cross-shard dedup) plus a fresh doc
    incoming.filter($"doc_id" <= 3).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    incoming.filter($"doc_id" === 1 || $"doc_id" === 4).coalesce(1)
      .write.json(raw.resolve("f2").toString)

    val q = DocIngest.ingestDecontaminated(
        DocIngest.readDocStream(spark, raw.toString + "/*/"), hashes)
      .writeStream.format("json")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.json(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    // batch twin over the union of both shards
    val expected = DocIngest.ingestDecontaminated(
        incoming.filter($"doc_id" <= 3)
          .union(incoming.filter($"doc_id" === 1 || $"doc_id" === 4)), hashes)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == Set(1L, 4L), s"got $streamed")
    assert(streamed == expected, s"streamed $streamed != batch $expected")
    deleteRec(root)
  }

  test("streaming near-dup gate: arriving shards probe the persisted index, dups blocked") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.Dedup
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_neardupgate_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val corpus = Seq(
      (100L, "c", "en", "the quick brown fox jumps over the lazy dog today"),
      (101L, "c", "en", "completely different content about distributed query engines"))
      .toDF("doc_id", "source", "lang", "text")
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", idx.toString)
    val incoming = Seq(
      // near-dup of corpus doc 100 (one word appended) → blocked
      (1L, "s0", "en", "the quick brown fox jumps over the lazy dog today again"),
      (2L, "s0", "en", "totally clean document with many safe words here"),
      (3L, "s1", "en", "short"), // under the 3-token quality floor
      (4L, "s1", "en", "another clean document that must land fine"))
      .toDF("doc_id", "source", "lang", "text")
    // shard 2 re-delivers doc 2 (digest dedup across batches) + doc 4
    incoming.filter($"doc_id" <= 3).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    incoming.filter($"doc_id" === 2 || $"doc_id" === 4).coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runNearDupGate(spark, raw.toString + "/*/", idx.toString,
      out.toString, ckpt.toString)
    val streamed = spark.read.json(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == Set(2L, 4L), s"got $streamed")
    // batch twin: the same ingest + probe anti join over the union
    val union = incoming.filter($"doc_id" <= 3)
      .union(incoming.filter($"doc_id" === 2 || $"doc_id" === 4))
    val ingested = DocIngest.ingest(union)
    val hits = Dedup.probeMinhashIndex(spark, idx.toString, ingested,
      "text", "doc_id", threshold = 0.5)
      .select($"idNew".as("doc_id")).distinct()
    val expected = ingested.join(hits, Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == expected, s"streamed $streamed != batch $expected")
    deleteRec(root)
  }

  test("growing near-dup gate: a later shard's twin of an EARLIER LANDING blocks, index grows") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.Dedup
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_neardupgrow_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val corpus = Seq(
      (100L, "c", "en", "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "source", "lang", "text")
    Dedup.writeMinhashIndex(corpus, "text", "doc_id", idx.toString)
    // shard 1: a NOVEL doc (not in the build-time index) lands and —
    // under growIndex — seeds the index for later shards
    val s1 = Seq(
      (1L, "s0", "en", "streaming ingestion gates compose persisted sketch indexes cleanly"))
      .toDF("doc_id", "source", "lang", "text")
    // shard 2: a near-dup of shard 1's LANDING (one word appended) —
    // the case the static gate structurally misses — plus a near-dup
    // of the build-time corpus and a fresh doc
    val s2 = Seq(
      (2L, "s1", "en", "streaming ingestion gates compose persisted sketch indexes cleanly indeed"),
      (3L, "s1", "en", "the quick brown fox jumps over the lazy dog today again"),
      (4L, "s1", "en", "another clean document that must land fine"),
      // 5 and 6 are twins of EACH OTHER, both novel — neither is in
      // the index when their shared batch probes it, so only the
      // within-batch banded pass (keep-min) can separate them
      (5L, "s1", "en", "catalogued sunsets over mountain ridges in early autumn light"),
      (6L, "s1", "en", "catalogued sunsets over mountain ridges in early autumn light indeed"))
      .toDF("doc_id", "source", "lang", "text")
    s1.coalesce(1).write.json(raw.resolve("f1").toString)
    s2.coalesce(1).write.json(raw.resolve("f2").toString)
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now)

    DocIngest.runNearDupGate(spark, raw.toString + "/*/", idx.toString,
      out.toString, ckpt.toString, growIndex = true)
    val landed = spark.read.json(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    assert(landed == Set(1L, 4L, 5L),
      s"got $landed — 2 blocks on the GROWN index, 3 on the seed, " +
        "6 on the within-batch pass (keep-min keeps 5)")
    // the index grew by exactly the landed survivors
    val indexed = spark.read.parquet(idx.toString)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(indexed == Set(100L, 1L, 4L, 5L), s"index ids $indexed")
    deleteRec(root)
  }

  test("streaming image-dedup ingest: later-shard raster variants blocked, index grows") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.Multimodal
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_imggate_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val rnd = new scala.util.Random(881L)
    def randHex(): String = Seq.fill(64)(f"${rnd.nextInt(256)}%02X").mkString
    val a = randHex(); val b = randHex(); val c = randHex()
    // shard 1: originals A, B; shard 2: a one-pixel variant of A
    // (must be blocked by shard 1's fingerprint) + fresh C
    Seq((1L, a), (2L, b)).toDF("id", "hx").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    Seq((3L, "FF" + a.substring(2)), (4L, c)).toDF("id", "hx").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runImageDedupIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, ckpt.toString)
    val landed = spark.read.json(out.toString)
      .select($"id").as[Long].collect().toSet
    assert(landed == Set(1L, 2L, 4L), s"got $landed")
    // the index carries exactly the survivors' fingerprints, equal to
    // batch-computed dHashes
    val indexed = spark.read.parquet(idx.toString)
      .as[(Long, String)].collect().toMap
    val wantBits = Seq((1L, a), (2L, b), (4L, c)).toDF("id", "hx")
      .select($"id", Multimodal.dHashBits($"hx", 8, 8).as("bits"))
      .as[(Long, String)].collect().toMap
    assert(indexed == wantBits, s"index $indexed != $wantBits")
    deleteRec(root)
  }

  test("streaming audio-dedup ingest: later-shard perturbed envelope blocked, index grows") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.Multimodal
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_audgate_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val rnd = new scala.util.Random(883L)
    def randEnv(): Seq[Double] = Seq.fill(65)(rnd.nextDouble())
    val a = randEnv(); val b = randEnv(); val c = randEnv()
    // shard 1: originals A, B; shard 2: A with one bin blipped (moves
    // ≤ 2 gradient bits — must be blocked by shard 1's fingerprint)
    // plus fresh C
    val aBlip = a.updated(7, 0.5)
    Seq((1L, a), (2L, b)).toDF("id", "env").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    Seq((3L, aBlip), (4L, c)).toDF("id", "env").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runAudioDedupIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, ckpt.toString)
    val landed = spark.read.json(out.toString)
      .select($"id").as[Long].collect().toSet
    assert(landed == Set(1L, 2L, 4L), s"got $landed")
    // the index carries exactly the survivors' fingerprints, equal to
    // batch-computed gradient signs
    val indexed = spark.read.parquet(idx.toString)
      .as[(Long, String)].collect().toMap
    val wantBits = Seq((1L, a), (2L, b), (4L, c)).toDF("id", "env")
      .select($"id", Multimodal.audioFingerprintBits($"env").as("bits"))
      .as[(Long, String)].collect().toMap
    assert(indexed == wantBits, s"index $indexed != $wantBits")
    deleteRec(root)
  }

  test("streaming chat ingest: verdict quarantine, render-keyed dedup across shards, checkpoint idempotence") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_chatgate_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val quar = root.resolve("quar")
    val okA =
      """{"conv_id":1,"messages":[{"role":"user","content":"hi"},{"role":"assistant","content":"hello"}]}"""
    val badFirst =
      """{"conv_id":2,"messages":[{"role":"assistant","content":"hi"}]}"""
    val corrupt = """{nope"""
    // shard 2: the SAME conversation as okA in a different JSONL
    // spelling (key order) — the render digest must block it — plus a
    // fresh conversation
    val okASpelled =
      """{"messages":[{"role":"user","content":"hi"},{"role":"assistant","content":"hello"}],"conv_id":9}"""
    val okB =
      """{"conv_id":3,"messages":[{"role":"user","content":"yo"},{"role":"assistant","content":"sup"}]}"""
    // a tool-augmented conversation (r13): legal grammar, must land
    val okTool =
      """{"conv_id":5,"messages":[{"role":"user","content":"q"},{"role":"assistant","content":"calling"},{"role":"tool","content":"result"},{"role":"assistant","content":"answer"}]}"""
    // okA appears TWICE in shard 1 — within-batch keep-first
    Seq(okA, badFirst, corrupt, okA).toDF("value").coalesce(1)
      .write.text(raw.resolve("f1").toString)
    Seq(okASpelled, okB, okTool).toDF("value").coalesce(1)
      .write.text(raw.resolve("f2").toString)
    // f1 strictly older than f2: the keep-first assertion below
    // (conv_id 1 lands, its re-spelling 9 dedups away) depends on
    // shard processing order, which the file source takes from mod time
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now)

    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString)
    val landed = spark.read.parquet(out.toString)
    assert(landed.select($"conv_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L),
      "the distinct-render ok conversations (incl. the tool one) land")
    assert(landed.count() == 3L, "within-batch duplicate must collapse")
    val reasons = spark.read.json(quar.toString)
      .select($"reason").as[String].collect().sorted.toSeq
    assert(reasons == Seq("first_not_user", "unparseable"), s"got $reasons")
    // the index carries exactly the landed digests
    val indexed = spark.read.parquet(idx.toString)
      .as[String].collect().toSet
    val wantDigests = landed.select($"rendered_md5").as[String]
      .collect().toSet
    assert(indexed == wantDigests)
    // re-run against the same checkpoint: AvailableNow finds nothing
    // new — no re-landing, no duplicate quarantine rows
    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString)
    assert(spark.read.parquet(out.toString).count() == 3L)
    assert(spark.read.json(quar.toString).count() == 2L)
    deleteRec(root)
  }

  test("chat ingest paraphrase gate: a later-shard system-prompt paraphrase blocks, re-spellings keep blocking, index == landed") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_chatpara_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val quar = root.resolve("quar"); val pidx = root.resolve("pidx")
    // long enough that the system-prompt prepend sits at the q330
    // paraphrase tier (19 shared of 22 shingles → J ≈ 0.86)
    val okA =
      """{"conv_id":1,"messages":[{"role":"user","content":"please summarize the quarterly revenue figures for me"},{"role":"assistant","content":"the quarterly revenue figures rose steadily across all regions this year"}]}"""
    // shard 2: (a) the q330 twin class — the SAME conversation with a
    // system prompt prepended: render digest differs, so only the
    // minhash tier can block it; (b) a re-spelling of okA (key order)
    // the EXACT digest path must keep blocking; (c) a fresh
    // conversation that must land through both gates
    val paraA =
      """{"conv_id":7,"messages":[{"role":"system","content":"stay factual"},{"role":"user","content":"please summarize the quarterly revenue figures for me"},{"role":"assistant","content":"the quarterly revenue figures rose steadily across all regions this year"}]}"""
    val okASpelled =
      """{"messages":[{"role":"user","content":"please summarize the quarterly revenue figures for me"},{"role":"assistant","content":"the quarterly revenue figures rose steadily across all regions this year"}],"conv_id":9}"""
    val okB =
      """{"conv_id":3,"messages":[{"role":"user","content":"compare the two database engines on write amplification"},{"role":"assistant","content":"one engine batches writes into sorted runs the other updates pages in place"}]}"""
    // shard 3: two NOVEL conversations that are paraphrases of EACH
    // OTHER (one carries the system prompt) — neither is in the index
    // when their shared batch probes it, so only the within-batch
    // banded pass can separate them; keep-min on line_md5 decides
    val twinP = """{"conv_id":20,"messages":[{"role":"user","content":"walk me through the checkpoint recovery sequence for the stream processor"},{"role":"assistant","content":"the processor replays the offset log then restores operator state from the last committed snapshot"}]}"""
    val twinQ = """{"conv_id":21,"messages":[{"role":"system","content":"stay factual"},{"role":"user","content":"walk me through the checkpoint recovery sequence for the stream processor"},{"role":"assistant","content":"the processor replays the offset log then restores operator state from the last committed snapshot"}]}"""
    Seq(okA).toDF("value").coalesce(1)
      .write.text(raw.resolve("f1").toString)
    Seq(paraA, okASpelled, okB).toDF("value").coalesce(1)
      .write.text(raw.resolve("f2").toString)
    Seq(twinP, twinQ).toDF("value").coalesce(1)
      .write.text(raw.resolve("f3").toString)
    // f1 strictly older: the original must land before its twins probe
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now - 30000L)
    setMtimeRec(raw.resolve("f3"), now)

    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString,
      paraphraseIndexDir = pidx.toString)
    def md5Of(s0: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // keep-min on the LINE digest picks the surviving twin
    val twinWinner =
      if (md5Of(twinP) < md5Of(twinQ)) 20L else 21L
    val landed = spark.read.parquet(out.toString)
    assert(landed.select($"conv_id").as[Long].collect().toSet ==
      Set(1L, 3L, twinWinner),
      s"original + fresh + the min-digest twin land (winner $twinWinner)")
    // the shard-2 paraphrase AND the losing twin quarantined with
    // their reason (audit trail); the exact-digest re-spelling
    // dropped silently as before
    val quarRows = spark.read.json(quar.toString)
      .select($"reason").as[String].collect().toSeq
    assert(quarRows == Seq("paraphrase_near_dup", "paraphrase_near_dup"),
      s"got $quarRows")
    // index == landed conversations
    val indexedIds = spark.read.parquet(pidx.toString)
      .select($"line_md5").distinct().as[String].collect().toSet
    val landedIds = landed.select($"line_md5").as[String].collect().toSet
    assert(indexedIds == landedIds,
      s"minhash index ids $indexedIds != landed $landedIds")
    // checkpoint idempotence: nothing new to drain, nothing re-lands
    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString,
      paraphraseIndexDir = pidx.toString)
    assert(spark.read.parquet(out.toString).count() == 3L)
    assert(spark.read.json(quar.toString).count() == 2L)
    deleteRec(root)
  }

  test("tools-aware chat ingest WITH the paraphrase gate: serialized calls ride the shingled render, twins block") {
    // exercises the flattenTools(includeRendered = true) path the
    // separate toolAware and paraphrase tests never touch together:
    // the serialized <tool_call> segments are part of the rendered
    // transcript the minhash tier shingles, so a paraphrase of a
    // TOOL conversation is caught just like a plain one
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_chattoolpara_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val quar = root.resolve("quar"); val pidx = root.resolve("pidx")
    val toolConv =
      """{"conv_id":1,"messages":[{"role":"user","content":"fetch the latest deployment status for the ingestion service and summarize"},{"role":"assistant","content":"checking the deployment dashboard now","tool_calls":[{"id":"c1","name":"query_status","args":"service=ingestion env=prod"}]},{"role":"tool","tool_call_id":"c1","content":"version 42 healthy all replicas ready since tuesday"},{"role":"assistant","content":"the ingestion service runs version 42 healthy with all replicas ready"}]}"""
    // the q330 twin class over a TOOL conversation: system prompt
    // prepended, everything else byte-identical
    val toolTwin =
      """{"conv_id":9,"messages":[{"role":"system","content":"stay factual"},{"role":"user","content":"fetch the latest deployment status for the ingestion service and summarize"},{"role":"assistant","content":"checking the deployment dashboard now","tool_calls":[{"id":"c1","name":"query_status","args":"service=ingestion env=prod"}]},{"role":"tool","tool_call_id":"c1","content":"version 42 healthy all replicas ready since tuesday"},{"role":"assistant","content":"the ingestion service runs version 42 healthy with all replicas ready"}]}"""
    Seq(toolConv).toDF("value").coalesce(1)
      .write.text(raw.resolve("f1").toString)
    Seq(toolTwin).toDF("value").coalesce(1)
      .write.text(raw.resolve("f2").toString)
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now)

    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString,
      toolAware = true, paraphraseIndexDir = pidx.toString)
    val landed = spark.read.parquet(out.toString)
    assert(landed.select($"conv_id").as[Long].collect().toSeq == Seq(1L),
      "the original tool conversation lands; its paraphrase does not")
    val quarRows = spark.read.json(quar.toString)
      .select($"reason").as[String].collect().toSeq
    assert(quarRows == Seq("paraphrase_near_dup"), s"got $quarRows")
    // the landed render accounts the serialized call (the masked
    // behavior), proving the tool tier fed the gate, not the plain one
    val r = landed.collect().head
    assert(r.getAs[String]("mask_spans").nonEmpty)
    assert(r.getAs[Long]("masked_chars") > 60L,
      "serialized tool_call must sit inside the masked assistant content")
    deleteRec(root)
  }

  test("tools-aware chat ingest: uncorrelated tool results quarantine, correlated ones land with the call in the render") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_chattool_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val quar = root.resolve("quar")
    val okCall =
      """{"conv_id":1,"messages":[{"role":"user","content":"q"},{"role":"assistant","content":"hm","tool_calls":[{"id":"c1","name":"search","args":"x"}]},{"role":"tool","tool_call_id":"c1","content":"r"},{"role":"assistant","content":"a"}]}"""
    val badCall =
      """{"conv_id":2,"messages":[{"role":"user","content":"q"},{"role":"assistant","content":"hm","tool_calls":[{"id":"c1","name":"search","args":"x"}]},{"role":"tool","tool_call_id":"zz","content":"r"},{"role":"assistant","content":"a"}]}"""
    Seq(okCall, badCall).toDF("value").coalesce(1)
      .write.text(raw.resolve("f1").toString)
    DocIngest.runChatIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString,
      toolAware = true)
    val landed = spark.read.parquet(out.toString)
    assert(landed.select($"conv_id").as[Long].collect().toSeq == Seq(1L))
    // the serialized call is part of the landed render accounting:
    // effective assistant content = "hm" + <tool_call>search\nx</tool_call>
    // (2 + 31 = 33 chars); per-turn template cost 24 + role + content:
    // 29 (user q) + 66 (assistant) + 29 (tool r) + 34 (assistant a)
    val r = landed.collect().head
    assert(r.getAs[Long]("rendered_len") == 29 + 66 + 29 + 34)
    // masked: the call-bearing assistant content (33) + the final "a"
    assert(r.getAs[Long]("masked_chars") == 33 + 1)
    val reasons = spark.read.json(quar.toString)
      .select($"reason").as[String].collect().toSeq
    assert(reasons == Seq("tool_call_mismatch"), reasons.toString)
    deleteRec(root)
  }

  test("streaming HLL rollup ingest: streamed daily sketches equal the batch build, checkpoint idempotent") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import org.apache.spark.sql.functions._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_hllingest_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val ckpt = root.resolve("ckpt")
    // two shards with overlapping days AND overlapping users within a
    // day across shards — the union must not double-count user 1 on
    // 01-02, and day 01-02's sketch accretes across two micro-batches
    val s1 = (1L to 60L).map(u => ("2026-01-01", u)) ++
      (1L to 40L).map(u => ("2026-01-02", u))
    val s2 = (21L to 70L).map(u => ("2026-01-02", u)) ++
      (5L to 45L).map(u => ("2026-01-03", u))
    s1.toDF("ts", "user_id").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    s2.toDF("ts", "user_id").coalesce(1)
      .write.json(raw.resolve("f2").toString)
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now)

    DocIngest.runHllIngest(spark, raw.toString + "/*/",
      state.toString, ckpt.toString)
    val streamed = DocIngest.readHllState(spark, state.toString)
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        hll_sketch_estimate($"sk").as("est"))
      .as[(String, Long)].collect().toMap
    // exact distinct per day — at these cardinalities the sketches
    // stay in sparse mode, so streamed-union == batch build == exact
    val all = (s1 ++ s2).toDF("ts", "user_id")
    val exact = all.groupBy($"ts").agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    val direct = all.groupBy($"ts")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", 14)).as("est"))
      .as[(String, Long)].collect().toMap
    assert(streamed.keySet == Set("2026-01-01", "2026-01-02", "2026-01-03"))
    for ((d, est) <- streamed) {
      assert(est == direct(d),
        s"$d: streamed union $est != one-pass sketch ${direct(d)}")
      // envelope gate (q316's integer rule): within 5% of exact
      assert((est - exact(d)).abs * 20 <= exact(d),
        s"$d: estimate $est outside 5% of exact ${exact(d)}")
    }
    // checkpoint idempotence: nothing new, latest version unchanged
    def versions(): Seq[Long] = Files.list(state).toArray.toSeq
      .map(_.toString.split('/').last).filter(_.startsWith("v="))
      .map(_.drop(2).toLong)
    val vBefore = versions().max
    DocIngest.runHllIngest(spark, raw.toString + "/*/",
      state.toString, ckpt.toString)
    val vAfter = versions().max
    assert(vAfter == vBefore, "a drained re-run must publish no version")
    deleteRec(root)
  }

  test("preference-outcome ingest: re-delivered batch leaves the board unchanged, new games move only their component") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_outcome_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val board = root.resolve("board"); val ckpt = root.resolve("ckpt")
    // two DISCONNECTED duel components: X = {1, 2} and Y = {10, 11}.
    // The anchor regularization pins each component's scale, so games
    // inside X must not move Y at all — the "only affected items"
    // contract a live leaderboard needs.
    val s1 = Seq(
      ("o1", 1L, 2L), ("o2", 1L, 2L), ("o3", 1L, 2L), ("o4", 2L, 1L),
      ("o5", 10L, 11L), ("o6", 10L, 11L))
    s1.toDF("oid", "winner", "loser").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    def run(): Unit = DocIngest.runOutcomeIngest(spark,
      raw.toString + "/*/", state.toString, board.toString,
      ckpt.toString, iters = 4)
    def snap(): Map[Long, (Long, Long, Long)] =
      DocIngest.readOutcomeBoard(spark, board.toString)
        .select($"model", $"games", $"wins", $"rating")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    run()
    val b1 = snap()
    assert(b1.keySet == Set(1L, 2L, 10L, 11L))
    assert(b1(1L)._3 > b1(2L)._3, "3-1 winner must rate above its loser")
    // the board equals the batch operator on the same outcomes
    val direct = graft.operators.EvalOps.bradleyTerry(
        s1.toDF("oid", "w", "l"), "w", "l", iters = 4,
        dedupIdCol = Some("oid"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(b1 == direct)
    // AT-LEAST-ONCE: the same outcomes re-land as a later shard (an
    // upstream retry) — the oid seam folds them away, board unchanged
    s1.toDF("oid", "winner", "loser").coalesce(1)
      .write.json(raw.resolve("f2").toString)
    setMtimeRec(raw.resolve("f2"), now - 30000L)
    run()
    assert(snap() == b1,
      "a re-delivered outcome batch must leave the board unchanged")
    // new games inside component X: X moves, Y does not
    Seq(("o7", 2L, 1L), ("o8", 2L, 1L), ("o9", 2L, 1L))
      .toDF("oid", "winner", "loser").coalesce(1)
      .write.json(raw.resolve("f3").toString)
    setMtimeRec(raw.resolve("f3"), now)
    run()
    val b3 = snap()
    assert(b3(10L) == b1(10L) && b3(11L) == b1(11L),
      s"disconnected component moved: ${b3(10L)} vs ${b1(10L)}")
    assert(b3(2L)._3 > b1(2L)._3,
      s"2's rating must rise on new wins: ${b3(2L)} vs ${b1(2L)}")
    assert(b3(1L)._1 == 7L && b3(2L)._1 == 7L,
      "X's game counts must include the new duels exactly once")
    deleteRec(root)
  }

  test("outcome ingest: retention keeps exactly k versions with the board live; NULL oids refuse loudly") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"),
      "graft_outcome_retain_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val board = root.resolve("board"); val ckpt = root.resolve("ckpt")
    val now = System.currentTimeMillis()
    // four shards, one per micro-batch (maxFilesPerTrigger = 1)
    for (i <- 0 until 4) {
      Seq((s"o$i", (i % 3).toLong, ((i + 1) % 3).toLong))
        .toDF("oid", "winner", "loser").coalesce(1)
        .write.json(raw.resolve(s"f$i").toString)
      setMtimeRec(raw.resolve(s"f$i"), now - (4 - i) * 10000L)
    }
    DocIngest.runOutcomeIngest(spark, raw.toString + "/*/",
      state.toString, board.toString, ckpt.toString, iters = 2,
      retainVersions = Some(2))
    def versions(dir: Path): Seq[Long] = Files.list(dir).toArray.toSeq
      .map(_.toString.split('/').last).filter(_.startsWith("v="))
      .map(_.drop(2).toLong).sorted
    // a long run keeps exactly k versions in BOTH dirs — the newest
    // (the live state readers pick) always among them
    assert(versions(state).size == 2, versions(state).toString)
    assert(versions(board) == versions(state),
      "log and board must retain the same version window")
    // the retained log IS the full fold: the board equals the batch
    // operator over ALL outcomes (pruning never touched live state)
    val wantBoard = graft.operators.EvalOps.bradleyTerry(
        (0 until 4).map(i => (s"o$i", (i % 3).toLong, ((i + 1) % 3).toLong))
          .toDF("oid", "w", "l"), "w", "l", iters = 2,
        dedupIdCol = Some("oid"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val gotBoard = DocIngest.readOutcomeBoard(spark, board.toString)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotBoard == wantBoard)
    // a batch with a NULL oid refuses loudly, naming the problem
    val root2 = Paths.get(sys.props("java.io.tmpdir"),
      "graft_outcome_nulloid_spec")
    deleteRec(root2)
    val raw2 = root2.resolve("raw")
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(null, 1L, 2L),
          org.apache.spark.sql.Row("ok1", 2L, 1L))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("oid",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("winner",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("loser",
            org.apache.spark.sql.types.LongType))))
      .coalesce(1).write.json(raw2.resolve("f1").toString)
    setMtimeRec(raw2.resolve("f1"), now)
    val e = intercept[Exception] {
      DocIngest.runOutcomeIngest(spark, raw2.toString + "/*/",
        root2.resolve("state").toString, root2.resolve("board").toString,
        root2.resolve("ckpt").toString, iters = 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("NULL oid")), messages(e).toString)
    deleteRec(root); deleteRec(root2)
  }

  test("census-mode outcome ingest: board equals the log gate's on a duplicate-free stream; NULL endpoints refuse") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"),
      "graft_outcome_census_spec")
    deleteRec(root)
    val raw = root.resolve("raw")
    val now = System.currentTimeMillis()
    // two shards; duplicate-free oids; a repeated DUEL inside one
    // shard (census must count it twice, once per game)
    val s1 = Seq(("c1", 1L, 2L), ("c2", 1L, 2L), ("c3", 2L, 1L),
      ("c4", 10L, 11L))
    val s2 = Seq(("c5", 1L, 2L), ("c6", 3L, 1L), ("c7", 10L, 11L))
    s1.toDF("oid", "winner", "loser").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    s2.toDF("oid", "winner", "loser").coalesce(1)
      .write.json(raw.resolve("f2").toString)
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now - 30000L)
    DocIngest.runOutcomeCensusIngest(spark, raw.toString + "/*/",
      root.resolve("cstate").toString, root.resolve("cboard").toString,
      root.resolve("cckpt").toString, iters = 4)
    DocIngest.runOutcomeIngest(spark, raw.toString + "/*/",
      root.resolve("lstate").toString, root.resolve("lboard").toString,
      root.resolve("lckpt").toString, iters = 4)
    val viaCensus = DocIngest.readOutcomeBoard(spark,
        root.resolve("cboard").toString)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaLog = DocIngest.readOutcomeBoard(spark,
        root.resolve("lboard").toString)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaCensus == viaLog,
      s"census board diverged from log board:\n$viaCensus\nvs\n$viaLog")
    // the persisted census state is pair-bounded, not stream-bounded
    val stDirs = Files.list(root.resolve("cstate")).toArray.toSeq
      .map(_.toString).filter(_.split('/').last.startsWith("v="))
    val st = spark.read.parquet(stDirs.maxBy(
        _.split('/').last.drop(2).toLong))
      .select($"winner", $"loser", $"n")
      .as[(Long, Long, Long)].collect().toSet
    assert(st == Set((1L, 2L, 3L), (2L, 1L, 1L), (10L, 11L, 2L),
      (3L, 1L, 1L)), st.toString)
    // NULL winner/loser refuses loudly
    val root2 = Paths.get(sys.props("java.io.tmpdir"),
      "graft_outcome_census_null_spec")
    deleteRec(root2)
    """{"oid":"x1","winner":1}""".split('\n').toSeq.toDF("value")
      .coalesce(1).write.text(root2.resolve("raw/f1").toString)
    setMtimeRec(root2.resolve("raw/f1"), now)
    val e = intercept[Exception] {
      DocIngest.runOutcomeCensusIngest(spark,
        root2.resolve("raw").toString + "/*/",
        root2.resolve("state").toString, root2.resolve("board").toString,
        root2.resolve("ckpt").toString)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL winner or loser")),
      msgs(e).toString)
    deleteRec(root); deleteRec(root2)
  }

  test("quality-drift monitor: the planted drifted shard flags exactly its batch, healthy batches stay quiet") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"),
      "graft_qdrift_spec")
    deleteRec(root)
    val raw = root.resolve("raw")
    val baseline = root.resolve("baseline")
    val monitor = root.resolve("monitor")
    val now = System.currentTimeMillis()
    // a shared generator so baseline and healthy shards draw from the
    // SAME score distribution (vocab of 40 words, ~24 words per doc);
    // the trailing unique token keeps texts distinct — the ingest
    // gate's cross-batch digest dedup would otherwise drain repeated
    // shards to nothing
    def healthyDoc(i: Long): (Long, String, String, String) =
      (i, s"s${i % 3}", "en",
        (0 until 24).map(k => s"w${(i * 7 + k * 13) % 40}")
          .mkString(" ") + s" u$i")
    DocIngest.writeScoreBaseline(
      (1000L until 1300L).map(healthyDoc).toDF("doc_id", "source",
        "lang", "text"),
      "doc_id", "text", baseline.toString)
    // three shards → three micro-batches: healthy, DRIFTED (template
    // collapse: near-identical spam dominated by shared tokens, so
    // scores concentrate in one bucket), healthy
    (1L to 100L).map(healthyDoc).toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f1").toString)
    (201L to 300L).map(i => (i, "sx", "en",
        s"spam spam spam spam filler${i % 7}"))
      .toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f2").toString)
    (301L to 400L).map(healthyDoc).toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f3").toString)
    // an exact re-delivery of shard 1: the ingest dedup drains it to
    // NOTHING — an empty batch has no distribution and must stay
    // quiet (n_docs 0, drift 0), not flag as maximal drift
    (1L to 100L).map(healthyDoc).toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f4").toString)
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now - 40000L)
    setMtimeRec(raw.resolve("f3"), now - 20000L)
    setMtimeRec(raw.resolve("f4"), now - 10000L)
    DocIngest.runQualityDriftIngest(spark, raw.toString + "/*/",
      baseline.toString, monitor.toString,
      root.resolve("ckpt").toString)
    val rows = DocIngest.readDriftMonitor(spark, monitor.toString)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(rows.map(_._1) == Seq(0L, 1L, 2L, 3L), rows.toString)
    assert(!rows(0)._4 && !rows(2)._4,
      s"healthy batches must stay quiet: $rows")
    assert(rows(1)._4,
      s"the drifted batch must flag: $rows")
    // and the gap is a margin, not a coin flip
    assert(rows(1)._3 > 2 * math.max(rows(0)._3, rows(2)._3),
      s"drift margin too thin: $rows")
    assert(rows(3) == ((3L, 0L, 0L, false)),
      s"the drained duplicate batch must report empty-quiet: $rows")
    deleteRec(root)
  }

  test("bloom decontamination tier: no false negatives, streamed equals batch") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_bloom_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val bench = Seq((1000L, "b0", "en", "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "source", "lang", "text")
    val bloom = DocIngest.benchGramBloom(bench, "text")
    val incoming = (1L to 40L).map { i =>
      if (i % 10 == 0) // planted contamination — shares a bench 5-gram
        (i, "s0", "en", s"noise$i alpha beta gamma delta epsilon tail$i")
      else
        (i, "s0", "en", s"clean document number $i with its own unique words w$i x$i y$i")
    }.toDF("doc_id", "source", "lang", "text")
    incoming.filter($"doc_id" <= 20).coalesce(1)
      .write.json(raw.resolve("f1").toString)
    incoming.filter($"doc_id" > 20).coalesce(1)
      .write.json(raw.resolve("f2").toString)

    val q = DocIngest.ingestDecontaminatedBloom(
        DocIngest.readDocStream(spark, raw.toString + "/*/"), bloom)
      .writeStream.format("json")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.json(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    // NO false negatives: every planted contaminated doc is blocked
    assert((10L to 40L by 10L).forall(i => !streamed.contains(i)),
      s"contaminated doc slipped the bloom gate: $streamed")
    // streamed equals the batch twin bit-for-bit (same sketch)
    val batch = DocIngest.ingestDecontaminatedBloom(incoming, bloom)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // and the bloom tier only ever over-drops vs the exact tier
    val exact = DocIngest.ingestDecontaminated(incoming,
      DocIngest.benchGramHashes(bench, "text"))
      .select($"doc_id").as[Long].collect().toSet
    assert(batch.subsetOf(exact),
      s"bloom tier kept a doc the exact tier blocked: ${batch -- exact}")
    deleteRec(root)
  }

  test("persisted-bloom decontamination gate: hits quarantined with counts, clean docs land, missing index refused") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.DatasetOps
    import graft.functions.TextFunctions.{whitespaceTokens, wordShingles}
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_bloomgate_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt"); val idx = root.resolve("idx")
    val quar = root.resolve("quar")
    // the gate refuses to run against a missing index (an empty
    // bitmap would silently pass everything)
    val e = intercept[IllegalArgumentException] {
      DocIngest.runBloomDecontamIngest(spark, raw.toString + "/*/",
        idx.toString, out.toString, quar.toString, ckpt.toString)
    }
    assert(e.getMessage.contains("writeBloomIndex"), e.getMessage)
    // benchmark: one doc whose 8-grams feed the persisted bitmap
    val benchText = "one two three four five six seven eight nine ten"
    val bench = Seq((999L, benchText)).toDF("doc_id", "text")
    val bits = DatasetOps.bloomBitmap(
      bench.select(explode(wordShingles(
        whitespaceTokens(col("text")), 8)).as("g")), "g")
    DatasetOps.writeBloomIndex(spark, idx.toString, bits)
    // shard 1: clean doc + contaminated doc (embeds a bench 8-gram);
    // shard 2: another clean + another contaminated
    Seq((1L, "s0", "en", "totally clean document alpha beta gamma delta epsilon"),
      (2L, "s0", "en", s"prefix $benchText suffix"))
      .toDF("doc_id", "source", "lang", "text").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    Seq((3L, "s0", "en", "another clean one with its very own eight words here"),
      (4L, "s0", "en", "two three four five six seven eight nine"))
      .toDF("doc_id", "source", "lang", "text").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runBloomDecontamIngest(spark, raw.toString + "/*/",
      idx.toString, out.toString, quar.toString, ckpt.toString)
    val landed = spark.read.json(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    assert(landed == Set(1L, 3L), s"got $landed")
    val quarantined = spark.read.json(quar.toString)
      .select($"doc_id", $"n_hits").as[(Long, Long)].collect().toMap
    assert(quarantined.keySet == Set(2L, 4L), s"got $quarantined")
    // doc 2 embeds 3 bench 8-grams (prefix/suffix shift the window);
    // doc 4 is itself exactly one bench 8-gram
    assert(quarantined(2L) == 3L, s"doc2 hits ${quarantined(2L)}")
    assert(quarantined(4L) == 1L, s"doc4 hits ${quarantined(4L)}")
    deleteRec(root)
  }

  test("streaming KMV ingest: running distinct estimate equals the batch sketch over the union") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.Sketches
    import graft.functions.TextFunctions.whitespaceTokens
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_kmv_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val ckpt = root.resolve("ckpt")
    val k = 16
    // two shards with overlapping vocab — min-k idempotence means the
    // overlap cannot double-occupy sketch slots
    def doc(id: Long, src: String, lo: Int, hi: Int) =
      (id, src, "en", (lo until hi).map(i => s"w$i").mkString(" "))
    val shard1 = Seq(doc(1, "a", 0, 120), doc(2, "b", 0, 10))
    val shard2 = Seq(doc(3, "a", 80, 200), doc(4, "b", 5, 12))
    shard1.toDF("doc_id", "source", "lang", "text").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    shard2.toDF("doc_id", "source", "lang", "text").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runKmvIngest(spark, raw.toString + "/*/",
      state.toString, ckpt.toString, k = k)
    val streamed = Sketches.kmvEstimate(
      DocIngest.readKmvState(spark, state.toString), Seq("source"), k)
      .as[(String, Long)].collect().toMap
    val union = (shard1 ++ shard2).toDF("doc_id", "source", "lang", "text")
      .select($"source", explode(whitespaceTokens($"text")).as("tok"))
    val batch = Sketches.kmvEstimate(
      Sketches.kmvMins(union, Seq("source"), "tok", k), Seq("source"), k)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // source b has 12 distinct tokens < k: the running estimate is
    // EXACT, proving overlap dedup across shards (7 + 7 -> 12)
    assert(streamed("b") == 12L, s"got ${streamed("b")}")
    deleteRec(root)
  }

  test("streaming link-graph ingest: census equals the batch census over the union; hosts stay exact") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_linkgraph_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val ckpt = root.resolve("ckpt")
    def page(host: String, path: String, hrefs: Seq[(String, String)]) =
      (s"https://$host$path",
        hrefs.map { case (u, t) => s"""<a href="$u">$t</a>""" }.mkString)
    // shard 1: two hosts both link hub/x (internal nav excluded);
    // shard 2: a REPEAT of one (target, host) edge — must sum, not
    // re-key — plus a brand-new target
    val shard1 = Seq(
      page("alpha.org", "/p1", Seq(
        ("http://hub.example.com/x", "good stuff"),
        ("/nav", "internal"),
        ("http://hub.example.com/y", "other"))),
      page("beta.org", "/p1", Seq(
        ("http://hub.example.com/x", "also good"))))
    val shard2 = Seq(
      page("alpha.org", "/p2", Seq(
        ("http://hub.example.com/x", "again"),
        // the ADVICE r11 prefix trap: a cross-site host that BEGINS
        // with the origin string — external, must be counted
        ("https://alpha.organic-foo.com/z", "prefix trap"),
        ("http://wiki.example.org/w", "wiki"))))
    shard1.toDF("page_url", "html").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    shard2.toDF("page_url", "html").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runLinkGraphIngest(spark, raw.toString + "/*/",
      state.toString, ckpt.toString)
    val got = DocIngest.readLinkGraph(spark, state.toString)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("http://hub.example.com/x", "alpha.org") -> 2L, // summed across shards
      ("http://hub.example.com/x", "beta.org") -> 1L,
      ("http://hub.example.com/y", "alpha.org") -> 1L,
      ("https://alpha.organic-foo.com/z", "alpha.org") -> 1L,
      ("http://wiki.example.org/w", "alpha.org") -> 1L), s"got $got")
    // the exact distinct-host read the state keying exists for
    val hosts = DocIngest.readLinkGraph(spark, state.toString)
      .groupBy($"target")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_hosts"))
      .as[(String, Long)].collect().toMap
    assert(hosts("http://hub.example.com/x") == 2L)
    // internal /nav never entered the census (same-HOST exclusion —
    // the prefix-trap target above shares the origin as a string
    // prefix and must NOT be excluded with it)
    assert(!got.keys.exists(_._1.startsWith("https://alpha.org/")))
    deleteRec(root)
  }

  test("streaming sitemap expansion: children queue once, pages hand off, re-referenced index blocked") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_sitemap_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val queue = root.resolve("queue"); val front = root.resolve("front")
    val ckpt = root.resolve("ckpt")
    val index = "<sitemapindex>" +
      "<sitemap><loc>https://a.io/sm1.xml</loc></sitemap>" +
      "<sitemap><loc> HTTPS://a.io/sm2.xml </loc></sitemap>" +
      "</sitemapindex>"
    val urlset = "<urlset><url><loc>https://a.io/p1</loc></url>" +
      "<url><loc>https://a.io/p2#frag</loc></url></urlset>"
    // shard 1: the index; shard 2: a child's urlset arrives AND the
    // index is re-referenced — its children must not re-queue
    Seq(("https://a.io/sitemap.xml", index))
      .toDF("sitemap_url", "xml").coalesce(1)
      .write.json(raw.resolve("f1").toString)
    Seq(("https://a.io/sm1.xml", urlset),
      ("https://a.io/sitemap.xml", index))
      .toDF("sitemap_url", "xml").coalesce(1)
      .write.json(raw.resolve("f2").toString)

    DocIngest.runSitemapIngest(spark, raw.toString + "/*/",
      seen.toString, queue.toString, front.toString, ckpt.toString)
    val queued = spark.read.json(queue.toString)
      .select($"n").as[String].collect().sorted.toSeq
    // normalized (case-folded scheme+host), each child exactly once
    assert(queued == Seq("https://a.io/sm1.xml", "https://a.io/sm2.xml"),
      s"got $queued")
    val handed = spark.read.json(front.toString)
      .select($"url").as[String].collect().sorted.toSeq
    assert(handed == Seq("https://a.io/p1", "https://a.io/p2"),
      s"got $handed")
    deleteRec(root)
  }

  // real-crawl-shaped WARC fixtures: record payloads are full HTTP
  // response messages (status line + headers + blank line + body)
  private def httpMsg(status: Int, ct: String, body: String) =
    s"HTTP/1.1 $status S\r\nContent-Type: $ct\r\n" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body"
  private def warcRec(uri: String, p: String, declared: Int = -1,
                      wtype: String = "response") =
    s"WARC/1.0\r\nWARC-Type: $wtype\r\nWARC-Target-URI: $uri\r\n" +
      "Content-Length: " +
      s"${if (declared >= 0) declared else p.getBytes("UTF-8").length}" +
      s"\r\n\r\n$p"

  test("streaming WARC ingest: 200 bodies land (never headers), truncated/non-200/non-HTTP quarantine with reasons") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_warc_ingest")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val quar = root.resolve("quar"); val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    val truncated = httpMsg(200, "text/html", "truncated body here")
    // shard 1: two clean responses; shard 2: clean + truncated record
    // + 404 + a headerless payload — every gate fires under stream
    java.nio.file.Files.write(raw.resolve("shard1.warc"),
      Seq(
        // the interleaved request record a real crawl file carries:
        // FILTERED (not a document, not corruption) — it must land
        // nowhere and quarantine nowhere
        warcRec("http://a/1", "GET /1 HTTP/1.1\r\nHost: a",
          wtype = "request"),
        warcRec("http://a/1",
          httpMsg(200, "text/html; charset=utf-8",
            "alpha beta gamma delta")),
        warcRec("http://a/2",
          httpMsg(200, "text/plain", "epsilon zeta eta theta")))
        .mkString("\r\n\r\n").getBytes("UTF-8"))
    // a chunked 200 (reassembles) and a MALFORMED chunked 200
    // (quarantines — chunk-size lines must never land as text)
    def chunk(s: String): String =
      s"${s.getBytes("UTF-8").length.toHexString}\r\n$s\r\n"
    val chunkedBody = chunk("nu xi omicron ") + chunk("pi rho") +
      "0\r\n\r\n"
    val chunkedMsg = "HTTP/1.1 200 S\r\nContent-Type: text/plain\r\n" +
      "Transfer-Encoding: chunked\r\n" +
      s"Content-Length: ${chunkedBody.getBytes("UTF-8").length}" +
      s"\r\n\r\n$chunkedBody"
    val badChunkMsg = "HTTP/1.1 200 S\r\n" +
      "Transfer-Encoding: chunked\r\nContent-Length: 14\r\n\r\n" +
      "ZZ\r\nx\r\n0\r\n\r\n"
    java.nio.file.Files.write(raw.resolve("shard2.warc"),
      Seq(
        warcRec("http://a/3",
          httpMsg(200, "text/html", "iota kappa lambda mu")),
        warcRec("http://a/4", truncated, declared = 500),
        warcRec("http://a/5", httpMsg(404, "text/html",
          "page not found body")),
        warcRec("http://a/6", "no http head here at all"),
        warcRec("http://a/7", chunkedMsg),
        warcRec("http://a/8", badChunkMsg))
        .mkString("\r\n\r\n").getBytes("UTF-8"))
    DocIngest.runWarcIngest(spark, raw.toString, out.toString,
      quar.toString, ckpt.toString, minTokens = 3)
    val landed = spark.read.json(out.toString)
      .select($"uri", $"text").as[(String, String)].collect().toMap
    // the landed text is the message BODY — no status line, no
    // header, and the chunked body lands REASSEMBLED
    assert(landed == Map(
      "http://a/1" -> "alpha beta gamma delta",
      "http://a/2" -> "epsilon zeta eta theta",
      "http://a/3" -> "iota kappa lambda mu",
      "http://a/7" -> "nu xi omicron pi rho"), landed.toString)
    val q = spark.read.json(quar.toString)
    val lenRows = q.filter($"reason" === "length")
      .select($"uri", $"content_length", $"recovered_length")
      .as[(String, Long, Long)].collect().toSeq
    assert(lenRows == Seq(("http://a/4", 500L,
      truncated.getBytes("UTF-8").length.toLong)), lenRows.toString)
    val statusRows = q.filter($"reason" === "status")
      .select($"uri", $"http_status", $"content_type")
      .as[(String, Option[Long], Option[String])].collect().toSet
    assert(statusRows == Set(
      ("http://a/5", Some(404L), Some("text/html")),
      ("http://a/6", None, None)), statusRows.toString)
    val chunkRows = q.filter($"reason" === "chunked")
      .select($"uri").as[String].collect().toSeq
    assert(chunkRows == Seq("http://a/8"), chunkRows.toString)
    deleteRec(root)
  }

  test("streaming .warc.gz ingest: multi-member shards decompress and land, corrupt shards quarantine as gzip") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_warcgz_ing")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val quar = root.resolve("quar"); val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    def gz(parts: Seq[String]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      parts.foreach { p =>
        val g = new java.util.zip.GZIPOutputStream(o)
        g.write(p.getBytes("UTF-8")); g.finish(); g.close()
      }
      o.toByteArray
    }
    // one member per record, the Common Crawl framing
    java.nio.file.Files.write(raw.resolve("s1.warc.gz"), gz(Seq(
      warcRec("http://g/1", httpMsg(200, "text/html",
        "gzip alpha body words")),
      "\r\n\r\n" + warcRec("http://g/2", httpMsg(200, "text/plain",
        "gzip beta body words")))))
    java.nio.file.Files.write(raw.resolve("bad.warc.gz"),
      "definitely not gzip".getBytes("UTF-8"))
    DocIngest.runWarcGzIngest(spark, raw.toString, out.toString,
      quar.toString, ckpt.toString, minTokens = 3)
    val landed = spark.read.json(out.toString)
      .select($"uri", $"text").as[(String, String)].collect().toMap
    assert(landed == Map(
      "http://g/1" -> "gzip alpha body words",
      "http://g/2" -> "gzip beta body words"), landed.toString)
    val gzRows = spark.read.json(quar.toString)
      .filter($"reason" === "gzip").select($"uri")
      .as[String].collect().toSeq
    assert(gzRows.size == 1 && gzRows.head.endsWith("bad.warc.gz"),
      gzRows.toString)
    deleteRec(root)
  }

  test("streaming URL frontier: spelling variants collapse, later-shard variants blocked by the persisted seen-set") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val out = root.resolve("out"); val ckpt = root.resolve("ckpt")
    // shard 1: page A twice (spelling variants) + page B
    Seq("HTTP://WWW.h.io:80/a/", "http://h.io/a#x", "http://h.io/b")
      .toDF("url").coalesce(1).write.json(raw.resolve("f1").toString)
    // shard 2: a THIRD spelling of A (must be blocked by the
    // persisted set, not by in-batch dedup) + new page C
    Seq("http://h.io/a/", "https://h.io/c")
      .toDF("url").coalesce(1).write.json(raw.resolve("f2").toString)
    DocIngest.runFrontierIngest(spark, raw.toString + "/*/",
      seen.toString, out.toString, ckpt.toString)
    val queue = spark.read.json(out.toString)
      .select($"n", $"url").as[(String, String)].collect().toMap
    // A kept once, lexicographically smallest raw spelling
    assert(queue == Map(
      "http://h.io/a" -> "HTTP://WWW.h.io:80/a/",
      "http://h.io/b" -> "http://h.io/b",
      "https://h.io/c" -> "https://h.io/c"), queue.toString)
    val seenSet = spark.read.parquet(seen.toString)
      .as[String].collect().toSet
    assert(seenSet == queue.keySet)
    deleteRec(root)
  }

  test("bucketed URL frontier: same verdicts as the directory variant, seen-set probed with zero set-side exchange") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_bkt")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    try {
      Seq("HTTP://WWW.h.io:80/a/", "http://h.io/a#x", "http://h.io/b")
        .toDF("url").coalesce(1).write.json(raw.resolve("f1").toString)
      Seq("http://h.io/a/", "https://h.io/c")
        .toDF("url").coalesce(1).write.json(raw.resolve("f2").toString)
      DocIngest.runFrontierIngestBucketed(spark, raw.toString + "/*/",
        "graft_frontier_seen", out.toString, ckpt.toString,
        numBuckets = 4)
      val queue = spark.read.json(out.toString)
        .select($"n", $"url").as[(String, String)].collect().toMap
      assert(queue == Map(
        "http://h.io/a" -> "HTTP://WWW.h.io:80/a/",
        "http://h.io/b" -> "http://h.io/b",
        "https://h.io/c" -> "https://h.io/c"), queue.toString)
      assert(spark.table("graft_frontier_seen").as[String]
        .collect().toSet == queue.keySet)
      // the scale property: probing the grown set engages the
      // write-time bucketing — zero exchange on the set side
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val probe = Seq("http://h.io/z").toDF("n")
          .join(spark.table("graft_frontier_seen"), Seq("n"), "left_anti")
        val plan = probe.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"bucketed scan not engaged:\n${plan.take(2000)}")
        val exchanges = "Exchange hashpartitioning\\(n#".r
          .findAllIn(plan).size
        assert(exchanges == 1,
          s"expected 1 probe-side exchange, got $exchanges:\n${plan.take(3000)}")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_frontier_seen")
      deleteRec(root)
    }
  }

  test("binary .warc.gz ingest: latin-1, chunked+gzip and 404 records each land or quarantine byte-exactly") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_warcgz_bin")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val quar = root.resolve("quar"); val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    def gz(b: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      g.write(b); g.finish(); g.close(); o.toByteArray
    }
    def chunked(b: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(s"${b.length.toHexString}\r\n".getBytes("US-ASCII"))
      o.write(b); o.write("\r\n0\r\n\r\n".getBytes("US-ASCII"))
      o.toByteArray
    }
    def httpBytes(headers: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(s"HTTP/1.1 200 S\r\n$headers\r\n\r\n".getBytes("US-ASCII"))
      o.write(body); o.toByteArray
    }
    def warcBytes(uri: String, p: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $uri\r\nContent-Length: ${p.length}\r\n\r\n")
        .getBytes("US-ASCII"))
      o.write(p); o.toByteArray
    }
    val latinText = "café déjà aussi très bon"
    val metaText = "<meta charset=\"iso-8859-1\">très bien ça va aussi"
    val recs = Seq(
      warcBytes("http://bz/1", httpBytes(
        "Content-Type: text/plain; charset=ISO-8859-1",
        latinText.getBytes("ISO-8859-1"))),
      warcBytes("http://bz/2", httpBytes(
        "Content-Type: text/html\r\nTransfer-Encoding: chunked\r\n" +
          "Content-Encoding: gzip",
        chunked(gz(metaText.getBytes("ISO-8859-1"))))),
      warcBytes("http://bz/3",
        "HTTP/1.1 404 S\r\nContent-Length: 2\r\n\r\nno"
          .getBytes("US-ASCII")))
    val shard = new java.io.ByteArrayOutputStream()
    recs.zipWithIndex.foreach { case (r, i) =>
      val member = new java.io.ByteArrayOutputStream()
      if (i > 0) member.write("\r\n\r\n".getBytes("US-ASCII"))
      member.write(r)
      shard.write(gz(member.toByteArray))
    }
    java.nio.file.Files.write(raw.resolve("s1.warc.gz"),
      shard.toByteArray)
    java.nio.file.Files.write(raw.resolve("bad.warc.gz"),
      "junk".getBytes("US-ASCII"))
    DocIngest.runWarcGzIngestBinary(spark, raw.toString, out.toString,
      quar.toString, ckpt.toString, minTokens = 3)
    val landed = spark.read.json(out.toString)
      .select($"uri", $"text").as[(String, String)].collect().toMap
    // NO mojibake: the latin-1 bytes decoded under their declared
    // charsets — header-declared for 1, meta-sniffed under the
    // de-chunked+gunzipped layers for 2
    assert(landed == Map(
      "http://bz/1" -> latinText,
      "http://bz/2" -> metaText), landed.toString)
    val reasons = spark.read.json(quar.toString)
      .select($"uri", $"reason").as[(String, String)].collect().toSet
    assert(reasons.exists(r => r._1 == "http://bz/3" &&
      r._2 == "status"), reasons.toString)
    assert(reasons.exists(r => r._1.endsWith("bad.warc.gz") &&
      r._2 == "gzip"), reasons.toString)
    deleteRec(root)
  }

  test("frontier retry window: a re-landed queue batch collapses under the reader's keep-first on n") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_rt")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val out = root.resolve("out"); val ckpt = root.resolve("ckpt")
    Seq("HTTP://WWW.h.io:80/a/", "http://h.io/b")
      .toDF("url").coalesce(1).write.json(raw.toString)
    DocIngest.runFrontierIngest(spark, raw.toString,
      seen.toString, out.toString, ckpt.toString)
    val once = spark.read.json(out.toString)
      .select($"n", $"url").as[(String, String)].collect().toMap
    // the documented at-least-once window: the batch dies between the
    // queue write and the seen append, and the RETRY re-lands the
    // identical rows — emulate by re-appending the queue output
    spark.read.json(out.toString)
      .write.mode("append").json(out.toString + "_retry")
    spark.read.json(out.toString)
      .write.mode("append").json(out.toString + "_retry")
    val retried = spark.read.json(out.toString + "_retry")
    assert(retried.count() == 2 * once.size) // duplicates ARE there...
    // ...and the reader's keep-first collapse on n absorbs them
    // losslessly, because rows for one key are identical by
    // construction (deterministic min-url pick)
    val collapsed = retried.dropDuplicates("n")
      .select($"n", $"url").as[(String, String)].collect().toMap
    assert(collapsed == once, s"$collapsed vs $once")
    deleteRec(root)
  }

  test("polite frontier: a disallowed URL never enters the queue or the seen-set, allowed URLs flow") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_pol")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val dis = root.resolve("dis"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    // the persisted disallow set: robots verdicts precomputed over
    // the host, keyed on NORMALIZED urls (the frontier key)
    Seq("http://h.io/private/x").toDF("n")
      .write.parquet(dis.toString)
    Seq("http://h.io/a", "HTTP://WWW.h.io:80/private/x#frag",
      "http://h.io/b").toDF("url")
      .coalesce(1).write.json(raw.toString)
    DocIngest.runFrontierIngestPolite(spark, raw.toString,
      seen.toString, dis.toString, out.toString, ckpt.toString)
    val queue = spark.read.json(out.toString)
      .select($"n").as[String].collect().toSet
    assert(queue == Set("http://h.io/a", "http://h.io/b"),
      queue.toString)
    // NOT seen either: the disallow set stays the authority, so a
    // robots relaxation later lets the URL through with no surgery
    val seenSet = spark.read.parquet(seen.toString)
      .as[String].collect().toSet
    assert(seenSet == queue, seenSet.toString)
    deleteRec(root)
  }

  test("recrawl frontier: an expired URL re-queues once, a fresh one stays blocked, TTL is queue-to-queue") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_ttl")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val out = root.resolve("out"); val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    // three shards with EXPLICIT mtimes -> three ordered micro-batches
    def shard(name: String, ts: Long, urls: String*): Unit = {
      val d = raw.resolve(name)
      urls.toSeq.toDF("url").coalesce(1).write.json(d.toString)
      java.nio.file.Files.walk(d).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(ts)); ()
      }
    }
    val t0 = 1700000000000L
    shard("f1", t0, "http://h.io/a", "http://h.io/b")      // batch 0
    shard("f2", t0 + 60000, "http://h.io/a/")              // batch 1
    shard("f3", t0 + 120000, "http://h.io/a#x")            // batch 2
    DocIngest.runFrontierIngestRecrawl(spark, raw.toString + "/*/",
      seen.toString, out.toString, ckpt.toString, ttlBatches = 2L)
    val queued = spark.read.json(out.toString)
      .select($"n").as[String].collect().toSeq.sorted
    // a queued at batch 0 and AGAIN at batch 2 (2 - 0 >= ttl 2); the
    // batch-1 sighting was fresh and dropped; b queued once
    assert(queued == Seq("http://h.io/a", "http://h.io/a",
      "http://h.io/b"), queued.toString)
    val seenRows = spark.read.parquet(seen.toString)
      .select($"n", $"b").as[(String, Long)].collect().toSet
    // the fresh batch-1 sighting did NOT advance a's clock
    assert(seenRows == Set(("http://h.io/a", 0L),
      ("http://h.io/b", 0L), ("http://h.io/a", 2L)), seenRows.toString)
    deleteRec(root)
  }

  test("bloom-fronted frontier gate: semantics identical to the plain gate, index tracks the seen-set exactly") {
    import spark.implicits._
    import graft.streaming.DocIngest
    import graft.operators.DatasetOps
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_frontier_bloom")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val bloom = root.resolve("bloom"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    def shard(name: String, ts: Long, urls: String*): Unit = {
      val d = raw.resolve(name)
      urls.toSeq.toDF("url").coalesce(1).write.json(d.toString)
      java.nio.file.Files.walk(d).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(ts)); ()
      }
    }
    val t0 = 1700000000000L
    shard("f1", t0, "http://h.io/a", "http://h.io/b")
    // batch 1: a spelling variant (must be blocked by the PERSISTED
    // state through the bloom hit -> exact-join confirm path) and a
    // never-seen URL (the bloom-miss fast path)
    shard("f2", t0 + 60000, "HTTP://WWW.h.io:80/a#frag", "http://h.io/c")
    // small bitmap (still 16 words) keeps the plan literal tiny
    DocIngest.runFrontierIngestBloom(spark, raw.toString + "/*/",
      seen.toString, bloom.toString, out.toString, ckpt.toString,
      mBits = 1024, nHash = 3)
    val queue = spark.read.json(out.toString)
      .select($"n").as[String].collect().toSet
    assert(queue == Set("http://h.io/a", "http://h.io/b",
      "http://h.io/c"), queue.toString)
    val seenSet = spark.read.parquet(seen.toString)
      .as[String].collect().toSet
    assert(seenSet == queue, seenSet.toString)
    // the maintenance invariant: after every batch the sidecar equals
    // the bitmap of the whole seen-set (a restart rebuilds nothing)
    val (bits, m, k) = DatasetOps.readBloomIndex(spark, bloom.toString)
    assert((m, k) == ((1024, 3)))
    val expect = DatasetOps.bloomBitmap(
      spark.read.parquet(seen.toString).select($"n"), "n", m, k)
    assert(bits.toSeq == expect.toSeq)
    deleteRec(root)
  }

  test("hinted recrawl gate: stale-by-sitemap requeues immediately, sitemap-unmodified stretches the TTL, hintless keeps the default") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_hinted_recrawl")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val hints = root.resolve("hints"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    // hints on the gate's logical clock: A claims modification at
    // batch 5 (after any fetch below — stale-by-sitemap), B at batch 0
    // (never after — unmodified), C has no hint; ttl_b = 2 for both
    Seq(("http://h.io/a", 5L, 2L), ("http://h.io/b", 0L, 2L))
      .toDF("n", "lastmod_b", "ttl_b")
      .write.mode("overwrite").parquet(hints.toString)
    def shard(name: String, ts: Long, urls: String*): Unit = {
      val dd = raw.resolve(name)
      urls.toSeq.toDF("url").coalesce(1).write.json(dd.toString)
      java.nio.file.Files.walk(dd).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(ts)); ()
      }
    }
    val t0 = 1700000000000L
    // batch 0: first sighting of all three — all queue
    shard("f1", t0, "http://h.io/a", "http://h.io/b", "http://h.io/c")
    // batch 1: all three re-discovered. A: lastmod_b 5 > last 0 →
    // requeued NOW (no TTL wait). B: lastmod_b 0 <= last 0 →
    // unmodified, eff TTL = 2×4 = 8 > 1 → skipped. C: no hint,
    // default TTL 2 > 1 → skipped.
    shard("f2", t0 + 60000, "http://h.io/a", "http://h.io/b",
      "http://h.io/c")
    DocIngest.runFrontierIngestRecrawlHinted(spark, raw.toString + "/*/",
      hints.toString, seen.toString, out.toString, ckpt.toString,
      ttlBatches = 2L)
    val queued = spark.read.json(out.toString)
      .select($"n").as[String].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(queued == Map("http://h.io/a" -> 2, "http://h.io/b" -> 1,
      "http://h.io/c" -> 1), queued.toString)
    deleteRec(root)
  }

  test("hinted recrawl gate end to end: sitemap XML drives the hints through the extractors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_hinted_e2e")
    deleteRec(root)
    val raw = root.resolve("raw"); val seen = root.resolve("seen")
    val hints = root.resolve("hints"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    // the hints table derives from REAL sitemap XML through the
    // extractors: lastmod dates map onto the gate's logical clock via
    // an epoch (day 0 = batch 0 — the caller's mapping contract), and
    // changefreq maps through changefreqTtl off the gate's default
    val xml = "<urlset>" +
      "<url><loc>http://h.io/fresh</loc><lastmod>1970-01-06</lastmod>" +
      "<changefreq>weekly</changefreq></url>" +                 // batch 5: after any fetch → stale
      "<url><loc>http://h.io/stale</loc><lastmod>1970-01-01</lastmod>" +
      "<changefreq>weekly</changefreq></url>" +                 // batch 0: unmodified → 4× TTL
      "</urlset>"
    Seq(xml).toDF("xml")
      .select(explode(sitemapUrlEntries(col("xml"))).as("e"))
      .select(urlNormalize(col("e.loc")).as("n"),
        datediff(to_date(col("e.lastmod")), to_date(lit("1970-01-01")))
          .cast("long").as("lastmod_b"),
        changefreqTtl(col("e.changefreq"), lit(2L)).as("ttl_b"))
      .write.mode("overwrite").parquet(hints.toString)
    def shard(name: String, ts: Long, urls: String*): Unit = {
      val dd = raw.resolve(name)
      urls.toSeq.toDF("url").coalesce(1).write.json(dd.toString)
      java.nio.file.Files.walk(dd).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(ts)); ()
      }
    }
    val t0 = 1710000000000L
    shard("f1", t0, "http://h.io/fresh", "http://h.io/stale")
    shard("f2", t0 + 60000, "http://h.io/fresh", "http://h.io/stale")
    DocIngest.runFrontierIngestRecrawlHinted(spark, raw.toString + "/*/",
      hints.toString, seen.toString, out.toString, ckpt.toString,
      ttlBatches = 2L)
    val queued = spark.read.json(out.toString)
      .select($"n").as[String].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    // 'fresh' page: sitemap lastmod (batch 5) postdates the batch-0
    // fetch → requeued in batch 1; 'stale' page: lastmod batch 0 =
    // last fetch → unmodified, weekly TTL 2 stretched ×4 → skipped
    assert(queued == Map("http://h.io/fresh" -> 2,
      "http://h.io/stale" -> 1), queued.toString)
    deleteRec(root)
  }

  test("revisit gate: 304 carries the stored digest bodyless, 200 re-mints the validator, orphan 304 quarantined") {
    import spark.implicits._
    import graft.streaming.DocIngest
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_revisit_gate")
    deleteRec(root)
    val raw = root.resolve("raw"); val vals = root.resolve("vals")
    val out = root.resolve("out"); val quar = root.resolve("quar")
    val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(raw)
    def shard(name: String, ts: Long,
              rows: (String, Option[Long], String, Option[String])*): Unit = {
      val d = raw.resolve(name)
      rows.toSeq.toDF("url", "status", "etag", "body")
        .coalesce(1).write.json(d.toString)
      java.nio.file.Files.walk(d).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(ts)); ()
      }
    }
    val t0 = 1700000000000L
    // batch 0: first captures for a and b
    shard("f1", t0,
      ("http://h.io/a", Some(200L), "\"e1\"", Some("aaa")),
      ("http://h.io/b", Some(200L), "\"e2\"", Some("bbb")))
    // batch 1: a unchanged (304), b changed (200, new validator),
    // c answers 304 without any stored capture (protocol violation),
    // d arrives with a NULL status (malformed fetch line) — must
    // quarantine reason=status, never vanish (ADVICE r11: the
    // non-null-safe filters routed it to NO branch)
    shard("f2", t0 + 60000,
      ("HTTP://h.io:80/a#frag", Some(304L), "\"e1\"", None),
      ("http://h.io/b", Some(200L), "\"e3\"", Some("bbb2")),
      ("http://h.io/c", Some(304L), "\"e9\"", None),
      ("http://h.io/d", None, "\"e7\"", None))
    DocIngest.runRevisitIngest(spark, raw.toString + "/*/",
      vals.toString, out.toString, quar.toString, ckpt.toString)
    def m5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val caps = spark.read.json(out.toString)
      .select($"n", $"digest", $"revisit", $"body")
      .as[(String, String, Boolean, Option[String])].collect().toSet
    assert(caps == Set(
      ("http://h.io/a", m5("aaa"), false, Some("aaa")),
      ("http://h.io/b", m5("bbb"), false, Some("bbb")),
      // the 304: spelling variant collapses to the same key, the
      // batch-0 digest carries forward, NO body re-lands
      ("http://h.io/a", m5("aaa"), true, None),
      ("http://h.io/b", m5("bbb2"), false, Some("bbb2"))), caps.toString)
    val quarRows = spark.read.json(quar.toString)
      .select($"n", $"reason").as[(String, String)].collect().toSet
    assert(quarRows == Set(("http://h.io/c", "orphan_304"),
      ("http://h.io/d", "status")), quarRows.toString)
    // the validator store's CURRENT row for b is the re-minted one
    val cur = spark.read.parquet(vals.toString)
      .groupBy($"n").agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct($"b", $"etag", $"digest"))
        .as("s"))
      .select($"n", $"s.etag").as[(String, String)].collect().toSet
    assert(cur == Set(("http://h.io/a", "\"e1\""),
      ("http://h.io/b", "\"e3\"")), cur.toString)
    deleteRec(root)
  }

  test("pruneVersions: superseded state versions deleted, live version and readers untouched, keep=0 refused") {
    import spark.implicits._
    import graft.streaming.{DocIngest, ViewIngest}
    import graft.operators.Sketches
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_prune_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val state = root.resolve("state")
    val ckpt = root.resolve("ckpt")
    def doc(id: Long, lo: Int, hi: Int) =
      (id, "a", "en", (lo until hi).map(i => s"w$i").mkString(" "))
    Seq(doc(1, 0, 40)).toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f1").toString)
    Seq(doc(2, 30, 80)).toDF("doc_id", "source", "lang", "text")
      .coalesce(1).write.json(raw.resolve("f2").toString)
    DocIngest.runKmvIngest(spark, raw.toString + "/*/",
      state.toString, ckpt.toString, k = 16)
    val before = DocIngest.readKmvState(spark, state.toString)
      .collect().map(_.toSeq).toSet
    assert(java.nio.file.Files.list(state).count() >= 2,
      "fixture needs >= 2 versions")
    val pruned = ViewIngest.pruneVersions(spark, state.toString, keep = 1)
    assert(pruned.nonEmpty, "expected at least one superseded version")
    // exactly one version dir survives, and it is the one readers see
    val left = java.nio.file.Files.list(state).iterator()
    var dirs = List.empty[String]
    while (left.hasNext) dirs ::= left.next().getFileName.toString
    assert(dirs.count(_.startsWith("v=")) == 1, dirs.toString)
    assert(DocIngest.readKmvState(spark, state.toString)
      .collect().map(_.toSeq).toSet === before)
    val e = intercept[IllegalArgumentException] {
      ViewIngest.pruneVersions(spark, state.toString, keep = 0)
    }
    assert(e.getMessage.contains("keep must be >= 1"),
      e.getMessage.take(200))
    deleteRec(root)
  }

  test("flatMapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_state_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val out = root.resolve("out")
    val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 200, seed = 9).cache()
    orders.filter(col("gid") < 100).coalesce(1).write.json(raw.resolve("f1").toString)
    orders.filter(col("gid") >= 100).coalesce(1).write.json(raw.resolve("f2").toString)

    val stream = OrderPipeline.processOrders(
      OrderStream.readRawStream(spark, raw.toString + "/*/", maxFilesPerTrigger = 1),
      observeName = s"graft_state_${System.nanoTime()}")
    val q = OrderStream.customerRunningTotals(stream)
      .writeStream
      .format("json")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // the LAST emitted total per customer equals the batch aggregate
    val emitted = spark.read.json(out.toString)
      .groupBy(col("customerId"))
      .agg(max(col("nOrders")).as("n"),
        max(col("revenue")).as("rev"))
    val expected = OrderPipeline.processOrders(orders, "graft_state_batch")
      .groupBy(col("customer_id"))
      .agg(count(lit(1)).as("n"), sum(col("total_amount")).as("rev"))
    val lhs = emitted.select(col("customerId"), col("n")).as[(String, Long)].collect().toMap
    val rhs = expected.select(col("customer_id"), col("n")).as[(String, Long)].collect().toMap
    assert(lhs == rhs)
    deleteRec(root)
  }

  test("session_window sessionization: streaming complete-mode equals batch") {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_session_spec")
    deleteRec(root)
    val raw = root.resolve("raw"); val ckpt = root.resolve("ckpt")
    val orders = SyntheticOrderSource.orders(spark, 300, seed = 5).cache()
    orders.coalesce(2).write.json(raw.toString)

    val batch = OrderStream.customerSessions(
      OrderPipeline.processOrders(orders, "graft_sess_batch"))
    val batchSessions = batch.count()
    val batchOrders = batch.agg(sum(col("n_orders"))).head().getLong(0)
    assert(batchOrders == orders.count(), "sessions must partition the orders")

    val stream = OrderPipeline.processOrders(
      OrderStream.readRawStream(spark, raw.toString, maxFilesPerTrigger = 1),
      observeName = s"graft_sess_${System.nanoTime()}")
    val q = OrderStream.customerSessions(stream)
      .writeStream.format("memory").queryName("graft_sessions")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("graft_sessions")
    assert(streamed.count() == batchSessions)
    assert(streamed.agg(sum(col("n_orders"))).head().getLong(0) == batchOrders)
    deleteRec(root)
  }

  test("streaming hourly revenue matches the batch window aggregate") {
    val processed = OrderPipeline.processOrders(
      SyntheticOrderSource.orders(spark, 300, seed = 7), "graft_spec_hourly")
    val agg = OrderStream.hourlyRevenue(processed)
    // same plan runs in batch mode: check it is a valid aggregation
    val n = agg.count()
    assert(n > 0)
    val direct = processed
      .groupBy(window(to_timestamp(col("order_date")), "1 hour"), col("customer_city"))
      .count().count()
    assert(n == direct)
  }

  test("versioned state: a retried batch reads the version below its own, versions order numerically, missing state is empty or refused") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.{DocIngest, Drain, ViewIngest}
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_versions_spec")
    deleteRec(root)
    val state = root.resolve("state").toString
    val viewSchema = StructType(Seq(StructField("grp", StringType),
      StructField("cnt", LongType), StructField("total", LongType)))
    def land(v: Long, grp: String): Unit =
      Seq((grp, v, v)).toDF("grp", "cnt", "total")
        .write.parquet(s"$state/v=$v")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.as[(String, Long, Long)].collect().toSeq
    land(1, "one"); land(9, "nine"); land(10, "ten")
    // by number, not by name: "v=10" sorts before "v=9" as a string
    assert(Drain.versions(spark, state).map(_._1) == Seq(1L, 9L, 10L))
    assert(rows(ViewIngest.readAggView(spark, state)) == Seq(("ten", 10L, 10L)))
    // batch 10 retried after landing v=10 reads v=9, not its own version
    assert(rows(Drain.prior(spark, state, viewSchema, 10L)) ==
      Seq(("nine", 9L, 9L)))
    assert(rows(Drain.prior(spark, state, viewSchema, 1L)).isEmpty)

    // end to end: batch 1 died after part of its v=1 landed; the
    // restarted drain re-runs it from v=0 and overwrites the stale rows
    val raw = root.resolve("raw"); val st = root.resolve("view")
    Seq(("I", "a", 10L, null.asInstanceOf[String], 0L))
      .toDF("op", "grp", "val", "old_grp", "old_val")
      .coalesce(1).write.json(raw.resolve("f1").toString)
    Seq(("I", "b", 5L, null.asInstanceOf[String], 0L))
      .toDF("op", "grp", "val", "old_grp", "old_val")
      .coalesce(1).write.json(raw.resolve("f2").toString)
    val now = System.currentTimeMillis()
    setMtimeRec(raw.resolve("f1"), now - 60000L)
    setMtimeRec(raw.resolve("f2"), now)
    Seq(("stale", 99L, 99L)).toDF("grp", "cnt", "total")
      .write.parquet(st.resolve("v=1").toString)
    Files.delete(st.resolve("v=1/_SUCCESS"))
    ViewIngest.runAggViewIngest(spark, raw.toString + "/*/", st.toString,
      root.resolve("ckpt").toString)
    assert(rows(ViewIngest.readAggView(spark, st.toString)).toSet ==
      Set(("a", 1L, 10L), ("b", 1L, 5L)))

    // a missing directory: the empty state with its schema, or a refusal
    val missing = root.resolve("missing").toString
    val empties = Seq(
      ViewIngest.readAggView(spark, missing) -> "grp:string,cnt:bigint,total:bigint",
      DocIngest.readKmvState(spark, missing) -> "source:string,_h:bigint",
      DocIngest.readLinkGraph(spark, missing) ->
        "target:string,src_host:string,n_links:bigint")
    for ((df, want) <- empties) {
      assert(df.count() == 0L)
      assert(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(",") == want)
    }
    val board = intercept[IllegalStateException] {
      DocIngest.readOutcomeBoard(spark, missing)
    }
    assert(board.getMessage.contains("no outcome board"), board.getMessage)
    val hll = intercept[IllegalStateException] {
      DocIngest.readHllState(spark, missing)
    }
    assert(hll.getMessage.contains("no HLL sketch state"), hll.getMessage)
    deleteRec(root)
  }

  // one ownership table: each row's concerns are spelled in its owner
  // file and nowhere else in src/main/scala — (test, owner, concerns)
  private val owners = Seq(
    ("the drain skeleton is the only place that spells the AvailableNow drain or the v=<batchId> state format",
      "src/main/scala/graft/streaming/Drain.scala", Seq(
        "Trigger.AvailableNow" -> """Trigger\.AvailableNow""".r,
        "awaitTermination" -> """awaitTermination""".r,
        "the \"v=\" version literal" -> """"[^"]*\bv=""".r)),
    ("the seam is the only place that pins, releases or persists a frame",
      "src/main/scala/graft/operators/Seam.scala", Seq(
        "localCheckpoint" -> """localCheckpoint""".r,
        "getPersistentRDDs" -> """getPersistentRDDs""".r,
        ".persist(" -> """\.persist\(""".r,
        ".unpersist(" -> """\.unpersist\(""".r)))

  for ((title, ownerPath, concerns) <- owners) test(title) {
    import scala.jdk.CollectionConverters._
    val owner = Paths.get(ownerPath)
    // code only: whole-line comments and scaladoc, trailing // comments
    def code(p: Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex
        .map { case (l, i) => (l.replaceAll("""\s//\s.*$""", ""), i + 1) }
        .filterNot { case (l, _) =>
          val t = l.trim
          t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
        }
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.contains(owner), s"$owner not found")
    for ((name, re) <- concerns) {
      assert(code(owner).exists(l => re.findFirstIn(l._1).isDefined),
        s"$name is missing from $owner")
      val strays = for {
        f <- files if f != owner
        (l, n) <- code(f) if re.findFirstIn(l).isDefined
      } yield s"$f:$n: ${l.trim}"
      assert(strays.isEmpty,
        s"$name belongs in $owner only:\n${strays.mkString("\n")}")
    }
  }
}
