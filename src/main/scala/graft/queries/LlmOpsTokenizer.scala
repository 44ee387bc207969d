package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{ChatOps, DatasetOps}
import graft.operators.Seam.Pins

/** Tokenizer-tier closing queries (q364+ region, r16): the id-stream
  * DECODE door, sampled vocabulary learning, token-resolution length
  * curriculum, and the packed-SFT composition — token ids with loss
  * flags riding through the packer, the artifact an SFT trainer
  * actually loads. One section of the [[LlmOps]] registry; shares
  * the multilingual fixture and byte-BPE oracle CTEs with
  * [[LlmOpsServing]] and the chat fixture with [[LlmOpsTraining]].
  */
private[queries] trait LlmOpsTokenizer { this: LlmOps.type =>

  // ---- q364: token-id DECODE through the vocabulary ---------------------
  // The inspection door every tokenizer ships (VERDICT r15 Missing
  // #3): q359's id stream decoded back to text via the PERSISTED
  // vocabulary alone — ids 0..255 unhex arithmetically, 256+rank
  // resolves through a broadcast join against readBpeVocab's table;
  // the `symbol` column riding the id rows is never consulted, so the
  // id ASSIGNMENT is what round-trips. The oracle never sees ids at
  // all: it derives the expected reconstruction (lowercased,
  // whitespace-normalized text) straight from the fixture — so any
  // drift anywhere in learn → encode → id-assignment → decode breaks
  // the md5, while the oracle stays one fixture scan.

  private[queries] val q364: GraftQuery = GraftQuery(
    "q364_token_decode",
    (s, d) => {
      val merges = bpeBytesMerges(s, d)
      val ids = graft.operators.Bpe.bpeTokenIdsBytes(mlDocs(s, d),
        "doc_id", "text", merges)
      graft.operators.Bpe.decodeTokenIdsBytes(ids, "doc_id", merges)
        .select(col("doc_id"), col("n_words"),
          length(col("decoded")).cast(LongType).as("decoded_len"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $mlOracleCte,
      dws AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0) AS ws FROM mlx),
      j AS (SELECT doc_id, len(ws) AS n_words,
          array_to_string(ws, ' ') AS t
        FROM dws WHERE len(ws) > 0)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        CAST(length(t) AS BIGINT) AS decoded_len,
        md5(t) AS decoded_md5
      FROM j ORDER BY doc_id"""))

  // ---- q365: SAMPLED vocabulary learning --------------------------------
  // The 100 TB learning recipe (VERDICT r15 Missing #2): the word
  // census is md5-subsampled per TYPE (60% keep — the hashSplit
  // membership idiom, count-weighted because counts ride along) and
  // the selection window floors pair counts at 2 (sampled tail counts
  // are noise). The oracle replays the sampled census and both
  // batched rounds with the same floor, so a drifted draw, a lost
  // floor, or a window change flips the hash. BpeSpec pins the
  // exactness corner (full sample + floor 1 ≡ the unsampled learner)
  // and measures merge divergence at a 50% sample.

  private[queries] val q365: GraftQuery = GraftQuery(
    "q365_bpe_sampled",
    (s, d) =>
      graft.operators.Bpe.learnBpeMergesBytesBatchedSampled(mlDocs(s, d),
        "text", nMerges = 6, batchSize = 3, samplePpm = 600000L,
        minPairCount = 2L),
    Some(s"""WITH $mlOracleCte,
      toksb AS MATERIALIZED (SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      wcb AS MATERIALIZED (SELECT w, count(*) AS n FROM toksb GROUP BY w),
      wcs AS MATERIALIZED (SELECT w, n FROM wcb
        WHERE CAST(concat('0x', substring(md5('bpesample:' || w), 1, 8))
          AS BIGINT) % 1000000 < 600000),
      wb0 AS MATERIALIZED (SELECT regexp_replace(lower(hex(encode(w))), '(..)',
          chr(31) || '\\1' || chr(31), 'g') AS w, n FROM wcs),
      ${batchedBpeRoundSql(1, "wb0", minPairCount = 2L)},
      ${batchedBpeRoundSql(2, "wb1", minPairCount = 2L)}
      SELECT CAST(row_number() OVER (ORDER BY rnd, slot) AS BIGINT)
          AS merge_rank,
        l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM (
        SELECT 1 AS rnd, 1 AS slot, l, r, cnt FROM s11
        UNION ALL SELECT 1, 2, l, r, cnt FROM s12
        UNION ALL SELECT 1, 3, l, r, cnt FROM s13
        UNION ALL SELECT 2, 1, l, r, cnt FROM s21
        UNION ALL SELECT 2, 2, l, r, cnt FROM s22
        UNION ALL SELECT 2, 3, l, r, cnt FROM s23)
      ORDER BY merge_rank"""))

  // ---- q366: token-resolution length curriculum -------------------------
  // q117's length bucketing re-gated on LEARNED byte-BPE token counts
  // (VERDICT r15 Missing #5): the batching contract now matches what
  // the trainer's window pays for — a CJK doc whose word count is
  // tiny but whose token count is large moves buckets (spec-pinned
  // against the word tier). Same md5 deal, power-of-two ladder and
  // in-bucket rank as q117; only the length column changed, so the
  // oracle composes q352's per-doc token chain with q117's batch
  // replay.

  private[queries] val q366: GraftQuery = GraftQuery(
    "q366_token_length_batches",
    (s, d) => {
      val counts = graft.operators.Bpe.bpeTokenCountsBytes(mlDocs(s, d),
        "doc_id", "text", bpeBytesMerges(s, d))
      DatasetOps.lengthBucketBatches(counts, "doc_id", col("n_tokens"),
          batchSize = 8, minBucket = 16, maxBucket = 128, nShards = 4)
        .select(col("doc_id"), col("n_tokens"), col("bucket"),
          col("shard"), col("batch_idx"), col("pos"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      dtoksb AS (SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'),
        x -> length(x) > 0)) AS w FROM mlx),
      $byteMergeCteSql,
      deb AS (SELECT doc_id, $byteEncodeSql AS we
        FROM dtoksb CROSS JOIN mrg),
      agb AS (SELECT doc_id,
          sum((length(we) - length(replace(we, chr(31), ''))) // 2)
            AS n_tokens
        FROM deb GROUP BY doc_id),
      tt AS (SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tok,
          CAST(concat('0x', substring(md5('batch:' || d.doc_id), 1, 8))
            AS BIGINT) AS u
        FROM mlx d LEFT JOIN agb a USING (doc_id)),
      b AS (SELECT doc_id, n_tok, u,
          CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
               WHEN n_tok <= 64 THEN 64 ELSE 128 END AS bucket,
          u % 4 AS shard
        FROM tt),
      r2 AS (SELECT doc_id, n_tok, bucket, shard,
          row_number() OVER (PARTITION BY bucket, shard ORDER BY u, doc_id)
            AS rn
        FROM b)
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        CAST(bucket AS BIGINT) AS bucket,
        CAST(shard AS BIGINT) AS shard,
        CAST((rn - 1) // 8 AS BIGINT) AS batch_idx,
        CAST((rn - 1) % 8 AS BIGINT) AS pos
      FROM r2 ORDER BY doc_id"""))

  // ---- q367: packed SFT batches with token-aligned loss masks -----------
  // The artifact the whole chat tier exists to produce (VERDICT r15
  // Missing #1), composed end to end: chat JSONL → verdict-ok render
  // + mask spans (q313) → single-space segments classified against
  // the spans (q322's alignment: a segment trains iff fully inside an
  // assistant span) → byte-BPE token ids per segment under the
  // learned vocabulary (q359's id convention), each token carrying
  // its LOSS FLAG → q361's concatenate-and-cut packing at token
  // resolution. Census per (shard, seq): token count, docs touching,
  // TRAINED token count, id mass, and an order-sensitive checksum
  // Σ (pos+1)·(2·id + flag) — a single swapped token OR a single
  // flipped flag anywhere in any training sequence changes it, so
  // the oracle's hash asserts per-token flags across every sequence
  // boundary, including the ones that split a trained span (the
  // fixture guarantees such splits exist — ChatOpsSpec pins flag
  // conservation and a multi-sequence trained span explicitly).
  // The oracle replays the full chain: fixture arithmetic → render →
  // span offsets → segment cursor → containment flags → the 6-merge
  // encode of every segment → id assignment → md5 pack deal → the
  // shard-ordered global position (one row_number, the q361 trick:
  // doc offset + within-doc ordinal IS the shard ordinal because
  // docs are contiguous in (u, doc_id) order) → both checksums.

  /** The shared packed-SFT token frame (q367 census + q369 sequence
    * rows): one row per token — (doc_id, shard, _g global position,
    * token_id, loss_flag) — built chat fixture → ok render + spans →
    * flagged segment tokens → q361-style pack at token resolution
    * (seqLen 128, 4 shards, salt "sfttok"). */
  private def sftPackedTokenFrame(s: SparkSession, d: String): DataFrame = {
    val merges = bpeBytesMerges(s, d)
    val parsed = chatRaw(s, d)
      .withColumn("_c", from_json(col("j"), ChatOps.chatSchema))
      .withColumn("_turns", call_function("no_inline", col("_c.messages")))
    val okd = parsed.filter(ChatOps.verdict(col("_turns")) === "ok")
      .select(col("doc_id"),
        call_function("no_inline",
          ChatOps.renderChatML(col("_turns"))).as("_r"),
        ChatOps.lossMaskSpanStructs(col("_turns")).as("_sp"))
    // checkpointed once: BOTH consumers (the ordinal window and the
    // per-doc count census feeding the packer) read materialized
    // token rows — the q361 discipline. Projected to the five
    // consumed columns BEFORE the checkpoint (r17): pruning cannot
    // cross the materialized-RDD boundary and the unused `symbol`
    // hex string dominates the row bytes (guide §5/§6)
    val toks = ChatOps.sftTokenRows(okd, "doc_id", "_r", "_sp", merges)
      .select(col("doc_id"), col("seg_idx"), col("tok_idx"),
        col("token_id"), col("loss_flag"))
      .pin()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("seg_idx"), col("tok_idx"))
    val seqd = toks.withColumn("_tpos",
      row_number().over(w).cast(LongType) - 1L)
    val counts = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val packed = DatasetOps.packSequences(counts, "doc_id",
        col("n_tokens"), seqLen = 128, nShards = 4, salt = "sfttok")
      .select(col("doc_id"), col("shard"), col("offset"))
    seqd.join(packed, Seq("doc_id"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("_tpos")).as("_g"),
        col("token_id"), col("loss_flag"))
  }

  /** The full oracle replay through the per-token frame `g` —
    * (shard, doc_id, flag, token_id, gpos) — shared by q367's census
    * and q369's sequence rows: fixture → render → span offsets →
    * segment cursor → containment flags → 6-merge encode of every
    * segment → id assignment → md5 pack deal → shard-ordered global
    * position (one row_number, the q361 trick: docs are contiguous in
    * (u, doc_id) order, so doc offset + within-doc ordinal IS the
    * shard ordinal). */
  private def sftTokenOracleCtes: String =
    s"""$chatTurnsOracleCte,
      $chatVerdictOracleCte,
      $chatRenderOracleCte,
      $mlOracleCte,
      $byteCensusCte,
      ${batchedBpeRoundSql(1, "wb0")},
      ${batchedBpeRoundSql(2, "wb1")},
      $byteMergeCteSql,
      $byteVocabIdCte,
      segs AS MATERIALIZED (SELECT doc_id, i - 1 AS seg_idx, seg, st,
          st + len(seg) AS en FROM (
        SELECT doc_id, seg, i,
          coalesce(sum(len(seg) + 1) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        FROM (SELECT doc_id,
            unnest(string_split(rendered, ' ')) AS seg,
            unnest(generate_series(1, len(string_split(rendered, ' '))))
              AS i
          FROM f))),
      sp2 AS (SELECT doc_id, pos + 13 + len(role) AS s,
          pos + 13 + len(role) + len(content) AS e
        FROM p WHERE role = 'assistant'),
      segf AS MATERIALIZED (SELECT g0.doc_id, g0.seg_idx, g0.seg AS w,
          max(CASE WHEN sp2.s <= g0.st AND g0.en <= sp2.e
            THEN 1 ELSE 0 END) AS flag
        FROM segs g0 JOIN rs ON g0.doc_id = rs.doc_id
        LEFT JOIN sp2 ON g0.doc_id = sp2.doc_id
        WHERE rs.reason = 'ok' AND len(g0.seg) > 0
        GROUP BY g0.doc_id, g0.seg_idx, g0.seg, g0.st, g0.en),
      sege AS MATERIALIZED (SELECT doc_id, seg_idx, flag, string_split(
          trim($byteEncodeSql, chr(31)), chr(31) || chr(31)) AS sy
        FROM segf CROSS JOIN mrg),
      stoks AS MATERIALIZED (SELECT doc_id, seg_idx, flag, j AS tok_idx,
          sy[j + 1] AS sym
        FROM (SELECT doc_id, seg_idx, flag, sy,
          unnest(generate_series(0, len(sy) - 1)) AS j FROM sege)),
      stid AS MATERIALIZED (SELECT t.doc_id, t.seg_idx, t.tok_idx, t.flag,
          CAST(CASE WHEN len(t.sym) = 2
            THEN CAST(concat('0x', t.sym) AS BIGINT)
            ELSE vb.mid END AS BIGINT) AS token_id
        FROM stoks t LEFT JOIN vb ON vb.sym = t.sym),
      g AS (SELECT u % 4 AS shard, doc_id, flag, token_id,
          row_number() OVER (PARTITION BY u % 4
            ORDER BY u, doc_id, seg_idx, tok_idx) - 1 AS gpos
        FROM (SELECT s0.*,
          CAST(concat('0x', substring(md5('sfttok:' || s0.doc_id), 1, 8))
            AS BIGINT) AS u
        FROM stid s0))"""

  private[queries] val q367: GraftQuery = GraftQuery(
    "q367_packed_sft_tokens",
    (s, d) => {
      sftPackedTokenFrame(s, d)
        .groupBy(col("shard"), expr("_g div 128L").as("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("loss_flag")).as("n_trained"),
          sum(col("token_id")).as("id_mass"),
          sum((pmod(col("_g"), lit(128L)) + 1L) *
            (col("token_id") * 2L + col("loss_flag")))
            .as("order_checksum"))
        .orderBy(col("shard"), col("seq"))
    },
    Some(s"""WITH $sftTokenOracleCtes
      SELECT shard, gpos // 128 AS seq, count(*) AS n_tokens,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(sum(flag) AS BIGINT) AS n_trained,
        CAST(sum(token_id) AS BIGINT) AS id_mass,
        CAST(sum((gpos % 128 + 1) * (2 * token_id + flag)) AS BIGINT)
          AS order_checksum
      FROM g GROUP BY shard, seq ORDER BY shard, seq"""))

  // ---- q369: the loadable SFT sequence rows -----------------------------
  // q367 gates the pack through census checksums; THIS is the row a
  // trainer's data loader actually reads — per (shard, seq) the
  // ordered token-id stream and its parallel loss-mask stream,
  // digested (md5 of the comma-joined streams — the rendered_md5
  // convention: the whole byte stream is covered without dumping
  // kilobytes of ids into the comparison). In-group order is the
  // within-sequence position, reassembled by sort_array on the
  // executor (sequences are seqLen-bounded, never a global sort).
  // The oracle rebuilds the identical strings with ORDER BY'd
  // string_agg over the same replayed frame.

  private[queries] val q369: GraftQuery = GraftQuery(
    "q369_sft_sequences",
    (s, d) =>
      sftPackedTokenFrame(s, d)
        .groupBy(col("shard"), expr("_g div 128L").as("seq"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            sort_array(collect_list(struct(
              pmod(col("_g"), lit(128L)).as("p"), col("token_id")))),
            x => x.getField("token_id").cast(StringType)), ","))
            .as("ids_md5"),
          md5(array_join(transform(
            sort_array(collect_list(struct(
              pmod(col("_g"), lit(128L)).as("p"), col("loss_flag")))),
            x => x.getField("loss_flag").cast(StringType)), ","))
            .as("mask_md5"))
        .orderBy(col("shard"), col("seq")),
    Some(s"""WITH $sftTokenOracleCtes
      SELECT shard, gpos // 128 AS seq, count(*) AS n_tokens,
        md5(string_agg(token_id, ',' ORDER BY gpos)) AS ids_md5,
        md5(string_agg(flag, ',' ORDER BY gpos)) AS mask_md5
      FROM g GROUP BY shard, seq ORDER BY shard, seq"""))
}
