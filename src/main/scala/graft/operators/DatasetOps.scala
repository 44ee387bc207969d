package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.operators.Seam.Pins

/** Dataset-assembly operators for training pipelines: deterministic
  * splits and benchmark decontamination — the last-mile steps between
  * a cleaned corpus and a training run.
  */
object DatasetOps {

  /** md5-prefix draws are uniform uint32s; integer thresholds avoid
    * any float comparison ambiguity across engines (the synthetic
    * generator's own convention). */
  def thr(p: Double): Long = (p * 4294967296.0).toLong

  /** Bytes of input one spread partition should carry — the knob that
    * sizes [[spreadToCores]] to the DATA instead of the session
    * (VERDICT r16 item 7): spreading a sub-MB input the full session
    * width pays more exchange + per-task overhead than the
    * parallelism buys (r16 bench: the BPE dictionary encodes ran
    * 1.3–1.6× FASTER at 8 cores than at 32, and q147 3.1× — the
    * 32-way round-robin of a tiny scan was pure cost). 64 KB of
    * parquet is about 90 KB of rows in the exchange (measured: sf0.03
    * `documents.parquet`, 181,173 B, shuffles its `(doc_id, text)`
    * rows as 258,701 B) — heavy per-row operators (q179's shingle
    * explode) stay fully parallel at sf0.1 (~9 partitions, the
    * measured 8-core sweet spot), while any production-sized narrow
    * file still spreads to the session width within its first few
    * MB. The width rounds UP, one partition per started 64 KB: that
    * sf0.03 file takes 3 partitions of about 60 KB, not 2 of about
    * 90 KB; an input under 64 KB still does not spread. */
  private val spreadBytesPerPartition = 64L * 1024L

  /** Spread `df` across the session's shuffle parallelism when its
    * scan arrives in FEWER partitions — the single-file /
    * single-row-group input hazard: a corpus-wide tokenize/explode
    * stage otherwise runs in ONE task, and no file-split setting can
    * cut a one-row-group parquet (r13: q179's whole 16 s of task time
    * sat in the scan stage's lone task, cpu_frac 0.98). A multi-file
    * 100 TB corpus already scans wide, so the exchange is SKIPPED
    * there; on a narrow local input it moves raw rows once to unlock
    * the cores for the expensive map stage. */
  private[graft] def spreadToCores(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // .rdd is illegal on a stream;
    // micro-batch parallelism is the source's maxFilesPerTrigger story
    // safe parse (ADVICE r13): some AQE deployments set the conf to
    // 'auto'; fall back to the cluster's default parallelism
    val parts = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    // queryExecution.toRdd (not df.rdd, ADVICE r13): the cached
    // internal-row RDD answers getNumPartitions without stacking a
    // row-deserializer plan on top; callers sit at scan roots, where
    // forcing the physical plan is a leaf-plan compile, not a job
    val scanParts = df.queryExecution.toRdd.getNumPartitions
    if (scanParts >= parts) return df
    // size-aware width (r17): one partition per started
    // [[spreadBytesPerPartition]] of the plan's estimated bytes,
    // clamped to [scan width, session width]. Stats are conservative
    // (filters don't shrink the estimate without CBO), which errs
    // toward MORE parallelism; unknown stats (defaultSizeInBytes)
    // saturate the clamp and recover the old full-width behavior.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = ((bytes + spreadBytesPerPartition - 1) /
      spreadBytesPerPartition).min(BigInt(parts)).max(BigInt(1)).toInt
    if (byBytes > scanParts) df.repartition(byBytes) else df
  }

  /** The md5-prefix uint32 draw every deterministic-membership
    * operator keys off (split, sample, mix, pack). ONE definition:
    * each oracle replays this exact expression, so a drifted copy
    * would silently break only some operators' gates. */
  private[graft] def md5Draw(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt + ":"),
      id.cast(StringType))), 1, 8), 16, 10).cast(LongType)

  /** Deterministic train/val/test assignment: the split is a pure
    * function of the id through md5 — stable under reshuffles,
    * retries, resharding, and incremental appends. `rand()`-based
    * splitting re-deals on every one of those and silently leaks val
    * into train; hash splitting is how production dataset builders
    * freeze membership. Narrow projection (no shuffle), replayable in
    * any engine with md5, which is how the q64 oracle gates it. */
  def hashSplit(df: DataFrame, idCol: String, salt: String = "split",
                trainFrac: Double = 0.9, valFrac: Double = 0.05): DataFrame = {
    val u = md5Draw(salt, col(idCol))
    df.withColumn("split",
      when(u < thr(trainFrac), "train")
        .when(u < thr(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  /** Leakage-free train/val/test split — [[hashSplit]] whose unit of
    * assignment is the NEAR-DUP CLUSTER, not the document. Splitting
    * by raw id puts a test doc's near-duplicate in train (the eval
    * contamination the dedup pipeline exists to prevent, re-introduced
    * by the split itself); here every connected component of the pair
    * graph draws ONE membership from its min-label representative,
    * so near-dups land in the same split by construction. Stability
    * contract is [[hashSplit]]'s (md5 on the rep — reshuffle/append
    * stable), with the one honest caveat that NEW pairs merging two
    * clusters re-draw the merged cluster under the surviving rep.
    *
    * Scale shape: cluster resolution is the [[Dedup.clusterReps]]
    * O(log diameter) fixpoint; the rep join is id-keyed and
    * AQE-splittable; the draw is a narrow projection.
    *
    * @param pairs near-dup verdicts (aCol, bCol) — feed the
    *              materialized table (the q63 deployment shape)
    * @return df's columns plus `split_group` (the cluster key the
    *         draw was made on) and `split`. */
  def leakageFreeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String = "idA", bCol: String = "idB",
                       salt: String = "split", trainFrac: Double = 0.9,
                       valFrac: Double = 0.05,
                       checkpointPairs: Boolean = true): DataFrame = {
    val reps = Dedup.clusterReps(pairs, aCol, bCol,
      checkpointPairs = checkpointPairs)
    val withKey = df
      .join(reps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("split_group", coalesce(col("rep"), col(idCol)))
      .drop("rep")
    hashSplit(withKey, "split_group", salt, trainFrac, valFrac)
  }

  /** Deterministic stratified sampling — corpus mixing: each stratum
    * keeps its own fraction (all of the curated source, a tenth of
    * the crawl), with membership a pure function of the id exactly
    * like [[hashSplit]] — so a re-run, a backfill, or an appended
    * shard never changes which rows a weight change did not touch.
    * Narrow (a filter), and the per-stratum threshold is one CASE
    * ladder over integer cuts. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fracs: Map[String, Double], defaultFrac: Double,
                       salt: String = "sample"): DataFrame = {
    val u = md5Draw(salt, col(idCol))
    val cut = fracs.foldLeft(lit(thr(defaultFrac))) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, lit(thr(f))).otherwise(acc)
    }
    df.filter(u < cut)
  }

  /** Temperature-rebalanced corpus mixing at α = 0.5 — the classic
    * low-resource upsampling step of multilingual training mixes:
    * stratum shares are flattened from ∝n to ∝√n (α = 0.5 exactly so
    * the weight is IEEE `sqrt`, which is correctly rounded and thus
    * bit-identical across engines — an arbitrary `pow` exponent would
    * not be), the corpus total is preserved, and each document is
    * replicated `target/n` times: the integer part deterministically,
    * the fractional part by an md5 draw on the id — so a re-run or an
    * appended shard never re-deals documents it did not touch, exactly
    * like [[hashSplit]]. The only non-IEEE-trivial number, Σ√n, is
    * summed as DECIMAL(24,12) to pin the summation order (the q48
    * cross-engine rule).
    *
    * Scale shape: two tiny per-stratum aggregates, a broadcast join of
    * the (stratum → target) table, and a narrow explode of ≤⌈ratio⌉
    * copies — document bodies are never shuffled. Returns the input
    * columns plus `mix_target` (the stratum's target row count) and
    * `copy` (1-based replica index); documents drawn to zero copies
    * are absent. */
  def temperatureMix(df: DataFrame, strataCol: String, idCol: String,
                     salt: String = "mix"): DataFrame = {
    // corpus totals via a global window over the per-stratum counts —
    // a single-partition step over STRATUM-cardinality rows (a handful
    // by construction), which avoids the self-join a counts×agg(counts)
    // cross join would need
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val targets = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_mix_n"))
      .withColumn("_N", sum(col("_mix_n")).over(wAll).cast(DoubleType))
      .withColumn("_W",
        sum(sqrt(col("_mix_n").cast(DoubleType)).cast(DecimalType(24, 12)))
          .over(wAll).cast(DoubleType))
      .withColumn("mix_target",
        floor(col("_N") * (sqrt(col("_mix_n").cast(DoubleType)) / col("_W")) + 0.5))
      .select(col(strataCol), col("_mix_n"), col("mix_target"))
    val u = md5Draw(salt, col(idCol))
    val ratio = col("mix_target").cast(DoubleType) / col("_mix_n").cast(DoubleType)
    val copies = (floor(ratio).cast(LongType) +
      when(u < floor((ratio - floor(ratio)) * 4294967296.0).cast(LongType), 1L)
        .otherwise(0L))
    df.join(broadcast(targets), Seq(strataCol))
      .withColumn("_copies", copies)
      // sequence(1, 0) would infer a NEGATIVE step; guard explicitly
      .withColumn("copy", explode(when(col("_copies") > 0,
        sequence(lit(1L), col("_copies")))
        .otherwise(array().cast(ArrayType(LongType)))))
      .drop("_mix_n", "_copies")
  }

  /** Corpus snapshot diff — dataset versioning between two crawl
    * epochs: every document id is classified `added` / `removed` /
    * `changed` / `retained` by comparing content digests across a
    * full outer join on the id. Digests (md5, 32 chars) are computed
    * narrow on each side so the join shuffles (id, digest) tuples,
    * never bodies — the 100 TB shape of "what changed since the last
    * snapshot", which is what incremental re-training and cache
    * invalidation key off. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("_id"), md5(col(textCol)).as("_ho"))
    val n = newDf.select(col(idCol).as("_id"), md5(col(textCol)).as("_hn"))
    o.join(n, Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") === col("_hn"), "retained")
          .otherwise("changed").as("status"))
  }

  /** Changelog merge (CDC apply) — the upsert primitive between two
    * corpus versions without a table format: `base` is the current
    * snapshot, `changelog` carries (id, op ∈ I/U/D, payload), and the
    * result is the next snapshot — deletes drop the row, updates and
    * inserts take the changelog payload, untouched rows pass through.
    * One full-outer shuffle join on the id; payloads cross the
    * exchange once each. Changelog ids are assumed unique (the usual
    * compacted-changelog contract); conflicting ops for one id are a
    * data error upstream of this operator. */
  def applyChangelog(base: DataFrame, changelog: DataFrame,
                     idCol: String, payloadCol: String,
                     opCol: String = "op"): DataFrame =
    base.select(col(idCol), col(payloadCol).as("_base_p"))
      .join(changelog.select(col(idCol), col(opCol).as("_op"),
        col(payloadCol).as("_chg_p")), Seq(idCol), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(idCol),
        when(col("_op").isin("U", "I"), col("_chg_p"))
          .otherwise(col("_base_p")).as(payloadCol))

  /** Snapshot-as-of read over a VERSIONED changelog — the time-travel
    * query every data-lake table format answers ("the corpus as it
    * stood at version V"): entries with version ≤ `asOf` collapse to
    * the LATEST one per key (max version; `(idCol, versionCol)` must
    * be unique per key — equal versions fall back to (op, payload)
    * struct order, deterministic but meaningless), then the base
    * applies that one-row-per-key changelog through
    * [[applyChangelog]]'s D/U/I semantics.
    *
    * Scale shape: the latest-wins collapse is ONE map-side-combined
    * `max(struct(version, op, payload))` groupBy on the key — never a
    * per-key window — and the merge is [[applyChangelog]]'s single
    * full-outer equi-join. */
  def applyChangelogAsOf(base: DataFrame, changelog: DataFrame,
                         idCol: String, payloadCol: String,
                         versionCol: String, asOf: Long,
                         opCol: String = "op"): DataFrame = {
    val latest = changelog
      .filter(col(versionCol) <= asOf)
      .groupBy(col(idCol))
      .agg(max(struct(col(versionCol).as("_v"), col(opCol).as("_op"),
        col(payloadCol).as("_p"))).as("_b"))
      .select(col(idCol), col("_b._op").as(opCol),
        col("_b._p").as(payloadCol))
    applyChangelog(base, latest, idCol, payloadCol, opCol)
  }

  /** Benchmark decontamination: the ids of corpus docs sharing at
    * least one word k-gram with the benchmark set — the
    * eval-contamination sweep every serious training pipeline runs
    * before a model sees the data. Both sides reduce to distinct
    * 8-byte gram hashes before the only wide op (a semi join on the
    * hash), so document bodies never cross an exchange and the output
    * is at most one row per corpus doc. Equality-under-xxhash64 is
    * the same 64-bit-collision tolerance as exact hash dedup (q41/
    * q54): ~n²/2⁶⁵ false positives. */
  /** (id, xxhash64(distinct word-k-gram)) rows — the shared gram
    * pipeline of [[contaminatedIds]] and [[contaminationScores]]; one
    * definition so the boolean verdict and the score can never
    * diverge on what a gram is. Tokens are projected BEFORE shingling
    * (Catalyst does not CSE inside lambdas — an inlined tokenizer
    * re-splits the text once per gram, quadratic per doc). */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
                         k: Int, spread: Boolean = false): DataFrame = {
    // the CORPUS side spreads ahead of the tokenize + shingle explode
    // (r17): on a narrow scan the whole gram build ran in one task
    // (r16 bench: q65 at 10 serial stages, cpu_frac 1.0). The BENCH
    // side stays unspread — it is the small side by construction and
    // the extra exchange measured as a net cost on q103.
    val src = if (spread) spreadToCores(df) else df
    src
      .select(col(idCol), whitespaceTokens(col(textCol)).as("_tks"))
      .select(col(idCol), explode(array_distinct(
        wordShingles(col("_tks"), k))).as("_g"))
      .select(col(idCol), xxhash64(col("_g")).as("_gh"))
  }

  def contaminatedIds(corpus: DataFrame, bench: DataFrame,
                      idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val benchGrams = gramHashes(bench, idCol, textCol, k)
      .select(col("_gh")).distinct()
    gramHashes(corpus, idCol, textCol, k, spread = true)
      .join(benchGrams, Seq("_gh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Per-document contamination SCORING — the soft form of
    * [[contaminatedIds]]: instead of a boolean verdict, each corpus
    * document gets the fraction of its distinct word-`k`-grams that
    * appear anywhere in the benchmark, which is what a threshold
    * policy ("drop above 5% overlap, audit above 1%") actually
    * consumes. Same shuffle shape as [[contaminatedIds]] — 8-byte
    * gram hashes move, bodies never; the benchmark gram set is
    * distinct-collapsed before the probe join. The fraction is
    * double-division of two integers (exact, correctly rounded —
    * engine-portable) rounded to 6 places; docs with fewer than `k`
    * tokens have no grams and score 0. */
  def contaminationScores(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 5): DataFrame = {
    val benchGrams = gramHashes(bench, idCol, textCol, k)
      .select(col("_gh")).distinct()
      .withColumn("_hit", lit(1))
    val scored = gramHashes(corpus, idCol, textCol, k, spread = true)
      .join(benchGrams, Seq("_gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n_grams"), count(col("_hit")).as("_n_hit"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("_n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination",
        when(col("n_grams") > 0,
          round(col("n_hit").cast(DoubleType) / col("n_grams"), 6))
          .otherwise(lit(0.0)))
  }

  /** Sliding-window document chunking — long-doc training prep: each
    * doc becomes overlapping `window`-token chunks starting every
    * `stride` tokens. Chunk count is `1` when the doc fits in one
    * window, else `ceil((n - window) / stride) + 1`, so the last
    * chunk always reaches the end of the doc (it may be shorter than
    * `window`; starts past the end are never emitted). Narrow — an
    * explode with no shuffle; `tokens` MUST be a projected attribute
    * (see chunkLines' CSE note: an inlined tokenizer re-splits per
    * chunk).
    *
    * @return one row per chunk: (idCol, chunk_idx, chunk_text,
    *         n_chunk_tokens); docs with zero tokens emit nothing. */
  def chunkDocs(df: DataFrame, idCol: String, tokens: Column,
                window: Int, stride: Int): DataFrame = {
    val chunks = tokenChunks(tokens, window, stride)
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_chunk_tokens",
        (size(split(col("chunk_text"), " ", -1))).cast(LongType))
      .select(col(idCol), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk_text"), col("n_chunk_tokens"))
  }

  /** Greedy sequence packing — the step that turns a cleaned corpus
    * into fixed-length training sequences: documents are concatenated
    * in a deterministic hash order and cut every `seqLen` tokens, so
    * each document's starting offset (and the sequence "bin" it starts
    * in) is a pure function of the corpus content — stable under
    * reshuffles and retries like [[hashSplit]] membership.
    *
    * The running offset needs an ORDERED prefix sum, which on a
    * cluster means one sort per partition of the window — so the
    * corpus is first dealt into `nShards` md5-shards and packed
    * independently within each. That is exactly how distributed
    * packers bound the sort: `nShards` scales with the cluster (pick
    * ≥ executor-core count at scale) and each shard's window sort is
    * executor-resident; no global order is ever materialized.
    * Everything is integer arithmetic over md5 draws → replayable in
    * any engine, which is how the q99 oracle gates it.
    *
    * @param nTokens token-count expression over the input row
    * @return the input rows with (shard, n_tokens, offset, bin)
    *         appended — `offset` is the doc's starting token offset
    *         within its shard's concatenation, `bin = floor(offset /
    *         seqLen)` the training sequence its first token lands in.
    *         Input columns are PRESERVED, so a consumer needing e.g.
    *         a split label alongside the packing must not re-join
    *         (and replay) the upstream plan; Catalyst column pruning
    *         keeps the window exchange narrow when the consumer drops
    *         them. */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
                    seqLen: Int, nShards: Int,
                    salt: String = "pack"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val u = md5Draw(salt, col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_u"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("_u", u)
      .withColumn("shard", pmod(col("_u"), lit(nShards)).cast(LongType))
      .withColumn("n_tokens", nTokens.cast(LongType))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // integral division — exact at ANY offset magnitude, honoring the
      // "everything is integer arithmetic" replay contract (a double
      // divide would round above 2^53)
      .withColumn("bin", expr(s"offset div ${seqLen}L"))
      .drop("_u")
  }

  /** Packing-efficiency census over a [[packSequences]] result (r14 —
    * VERDICT r13 Missing #5): the number that decides which packer a
    * training run uses. One row per (shard, seq): how many docs
    * touch the sequence, how many CROSS-DOC BOUNDARIES sit inside it
    * (n_docs − 1 — every one is an attention-contamination seam
    * unless the trainer masks across it), the filled token mass, the
    * padding mass (concatenate-and-cut pads only each shard's final
    * partial sequence; every interior sequence reports fill == seqLen
    * by construction — the conservation the spec pins), and fill as
    * integer ppm of `seqLen`.
    *
    * Scale shape: the doc→sequence explode is the packedMaskPieces
    * cut (≤ n/seqLen + 1 rows per doc, narrow), then one
    * map-side-combined aggregate on (shard, seq). Zero-token docs
    * occupy no tokens and join no sequence. */
  def packingEfficiency(packed: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    packed
      .filter(col("n_tokens") > 0)
      .select(col("shard"), col("offset"),
        (col("offset") + col("n_tokens")).as("_end"))
      .select(col("shard"), col("offset"), col("_end"),
        explode(sequence(expr(s"offset div ${seqLen}L"),
          expr(s"(_end - 1L) div ${seqLen}L"))).as("seq"))
      .select(col("shard"), col("seq"),
        (least(col("_end"), (col("seq") + 1) * seqLen) -
          greatest(col("offset"), col("seq") * seqLen)).as("_piece"))
      .groupBy(col("shard"), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_piece")).as("fill"))
      .select(col("shard"), col("seq"), col("n_docs"),
        (col("n_docs") - 1L).as("n_boundaries"), col("fill"),
        (lit(seqLen.toLong) - col("fill")).as("padding"),
        expr(s"fill * 1000000L div ${seqLen}L").as("fill_ppm"))
  }

  /** Per-shard export manifest of a packed training set (r15 —
    * VERDICT r14 #7): doc count, token mass, and an ORDER-INDEPENDENT
    * membership checksum (Σ md5-u32 of "salt:id" — the q337
    * per-boundary checksum made durable) per [[packSequences]] shard.
    * One map-side-combined aggregate; shard-bounded output. The
    * checksum sum is int64-safe below ~2³¹ rows per shard (the
    * [[tableFingerprint]] contract) — size `nShards` so no shard
    * exceeds ~2e9 docs, which any cluster-scaled shard count does. */
  def packManifest(packed: DataFrame, idCol: String,
                   salt: String = "manifest"): DataFrame =
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("token_mass"),
        sum(conv(substring(md5(concat(lit(salt + ":"),
          col(idCol).cast(StringType))), 1, 8), 16, 10)
          .cast(LongType)).as("checksum"))

  /** Persist the [[packManifest]] as a DURABLE artifact: shard rows
    * at `dir/shards` (shard-ordered, single file — manifest-sized),
    * totals sidecar at `dir/meta` (the vocabulary-artifact
    * discipline: the sidecar lets the reader refuse a truncated or
    * double-appended shards file loudly). Fully deterministic in the
    * input SET — a re-export of the same corpus writes a
    * byte-identical artifact (spec-pinned), so manifest drift IS
    * data drift. */
  def writePackManifest(packed: DataFrame, idCol: String, dir: String,
                        salt: String = "manifest"): Unit = {
    val m = packManifest(packed, idCol, salt).orderBy(col("shard"))
      .pin() // two consumers below — one census pass
    m.coalesce(1).write.mode("overwrite").parquet(s"$dir/shards")
    // totals coalesce to 0 (ADVICE r15): an EMPTY packed frame writes
    // zero shard rows, and bare sum() over nothing is NULL — the
    // reader's recount would then NPE instead of refusing loudly (an
    // empty export is a legal artifact; its manifest must round-trip)
    m.agg(count(lit(1)).as("n_shards"),
        coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("token_mass")), lit(0L)).as("token_mass"),
        coalesce(sum(col("checksum")), lit(0L)).as("checksum"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Read the manifest back — LOUD when the artifact is missing or
    * its shard rows disagree with the totals sidecar (truncation and
    * double-append are silent in bare parquet). Bounded pickup:
    * shard-count rows + 1 meta row. */
  def readPackManifest(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    def loud[T](what: String)(body: => T): T =
      try body catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"pack manifest at $dir has no readable $what — a bare " +
              s"manifest cannot be trusted; rebuild via " +
              s"writePackManifest", e)
      }
    val shards = loud("shards table")(
      spark.read.parquet(s"$dir/shards")
        .select(col("shard"), col("n_docs"), col("token_mass"),
          col("checksum")))
    val meta = loud("meta sidecar")(
      spark.read.parquet(s"$dir/meta").collect())
    require(meta.length == 1,
      s"manifest meta at $dir/meta is malformed: expected one row, " +
        s"got ${meta.length}")
    // same coalesce as the write side: zero shard rows recount as
    // (0, 0, 0, 0), matching an empty export's meta instead of NPE-ing
    val got = shards.agg(count(lit(1)),
      coalesce(sum(col("n_docs")), lit(0L)),
      coalesce(sum(col("token_mass")), lit(0L)),
      coalesce(sum(col("checksum")), lit(0L))).collect()(0)
    require((0 until 4).forall(i => got.getLong(i) == meta(0).getLong(i)),
      s"manifest at $dir disagrees with its totals sidecar " +
        s"(shards say (${got.mkString(", ")}), meta says " +
        s"(${meta(0).mkString(", ")})) — truncated or double-written; " +
        s"rebuild via writePackManifest")
    shards
  }

  /** Idempotent re-export check (r15 — VERDICT r14 #7's second half):
    * recompute the manifest of `packed` and compare per shard against
    * the stored artifact. Any divergence — a shard missing, added,
    * with different membership (checksum), fewer docs, or shifted
    * token mass — REFUSES LOUDLY, naming every mismatched shard.
    * Bounded pickup: the comparison frame is shard-count rows. */
  def checkPackManifest(spark: org.apache.spark.sql.SparkSession,
                        dir: String, packed: DataFrame, idCol: String,
                        salt: String = "manifest"): Unit = {
    val stored = readPackManifest(spark, dir)
      .select(col("shard"), col("n_docs").as("_sd"),
        col("token_mass").as("_sm"), col("checksum").as("_sc"))
    val fresh = packManifest(packed, idCol, salt)
      .select(col("shard"), col("n_docs").as("_fd"),
        col("token_mass").as("_fm"), col("checksum").as("_fc"))
    val bad = stored.join(fresh, Seq("shard"), "full")
      .filter(col("_sd").isNull || col("_fd").isNull ||
        col("_sd") =!= col("_fd") || col("_sm") =!= col("_fm") ||
        col("_sc") =!= col("_fc"))
      .select(col("shard")).orderBy(col("shard"))
      .collect().map(_.getLong(0)) // bounded: shard-count rows
    require(bad.isEmpty,
      s"pack manifest at $dir does not match the export: shards " +
        s"[${bad.mkString(", ")}] diverge (missing, extra, tampered " +
        s"membership, or shifted token mass) — refuse to serve; " +
        s"re-export or investigate the corpus")
  }

  /** The [[lengthBucketBatches]] side of the packing-efficiency
    * report: per (bucket, shard, batch_idx) — row count, padded
    * capacity (every row pads to its bucket width; an incomplete
    * final batch just has fewer rows), filled mass, padding mass and
    * fill ppm. Bucketing never splits a document, so its cross-doc
    * boundary count is zero BY CONSTRUCTION — its waste is all
    * padding, which is exactly the trade the comparative report
    * (q348) quantifies. One map-side-combined aggregate. */
  def bucketBatchEfficiency(batched: DataFrame): DataFrame =
    batched
      .groupBy(col("bucket"), col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_tokens")).as("fill"))
      .select(col("bucket"), col("shard"), col("batch_idx"),
        col("n_rows"), (col("bucket") * col("n_rows")).as("capacity"),
        col("fill"),
        (col("bucket") * col("n_rows") - col("fill")).as("padding"),
        expr("fill * 1000000L div (bucket * n_rows)").as("fill_ppm"))

  /** Land a [[packSequences]] result as training shards: one
    * hive-partition directory per shard, rows offset-sorted within
    * every file, so a trainer streams each shard sequentially with no
    * shuffle or sort of its own — the last step between the corpus and
    * the data loader. One exchange on the shard key; the
    * sortWithinPartitions keeps each shard's rows contiguous and
    * ordered even when hash partitioning co-locates several shards in
    * one task (their rows route to separate per-shard files, each
    * inheriting the partition's (shard, offset) order). */
  def writeTrainingShards(packed: DataFrame, dir: String): Unit =
    packed
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("offset"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Adaptive per-group quality gate, EXACT tier: keep the top
    * `keepFrac` of each group by `scoreCol` (ties → lowest `idCol`),
    * where the cut adapts to each group's own score distribution — the
    * FineWeb/Gopher "top-X% per language" policy, as opposed to the
    * fixed floor q75 applies. One rank window + one count window over
    * the same partition (a single per-group sort). The per-group k is
    * `ceil(n · keepFrac)` — IEEE double ceil, replayed bit-identically
    * by the oracle. Null POLICY (identical across both tiers): a null
    * score never passes the gate; a null group key is a group of its
    * own and gates like any other. At corpus scale the per-group sort
    * is the cost; [[qualityGateSketch]] is the one-pass scale path. */
  def qualityGateExact(df: DataFrame, groupCol: String, scoreCol: String,
                       idCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).desc, col(idCol))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    df.filter(col(scoreCol).isNotNull)
      .withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wg))
      .filter(col("_rk") <= ceil(col("_n") * lit(keepFrac)))
      .drop("_rk", "_n")
  }

  /** Sketch tier of [[qualityGateExact]]: the per-group cut comes from
    * one `approx_percentile` aggregation pass (partial-aggregated,
    * no sort), the tiny cut table broadcasts, and the gate itself is a
    * narrow filter — the 100 TB shape. Keeps every row at or above the
    * group's (1 − keepFrac) score percentile; because the sketch
    * returns an actual member score, the kept set is always a PREFIX
    * of the score order (never a gapped subset), and kept counts drift
    * from the exact tier only by sketch resolution and score ties.
    * Same null policy as the exact tier: null scores are dropped up
    * front, and the cut join is NULL-SAFE so a null group key gates
    * against its own cut instead of silently vanishing (a plain equi
    * join never matches null keys). */
  def qualityGateSketch(df: DataFrame, groupCol: String, scoreCol: String,
                        keepFrac: Double, accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val nn = df.filter(col(scoreCol).isNotNull)
    val cuts = nn.groupBy(col(groupCol))
      .agg(approx_percentile(col(scoreCol), lit(1.0 - keepFrac),
        lit(accuracy)).as("_cut"))
      .withColumnRenamed(groupCol, "_grp")
    nn.join(broadcast(cuts), nn(groupCol) <=> cuts("_grp"))
      .filter(col(scoreCol) >= col("_cut"))
      .drop("_grp", "_cut")
  }

  /** Deterministic per-group cap — corpus curation's "at most `n`
    * docs per domain/source" share-capping policy: within each group
    * keep the `n` rows with the smallest md5 draw. Membership is a
    * pure function of the id (the [[hashSplit]] argument): stable
    * under reshuffle, retry, and re-run, and unbiased by upstream
    * order — capping by arrival order would keep whatever the crawler
    * happened to fetch first. Ranks through the k-bounded
    * [[graft.plans.TopKPerGroup]] heap node: no per-group sort, no
    * Window — partial heaps bound state at groups×n rows per task,
    * one exchange on the group key. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val drawn = df.withColumn("_draw", md5Draw("cap", col(idCol)))
    graft.plans.TopKPerGroup(drawn, Seq(groupCol),
        Seq(("_draw", true), (idCol, true)), n)
      .drop("_draw")
  }

  /** K-fold cross-validation assignment — [[hashSplit]]'s k-ary
    * sibling: `fold = u32draw(salt, id) mod k`, every row in exactly
    * one fold, membership a pure function of (salt, id) so folds
    * survive reshuffles, retries and appends (a `rand()` deal
    * re-assigns on every one of those and leaks validation rows into
    * training across runs). Narrow projection — no shuffle. */
  def kFoldAssign(df: DataFrame, idCol: String, k: Int,
                  salt: String = "fold"): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    df.withColumn("fold", pmod(md5Draw(salt, col(idCol)), lit(k.toLong)))
  }

  /** Class-balance oversampling to EXACT parity: every label is
    * replicated up to the majority class's count — `target div c`
    * full copies per row plus ONE extra copy for exactly
    * `r = target mod c` deterministically-chosen rows. The remainder
    * pick needs a per-class rank, and a naive per-class
    * `row_number()` is a one-task sort of the largest class (the
    * q130 smell); instead rows are md5-dealt over `nShards` shards
    * and each shard picks a QUOTA of its own rows (per-(label,
    * shard) windows — executor-resident, the q99/q127 trick).
    * Quotas are exact by largest-remainder apportionment over the
    * per-shard SIZES (a naive `r div S` deal under-fills when a
    * shard holds fewer rows than its quota — the md5 deal is
    * uneven): base `⌊r·size_s/c⌋` ≤ size_s because r < c, the
    * shortfall goes to the shards with the largest integer
    * remainders `(r·size_s) mod c` (ties by shard id), and that
    * allocation runs in windows over ≤ nShards rows per label — a
    * bounded constant, never data-sized. Membership is a pure
    * function of (salt, id): reshuffle/append-stable, and the
    * oracle replays the deal, the apportionment and the picks.
    * Output: input columns plus `copy_idx` (1-based) — one row per
    * copy, the dataset a class-balanced trainer actually reads. */
  def oversampleToParity(df: DataFrame, idCol: String,
                         labelCol: String, salt: String = "bal",
                         nShards: Int = 64): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val rows = df.filter(col(labelCol).isNotNull)
      .withColumn("_draw", md5Draw(salt, col(idCol)))
      .withColumn("_shard", pmod(col("_draw"), lit(nShards.toLong)))
    val census = rows.groupBy(col(labelCol)).agg(count(lit(1)).as("_c"))
    val target = census.agg(max("_c").as("_t"))
    // per-(label, shard) sizes → exact quota apportionment over a
    // ≤ nShards-row frame per label
    val sizes = rows.groupBy(col(labelCol), col("_shard"))
      .agg(count(lit(1)).as("_ss"))
      .join(census, Seq(labelCol))
      .crossJoin(broadcast(target))
      .withColumn("_r", expr("_t % _c"))
      .withColumn("_base", expr("(_r * _ss) div _c"))
      .withColumn("_frac", expr("(_r * _ss) % _c"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol))
      .orderBy(col("_frac").desc, col("_shard"))
    val baseSums = sizes.groupBy(col(labelCol))
      .agg(sum("_base").as("_baseSum"), min("_r").as("_rr"))
    val quotas = sizes
      .withColumn("_frank", row_number().over(wRank))
      .join(baseSums, Seq(labelCol))
      .withColumn("_q", expr(
        "_base + (CASE WHEN _frank <= _rr - _baseSum THEN 1 ELSE 0 END)"))
      .select(col(labelCol), col("_shard"), col("_q"))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol), col("_shard"))
      .orderBy(col("_draw"), col(idCol))
    rows.join(quotas, Seq(labelCol, "_shard"))
      .join(census, Seq(labelCol))
      .crossJoin(broadcast(target))
      .withColumn("_rs", row_number().over(wPick))
      .withColumn("copies", expr(
        "_t div _c + (CASE WHEN _rs <= _q THEN 1 ELSE 0 END)"))
      .withColumn("copy_idx",
        explode(sequence(lit(1L), col("copies"))))
      .drop("_c", "_t", "_draw", "_shard", "_q", "_rs", "copies")
  }

  /** Hashing-trick TF-IDF featurization — the EXPORT side of the
    * fasttext-shaped pipeline ([[classifierScores]] folds hashed
    * features into a score; this emits them, relational-sparse, for
    * an external trainer): tokens hash into `buckets` fixed feature
    * ids (vocabulary-independent — the property that lets two corpus
    * shards featurize without coordinating a dictionary), tf per
    * (doc, bucket), and an integer ratio-idf
    * `idf_scaled = N·10⁶ div df(bucket)` — monotone in the true
    * log-idf (log is monotone), exact in any engine where `ln` drifts.
    * Plan: one explode→groupBy((id, bucket)) with map-side combine;
    * the bucket df table is ≤ `buckets` rows, broadcast back — the
    * corpus never joins itself. N counts docs with ≥ 1 token (docs
    * contributing no feature mass are outside the feature space). */
  def hashedTfIdf(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 1 << 18,
                  salt: String = "feat"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val toks = df.select(col(idCol),
        graft.functions.TextFunctions.whitespaceTokens(col(textCol))
          .as("_tks"))
      .filter(size(col("_tks")) > 0)
    val tf = toks
      .select(col(idCol), explode(col("_tks")).as("_t"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(lit(s"$salt:"), col("_t"))),
          1, 8), 16, 10).cast(LongType), lit(buckets.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    val n = toks.agg(count(lit(1)).as("_n"))
    val dfreq = tf.groupBy("bucket")
      .agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(n))
      .withColumn("idf_scaled", expr("(_n * 1000000L) div _df"))
      .select("bucket", "idf_scaled")
    tf.join(broadcast(dfreq), Seq("bucket"))
      .select(col(idCol), col("bucket"), col("tf"),
        (col("tf") * col("idf_scaled")).as("w"))
  }

  /** Weighted deterministic sample: per group, the k rows winning an
    * integer priority race `prio = u32draw(id) · 10⁶ div weight` —
    * smaller wins, so selection odds rise with weight while
    * membership stays a pure function of (salt, id): reshuffle-,
    * retry-, and append-stable like [[capPerGroup]], but
    * quality-weighted ("prefer longer / higher-scoring docs without
    * hard-cutting the tail"). The exact Efraimidis–Espirikidis form
    * (u^(1/w)) needs transcendental floats whose cross-engine
    * rounding would break the bit-exact oracle contract; the integer
    * race keeps weight-monotone odds AND exact replayability.
    * Rows with null or non-positive weight are excluded (a weight of
    * zero means "never sample", and a negative weight is a data
    * error upstream). Ranks through the k-bounded heap node — no
    * Window, one exchange on the group key. Output adds `_prio`
    * (callers may drop it; the oracle gates on it). */
  def weightedPrioritySample(df: DataFrame, groupCol: String,
                             idCol: String, weightMilliCol: String,
                             k: Int,
                             salt: String = "wsamp"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val drawn = df
      .filter(col(weightMilliCol).isNotNull && col(weightMilliCol) > 0)
      .withColumn("_u", md5Draw(salt, col(idCol)))
      .withColumn("_prio",
        expr(s"(_u * 1000000L) div `$weightMilliCol`"))
      .drop("_u")
    graft.plans.TopKPerGroup(drawn, Seq(groupCol),
      Seq(("_prio", true), (idCol, true)), k)
  }

  /** Token-BUDGET corpus selection — "fill a 1-trillion-token training
    * budget with the best documents": keep the maximal prefix of the
    * corpus in (score DESC, md5 draw ASC, id ASC) order whose
    * cumulative `tokenCol` stays ≤ `budget`. The draw (salt
    * `"budget"`) breaks score ties content-deterministically, so
    * membership is stable under reshuffle/retry/append and unbiased
    * by crawl order — the [[hashSplit]]/[[capPerGroup]] argument
    * applied to budget filling.
    *
    * The naive form is a GLOBAL sort + running sum over the corpus —
    * the one shape this repo bans. This is the two-level histogram
    * refinement instead, and the prefix rule is chosen precisely so
    * the refinement is EXACT (the cumulative is monotone, so "rows
    * with running sum ≤ budget" is a prefix, and a prefix decomposes
    * by any order-consistent partitioning of the key space):
    *   1. a per-score-class token census (one map-side-combined
    *      aggregate) locates the BOUNDARY class — every better class
    *      is wholly in, every worse class wholly out; the class
    *      cumsum runs as a broadcast non-equi self-join over the tiny
    *      census (never a single-partition window over data);
    *   2. within the boundary class, a 1024-bucket census over the
    *      draw's numeric prefix (`draw div 2²²` — bucket order IS
    *      draw order) locates the boundary BUCKET the same way;
    *   3. only the boundary bucket — expected |class|/1024 rows —
    *      pays an exact running-sum window, partitioned on its
    *      (score, bucket) stratum: bounded by construction, never
    *      corpus-sized. (A deeper recursion could shrink it further;
    *      one level is ample at any real score granularity.)
    * Everything else is narrow filters against two broadcast cut
    * tables.
    *
    * Contract: `scoreCol` is a LOW-CARDINALITY integer quality tier
    * (FineWeb-style 0–100 — the census and its quadratic cumsum join
    * assume ≲ 10⁴ distinct classes; pre-bucket finer scores);
    * `tokenCol` must be non-negative (a negative count breaks the
    * prefix monotonicity the decomposition rests on); null score or
    * token rows never pass (the [[qualityGateExact]] null policy).
    *
    * @return the selected rows, original columns only */
  def selectTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be non-negative, got $budget")
    val outCols = df.columns.map(col).toSeq
    // materialized ONCE (r17): the three-tier refinement references
    // this frame multiplicatively (each census self-joins, each tier
    // re-filters the previous tier's join) — the r17 plan audit
    // counted the caller's scan+score pipeline re-derived 21× in
    // q143's plan, i.e. 21 corpus tokenizations for one selection
    // (guide §2.4). The checkpoint is one narrow pass: callers feed
    // (id, score, tokens [+ passthrough columns]) — keep passthrough
    // columns narrow; whatever is passed is what gets materialized
    val base = df
      .filter(col(scoreCol).isNotNull && col(tokenCol).isNotNull)
      .withColumn("_draw", md5Draw("budget", col(idCol)))
      .withColumn("_h", expr("_draw div 4194304L")) // 2^22 → 1024 buckets
      .pinLazy()
    // level 1: per-score-class token totals; _above = tokens in all
    // strictly-better classes, via broadcast non-equi self-join
    val c1 = base.groupBy(col(scoreCol).as("_s"))
      .agg(sum(col(tokenCol)).as("_t"))
    val cum1 = c1
      .join(broadcast(c1.select(col("_s").as("_s2"), col("_t").as("_t2"))),
        col("_s2") > col("_s"), "left")
      .groupBy(col("_s"), col("_t"))
      .agg(coalesce(sum(col("_t2")), lit(0L)).as("_above"))
      .select(col("_s"),
        (col("_above") + col("_t") <= budget).as("_full"),
        (col("_above") <= budget && col("_above") + col("_t") > budget)
          .as("_bnd"),
        (lit(budget) - col("_above")).as("_rem"))
    val tagged = base.join(broadcast(cum1), col(scoreCol) === col("_s"))
    val fullClasses = tagged.filter(col("_full")).select(outCols: _*)
    // level 2, boundary class only (≤ 1 by cumsum monotonicity):
    // bucket census over the draw prefix, same non-equi cumsum
    val bnd = tagged.filter(col("_bnd"))
    val c2 = bnd.groupBy(col("_h").as("_hb"))
      .agg(sum(col(tokenCol)).as("_t"), first(col("_rem")).as("_r"))
    val cum2 = c2
      .join(broadcast(c2.select(col("_hb").as("_hb2"), col("_t").as("_t2"))),
        col("_hb2") < col("_hb"), "left")
      .groupBy(col("_hb"), col("_t"), col("_r"))
      .agg(coalesce(sum(col("_t2")), lit(0L)).as("_above2"))
      .select(col("_hb"),
        (col("_above2") + col("_t") <= col("_r")).as("_full2"),
        (col("_above2") <= col("_r") && col("_above2") + col("_t") > col("_r"))
          .as("_bnd2"),
        (col("_r") - col("_above2")).as("_rem2"))
    val tagged2 = bnd.join(broadcast(cum2), col("_h") === col("_hb"))
    val fullBuckets = tagged2.filter(col("_full2")).select(outCols: _*)
    // level 3: the boundary BUCKET pays the exact running sum — a
    // window over the (score, bucket) stratum, ~|class|/1024 rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(scoreCol), col("_h"))
      .orderBy(col("_draw"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val prefix = tagged2.filter(col("_bnd2"))
      .withColumn("_cum", sum(col(tokenCol)).over(w))
      .filter(col("_cum") <= col("_rem2"))
      .select(outCols: _*)
    fullClasses.unionByName(fullBuckets).unionByName(prefix)
  }

  /** Cross-document repeated-SPAN masking — the finer-than-line tier
    * of the dedup ladder (doc-level → line-level → span-level): any
    * word-`k`-gram occurring in ≥ `minDocs` DISTINCT documents marks
    * its k tokens, overlapping marks merge into maximal spans, and
    * every document is reassembled with its marked spans removed.
    * This is the "repeated substring" recipe from the training-data
    * dedup literature, at word-gram (not suffix-array) resolution:
    * memorization-prone boilerplate passages that line-level dedup
    * misses because they do not align to line boundaries.
    *
    * Within-doc repeats are SPARED (census counts distinct docs, the
    * line-dedup convention): a chorus repeated inside one song is
    * content; the same paragraph in two crawls is chrome.
    *
    * Shuffle shape at 100 TB: the census and the start-marking
    * semi-join move (id, int, 8-byte gram hash) tuples only. Interval
    * merging is RELATIONAL gaps-and-islands (two windows + a groupBy
    * over (id, int) rows) rather than a per-doc array fold, so a doc
    * with millions of marked grams costs linear window work, never a
    * quadratic lambda. Bodies cross once, for the rebuild — inherent,
    * the output IS the rewritten text. The per-token mask probe is
    * O(merged intervals) per token; merged intervals are REGIONS
    * (post-merge), bounded by textual reality, not by gram count.
    * Docs with fewer than `k` tokens have no grams and pass through
    * unmasked. Tokens are whitespace tokens (lowercased); cleaned
    * text is space-rejoined, the [[packSequences]] convention. */
  def maskRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // tokens projected before shingling (the lambda-CSE rule); the
    // scan is spread first (r17): tokenize + shingle + the final
    // per-token mask rebuild otherwise all run inside the narrow
    // scan's task (r16 bench: q113 at 11 tasks / 9 stages,
    // cpu_frac 0.99 — serial), the single-file hazard spreadToCores
    // exists for
    val toks = spreadToCores(docs)
      .select(col(idCol), whitespaceTokens(col(textCol)).as("_tks"))
    val grams = toks
      .select(col(idCol), posexplode(wordShingles(col("_tks"), k)).as(Seq("_s", "_g")))
      .select(col(idCol), col("_s"), xxhash64(col("_g")).as("_gh"))
    val repeated = grams.groupBy(col("_gh"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_gh"))
    // gaps-and-islands over marked starts: a start opens a new island
    // iff it begins past the furthest token any earlier start covers
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_s"))
    val intervals = grams.join(repeated, Seq("_gh"), "left_semi")
      .select(col(idCol), col("_s"))
      .withColumn("_brk",
        when(col("_s") > coalesce(max(col("_s") + lit(k - 1)).over(wPrev),
          lit(-2)) + 1, 1).otherwise(0))
      .withColumn("_isl", sum(col("_brk")).over(wRun))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("_s")).as("_lo"), (max(col("_s")) + lit(k - 1)).as("_hi"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_lo"), col("_hi")))).as("_iv"))
    toks.join(intervals, Seq(idCol), "left")
      .select(col(idCol), col("_tks"),
        coalesce(col("_iv"),
          array().cast("array<struct<_lo:int,_hi:int>>")).as("_iv"))
      .select(col(idCol), size(col("_tks")).cast(LongType).as("n_tokens"),
        filter(col("_tks"), (_, i) => !exists(col("_iv"),
          iv => iv.getField("_lo") <= i && i <= iv.getField("_hi"))).as("_kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("_kept"))).cast(LongType).as("n_masked"),
        array_join(col("_kept"), " ").as("cleaned"))
  }

  /** DSIR-shaped importance scoring — data SELECTION, the step after
    * cleaning: rank every corpus document by how much its hashed
    * word-`k`-gram profile looks like a target-domain sample relative
    * to the corpus's own background distribution (Data Selection via
    * Importance Resampling; the published recipe scores docs by
    * Σ log p_target(g)/p_source(g) over hashed n-gram features). The
    * score here is the integer-deterministic sibling the rest of this
    * repo's oracles use (q101's tf·10⁶ DIV df convention): each gram
    * OCCURRENCE contributes `(10⁶·(target_count+1)) DIV
    * (source_count+1)` — add-one smoothed, rank-preserving for the
    * selection policies that consume it (keep top X%, threshold), and
    * replayable bit-for-bit by any engine with integer division,
    * which float log-ratios are not.
    *
    * Scale shape: gram hashes (8 bytes) shuffle, bodies never. The
    * corpus grams collapse to (doc, gram) occurrence counts —
    * map-side combined, so what shuffles is bounded by distinct
    * (doc, gram) pairs. The background count is the SALTED TWO-LEVEL
    * aggregate with the doc id as the natural salt: level 1
    * partial-counts per (doc, gram), level 2 sums per gram — both
    * levels combine map-side, so no task ever holds a hot gram's
    * occurrence list (on web text the hottest bigram is ~1% of ALL
    * gram occurrences; the r6 window-over-the-raw-hash shape put
    * those billions of rows in ONE task, the named scale-killer —
    * VERDICT r6 item 2). The count rejoin on the 8-byte key is a
    * join AQE's skew handling CAN split (the per-gram build side is
    * one duplicable row), which no window partitioning can; the
    * per-doc fold then shuffles fixed-width (id, k, ratio) tuples on
    * the unskewed doc id. The COST of losing the window: `docGram`
    * has two consumers (the rejoin probe and the level-2 count), and
    * exchange reuse does not survive AQE's broadcast conversion, so
    * the tokenize→shingle→explode lineage can run twice — the
    * deliberate trade, because a 2× narrow-scan bill is bounded
    * while a skewed single task is not (skew beats 2× at 100×). A
    * caller who wants the single derivation too materializes the
    * gram table first (the repo's materialize-once idiom) and counts
    * off the parquet. The target-sample counts join on the same
    * 8-byte key — never collected, so a wide target vocabulary is
    * fine.
    *
    * @return one row per corpus id: `n_grams` (occurrences), `score`
    *         (Σ ratio), `avg_ratio` (score DIV n_grams — the
    *         length-normalized form a threshold policy consumes; 0
    *         for docs with fewer than `k` tokens). */
  def importanceScores(corpus: DataFrame, target: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // occurrences, not distinct grams: DSIR weights repeated features
    def gramOcc(df: DataFrame): DataFrame =
      df.select(col(idCol), whitespaceTokens(col(textCol)).as("_tks"))
        .select(col(idCol), explode(wordShingles(col("_tks"), k)).as("_g"))
        .select(col(idCol), xxhash64(col("_g")).as("_gh"))
    val targetCounts = gramOcc(target)
      .groupBy(col("_gh")).agg(count(lit(1)).as("_ct"))
    // the one derivation of the corpus gram explosion: (doc, gram)
    // occurrence counts, partial-aggregated map-side before the
    // exchange — level 1 of the two-level background count, with the
    // doc id as the salt (see scaladoc; this replaced the r6
    // window-over-the-raw-gram-hash, whose hot-gram task held every
    // occurrence of "of the" at web scale)
    val docGram = gramOcc(corpus)
      .groupBy(col(idCol), col("_gh")).agg(count(lit(1)).as("_k"))
    // level 2: per-gram totals off docGram's exchange — its map-side
    // combine ships at most (#partitions) rows per gram, never a list
    val bg = docGram.groupBy(col("_gh")).agg(sum(col("_k")).as("_cs"))
    // count rejoin on the 8-byte key (AQE-skew-splittable SMJ); each
    // occurrence contributes its (doc, gram) row's ratio k times
    val scored = docGram
      .join(bg, Seq("_gh"))
      .join(targetCounts, Seq("_gh"), "left")
      .select(col(idCol), col("_k"),
        expr("(1000000L * (coalesce(_ct, 0L) + 1L)) div (_cs + 1L)").as("_r"))
      .groupBy(col(idCol))
      .agg(sum(col("_k")).as("_n"), sum(col("_k") * col("_r")).as("_sc"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_grams"),
        coalesce(col("_sc"), lit(0L)).as("score"))
      .withColumn("avg_ratio",
        when(col("n_grams") > 0, expr("score div n_grams"))
          .otherwise(lit(0L)))
  }

  /** Length-bucketed batch assembly — padding-efficient batching for
    * variable-length fine-tuning data (the counterpart of
    * [[packSequences]] when documents must NOT be concatenated, e.g.
    * instruction pairs): each doc lands in the smallest power-of-two
    * bucket ≥ its token count (floored at `minBucket`, capped at
    * `maxBucket` — longer docs are assumed chunked upstream and
    * batch as `maxBucket`), docs inside a bucket are ordered by their
    * md5 draw, and consecutive runs of `batchSize` become batches.
    * Every batch pads only to its own bucket width, membership and
    * order are pure functions of the corpus content (reshuffle/
    * retry-stable, crawl-order-free), and all arithmetic is integer —
    * the q117 oracle replays bucket, rank, batch and position
    * bit-for-bit.
    *
    * The in-bucket order needs an ORDERED rank; a handful of buckets
    * would make that a handful of giant sorts, so (the
    * [[packSequences]] trick) each bucket is dealt into `nShards`
    * md5-shards and batches are numbered per (bucket, shard) — the
    * window sorts stay executor-resident and the whole operator is
    * one exchange + one window over it. Stitching shard ranks into a
    * bucket-global numbering was measured to cost a second full scan
    * (the count table's pruned lineage defeats exchange reuse, so the
    * corpus is re-tokenized) to save at most `nShards - 1` short
    * batches per bucket — padding noise at corpus scale, so the batch
    * key is (bucket, shard, batch_idx) and only each shard's last
    * batch may be short, exactly [[packSequences]]' per-shard-bin
    * contract.
    *
    * @return input rows plus (n_tokens, bucket, shard, batch_idx,
    *         pos) — `pos` is the doc's slot within its batch. */
  def lengthBucketBatches(df: DataFrame, idCol: String, nTokens: Column,
                          batchSize: Int, minBucket: Int = 16,
                          maxBucket: Int = 2048, nShards: Int = 8,
                          salt: String = "batch"): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(minBucket > 0 && (minBucket & (minBucket - 1)) == 0,
      s"minBucket must be a positive power of two, got $minBucket")
    require(maxBucket >= minBucket && (maxBucket & (maxBucket - 1)) == 0,
      s"maxBucket must be a power of two >= minBucket, got $maxBucket")
    // power-of-two ceiling as a CASE ladder (log2(max/min)+1 arms):
    // integer-exact by construction, unlike a float log2 at the
    // boundaries, and each oracle writes the same ladder literally
    val widths = Iterator.iterate(minBucket)(_ * 2)
      .takeWhile(_ <= maxBucket).toSeq
    val n = coalesce(nTokens.cast(LongType), lit(0L))
    val bucket = widths.init.foldRight(lit(widths.last.toLong)) {
      (wd, rest) => when(n <= wd, lit(wd.toLong)).otherwise(rest)
    }
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard"))
      .orderBy(col("_u"), col(idCol))
    df.withColumn("_u", md5Draw(salt, col(idCol)))
      .withColumn("n_tokens", n)
      .withColumn("bucket", bucket)
      .withColumn("shard", pmod(col("_u"), lit(nShards)).cast(LongType))
      .withColumn("_rn", row_number().over(wRank).cast(LongType))
      .withColumn("batch_idx", expr(s"(_rn - 1L) div ${batchSize}L"))
      .withColumn("pos", pmod(col("_rn") - 1, lit(batchSize.toLong)))
      .drop("_u", "_rn")
  }

  /** Deterministic weighted interleave across sources — the TRAINING
    * ORDER side of data mixing: [[temperatureMix]]/[[stratifiedSample]]
    * decide how much of each source survives; this decides WHEN each
    * surviving doc is seen, stride-scheduling sources by integer
    * weight so a weight-2 source contributes ~2 docs for every 1 from
    * a weight-1 source in ANY prefix of the stream (epoch-free
    * interleaving, not block concatenation — the published data-mixing
    * recipe for multi-corpus training runs).
    *
    * Every doc gets a virtual time `v = r·10⁶ div w`: `r` its 1-based
    * arrival rank within its source, `w` the source's weight; the
    * global training order is `(v, source, id)` ascending. Stride
    * scheduling's invariant — a weight-w source places its r-th doc
    * at time r/w, so prefixes carry sources proportionally to w — in
    * exact integer arithmetic, replayable by any engine.
    *
    * The in-source rank must not be a global per-source row_number (a
    * half-corpus source would sort in ONE task): docs are dealt into
    * `nShards` md5-shards per source (the [[packSequences]] trick —
    * each (source, shard) window sort is executor-resident) and
    * `r = (rankInShard − 1)·nShards + shard + 1` — round-robin across
    * shards, a deterministic enumeration that equals the true md5
    * rank when shards are balanced (md5 deals them to √n noise) and
    * perturbs `v` by at most nShards·10⁶/w at a shard tail otherwise:
    * ordering noise, never loss. Membership/order is a pure function
    * of (id, source, weights), so appends displace later virtual
    * times but never reorder earlier ones (the [[hashSplit]]
    * stability contract).
    *
    * One exchange on (source, shard); emits the input rows plus
    * (shard, src_rank, vtime). Consumers sort on read (or feed
    * [[writeTrainingShards]]-style sinks); a preview query top-Ns by
    * (vtime, source, id) through TakeOrderedAndProject without ever
    * materializing the global order. */
  def interleaveSources(df: DataFrame, idCol: String, sourceCol: String,
                        weights: Map[String, Long], defaultWeight: Long = 1L,
                        nShards: Int = 8,
                        salt: String = "mix"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(defaultWeight >= 1L,
      s"defaultWeight must be >= 1, got $defaultWeight")
    weights.foreach { case (s, w) =>
      require(w >= 1L, s"weight for source '$s' must be >= 1, got $w") }
    require(weights.values.forall(_ <= 1000000L) && defaultWeight <= 1000000L,
      "weights above 1e6 would collapse all vtimes to 0 — rescale them")
    val weight = weights.foldLeft(lit(defaultWeight)) {
      case (rest, (s, w)) =>
        when(col(sourceCol) === s, lit(w)).otherwise(rest)
    }
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol), col("shard"))
      .orderBy(col("_u"), col(idCol))
    df.withColumn("_u", md5Draw(salt, col(idCol)))
      .withColumn("shard", pmod(col("_u"), lit(nShards)).cast(LongType))
      .withColumn("src_rank",
        (row_number().over(wRank).cast(LongType) - 1L) * nShards +
          col("shard") + 1L)
      .withColumn("_w", weight)
      .withColumn("vtime", expr("(src_rank * 1000000L) div _w"))
      .drop("_u", "_w")
  }

  /** Crawl-delay-weighted fetch schedule — [[interleaveSources]]'
    * politeness-aware twin, consuming
    * [[graft.operators.Robots.crawlDelays]] instead of training-mix
    * weights: a host with `Crawl-delay: d` contributes one URL per
    * `d` seconds of virtual time (`vtime = src_rank · 10⁶ · d` —
    * the stride PERIOD is the delay, so rate ∝ 1/d exactly; equal
    * delays degrade to [[interleaveSources]]' round-robin). Hosts
    * without a declared delay take `defaultDelayS`; delays clamp to
    * [1, 86400] (0 would collapse a host's whole frontier to one
    * instant — the impolite direction — and a day-plus delay is
    * declaration noise, while the clamp also keeps
    * `rank · 10⁶ · d` far from Long overflow). Ranking is the same
    * md5-shard deal as [[interleaveSources]] — one exchange on
    * (host, shard), executor-resident window sorts, plus one join
    * against the (host-count-sized) delay table on the SAME host key
    * the window partitions by. Emits the frontier rows plus
    * (shard, src_rank, delay_s, vtime); consumers sort on read.
    *
    * `priorityCol` (optional) replaces the md5 draw as the WITHIN-host
    * order: each host's queue drains highest-priority-first (in-link
    * counts, domain quality priors — q286/q288's signals) while the
    * delay stride still owns WHEN the host is served at all —
    * priority must never buy RATE, only position in the host's own
    * line. Ties break on the id; the shard deal stays md5 (shards
    * exist to parallelize the window, not to order).
    *
    * @param delays `(hostCol, delay_s)` — e.g. `crawlDelays` output
    *               filtered to the crawler's own agent */
  def politeFetchSchedule(frontier: DataFrame, idCol: String,
                          hostCol: String, delays: DataFrame,
                          defaultDelayS: Long = 1L, nShards: Int = 8,
                          salt: String = "mix",
                          priorityCol: Option[String] = None): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(defaultDelayS >= 1L && defaultDelayS <= 86400L,
      s"defaultDelayS must be in [1, 86400], got $defaultDelayS")
    val rankOrder = priorityCol match {
      case Some(p) => Seq(col(p).desc, col(idCol).asc)
      case None => Seq(col("_u").asc, col(idCol).asc)
    }
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol), col("shard"))
      .orderBy(rankOrder: _*)
    frontier
      .join(delays.select(col(hostCol), col("delay_s")),
        Seq(hostCol), "left")
      .withColumn("delay_s",
        least(greatest(coalesce(col("delay_s"), lit(defaultDelayS)),
          lit(1L)), lit(86400L)))
      .withColumn("_u", md5Draw(salt, col(idCol)))
      .withColumn("shard", pmod(col("_u"), lit(nShards)).cast(LongType))
      .withColumn("src_rank",
        (row_number().over(wRank).cast(LongType) - 1L) * nShards +
          col("shard") + 1L)
      .withColumn("vtime",
        col("src_rank") * lit(1000000L) * col("delay_s"))
      .drop("_u")
  }

  /** Hashed linear classifier INFERENCE — the fasttext-shaped quality
    * filter every published corpus recipe runs (CCNet/RefinedWeb/FineWeb
    * keep docs a linear model over hashed n-gram features scores above
    * a threshold). Features are unigram + bigram occurrences hashed
    * into `buckets` via the hashing trick (collisions share a weight —
    * the property that bounds the model size independent of the
    * vocabulary); the doc score is the integer sum of its features'
    * bucket weights, and `keep` compares against a PER-FEATURE
    * threshold multiplicatively (`score >= threshold · n_feats`) so no
    * integer division of possibly-negative sums is involved.
    *
    * The weight table here is derived (md5 of the bucket id, uniform
    * in [-1000, 1000]) rather than trained — the deterministic
    * stand-in that makes the q150 oracle replay bucketing, weights and
    * the fold bit-for-bit. A production caller passes a real model by
    * swapping `weightOf`; the PLAN is identical either way: per-doc
    * intra-row fold, zero shuffles, zero joins — a trained weight
    * array rides along as a broadcast literal (buckets ≤ 2²⁰ × 8 B =
    * 8 MB), never a join table. That narrow shape is the whole point
    * at 100 TB: quality filtering is the first gate a corpus passes,
    * so it must cost one scan and nothing else.
    *
    * md5 (not xxhash64) for both bucket and weight: the oracle must
    * compute identical values (the [[md5Draw]] portability contract),
    * and two md5s per token keep the op codegen'd end to end.
    *
    * @return one row per doc: `n_feats` (unigram+bigram occurrences),
    *         `score` (Σ bucket weights), `keep`. */
  /** Declarative data-quality gate — the expectation check every
    * ingest runs before anything downstream trusts a batch: named
    * boolean constraints evaluated in ONE map-side-combined pass,
    * reported as violation counts and ppm rates per constraint. A
    * NULL constraint result counts as a VIOLATION (fail closed — a
    * range test over a null column is exactly the corruption the gate
    * exists to catch). The report is constraint-count-sized; the data
    * is scanned once regardless of how many constraints ride along.
    *
    * @param constraints (name, predicate) pairs; names must be unique
    * @return (rule, n_rows, n_violations, viol_ppm) ordered by rule
    *         name. */
  def constraintReport(df: DataFrame,
                       constraints: Seq[(String, Column)]): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    require(constraints.map(_._1).distinct.size == constraints.size,
      s"constraint names must be unique: ${constraints.map(_._1)}")
    val aggs = (count(lit(1)).as("_n") +: constraints.map { case (n, c) =>
      coalesce(sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)),
        lit(0L)).as(s"_v_$n") }).toList
    val pairs = constraints.map { case (n, _) =>
      struct(lit(n).as("c"), col(s"_v_$n").as("v")) }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("_n"), explode(array(pairs: _*)).as("_e"))
      .select(col("_e.c").as("rule"), col("_n").as("n_rows"),
        col("_e.v").as("n_violations"))
      .select(col("rule"), col("n_rows"), col("n_violations"),
        when(col("n_rows") === 0L, lit(0L))
          .otherwise(expr("(n_violations * 1000000L) div n_rows"))
          .as("viol_ppm"))
      .orderBy(col("rule"))
  }

  /** Integer score-bucket census (r16) — the distribution snapshot
    * the quality-drift monitor compares: `bucket = (score + 10⁷) div
    * width`. The +10⁷ shift keeps operands non-negative so
    * truncating (`div`) and flooring (`//`) division agree across
    * engines — an unshifted div would fold the two buckets around
    * zero into one. Output is bucket-count sized (one
    * map-side-combined aggregate over the scored frame). */
  def scoreBucketCensus(scored: DataFrame, scoreCol: String,
                        bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1, got $bucketWidth")
    scored
      .groupBy(expr(s"($scoreCol + 10000000L) div ${bucketWidth}L")
        .as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** L1 drift between two [[scoreBucketCensus]] frames, in ppm
    * (= 2 × total-variation distance): Σ over the union of buckets of
    * |share_cur − share_base|, each share an integer `x·10⁶ div
    * total`. Pure integer arithmetic, bucket-count-sized inputs, one
    * full-outer join — the comparison a per-micro-batch monitor runs
    * against its persisted corpus baseline.
    * @return one row: (n_docs — the CURRENT census's mass, drift_ppm) */
  def censusDriftPpm(cur: DataFrame, base: DataFrame): DataFrame = {
    val c = cur.select(col("bucket"), col("n").as("_cn"))
    val b = base.select(col("bucket"), col("n").as("_bn"))
    val ct = c.agg(coalesce(sum(col("_cn")), lit(0L)).as("_ct"))
    val bt = b.agg(coalesce(sum(col("_bn")), lit(0L)).as("_bt"))
    c.join(b, Seq("bucket"), "full")
      .select(coalesce(col("_cn"), lit(0L)).as("_cn"),
        coalesce(col("_bn"), lit(0L)).as("_bn"))
      .crossJoin(broadcast(ct)).crossJoin(broadcast(bt))
      .agg(first(col("_ct")).as("n_docs"),
        coalesce(sum(abs(
          expr("_cn * 1000000L div greatest(_ct, 1L)") -
            expr("_bn * 1000000L div greatest(_bt, 1L)"))), lit(0L))
          .as("drift_ppm"))
      // an EMPTY current census carries no distribution to compare —
      // without this the arithmetic reports Σ baseline shares (~10⁶)
      // and an all-duplicates batch would flag as maximal drift
      .select(col("n_docs"),
        when(col("n_docs") === 0L, 0L).otherwise(col("drift_ppm"))
          .as("drift_ppm"))
  }

  /** Per-group quality-drift report vs the POOLED baseline (r16 —
    * VERDICT r15 #7's batch form): every group's score distribution
    * compared against the whole frame's, `drift_ppm` the
    * [[censusDriftPpm]] L1 over the pooled bucket set, `flagged` when
    * it clears `flagPpm`. This is the census-bucket shape at any
    * scale: one (group, bucket) map-side-combined aggregate, then
    * group×bucket-sized joins — the corpus is scanned once and never
    * again regardless of group count.
    * @return (grpCol, n_docs, drift_ppm, flagged) */
  def scoreDriftReport(scored: DataFrame, grpCol: String,
                       scoreCol: String, bucketWidth: Long,
                       flagPpm: Long): DataFrame = {
    require(bucketWidth >= 1L,
      s"bucketWidth must be >= 1, got $bucketWidth")
    require(flagPpm >= 1L && flagPpm <= 2000000L,
      s"flagPpm must be in [1, 2000000] (L1 tops out at 2·10⁶), " +
        s"got $flagPpm")
    val gb = scored
      .groupBy(col(grpCol).as("_g"),
        expr(s"($scoreCol + 10000000L) div ${bucketWidth}L").as("bucket"))
      .agg(count(lit(1)).as("_gn"))
      .pin() // three consumers: baseline, totals, the join
    val base = gb.groupBy(col("bucket")).agg(sum(col("_gn")).as("_bn"))
    val totals = gb.groupBy(col("_g")).agg(sum(col("_gn")).as("_gt"))
    val totalAll = base.agg(sum(col("_bn")).as("_ta"))
    // the grid carries every (group, pooled bucket) pair, so a bucket
    // a group never hits still contributes its baseline share to the
    // group's L1 — dropping it would understate drift exactly where
    // the group diverges most
    totals.crossJoin(broadcast(base))
      .join(gb, Seq("_g", "bucket"), "left")
      .crossJoin(broadcast(totalAll))
      .groupBy(col("_g"))
      .agg(first(col("_gt")).as("n_docs"),
        sum(abs(expr("coalesce(_gn, 0L) * 1000000L div _gt") -
          expr("_bn * 1000000L div _ta"))).as("drift_ppm"))
      .select(col("_g").as(grpCol), col("n_docs"), col("drift_ppm"),
        (col("drift_ppm") > flagPpm).as("flagged"))
  }

  def classifierScores(df: DataFrame, idCol: String, textCol: String,
                       salt: String = "clf", buckets: Int = 1 << 18,
                       threshold: Long = 0L): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def weightOf(bucket: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"w:$salt:"),
          bucket.cast(StringType))), 1, 8), 16, 10).cast(LongType),
        lit(2001L)) - 1000L
    def featWeight(prefix: String, f: Column): Column =
      weightOf(pmod(conv(substring(md5(concat(lit(s"$salt:$prefix:"), f)),
        1, 8), 16, 10).cast(LongType), lit(buckets.toLong)))
    val toks = whitespaceTokens(col(textCol))
    // hashed-feature folding is per-row heavy — spread a narrow scan
    // so it doesn't run in one task (r13 stage-metrics sweep)
    spreadToCores(df).select(col(idCol), toks.as("_tks"))
      .select(col(idCol), col("_tks"),
        wordShingles(col("_tks"), 2).as("_bgs"))
      .select(col(idCol),
        (size(col("_tks")) + size(col("_bgs"))).cast(LongType)
          .as("n_feats"),
        // FENCED (NoInline, the q103 lesson): a caller's
        // `.filter(col("keep"))` would otherwise re-inline this whole
        // md5-HOF chain into a non-codegen Filter node — interpreted
        // per-row evaluation, measured 15 s vs 0.3 s at sf0.1 (q168's
        // construct bill). The fence pins the score to ONE codegen'd
        // projection; the filter then tests the projected column.
        // Cost: predicates no longer push below this projection —
        // callers filtering on the id should do so BEFORE scoring.
        call_function("no_inline",
          aggregate(col("_tks"), lit(0L),
            (acc, t) => acc + featWeight("u", t)) +
          aggregate(col("_bgs"), lit(0L),
            (acc, g) => acc + featWeight("b", g))).as("score"))
      .withColumn("keep", col("score") >= lit(threshold) * col("n_feats"))
  }

  /** Unigram language-model surprisal scoring — the perplexity-filter
    * shape (rank documents by how "surprising" their words are under
    * a corpus-trained unigram LM) in EXACT integer arithmetic: a
    * token's surprisal is `bitlen(N) − bitlen(count(t))` bits, where
    * `bitlen` is the binary-representation length (= ⌊log2⌋+1 —
    * exact and identical in every engine, unlike any float log), N
    * the corpus token total. Rare tokens score high; a document's
    * `milli_bits_per_token` is its integer perplexity proxy.
    *
    * Scale shape (the q116 lesson applied from the start): the census
    * is a map-side-combined aggregate (a hot token collapses into
    * ≤ #partitions partials, never one task); the per-doc side
    * aggregates to (doc, token, tf) BEFORE joining the census, so the
    * token-keyed join carries doc×type rows (hot-term multiplicity ≤
    * #docs, AQE-skew-splittable) instead of every occurrence; the
    * corpus total rides in as a broadcast scalar. No windows.
    *
    * @return one row per doc: n_tokens, surprisal_bits,
    *         milli_bits_per_token (= bits·1000 div n_tokens). */
  def surprisalScores(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    // deliberately NOT the bigram op's one-pass/spread shape (r13
    // A/B): the unigram tokenize is cheap enough that the extra
    // exchange and the census-behind-the-fold chaining measured
    // SLOWER than the plain two-aggregate plan (0.98 s battery vs
    // 2.05 s reshaped at sf0.1) — the bigram op's 16 s single-task
    // explode is the case the reshape exists for
    val toks = docs.select(col(idCol),
      explode(whitespaceTokens(col(textCol))).as("_t"))
    val census = toks.groupBy(col("_t")).agg(count(lit(1)).as("_c"))
    val tot = census.agg(coalesce(sum(col("_c")), lit(0L)).as("_n"))
    val dt = toks.groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("_tf"))
    val scored = dt.join(census, "_t")
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("_tf"),
        (length(bin(col("_n"))) - length(bin(col("_c"))))
          .cast(LongType).as("_bits"))
      .groupBy(col(idCol))
      .agg(sum(col("_tf")).as("n_tokens"),
        sum(col("_tf") * col("_bits")).as("surprisal_bits"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr("(surprisal_bits * 1000L) div n_tokens"))
          .as("milli_bits_per_token"))
  }

  /** Equi-width integer histogram — the distribution profiler beside
    * [[graft.operators.ScaleOps.skewReport]]'s categorical one: `v`
    * lands in bin `(v − lo)·nBins div (hi − lo)` over the half-open
    * `[lo, hi)` domain (pure integer arithmetic — engine-exact bin
    * boundaries, unlike any float-width histogram); out-of-range
    * values surface as bins −1 / nBins rather than vanishing (a
    * histogram that silently drops outliers hides exactly the rows a
    * profiler exists to find). Fixed-point inputs (prices in cents)
    * are the caller's cast. Empty bins are absent (the report is a
    * census, not a grid — grid-join client-side if needed); NULLs are
    * excluded — gate them with [[constraintReport]], which is the
    * null-auditing tool.
    *
    * Scale shape: ONE map-side-combined groupBy on the bin id; the
    * report is ≤ nBins+2 rows. Caller keeps `(hi−lo)·nBins` inside
    * int64 (the require).
    *
    * @return (bin, n_rows) ordered by bin. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int,
                lo: Long, hi: Long): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(BigInt(hi - lo) * nBins < BigInt(Long.MaxValue),
      s"(hi - lo) * nBins overflows int64: [$lo, $hi) x $nBins")
    val v = col(valueCol).cast(LongType)
    df.filter(v.isNotNull)
      .select(
        when(v < lo, lit(-1L))
          .when(v >= hi, lit(nBins.toLong))
          .otherwise(expr(s"((CAST(`$valueCol` AS BIGINT) - ${lo}L) * " +
            s"${nBins}L) div ${hi - lo}L")).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("bin"))
  }

  /** Bigram conditional-LM surprisal — the sharper sibling of
    * [[surprisalScores]] (a unigram model scores "the the the" as
    * maximally predictable; the conditional model does not): each
    * bigram occurrence contributes `bitlen(c(prev,·)) −
    * bitlen(c(prev,cur))` bits — the integer-exact proxy for
    * −log₂ P(cur|prev) with the corpus itself as the LM — summed per
    * doc over its bigrams. Docs with < 2 tokens score 0 (no
    * conditional context exists). All arithmetic is bitlen/div
    * integer, replayable in any engine.
    *
    * Scale shape (the [[surprisalScores]] discipline): both censuses
    * — bigram counts and context counts (`c(prev,·)` = times `prev`
    * opens a bigram) — are map-side-combined aggregates; the per-doc
    * side folds to (doc, bigram, tf) BEFORE the gram-keyed joins
    * (hot-bigram multiplicity ≤ #docs, AQE-skew-splittable, the q116
    * lesson); totals never ride a window.
    *
    * @return one row per doc: n_bigrams, surprisal_bits,
    *         milli_bits_per_bigram (= bits·1000 div n_bigrams). */
  def bigramSurprisalScores(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val bgs = spreadToCores(docs).select(col(idCol),
      explode(wordShingles(whitespaceTokens(col(textCol)), 2)).as("_bg"))
    // ONE corpus explode: both censuses derive from the per-doc fold
    // (Σ tf by bigram/context == the occurrence counts), so the three
    // consumers share the (doc, bigram) exchange instead of each
    // re-tokenizing and re-shingling the corpus (r13: 8.1 s battery →
    // the one-pass shape; also the right 100× plan — the corpus is
    // scanned once, censuses aggregate the much-narrower fold)
    val dbg = bgs.groupBy(col(idCol), col("_bg"))
      .agg(count(lit(1)).as("_tf"))
      .withColumn("_cx", substring_index(col("_bg"), " ", 1))
    val bgCensus = dbg.groupBy(col("_bg")).agg(sum(col("_tf")).as("_cb"))
    val ctxCensus = dbg.groupBy(col("_cx")).agg(sum(col("_tf")).as("_cc"))
    val scored = dbg
      .join(bgCensus, "_bg")
      .join(ctxCensus, "_cx")
      .select(col(idCol), col("_tf"),
        (length(bin(col("_cc"))) - length(bin(col("_cb"))))
          .cast(LongType).as("_bits"))
      .groupBy(col(idCol))
      .agg(sum(col("_tf")).as("n_bigrams"),
        sum(col("_tf") * col("_bits")).as("surprisal_bits"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0L))
          .otherwise(expr("(surprisal_bits * 1000L) div n_bigrams"))
          .as("milli_bits_per_bigram"))
  }

  /** Reference-LM scoring — the CCNet shape (Wenzek et al. 2020):
    * the LM is trained on a REFERENCE corpus (their Wikipedia) and
    * scores the crawl, so "looks like the reference" becomes the
    * quality signal — unlike [[bigramSurprisalScores]], whose
    * self-corpus model scores boilerplate as predictable BECAUSE the
    * crawl is full of it. Same integer bitlen discipline, plus the
    * add-one smoothing a held-out model needs (the self-corpus model
    * never meets an unseen bigram; this one does): each doc bigram
    * contributes `bitlen(c_ref(prev,·) + V) − bitlen(c_ref(prev,cur)
    * + 1)` bits, V = the reference vocabulary size — the integer
    * proxy for −log₂((c+1)/(ctx+V)), nonnegative by c ≤ ctx, defined
    * (P = 1/V) even for never-seen contexts. Docs with < 2 tokens
    * return n_bigrams = 0 — they carry NO evidence under a
    * conditional model, and the caller buckets them as unscored
    * rather than "maximally clean".
    *
    * Scale shape: the reference censuses (bigram, context, V) are
    * map-side-combined aggregates over the REFERENCE only (the small
    * side by construction; the context census derives FROM the bigram
    * census — `c(prev,·) = Σ c(prev,cur)` — so the reference is
    * shingled once); token arrays are projected attributes before
    * shingling (the lambda-CSE rule, §8.2); the crawl folds to (doc,
    * bigram, tf) before the gram-keyed LEFT joins (hot-bigram
    * multiplicity ≤ #docs, AQE-skew-splittable); V rides as a
    * broadcast scalar.
    *
    * @return docs + n_bigrams, surprisal_bits, milli_bits_per_bigram
    *         (the [[exciseSpans]] append-columns shape). */
  def referenceLmScores(docs: DataFrame, ref: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val refToked = ref.select(whitespaceTokens(col(textCol)).as("_tk"))
    val refBg = refToked
      .select(explode(wordShingles(col("_tk"), 2)).as("_bg"))
      .groupBy(col("_bg")).agg(count(lit(1)).as("_cb"))
    val refCtx = refBg
      .groupBy(substring_index(col("_bg"), " ", 1).as("_cx"))
      .agg(sum(col("_cb")).as("_cc"))
    val vocab = refToked
      .select(explode(col("_tk")).as("_t"))
      .agg(greatest(countDistinct(col("_t")), lit(1L)).as("_v"))
    val dbg = docs
      .select(col(idCol), whitespaceTokens(col(textCol)).as("_tk"))
      .select(col(idCol), explode(wordShingles(col("_tk"), 2)).as("_bg"))
      .groupBy(col(idCol), col("_bg"))
      .agg(count(lit(1)).as("_tf"))
      .withColumn("_cx", substring_index(col("_bg"), " ", 1))
    val scored = dbg
      .join(refBg, Seq("_bg"), "left")
      .join(refCtx, Seq("_cx"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("_tf"),
        (length(bin(coalesce(col("_cc"), lit(0L)) + col("_v"))) -
          length(bin(coalesce(col("_cb"), lit(0L)) + 1)))
          .cast(LongType).as("_bits"))
      .groupBy(col(idCol))
      .agg(sum(col("_tf")).as("_nb"),
        sum(col("_tf") * col("_bits")).as("_sb"))
    docs.join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("_nb"), lit(0L)))
      .withColumn("surprisal_bits", coalesce(col("_sb"), lit(0L)))
      .withColumn("milli_bits_per_bigram",
        when(col("n_bigrams") === 0L, lit(0L))
          .otherwise(expr("(surprisal_bits * 1000L) div n_bigrams")))
      .drop("_nb", "_sb")
  }

  /** Training-mixture budget allocation by water-filling (the UniMax
    * shape, Chung et al. 2023): spread `budgetTokens` across sources
    * as evenly as possible, except no source may be repeated past
    * `maxMilliEpochs` (milli-epochs: 1000 = one pass over the
    * source). Low-resource sources saturate at their epoch cap; the
    * leftover budget re-spreads uniformly over the rest — the
    * standard fix for "proportional sampling drowns small sources,
    * uniform sampling over-repeats them".
    *
    * Exact integer semantics (what the q155 oracle replays): source
    * capacity `c_s = n_s·maxMilliEpochs div 1000`; sources sorted by
    * (capacity, source); source j (1-based, S total, prefix P) is
    * SATURATED iff `P_{j-1} + c_j·(S−j+1) ≤ B` — the classic
    * prefix-feasibility test, monotone because capacities ascend —
    * and unsaturated sources all get the common waterline
    * `τ = (B − P_K) div (S−K)` tokens (K saturated). τ < every
    * unsaturated capacity by construction, so allocation never
    * exceeds capacity, and the ≤ S-token rounding loss is the price
    * of exactness.
    *
    * Scale shape: ONE map-side-combined census (sources-sized
    * output); the water-fill itself runs on the census rows — a
    * driver-side pickup bounded by `maxSources` (the centroid-pickup
    * contract: the collect is capped and sources are a catalog-sized
    * dimension, never data-sized). The corpus is scanned once and
    * never shuffled on a skewable key.
    *
    * @return one row per source: n_tokens, capacity_tokens,
    *         alloc_tokens, saturated, milli_epochs
    *         (= alloc·1000 div n). */
  def mixtureAllocation(docs: DataFrame, sourceCol: String,
                        textCol: String, budgetTokens: Long,
                        maxMilliEpochs: Long,
                        maxSources: Int = 100000): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    require(maxMilliEpochs > 0 && maxMilliEpochs <= 1000000L,
      s"maxMilliEpochs must be in (0, 1e6], got $maxMilliEpochs")
    val census = docs
      .groupBy(col(sourceCol).cast(StringType).as("source"))
      .agg(coalesce(sum(tokenCount(col(textCol)).cast(LongType)), lit(0L))
        .as("n_tokens"))
    val rows = census.limit(maxSources + 1).collect()
    require(rows.length <= maxSources,
      s"more than $maxSources sources — raise maxSources only if the " +
        s"source column is truly catalog-sized")
    val srcs = rows.map(r => (r.getString(0), r.getLong(1)))
      .map { case (s, n) => (s, n, n * maxMilliEpochs / 1000L) }
      .sortBy { case (s, _, c) => (c, s) }
    val S = srcs.length
    // BigInt for the feasibility product only: c·(S−j+1) can exceed
    // int64 when a 100 TB source meets a 10^5-source catalog
    var prefix = BigInt(0)
    var nSat = 0
    var satSum = 0L
    val flagged = srcs.zipWithIndex.map { case ((s, n, c), i) =>
      val sat = prefix + BigInt(c) * (S - i) <= BigInt(budgetTokens)
      if (sat) { nSat += 1; satSum += c }
      prefix += c
      (s, n, c, sat)
    }
    val tau = if (nSat >= S) 0L else (budgetTokens - satSum) / (S - nSat)
    val out = flagged.map { case (s, n, c, sat) =>
      val alloc = if (sat) c else tau
      // BigInt: alloc·1000 flirts with int64 at 10^13-token sources
      val milli = if (n == 0L) 0L
                  else (BigInt(alloc) * 1000 / BigInt(n)).toLong
      (s, n, c, alloc, sat, milli)
    }.sortBy(_._1).toSeq
    val sp = docs.sparkSession
    import sp.implicits._
    out.toDF("source", "n_tokens", "capacity_tokens", "alloc_tokens",
      "saturated", "milli_epochs")
  }

  // ---- Bloom membership gate ------------------------------------------

  /** Bloom bitmap over the values of `itemCol`: `nHash` md5-derived
    * bit positions per item (`bf:<h>:<item>` — the shared md5-replay
    * family, so any engine rebuilds the identical bitmap), folded
    * distributed into ≤ `mBits`/64 words with a map-side-combined
    * `bit_or`, then picked up bounded (4096 rows at the default m).
    * The 100 TB decontamination shape: the benchmark's n-gram set
    * compresses to a bitmap that ships in the PLAN (see
    * [[bloomHitCount]]) instead of shuffling the corpus's n-gram
    * stream through a join — membership is one-sided-error
    * (hits ⊇ members) with a deterministic, replayable FP set. */
  def bloomBitmap(items: DataFrame, itemCol: String,
                  mBits: Int = 1 << 18, nHash: Int = 3): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(nHash >= 1, s"nHash must be >= 1, got $nHash")
    val posCols = (0 until nHash).map(h =>
      conv(substring(md5(concat(lit(s"bf:$h:"), col(itemCol))), 1, 8), 16, 10)
        .cast(LongType) % mBits)
    val words = items.select(explode(array(posCols: _*)).as("p")).distinct()
      .selectExpr("cast(p div 64 as int) AS w",
        "shiftleft(1L, cast(p % 64 as int)) AS bit")
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
      .collect()
    val bits = Array.fill[Long](mBits / 64)(0L)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    bits
  }

  /** Count of `arrCol`'s elements whose `nHash` bloom bits are all
    * set in `bitsCol` (attach the [[bloomBitmap]] once with
    * `typedLit(bits.toSeq)`): the probe is pure codegen'd bit
    * arithmetic against a plan literal — no join, no broadcast
    * exchange, no shuffle, whole-stage codegen throughout. */
  def bloomHitCount(arrCol: String, bitsCol: String,
                    mBits: Int = 1 << 18, nHash: Int = 3): Column = {
    val hit = (0 until nHash).map { h =>
      val p = s"(cast(conv(substring(md5(concat('bf:$h:', _g)), 1, 8), " +
        s"16, 10) as bigint) % $mBits)"
      s"(element_at($bitsCol, cast($p div 64 as int) + 1) & " +
        s"shiftleft(1L, cast($p % 64 as int))) != 0"
    }.mkString(" AND ")
    expr(s"size(filter($arrCol, _g -> $hit))")
  }

  /** Scalar sibling of [[bloomHitCount]]: TRUE when `valueSql`'s
    * `nHash` bloom bits are all set in `bitsCol` (the [[bloomBitmap]]
    * attached as a plan literal). Same `bf:<h>:<value>` md5 family,
    * same pure-codegen bit arithmetic — no join, no shuffle. One-sided
    * error: FALSE is definitive (never a member), TRUE needs
    * confirmation against the exact set. */
  def bloomMightContain(valueSql: String, bitsCol: String,
                        mBits: Int = 1 << 18, nHash: Int = 3): Column = {
    val hit = (0 until nHash).map { h =>
      val p = s"(cast(conv(substring(md5(concat('bf:$h:', $valueSql)), " +
        s"1, 8), 16, 10) as bigint) % $mBits)"
      s"(element_at($bitsCol, cast($p div 64 as int) + 1) & " +
        s"shiftleft(1L, cast($p % 64 as int))) != 0"
    }.mkString(" AND ")
    expr(hit)
  }

  /** Persist a [[bloomBitmap]] as a self-describing index:
    * `dir/words` holds the non-zero (w, word) rows (≤ mBits/64, tiny
    * — `coalesce(1)`), `dir/meta` the (m_bits, n_hash) parameters the
    * probe MUST use (a probe with different params reads garbage bits
    * — the same silent-mis-rank footgun the PQ books sidecar closes,
    * so the reader refuses loudly on mismatch instead). */
  def writeBloomIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      bits: Array[Long], mBits: Int = 1 << 18,
                      nHash: Int = 3): Unit = {
    require(bits.length == mBits / 64,
      s"bitmap has ${bits.length} words; mBits=$mBits needs ${mBits / 64}")
    import spark.implicits._
    bits.toSeq.zipWithIndex.collect { case (w, i) if w != 0L => (i, w) }
      .toDF("w", "word").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/words")
    Seq((mBits, nHash)).toDF("m_bits", "n_hash").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Read a persisted bloom index back as (bits, mBits, nHash) — a
    * bounded pickup (≤ mBits/64 + 1 rows). Refuses loudly when the
    * caller pins parameters that disagree with the stored meta. */
  def readBloomIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     expectMBits: Option[Int] = None,
                     expectNHash: Option[Int] = None)
      : (Array[Long], Int, Int) = {
    val meta = spark.read.parquet(s"$dir/meta").collect()
    require(meta.length == 1, s"bloom meta at $dir/meta has ${meta.length} rows")
    val (m, k) = (meta(0).getInt(0), meta(0).getInt(1))
    expectMBits.foreach(e => require(e == m,
      s"bloom index at $dir was built with m_bits=$m, probe asked $e"))
    expectNHash.foreach(e => require(e == k,
      s"bloom index at $dir was built with n_hash=$k, probe asked $e"))
    val bits = Array.fill[Long](m / 64)(0L)
    spark.read.parquet(s"$dir/words").collect()
      .foreach(r => bits(r.getInt(0)) = r.getLong(1))
    (bits, m, k)
  }

  /** Per-input-file provenance manifest — the ops census a 100 TB
    * backfill debug starts from ("which landed file fed these rows,
    * and how much"): rows grouped by [[input_file_name]], emitting
    * row count and a payload sum per physical file. ONE map-side-
    * combined aggregate keyed on the file name the scan already
    * carries — metadata-scale output (files, not rows), no second
    * read, no driver collection. The file name is the TASK's input
    * split, so the census is exact under any partitioning; callers
    * wanting logical lineage (shard id, date) parse it from the
    * path (hive-style `k=v` components survive verbatim). */
  def shardManifest(df: DataFrame, payload: Column): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        sum(payload).cast(LongType).as("payload_sum"))

  /** Cross-engine table fingerprint — data reconciliation: two
    * replicas of a table (a migration's source and target, a primary
    * and a backfill, this engine and another) are compared by a
    * BUCKETED content checksum instead of row-by-row: each row hashes
    * its canonical key string through md5, rows deal into `nBuckets`
    * by hash, and a bucket mismatch (count or checksum) localizes the
    * divergence to 1/nBuckets of the data — the binary-searchable
    * shape a 100 TB reconciliation needs, at one narrow scan + one
    * tiny aggregate per side, no sort, no join, engine-portable
    * because everything after the caller's canonicalization is md5 +
    * integer arithmetic.
    *
    * `keys` are the caller's CANONICAL string expressions — the
    * caller owns formatting (dates via an explicit pattern, money via
    * DECIMAL cast; a raw double/timestamp cast renders differently
    * across engines and would flag every row). NULLs map to a
    * sentinel before concat (concat_ws silently skips NULLs, which
    * would make (NULL,'x') collide with ('x',NULL)). Checksum is
    * Σ md5-u32 per bucket — order-independent, overflow-free below
    * ~2^31 rows per bucket (document-scale at any real nBuckets). */
  def tableFingerprint(df: DataFrame, keys: Seq[Column], nBuckets: Int,
                       salt: String = "fp"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(keys.nonEmpty, "at least one key expression required")
    val rowStr = concat_ws("|",
      keys.map(k => coalesce(k.cast(StringType), lit("<null>"))): _*)
    val h = conv(substring(md5(concat(lit(salt + ":"), rowStr)), 1, 8),
      16, 10).cast(LongType)
    df.select(h.as("_h"))
      .groupBy(pmod(col("_h"), lit(nBuckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("_h")).as("checksum"))
  }

  /** WITHIN-doc repetition signals — the Gopher/MassiveText repetition
    * rules (Rae et al. 2021 §A1.1), the quality family member the
    * cross-doc tiers deliberately spare: q97/q113 cut text repeated
    * ACROSS documents, but a doc that repeats ITSELF (scraper loops,
    * boilerplate stutter, keyword-stuffed spam) sails through both
    * and through q48's character-class ratios. Two signals per doc,
    * in ppm of word characters (integer div — replayable where float
    * fractions are not):
    *
    *  - `top2_ppm`: characters inside occurrences of the single most
    *    frequent word 2-gram ("fraction of characters in the most
    *    common n-gram"). Argmax is ONE map-side-combined
    *    `max(struct(cnt, gram))` per doc — count first, gram-DESC
    *    tie-break, never a per-doc window (the q156 discipline).
    *  - `dup3_ppm`: characters COVERED by any occurrence of a
    *    duplicated word 3-gram ("fraction of characters in duplicate
    *    n-grams") — coverage, not a sum over occurrences: overlapping
    *    duplicate grams count each character once, via a distinct
    *    (id, position) expansion.
    *
    * Scale shape: signals are strictly within-doc, so every census
    * groups on (id, gram) — doc id rides every key as the natural
    *  salt, partials combine map-side, and NO corpus-wide state
    * exists (the q116 hot-gram lesson does not even arise). The
    * 2-gram side needs token adjacency: one `lead` window per doc id
    * — bounded by doc length, the q113 exchange. Docs with no tokens
    * emit zero signals (n_words = 0), kept by the left join from the
    * input. */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_pos"))
    val toks = spreadToCores(docs).select(col(idCol).as("_id"),
      posexplode(whitespaceTokens(col(textCol))).as(Seq("_pos", "_w")))
    val led = toks
      .withColumn("_w2", lead(col("_w"), 1).over(w))
      .withColumn("_w3", lead(col("_w"), 2).over(w))
    val totals = toks.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("_w"))).cast(LongType).as("word_chars"))
    val top2 = led.filter(col("_w2").isNotNull)
      .select(col("_id"),
        concat_ws(" ", col("_w"), col("_w2")).as("_g"),
        (length(col("_w")) + length(col("_w2"))).cast(LongType)
          .as("_gchars"))
      .groupBy(col("_id"), col("_g"), col("_gchars"))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col("_id"))
      .agg(max(struct(col("_cnt"), col("_g"), col("_gchars"))).as("_top"))
      .select(col("_id"), col("_top._cnt").as("top2_cnt"),
        (col("_top._cnt") * col("_top._gchars")).as("_top2_chars"))
    val g3 = led.filter(col("_w3").isNotNull)
      .select(col("_id"), col("_pos"),
        concat_ws(" ", col("_w"), col("_w2"), col("_w3")).as("_g"))
    val dup3 = g3.groupBy(col("_id"), col("_g"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") >= 2)
      .select(col("_id"), col("_g"))
    val covChars = g3.join(dup3, Seq("_id", "_g"))
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + 2)).as("_cp"))
      .distinct()
      .join(toks.withColumnRenamed("_pos", "_cp"), Seq("_id", "_cp"))
      .groupBy(col("_id"))
      .agg(sum(length(col("_w"))).cast(LongType).as("_cov_chars"))
    docs.select(col(idCol).as("_id"))
      .join(totals, Seq("_id"), "left")
      .join(top2, Seq("_id"), "left")
      .join(covChars, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("word_chars"), lit(0L)).as("word_chars"),
        coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
        when(coalesce(col("word_chars"), lit(0L)) > 0,
          expr("coalesce(_top2_chars, 0L) * 1000000L div word_chars"))
          .otherwise(lit(0L)).as("top2_ppm"),
        when(coalesce(col("word_chars"), lit(0L)) > 0,
          expr("coalesce(_cov_chars, 0L) * 1000000L div word_chars"))
          .otherwise(lit(0L)).as("dup3_ppm"))
  }
}
