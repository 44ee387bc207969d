package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The drain skeleton every `graft.streaming` ingest runs on. The
  * reference's processor handles one S3-event-triggered file per
  * invocation (proc:166, policy:41-77); here that loop is a file
  * source read `maxFilesPerTrigger` files at a time, drained by
  * `Trigger.AvailableNow` against a checkpoint, so every file is
  * processed once across restarts. An ingest is then its source, its
  * per-batch gate (the unchanged batch DataFrame operator) and its
  * sinks; this module owns the three things every ingest used to spell
  * out again:
  *
  *  - the drain contract: the [[json]] / [[text]] / [[binaryFiles]]
  *    sources and the [[foreachBatch]] / [[toFiles]] drains;
  *  - versioned state, published as immutable `v=<batchId>` versions
  *    ([[prior]], [[latest]], [[publish]], [[fold]], [[pruneVersions]]);
  *  - state directories seeded empty when missing ([[seeded]]).
  *
  * Every filesystem question (exists, list, delete) resolves the
  * filesystem through the session's `newHadoopConf()`, so a
  * session-level `fs.*` setting applies to all three alike. */
private[graft] object Drain {

  // ---- sources ----

  def json(spark: SparkSession, dir: String, schema: StructType,
           maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(dir)

  /** One row per line, or one row per file with `wholetext`. */
  def text(spark: SparkSession, dir: String, maxFilesPerTrigger: Int,
           wholetext: Boolean = false): DataFrame =
    spark.readStream.option("wholetext", wholetext)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).text(dir)

  private val binarySchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** One `(path, modificationTime, length, content)` row per file
    * whose name matches `glob`. */
  def binaryFiles(spark: SparkSession, dir: String, glob: String,
                  maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.format("binaryFile").schema(binarySchema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).load(dir)

  // ---- drains ----

  /** Drain every file now under `source` through `gate`, one
    * micro-batch at a time, and block until drained. Delivery is the
    * foreachBatch contract: at-least-once, and a failed batch re-runs
    * under the same id, so a gate keys its effects on that id or lets
    * readers collapse re-landed rows keep-first. */
  def foreachBatch(source: DataFrame, checkpointDir: String)(
      gate: (DataFrame, Long) => Unit): Unit =
    await(source.writeStream.foreachBatch(gate), checkpointDir)

  /** Drain `result` into a `format` file sink at `outDir`; the sink's
    * own log makes the landing exactly-once. */
  def toFiles(result: DataFrame, format: String, outDir: String,
              checkpointDir: String): Unit =
    await(fileSink(result, format, outDir), checkpointDir)

  /** [[toFiles]] left running under a `ProcessingTime` trigger; the
    * caller owns the returned query (stop / await). */
  def startFiles(result: DataFrame, format: String, outDir: String,
                 checkpointDir: String, intervalMs: Long): StreamingQuery =
    fileSink(result, format, outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(intervalMs)).start()

  private def fileSink(result: DataFrame, format: String,
                       outDir: String): DataStreamWriter[Row] =
    result.writeStream.format(format).option("path", outDir)

  private def await(w: DataStreamWriter[Row], checkpointDir: String): Unit =
    w.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  // ---- filesystem ----

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Hadoop-FS existence — NOT `java.io.File.exists`, which answers
    * for the driver's local disk only and would wrongly re-seed
    * (overwrite!) an established index on any non-local filesystem
    * (S3A/HDFS) where these gates actually deploy. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    fs(spark, p).exists(p)
  }

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Seed `dir` with an empty `schema` table unless it exists (so the
    * first batch's probe reads cleanly), and return its reader. Reads
    * carry the seed schema: a per-batch read lists the directory but
    * runs no schema-inference job. */
  def seeded(spark: SparkSession, dir: String,
             schema: StructType): () => DataFrame = {
    if (!exists(spark, dir))
      empty(spark, schema).write.mode("overwrite").parquet(dir)
    () => spark.read.schema(schema).parquet(dir)
  }

  // ---- versioned state ----
  //
  // A batch reads the LATEST VERSION BELOW ITS OWN ID and overwrites
  // its own version, so an at-least-once re-execution of batch k
  // (always the youngest, by the foreachBatch retry contract) re-reads
  // the same input state and re-lands the identical version k:
  // idempotent without a transactional sink. Readers take the highest
  // version.

  /** `(batchId, dir)` of every published version, oldest first —
    * ordered by number, so `v=10` follows `v=9`. */
  def versions(spark: SparkSession, stateDir: String): Seq[(Long, String)] = {
    val p = new Path(stateDir)
    val f = fs(spark, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => (st.getPath.getName.drop(2).toLong, st.getPath.toString))
      .sortBy(_._1)
  }

  /** The newest version strictly below `before`, if any. */
  def latestVersion(spark: SparkSession, stateDir: String,
                    before: Long = Long.MaxValue): Option[String] =
    versions(spark, stateDir).filter(_._1 < before).lastOption.map(_._2)

  /** The state batch `batchId` folds into: the latest version strictly
    * below its own id (a RETRIED batch must not read its own
    * half-landed output), or the empty state before the first batch. */
  def prior(spark: SparkSession, stateDir: String, schema: StructType,
            batchId: Long): DataFrame =
    read(spark, latestVersion(spark, stateDir, batchId), schema)

  /** The readers' view: the highest version, or the empty state. */
  def latest(spark: SparkSession, stateDir: String,
             schema: StructType): DataFrame =
    read(spark, latestVersion(spark, stateDir), schema)

  private def read(spark: SparkSession, dir: Option[String],
                   schema: StructType): DataFrame =
    dir.fold(empty(spark, schema))(spark.read.schema(schema).parquet(_))

  /** Land `state` as version `batchId` (overwrite: a retry re-lands the
    * identical version). */
  def publish(state: DataFrame, stateDir: String, batchId: Long): Unit =
    state.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")

  /** One versioned-state step: [[prior]] → `step` → [[publish]] →
    * prune to the newest `retain` versions when set. */
  def fold(spark: SparkSession, stateDir: String, schema: StructType,
           batchId: Long, retain: Option[Int])(
      step: DataFrame => DataFrame): Unit = {
    publish(step(prior(spark, stateDir, schema, batchId)), stateDir, batchId)
    retainVersions(spark, retain, stateDir)
  }

  /** Prune each of `dirs` to the newest `keep` versions, when set —
    * called after the batch's writes commit, so the new version is the
    * newest in each dir and always survives. */
  def retainVersions(spark: SparkSession, keep: Option[Int],
                     dirs: String*): Unit =
    keep.foreach(k => dirs.foreach(pruneVersions(spark, _, k)))

  /** Retention GC for the `v=<batchId>` versioned-state convention —
    * the missing lifecycle step of the out-of-place publish (every
    * batch lands a FULL successor snapshot, so superseded versions
    * accumulate forever without this): keep the newest `keep`
    * versions, delete the rest, return the pruned batch ids.
    *
    * Safety contract: readers read the HIGHEST version, which is never
    * pruned — a concurrent reader can at worst lose a superseded
    * version it would not have picked. The retried-batch repair,
    * however, reads the latest version STRICTLY BELOW the retried id —
    * so `keep` must cover the maximum expected retry lag while the
    * stream is live; `keep = 1` is only safe on a drained stream. */
  def pruneVersions(spark: SparkSession, stateDir: String,
                    keep: Int): Seq[Long] = {
    require(keep >= 1,
      s"pruneVersions: keep must be >= 1 (the newest version is the " +
        s"live state), got $keep")
    val victims = versions(spark, stateDir).reverse.drop(keep)
    victims.foreach { case (_, dir) =>
      val p = new Path(dir)
      fs(spark, p).delete(p, true)
    }
    victims.map(_._1)
  }
}
