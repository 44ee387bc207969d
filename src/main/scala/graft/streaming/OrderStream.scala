package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryListener}
import graft.pipeline.OrderPipeline
import graft.schema.OrderSchema

/** Per-customer running totals carried in the state store (the
  * custom-state surface: `flatMapGroupsWithState`). */
case class CustomerState(nOrders: Long, revenue: Double)
case class CustomerTotal(customerId: String, nOrders: Long, revenue: Double)

/** Structured Streaming twin of the batch pipeline (SURVEY.md §2 S2 /
  * §2.10; policy:41-77, readme:22): the reference's
  * "S3 ObjectCreated → EventBridge → process that one file" loop is a
  * file-source stream, and the [[Drain]] skeleton's AvailableNow
  * drain reproduces its run-per-invocation batching. `maxFilesPerTrigger=1` gives the
  * bit-faithful one-file-per-micro-batch unit of work
  * (processor.py:166 reads exactly one object per event).
  *
  * The transform is byte-identical to batch: both call
  * [[OrderPipeline.processOrders]]. Checkpointing upgrades the
  * reference's at-least-once, duplicate-on-retry sink
  * (processor.py:196-203) to exactly-once — a documented divergence
  * in the engine's favor (SURVEY.md §2.10).
  */
object OrderStream {

  /** Incremental JSONL source over a raw/ directory. */
  def readRawStream(spark: SparkSession, rawDir: String,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(OrderSchema.rawOrderWithCorruptType)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(rawDir)

  /** Run the full validate→enrich pipeline over every file currently
    * in `rawDir` and append the 29-field result as JSONL under
    * `outDir`, exactly once per input file across restarts (the
    * checkpoint carries the processed-file log). Blocks until the
    * available data is drained, like one Lambda invocation batch. */
  def runAvailableNow(spark: SparkSession, rawDir: String, outDir: String,
                      checkpointDir: String,
                      maxFilesPerTrigger: Int = 1): Unit = {
    // dropCorrupt first, exactly like the batch path (q35): malformed
    // lines are skipped as unparseable (proc:177-182), not miscounted
    // as invalid ORDERS by the validation gate's observe counters
    val processed = OrderPipeline.processOrders(
      OrderPipeline.dropCorrupt(readRawStream(spark, rawDir, maxFilesPerTrigger)),
      observeName = s"graft_stream_${System.nanoTime()}")
    Drain.toFiles(processed, "json", outDir, checkpointDir)
  }

  /** The streaming half of A6 (processor.py:184-194): the batch path
    * reads the `observe` counters through an `Observation`; in
    * streaming the same metrics arrive once per micro-batch inside
    * progress events. This listener accumulates them per batch — the
    * reference's per-invocation count logging, one micro-batch = one
    * invocation. Long-valued metrics only (the counters); attach with
    * `spark.streams.addListener`, detach when done. Progress events
    * are delivered asynchronously — readers should poll
    * [[batches]]/[[totals]] after the query terminates. */
  final class PipelineMetricsListener(observeName: String)
      extends StreamingQueryListener {
    private val buf = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    def batches: Seq[Map[String, Long]] = synchronized(buf.toList)
    def totals: Map[String, Long] =
      batches.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      if (om.containsKey(observeName)) {
        val row = om.get(observeName)
        val counters = row.schema.fields.zipWithIndex.collect {
          case (f, i) if f.dataType == org.apache.spark.sql.types.LongType &&
            !row.isNullAt(i) => f.name -> row.getLong(i)
        }.toMap
        synchronized { buf += counters }
      }
    }
  }

  /** Streaming dedup within the watermark horizon (SURVEY.md §4.3):
    * re-delivered orders — the reference's at-least-once S3 retry
    * shape — are dropped by order_id across micro-batches.
    * `dropDuplicatesWithinWatermark` keys state by order_id and
    * evicts an id once the watermark passes its event time, so state
    * stays bounded by (arrival rate × horizon) instead of growing
    * with the corpus. Rows later than the watermark are dropped
    * outright, so size `watermarkDelay` to the real redelivery
    * horizon. Null order_ids dedup among themselves — harmless, the
    * validation gate drops them downstream either way. */
  def dedupedOrders(raw: DataFrame, watermarkDelay: String = "14 days"): DataFrame =
    raw
      .withColumn("_event_ts", to_timestamp(col("order_date")))
      .withWatermark("_event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("order_id")
      .drop("_event_ts")

  /** [[runAvailableNow]] with duplicate suppression and the RocksDB
    * state store provider — the large-state configuration (SURVEY.md
    * §4.3): dedup state lives off-heap with incremental checkpoints,
    * which is what keeps a 100 TB-scale id horizon from exhausting
    * executor heaps. The previous provider setting is restored after
    * the drain so batch/other queries on the session are unaffected. */
  def runDedupedAvailableNow(spark: SparkSession, rawDir: String, outDir: String,
                             checkpointDir: String,
                             maxFilesPerTrigger: Int = 1,
                             watermarkDelay: String = "14 days"): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // dropCorrupt BEFORE the watermark/dedup operators, exactly like
      // runAvailableNow (ADVICE r3): malformed JSONL rows carry null
      // order_ids (which would collapse into one dedup state entry)
      // and null event times (silently dropped by the watermark), and
      // would reach the validation gate miscounted as invalid ORDERS
      // instead of skipped unparseable lines
      val deduped = dedupedOrders(
        OrderPipeline.dropCorrupt(readRawStream(spark, rawDir, maxFilesPerTrigger)),
        watermarkDelay)
      val processed = OrderPipeline.processOrders(deduped,
        observeName = s"graft_dedup_${System.nanoTime()}")
      Drain.toFiles(processed, "json", outDir, checkpointDir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Event-time hourly revenue over the order stream — the stateful
    * windowed-aggregation surface (SURVEY.md §2.10: watermark +
    * tumbling window) the reference's flow implies but never builds.
    * Late orders beyond the watermark are dropped instead of landing
    * in a wrong partition (the reference's behavior for late data,
    * processor.py:196-203). */
  def hourlyRevenue(processed: DataFrame): DataFrame =
    processed
      .withColumn("order_ts", to_timestamp(col("order_date")))
      .withWatermark("order_ts", "1 day")
      .groupBy(window(col("order_ts"), "1 hour"), col("customer_city"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("total_amount")).as("revenue"))

  /** Event-time session windows (30-minute inactivity gap) per
    * customer — the streaming-native twin of the batch
    * gaps-and-islands sessionization (q26), via `session_window` +
    * watermark. Works identically over batch and streaming inputs;
    * StreamingSpec drains it through a memory sink and checks it
    * against the batch run. */
  def customerSessions(processed: DataFrame): DataFrame =
    processed
      .withColumn("order_ts", to_timestamp(col("order_date")))
      .withWatermark("order_ts", "1 day")
      .groupBy(session_window(col("order_ts"), "30 minutes"), col("customer_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("total_amount")).as("revenue"))

  /** Custom arbitrary state (SURVEY.md §2.10 "stateful ops"):
    * per-customer cumulative order count and revenue, maintained in
    * the state store across micro-batches with
    * `flatMapGroupsWithState`. Each batch emits the updated totals
    * for the customers it touched — the streaming-native form of a
    * running aggregate the reference's stateless loop cannot express.
    * State is partitioned by customer, so it shards across executors
    * like any keyed state at scale. */
  def customerRunningTotals(processed: DataFrame): Dataset[CustomerTotal] = {
    val spark = processed.sparkSession
    import spark.implicits._
    processed
      .select(col("customer_id"), col("total_amount"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CustomerState, CustomerTotal](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (customerId: String, rows: Iterator[(String, Double)],
         state: GroupState[CustomerState]) =>
          val prev = state.getOption.getOrElse(CustomerState(0L, 0.0))
          var n = prev.nOrders
          var rev = prev.revenue
          rows.foreach { case (_, amount) => n += 1; rev += amount }
          state.update(CustomerState(n, rev))
          Iterator(CustomerTotal(customerId, n, rev))
      }
  }
}
