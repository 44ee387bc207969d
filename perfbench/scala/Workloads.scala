package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.generate.SyntheticOrderSource
import graft.pipeline.OrderPipeline
import graft.sources.Tables
import graft.streaming.OrderStream

/** What one operation produced: its wall time, the error that stopped
  * it, if any, and the values `run.py` checks. */
final case class OpResult(name: String, wallMs: Double, error: Option[String],
                          check: Map[String, Any]) {
  def toJson: Map[String, Any] =
    Map("name" -> name, "wall_ms" -> wallMs, "error" -> error, "check" -> check)
}

trait Workload {
  /** Set-up that belongs to the workload (table registration); returns
    * its duration in ms. Runs once per fresh session. */
  def register(spark: SparkSession): Double
  /** One closed-loop pass: each operation starts after the previous one ends. */
  def pass(spark: SparkSession, tr: Tracer, index: Int): PassResult
}

final case class PassResult(ops: Seq[OpResult], extra: Map[String, Any] = Map.empty)

object Workload {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def dirStats(p: Path, suffix: String): (Double, Int) = {
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).toSeq
    (files.map(Files.size).sum / 1048576.0, files.size)
  }

  def message(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).linesIterator.take(3).mkString(" | ")
}

/** A battery of registry queries over one table directory. Each query
  * is built fresh on every pass through `SparkEntry.queries` and
  * consumed with `collect()`, which keeps every output column live. */
final class Battery(dataDir: String, queries: Seq[String]) extends Workload {

  def register(spark: SparkSession): Double =
    Workload.timed(Tables.registerAllOnce(spark, dataDir))

  def pass(spark: SparkSession, tr: Tracer, index: Int): PassResult =
    PassResult(queries.map { q =>
      val t0 = System.nanoTime()
      try {
        val ((rows, df), wall) = tr.op(q) {
          val df = tr.layer("queries.construct")(SparkEntry.queries(q)(spark, dataDir))
          tr.layer("catalyst.plan")(df.queryExecution.executedPlan)
          tr.phases(df)
          (tr.layer("exec.collect")(df.collect()), df)
        }
        OpResult(q, wall, None, Fingerprint.of(df.schema, rows.toSeq).toJson)
      } catch {
        case e: Exception =>
          OpResult(q, (System.nanoTime() - t0) / 1e6, Some(Workload.message(e)), Map.empty)
      }
    })
}

/** Observed metrics of every finished batch action, by observation name. */
final class ObservedMetrics extends QueryExecutionListener {
  private val seen = mutable.HashMap.empty[String, Row]
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qe.observedMetrics.foreach { case (k, v) => seen(k) = v } }
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def get(name: String): Option[Row] = synchronized(seen.get(name))
}

/** Per-micro-batch progress of every streaming query. */
final class StreamProgress extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[(Map[String, Long], Map[String, Row])]
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    buf += ((e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      e.progress.observedMetrics.asScala.toMap))
  }
  def take(): Seq[(Map[String, Long], Map[String, Row])] = synchronized {
    val out = buf.toList; buf.clear(); out
  }
}

/** The reference flow as one path: generate → corrupt → hive-partitioned
  * raw JSONL → PERMISSIVE read → validate/enrich → partitioned JSONL
  * sink → readback with an Athena-style rollup, then the Structured
  * Streaming twin over the same raw files, one file per micro-batch. */
final class EtlOrders(scratch: String, n: Long, seed: Int, rawFiles: Int) extends Workload {
  private var observed: ObservedMetrics = _
  private var progress: StreamProgress = _

  def register(spark: SparkSession): Double = {
    observed = new ObservedMetrics
    progress = new StreamProgress
    spark.listenerManager.register(observed)
    spark.streams.addListener(progress)
    0.0
  }

  private val Rollup =
    """SELECT customer_segment, order_value_class, count(*) AS n_orders,
      |  CAST(round(sum(CAST(total_amount AS DECIMAL(14,2))), 2) AS DOUBLE) AS revenue
      |FROM perfbench_processed
      |GROUP BY customer_segment, order_value_class""".stripMargin

  private def fields(r: Option[Row]): Map[String, Any] = r.map { row =>
    row.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap
  }.getOrElse(Map.empty)

  def pass(spark: SparkSession, tr: Tracer, index: Int): PassResult = {
    val root = Paths.get(scratch, "etl")
    Workload.deleteRec(root)
    val rawDir = root.resolve("raw").toString
    val procDir = root.resolve("processed").toString
    val streamOut = root.resolve("stream_out").toString
    val ckpt = root.resolve("stream_ckpt").toString
    val batchObs = s"perfbench_batch_$index"
    val corruptObs = s"perfbench_corrupt_$index"
    val ops = mutable.ArrayBuffer.empty[OpResult]

    def step(name: String)(body: => Map[String, Any]): Boolean = {
      val t0 = System.nanoTime()
      try {
        val (check, wall) = tr.op(name)(body)
        ops += OpResult(name, wall, None, check)
        true
      } catch {
        case e: Exception =>
          ops += OpResult(name, (System.nanoTime() - t0) / 1e6, Some(Workload.message(e)), Map.empty)
          false
      }
    }

    step("generate") {
      val raw = tr.layer("generate.build") {
        SyntheticOrderSource.corrupt(SyntheticOrderSource.orders(spark, n, seed), seed)
      }
      val ts = to_timestamp(col("order_date"))
      tr.layer("generate.sink") {
        raw.drop("gid").repartition(rawFiles)
          .withColumn("year", date_format(ts, "yyyy"))
          .withColumn("month", date_format(ts, "MM"))
          .write.mode("overwrite").partitionBy("year", "month").json(rawDir)
        // malformed and blank lines, which the PERMISSIVE read must drop
        val leaf = Files.walk(Paths.get(rawDir)).iterator().asScala
          .find(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("month=")).get
        Files.writeString(leaf.resolve("zz_malformed.json"),
          "{\"order_id\": broken\n\n   \n{also not json}\n")
      }
      if (tr.enabled) {
        val (mb, files) = Workload.dirStats(Paths.get(rawDir), ".json")
        tr.note("orders", n.toDouble); tr.note("raw_mb", mb); tr.note("raw_files", files.toDouble)
      }
      Map.empty
    } && step("process") {
      val read = tr.layer("pipeline.read") {
        OrderPipeline.readRawJsonl(spark, rawDir)
          .observe(corruptObs, count(when(col("_corrupt_record").isNotNull, 1)).as("corrupt_rows"))
      }
      val processed = tr.layer("pipeline.process") {
        OrderPipeline.processOrders(
          OrderPipeline.dropCorrupt(read).drop("year", "month"), batchObs)
      }
      tr.layer("pipeline.sink") {
        OrderPipeline.writePartitionedJsonl(processed, procDir, byEventTime = true)
      }
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val obs = fields(observed.get(batchObs))
      val corrupt = fields(observed.get(corruptObs))
      if (tr.enabled) {
        val (mb, files) = Workload.dirStats(Paths.get(procDir), ".json")
        tr.note("sink_mb", mb); tr.note("sink_files", files.toDouble)
        corrupt.get("corrupt_rows").foreach(v => tr.note("corrupt_rows", v.toString.toDouble))
      }
      Map("observed" -> obs, "corrupt_rows" -> corrupt.get("corrupt_rows"))
    } && step("readback") {
      val rows = tr.layer("pipeline.readback") {
        OrderPipeline.readProcessedJsonl(spark, procDir).createOrReplaceTempView("perfbench_processed")
        val df = spark.sql(Rollup)
        df.queryExecution.executedPlan
        tr.phases(df)
        df.collect()
      }
      Map("rows" -> rows.map(_.getLong(2)).sum,
        "revenue" -> rows.map(_.getDouble(3)).sum, "groups" -> rows.length)
    } && step("stream") {
      progress.take()
      tr.layer("streaming.run") {
        OrderStream.runAvailableNow(spark, rawDir, streamOut, ckpt, maxFilesPerTrigger = 1)
      }
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val batches = progress.take()
      val totals = batches.flatMap(_._2.collect {
        case (k, row) if k.startsWith("graft_stream_") => fields(Some(row))
      }).flatten.collect { case (k, v) if v != null => k -> v.toString.toDouble }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (tr.enabled) {
        tr.note("batches", batches.size.toDouble)
        Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
          "walCommit" -> "wal_commit_ms", "getBatch" -> "get_batch_ms").foreach {
          case (k, attr) => tr.note(attr, batches.map(_._1.getOrElse(k, 0L)).sum.toDouble)
        }
      }
      Map("observed" -> totals,
        "batch_ms" -> batches.map(_._1.getOrElse("triggerExecution", 0L)))
    } && step("stream_readback") {
      val r = tr.layer("streaming.readback") {
        spark.read.json(streamOut)
          .agg(count(lit(1)), sum(col("total_amount").cast(DecimalType(14, 2))).cast(DoubleType))
          .collect().head
      }
      Map("rows" -> r.getLong(0), "revenue" -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
    }
    PassResult(ops.toSeq, Map("n" -> n))
  }
}
