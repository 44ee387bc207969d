package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming materialized-view maintenance — the foreachBatch loop
  * around [[graft.operators.ViewMaintenance.maintainAggViewCdc]]:
  * a before-image changelog stream (the Debezium shape) keeps a
  * per-group (count, sum) view current WITHOUT ever touching the
  * fact table — the view is the only state, and each batch's work is
  * changelog-sized.
  *
  * State is published as immutable `v=<batchId>` versions under the
  * [[Drain]] versioned-state convention: a retried batch re-reads the
  * version below its own id and re-lands the identical version, and
  * readers take the highest version.
  */
object ViewIngest {

  val changelogSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("grp", StringType),
    StructField("val", LongType),
    StructField("old_grp", StringType),
    StructField("old_val", LongType)))

  /** [[Drain.pruneVersions]] — the retention GC for this view's
    * `v=<batchId>` state (and every other versioned gate's). */
  def pruneVersions(spark: SparkSession, stateDir: String,
                    keep: Int): Seq[Long] =
    Drain.pruneVersions(spark, stateDir, keep)

  private val stateSchema = StructType(Seq(StructField("grp", StringType),
    StructField("cnt", LongType), StructField("total", LongType)))

  /** Current view = the highest published version (empty before the
    * first batch lands). */
  def readAggView(spark: SparkSession, stateDir: String): DataFrame =
    Drain.latest(spark, stateDir, stateSchema)

  /** `retainVersions` (r16): prune superseded `v=` versions to the
    * newest k after each batch's write commits — see
    * [[pruneVersions]]'s safety contract (k must cover the retry
    * lag while the stream is live). */
  def runAggViewIngest(spark: SparkSession, rawDir: String,
                       stateDir: String, checkpointDir: String,
                       maxFilesPerTrigger: Int = 1,
                       retainVersions: Option[Int] = None): Unit =
    Drain.foreachBatch(Drain.json(spark, rawDir, changelogSchema,
        maxFilesPerTrigger), checkpointDir) { (batch, batchId) =>
      Drain.fold(spark, stateDir, stateSchema, batchId, retainVersions)(
        graft.operators.ViewMaintenance
          .maintainAggViewCdc(_, batch, "grp", "val"))
    }
}
