package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place an intermediate frame is materialised. DataFrame
  * plans are lazy, so an iterative loop's lineage grows every round
  * until something cuts it, and a subtree with several consumers is
  * re-derived once per consumer; a pin cuts the frame the way a stage
  * lands as its own prefix: `df.pin()` (eager — the blocks are
  * written now) or `df.pinLazy()` (on the frame's first action). A
  * pinned frame's plan is one `LogicalRDD` over the pinned blocks.
  *
  * Executor-loss contract, stated once for every pin:
  *  - a pin lives in executor storage only and is lost with its
  *    executor; its lineage is cut, so a consumer that needs lost
  *    blocks fails instead of recomputing them;
  *  - this module is where a reliable checkpoint (`checkpoint` into a
  *    checkpoint directory) would go for a run that must survive
  *    executor loss;
  *  - only an eager pin may be [[release]]d before its consumers run:
  *    a lazy pin has no blocks until its first action.
  *
  * A pin's blocks otherwise stay until a driver GC lets the context
  * cleaner collect the frame, so a loop pins each round with
  * `pinReplacing`, which releases the round it supersedes once the
  * new pin has materialised. */
object Seam {

  implicit final class Pins(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = df.localCheckpoint(true)
    def pinLazy(): DataFrame = df.localCheckpoint(false)
    /** Pin eagerly, then release `superseded`: a loop's next round
      * lands before the round it replaces is freed. */
    def pinReplacing(superseded: DataFrame): DataFrame = {
      val pinned = pin()
      release(superseded)
      pinned
    }
  }

  /** Free the blocks behind a frame a pin returned, and nothing else:
    * the RDD its `LogicalRDD` plan holds, if that RDD is persisted.
    * Any other frame (a scan, a projection over a pin) frees nothing. */
  def release(pinned: DataFrame): Unit = pinned.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.sparkContext.getPersistentRDDs.get(r.rdd.id)
        .foreach(_.unpersist(blocking = false))
    case _ =>
  }

  /** `df` cached while `use` runs — for a frame with more than one
    * consumer inside one bounded scope — and uncached after. */
  def persisted[T](df: DataFrame)(use: DataFrame => T): T = {
    df.persist()
    try use(df) finally { df.unpersist(); () }
  }
}
