package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for correctness parity (UTC, ANSI off) and scale-readiness
  * (AQE on — runtime coalescing of shuffle partitions, skew-join
  * splitting, and dynamic broadcast-join demotion are exactly the
  * knobs that keep a 1000-executor plan healthy without per-query
  * hand-tuning).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            app: String = "graft",
            shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
