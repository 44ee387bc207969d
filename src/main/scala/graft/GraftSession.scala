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

  /** Entries in Catalyst's generated-class cache (Spark's default is
    * 100). The cache is keyed by (class loader, generated code), so a
    * plan built again compiles nothing only while its classes are
    * still cached — and q295 alone generates more than 100 distinct
    * classes, so at the default every battery pass evicted and
    * recompiled nearly all of them. The largest benchmark workload's
    * first pass generates about 310; this holds over 3× that. The
    * cache is static to the JVM and sized when it is first used, so
    * this takes effect only in the first session a JVM builds. */
  val CodegenCacheEntries = 1024

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the whole-stage class name carries the stage id by default, and
      // AQE numbers stages in the order they are created, which follows
      // the order concurrent stages finish: the same pipeline then
      // compiles again under a new name (q295 recompiled 2–12 classes a
      // run). Without the id, identical pipelines share one class.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
