package perfbench

import java.nio.file.Paths
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds the inputs and the
  * classpath, launches this main once per run and turns the raw result
  * file it writes into metrics.
  *
  * Modes:
  *   run      set up, then time passes of one workload for `--seconds`
  *   record   collect each battery query once and dump it for the oracle
  *   selftest check the fingerprint's own properties
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "run" => run(a)
      case "record" => record(a)
      case "selftest" => SelfTest.main(Array.empty)
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: java.nio.file.Path, v: Any): Unit =
    json.writeValue(path.toFile, v)

  private def session(cores: Int): SparkSession =
    graft.GraftSession.local(cores, "perfbench", shufflePartitions = cores)

  private def workload(a: Map[String, String]): Workload = a("workload") match {
    case "etl_orders" =>
      new EtlOrders(a("scratch"), a("orders").toLong, a("seed").toInt, a("raw-files").toInt)
    case _ => new Battery(a("data"), a("queries").split(',').toSeq)
  }

  private def run(a: Map[String, String]): Unit = {
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val w = workload(a)

    // Set-up from nothing to a session ready for the first pass: timed
    // from the moment run.py launched this JVM, so JVM start, class
    // loading and the first session are in it.
    val spark = session(cores)
    val registerMs = w.register(spark)
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    val setupMs = System.currentTimeMillis() - a("launched-ms").toDouble

    // Closed loop: the first pass, then steady passes until the window
    // is used and at least `steady-passes` of them ran. A traced run
    // traces the first pass, then alternates traced and untraced steady
    // passes; the untraced one runs second, so the overhead it yields
    // errs high, never low.
    val tr = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    val minPasses = if (traced) 3 else 1 + a("steady-passes").toInt
    while (i < minPasses || elapsed < seconds) {
      val tracedPass = traced && (i == 0 || i % 2 == 1)
      if (tracedPass) tr.start()
      val rule0 = if (tracedPass) Counters.graftRuleMs() else 0.0
      val c0 = Counters.snapshot()
      val p0 = System.nanoTime()
      val res = tr.pass(s"pass$i")(w.pass(spark, tr, i))
      val wall = (System.nanoTime() - p0) / 1e6
      val c1 = Counters.snapshot()
      val rule1 = if (tracedPass) Counters.graftRuleMs() else 0.0
      if (tracedPass) tr.stop()
      passes += Map("index" -> i, "traced" -> tracedPass, "wall_ms" -> wall,
        "ops" -> res.ops.map(_.toJson), "extra" -> res.extra,
        "counters" -> Counters.delta(c0, c1), "graft_rule_ms" -> (rule1 - rule0))
      i += 1
    }

    val out = Map(
      "workload" -> a("workload"), "cores" -> cores, "traced" -> traced,
      "setup_ms" -> setupMs, "register_ms" -> registerMs,
      "measured_s" -> elapsed, "passes" -> passes,
      "peak_rss_mb" -> Counters.peakRssMb(),
      "spans" -> tr.all.map(_.toJson))
    spark.stop()
    write(Paths.get(a("out")), out)
  }

  /** Collect every battery query once for its fingerprint and dump it as
    * parquet next to its oracle SQL, for the DuckDB comparison. */
  private def record(a: Map[String, String]): Unit = {
    val spark = session(a("cores").toInt)
    val data = a("data")
    val dumpDir = a("dump")
    graft.sources.Tables.registerAllOnce(spark, data)
    val fps = a("queries").split(',').toSeq.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, data)
      val fp = Fingerprint.of(df.schema, df.collect().toSeq)
      graft.SparkEntry.queries(q)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$q")
      q -> fp.toJson
    }.toMap
    // DuckDB re-evaluates a CTE at every reference; materializing each
    // one keeps the deep oracle chains tractable and changes no result.
    val oracle = graft.SparkEntry.oracleSql.filter(kv => fps.contains(kv._1)).map {
      case (k, v) => k -> v.replaceAll("\\b([a-zA-Z]\\w*) AS \\((\\s*)SELECT\\b",
        "$1 AS MATERIALIZED ($2SELECT")
    }
    write(Paths.get(dumpDir, "oracle_sql.json"), oracle)
    write(Paths.get(a("out")), fps)
    spark.stop()
  }
}
