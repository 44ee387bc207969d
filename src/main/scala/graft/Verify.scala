package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run one registry query and dump it as outDir/name/; a failing
    * query logs and moves on (the driver marks the missing dump, the
    * other queries still get checked). */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String,
                               outDir: String, name: String): Unit =
    try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }

  /** DuckDB inlines a CTE at EVERY reference — deep multi-referenced
    * chains (the BPE learn rounds, the BT trajectory) re-evaluate
    * multiplicatively, which took the byte-BPE oracles past 100 s
    * each and into OOM territory under co-resident JVM heaps.
    * Materializing every CTE at this emit seam is result-identical
    * (A/B-verified over the entire registry at sf0.01: 355/355 equal)
    * and cuts the full gate 265 s → 72 s. SELECT-anchored so named
    * WINDOW specs (`WINDOW w AS (PARTITION …)`) are untouched —
    * window bodies never start with SELECT, CTE bodies here always
    * do. */
  private[graft] def materializeCtes(sql: String): String =
    sql.replaceAll("\\b([a-zA-Z]\\w*) AS \\((\\s*)SELECT\\b",
      "$1 AS MATERIALIZED ($2SELECT")

  /** Write oracle_sql.json for the whole registry. */
  private[graft] def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${jsonEscape(k)}: ${jsonEscape(materializeCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.foreach(dumpQuery(spark, sfDir, outDir, _))
    writeOracleJson(outDir)
    spark.stop()
  }
}
