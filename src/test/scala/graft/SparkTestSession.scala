package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (sbt forks a single test
  * JVM; session startup is ~5s, so per-suite sessions would dominate
  * the runtime). Built by the production factory; the warehouse dir
  * goes in as a system property, which the session's `SparkConf`
  * reads at build time. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    sys.props("spark.sql.warehouse.dir") =
      sys.props("java.io.tmpdir") + "/graft_test_warehouse"
    GraftSession.local(4, "graft-test", 4)
  }

  /** `check` once under whole-stage codegen and once interpreted
    * (`wholeStage=false`, `factoryMode=NO_CODEGEN`); the flag says
    * which. The session's settings are restored after. */
  def underBothEvaluators(check: Boolean => Unit): Unit = {
    check(true)
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (key, _) => key -> conf.getOption(key) }
    try {
      keys.foreach { case (key, v) => conf.set(key, v) }
      check(false)
    } finally saved.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None) => conf.unset(key)
    }
  }
}
