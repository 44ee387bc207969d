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
}
