package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A plan built again must not compile again. Catalyst caches the
  * classes it generates by (class loader, code), so a second build of
  * the same query hits the cache unless the cache is too small to hold
  * the query's classes or the query runs its jobs under a session made
  * for that one call. q295 generates more classes than Spark's
  * default cache of 100 holds, and q197's `clusterReps` fixpoint once
  * ran every round in a fresh child session; both recompiled every
  * class on every run. The first run below may compile (and
  * materializes the queries' memoized artifacts); the second must
  * find every class in the cache. q346's Bradley–Terry rounds once
  * planned differently from build to build (join sides swapped, a
  * checkpointed column's nullability changed) and compiled again on
  * later builds. */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runAll(queries: Seq[String]): Long = {
    val c0 = compiles
    queries.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    compiles - c0
  }

  test("a second build and collect of q197 and q295 compiles no class") {
    val queries = Seq("q197_entity_groups", "q295_cleaning_recipe_v2")
    runAll(queries)
    val again = runAll(queries)
    assert(again == 0,
      s"the second run of ${queries.mkString(", ")} compiled $again classes")
  }

  test("a second build and collect of q346 compiles at most its pairs join's other variant") {
    // q346's preference-pairs join broadcasts whichever of its two
    // inputs AQE sees finish first, so a build may plan that join with
    // the other side broadcast; the variant's first build compiles its
    // one stage, a driver and an executor copy of the class. The duel
    // census and the board must add nothing on a second build.
    runAll(Seq("q346_bradley_terry"))
    val again = runAll(Seq("q346_bradley_terry"))
    assert(again <= 2, s"the second run of q346_bradley_terry compiled $again classes")
  }
}
