package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Seam
import graft.operators.Seam.Pins

/** The materialisation seam: a pin is one `LogicalRDD` over persisted
  * blocks, `release` frees exactly the pin it is handed, and the
  * persist bracket uncaches on every exit. */
class SeamSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def sc = spark.sparkContext
  private def rddId(pinned: DataFrame): Int =
    pinned.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
  private def registered(pinned: DataFrame): Boolean =
    sc.getPersistentRDDs.contains(rddId(pinned))

  test("release frees exactly the pin it is handed; a frame that is no pin frees nothing") {
    val a = spark.range(0, 100).toDF("id").pin()
    val b = spark.range(0, 50).toDF("id").pin()
    assert(registered(a) && registered(b))
    Seam.release(a)
    assert(!registered(a), "the released pin is still registered")
    assert(registered(b), "releasing one pin freed another")
    assert(b.as[Long].collect().sorted.toSeq == (0L until 50L))
    // neither a scan nor a projection over a pin is a pin
    Seam.release(spark.range(10).toDF("id"))
    Seam.release(b.select(($"id" + 1).as("id")))
    assert(registered(b), "releasing a frame that is no pin freed a pin")
    assert(b.count() == 50)
    Seam.release(b)
  }

  test("pinReplacing lands the next round, then frees the round it supersedes") {
    val r1 = spark.range(0, 30).toDF("id").pin()
    val r2 = r1.select(($"id" * 2).as("id")).pinReplacing(r1)
    assert(!registered(r1) && registered(r2))
    assert(r2.as[Long].collect().sorted.toSeq == (0L until 30L).map(_ * 2))
    Seam.release(r2)
  }

  test("a lazy pin is registered at once, fills on its first action, and releases like an eager one") {
    val l = spark.range(0, 10).toDF("id").pinLazy()
    assert(registered(l))
    assert(l.as[Long].collect().sorted.toSeq == (0L until 10L))
    Seam.release(l)
    assert(!registered(l))
  }

  test("persisted caches the frame while its scope runs and uncaches it after, also on a throw") {
    val df = spark.range(0, 20).toDF("id")
    val n = Seam.persisted(df) { d =>
      assert(d.storageLevel != StorageLevel.NONE)
      d.count()
    }
    assert(n == 20)
    assert(df.storageLevel == StorageLevel.NONE)
    intercept[IllegalStateException] {
      Seam.persisted(df) { _ => throw new IllegalStateException("scope failed") }
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }
}

object SeamSpec {

  /** `body`'s result and how many RDDs it persisted that are still
    * registered when it returns. The registry holds its RDDs weakly,
    * so a pin nothing references leaves it at the next GC, released
    * or not; a watcher holds every RDD registered while `body` runs,
    * so only a release takes one out before it is counted. Only ids
    * new to the registry count. */
  def pinsLeftBy[T](body: => T): (T, Int) = {
    val sc = SparkTestSession.spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() =>
      while (running.get()) {
        sc.getPersistentRDDs.values.foreach(held.add)
        Thread.sleep(1)
      })
    watcher.setDaemon(true)
    watcher.start()
    val out = try body finally { running.set(false); watcher.join() }
    val left = (sc.getPersistentRDDs.keySet -- before).size
    held.clear()
    (out, left)
  }
}
