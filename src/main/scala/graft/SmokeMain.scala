package graft

/** Entry smoke: `SparkEntry.entry` must return rows. Prints
  * `ENTRY_ROWS=<n>` and the frame, and exits 1 when it is empty.
  * Usage: `runMain graft.SmokeMain`. */
object SmokeMain {
  def main(a: Array[String]): Unit = {
    val s = GraftSession.local(8)
    val df = SparkEntry.entry(s)
    val n = df.count()
    println("ENTRY_ROWS=" + n)
    df.show(false)
    s.stop()
    if (n == 0) sys.exit(1)
  }
}
