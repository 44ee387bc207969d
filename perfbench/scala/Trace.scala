package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One traced interval. `op` is the id shared by every span of one
  * operation; times are epoch milliseconds with sub-millisecond digits. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
                 val start: Double) {
  var end: Double = start
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "op" -> op, "name" -> name, "start" -> start, "end" -> end, "attrs" -> attrs)
}

/** Process-wide counters read at span boundaries. */
object Counters {
  private val fallbacks = new AtomicLong

  private val CodegenLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  /** Count the warnings and errors Spark logs when generated code fails
    * to compile and a plan falls back to interpreted evaluation. */
  lazy val installFallbackCounter: Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen-fallbacks", null, null,
      true, Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            CodegenLoggers.exists(e.getLoggerName.startsWith)) fallbacks.incrementAndGet()
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  def snapshot(): Map[String, Double] = {
    val rules = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "codegen_ms" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e6,
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_fallbacks" -> fallbacks.get.toDouble,
      "rule_ms" -> rules.time / 1e6,
      "rule_runs" -> rules.numRuns.toDouble,
      "rule_effective_runs" -> rules.numEffectiveRuns.toDouble,
      "gc_ms" -> gc.toDouble,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Milliseconds spent in the engine's own optimizer rules (classes
    * under `graft.`), parsed from Catalyst's cumulative rule report. */
  def graftRuleMs(): Double = {
    val Line = """\s*(graft\.\S+)\s+(\d+)\s*/\s*(\d+)\s+.*""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .linesIterator.collect { case Line(_, _, total) => total.toLong / 1e6 }.sum
  }

  /** Peak resident set size of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Per-job executor statistics, folded from task-end events. */
final class JobRecord(val tag: String, val start: Double) {
  var end: Double = start
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L

  def attrs: Seq[(String, Double)] = Seq(
    "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_ms" -> runMs.toDouble, "task_cpu_ms" -> cpuNs / 1e6,
    "task_gc_ms" -> gcMs.toDouble, "sched_wait_ms" -> schedMs.toDouble,
    "shuffle_write_mb" -> shuffleWrite / 1048576.0, "spill_mb" -> spill / 1048576.0,
    "input_mb" -> input / 1048576.0)
}

/** Collects job, stage and task events; jobs carry the id of the span
  * that started them in a local property. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    jobs(e.jobId) = new JobRecord(tag, e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
    }
  }

  def drain(): Seq[JobRecord] = synchronized {
    val out = jobs.values.toList
    jobs.clear(); stageJob.clear()
    out
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spans at workload → operation → layer call, with Spark jobs as
  * children of the layer call that started them. When `enabled` is
  * false every call just runs its body: the untraced passes time
  * operations and nothing else. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private val listener = new JobListener
  var enabled = false

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def start(): Unit = {
    enabled = true
    Counters.installFallbackCounter
    sc.addSparkListener(listener)
  }

  def stop(): Unit = {
    fold()
    sc.removeSparkListener(listener)
    enabled = false
  }

  def all: Seq[Span] = spans.toSeq

  private def open(name: String, op: Int): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name, nowMs)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.end = nowMs
    stack = stack.tail
  }

  /** Workload-level span around one pass. */
  def pass[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, -1)
      try body finally { close(s); fold() }
    }

  /** One operation; returns its result and its wall time in ms. Seam
    * storage is read after it ends. */
  def op[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } else {
      val id = nextOp; nextOp += 1
      val s = open(name, id)
      val r = try body finally close(s)
      val wall = (System.nanoTime() - t0) / 1e6
      val infos = sc.getRDDStorageInfo
      s.attrs("persisted_rdds") = infos.length.toDouble
      s.attrs("mem_mb") = infos.map(_.memSize).sum / 1048576.0
      s.attrs("disk_mb") = infos.map(_.diskSize).sum / 1048576.0
      (r, wall)
    }
  }

  /** One call into a layer of the engine, tagged so its jobs can be
    * attributed, with counter deltas recorded as attributes. */
  def layer[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, stack.head.op)
      val prevTag = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      sc.setJobGroup(s"perfbench-${s.op}-${s.id}", name)
      val c0 = Counters.snapshot()
      try body
      finally {
        Counters.delta(c0, Counters.snapshot()).foreach { case (k, v) => s.attrs(k) = v }
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.SpanKey, prevTag)
        close(s)
      }
    }

  /** Record a counter on the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  /** Catalyst's analysis/optimization/planning phases of `df`, as child
    * spans of whichever span of the current operation they fell in. */
  def phases(df: DataFrame): Unit =
    if (enabled) {
      val op = stack.head.op
      df.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs).foreach {
        case (phase, p) =>
          val parent = spans.filter(s => s.op == op && !s.name.startsWith("catalyst.") &&
              s.start <= p.startTimeMs + 0.5 && p.startTimeMs <= s.end + 0.5)
            .lastOption.getOrElse(stack.head)
          val c = new Span(spans.size, parent.id, op, s"catalyst.$phase",
            p.startTimeMs.toDouble)
          c.end = p.endTimeMs.toDouble
          spans += c
      }
    }

  /** Turn the jobs seen since the last fold into child spans. */
  private def fold(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    listener.drain().foreach { j =>
      val byTag = Option(j.tag).flatMap(_.toIntOption).filter(_ < spans.size).map(spans(_))
      val parent = byTag.getOrElse(
        spans.filter(s => s.op >= 0 && s.start <= j.start && j.start <= s.end)
          .lastOption.orNull)
      if (parent != null) {
        val s = new Span(spans.size, parent.id, parent.op, "exec.job", j.start)
        s.end = j.end max j.start
        j.attrs.foreach { case (k, v) => s.attrs(k) = v }
        spans += s
      }
    }
  }
}
