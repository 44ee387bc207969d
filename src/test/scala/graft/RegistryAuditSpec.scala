package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.CodegenErrorCapture

/** One walk over the whole registry at sf0.001: for every query the
  * DataFrame is built once, its plans are audited before any action,
  * then it is executed with `collect()` under the codegen error
  * counter.
  *
  * Plan census. From the initial physical plan (AQE's wrapper and
  * subquery plans included) each query records its file scans, its
  * shuffle and broadcast exchanges, its `Scan ExistingRDD` reads (the
  * `localCheckpoint` seams), whether it plans a global window, and
  * whether it is a count-pruning phantom. The census is pinned in
  * `src/test/resources/plan-census.tsv`, so a plan that starts
  * re-deriving its source (q228 once scanned it 50×) or loses a
  * materialization seam fails here with a diff naming the query.
  * Jobs fired while a DataFrame is built are NOT in it: memoized
  * artifacts are shared between queries, so those counts depend on
  * the walk order. Regenerate deliberately with GRAFT_REGOLD=1 after
  * an intentional plan change and review the diff like code.
  *
  * A global window is a `WindowExec`/`WindowGroupLimitExec` whose
  * partition spec is empty or all-foldable (a constant partitions
  * nothing): every row funnels through one task. Only q84's
  * stratum-census window may have one; PlanSpec pins that it sits
  * over an aggregate.
  *
  * A phantom is a query whose optimized plan has work nodes (joins,
  * generators, windows, aggregates) but whose `groupBy().count()`
  * keeps none: under `count()` Catalyst prunes the unreferenced
  * columns and with them the whole operator pipeline, so a count()
  * consumer times a bare scan and compiles none of the operator's
  * code. That is why execution here uses `collect()`, the consumer
  * Bench times.
  *
  * Codegen health. Spark makes a codegen compile failure silent by
  * design: Janino rejects the generated `processNext()`,
  * `WholeStageCodegenExec` logs one ERROR and falls back to
  * interpreted eval, and results stay correct but 10–50× slower (the
  * PQ ADC LUT build once did exactly this on every execution of a
  * serving path). Compilation happens lazily at first execution, so
  * the plans must be run, not just built. The per-query count delta
  * names the offender; sbt runs suites sequentially in the one forked
  * test JVM, so deltas cannot cross-talk. */
class RegistryAuditSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val censusFile = Paths.get("src/test/resources/plan-census.tsv")
  private val header =
    "query\tfile_scans\tshuffles\tbroadcasts\texisting_rdd\tglobal_window\tphantom"

  private case class Audit(census: String, globalWindow: Boolean,
                           codegenErrors: Int)

  /** Every node of a physical plan. AdaptiveSparkPlanExec is a leaf,
    * so a plain collect stops at it: recurse into the plan it wraps. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case n => Seq(n)
    }

  private def work(p: LogicalPlan): Int = p.collect {
    case _: Join | _: Generate | _: Window | _: Aggregate => 1
  }.size

  private def flag(b: Boolean): Int = if (b) 1 else 0

  private def audit(df: DataFrame): Audit = {
    val plan = nodes(df.queryExecution.executedPlan)
    val globalWindow = plan.exists {
      case w: WindowExec => w.partitionSpec.forall(_.foldable)
      case w: WindowGroupLimitExec => w.partitionSpec.forall(_.foldable)
      case _ => false
    }
    // count() adds one outer Aggregate of its own
    val phantom = work(df.queryExecution.optimizedPlan) > 0 &&
      work(df.groupBy().count().queryExecution.optimizedPlan) == 1
    val census = Seq(
      plan.count(_.isInstanceOf[FileSourceScanLike]),
      plan.count(_.isInstanceOf[ShuffleExchangeLike]),
      plan.count(_.isInstanceOf[BroadcastExchangeLike]),
      plan.count(_.nodeName == "Scan ExistingRDD"),
      flag(globalWindow),
      flag(phantom)).mkString("\t")
    val (_, errs) = CodegenErrorCapture.measuring(df.collect())
    Audit(census, globalWindow, errs)
  }

  /** The one walk, shared by the tests below; a failure is kept, not
    * retried, so a broken query costs one walk. */
  private lazy val audits: Try[Seq[(String, Audit)]] = Try {
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try name -> audit(fn(spark, sfDir))
      catch { case e: Exception =>
        throw new RuntimeException(s"$name failed during the audit walk", e)
      }
    }
  }

  test("the plan census matches plan-census.tsv") {
    val got = audits.get.map { case (q, a) => q -> a.census }
    if (sys.env.contains("GRAFT_REGOLD")) {
      Files.writeString(censusFile,
        (header +: got.map { case (q, c) => s"$q\t$c" }).mkString("", "\n", "\n"))
      info(s"plan census (re)written: $censusFile — commit it")
    } else {
      // a missing census must FAIL, not silently re-gold (see GoldenPlanSpec)
      assert(Files.exists(censusFile), s"plan census missing: $censusFile — " +
        "run with GRAFT_REGOLD=1 from the repo root, then commit the file")
      val lines = Files.readAllLines(censusFile).asScala.toSeq.filter(_.nonEmpty)
      assert(lines.headOption.contains(header),
        s"unexpected census header: ${lines.headOption}")
      val want = lines.tail.map { l =>
        val Array(q, rest) = l.split("\t", 2)
        q -> rest
      }.toMap
      val have = got.toMap
      def row(r: Option[String]) = r.fold("(absent)")(_.replace('\t', ' '))
      val drift = (want.keySet ++ have.keySet).toSeq.sorted.collect {
        case q if want.get(q) != have.get(q) =>
          s"$q: ${row(want.get(q))} -> ${row(have.get(q))}"
      }
      if (drift.nonEmpty)
        fail(s"plan census drift, expected -> actual over [${header.split("\t")
          .tail.mkString(" ")}]:\n  ${drift.mkString("\n  ")}\nif intentional, " +
          "regenerate with GRAFT_REGOLD=1 and review the diff")
    }
  }

  test("only q84_temperature_mix plans a global window") {
    val global = audits.get.collect { case (q, a) if a.globalWindow => q }
    assert(global.forall(_ == "q84_temperature_mix"),
      s"global (partition-less or constant-partitioned) windows in: $global")
  }

  test("no registered query's execution logs a codegen compile error") {
    val offenders = audits.get.collect {
      case (q, a) if a.codegenErrors > 0 => q -> a.codegenErrors
    }
    assert(offenders.isEmpty,
      s"codegen compile errors (query -> count): ${offenders.toList}; " +
        s"samples: ${CodegenErrorCapture.sampleMessages().mkString(" || ")}")
  }
}
