package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Agg, GroupByReduce, GroupByScan}

/** The arg-select and running-scan kernels compile: in a session with
  * `spark.sql.codegen.fallback=false` a generated-code compile error
  * fails the query instead of silently running interpreted code. Covers
  * several kernels in one whole-stage-codegen stage (their generated
  * names must not collide) and each scan entry point as the first call of
  * a fresh session (the entry point registers the kernel functions). */
class KernelCodegenSpec extends AnyFunSuite {

  /** A fresh session on the shared context: its own conf and an empty
    * temporary-function registry. */
  private def strictSession(): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }

  private def events(s: SparkSession): DataFrame =
    s.range(0, 4000, 1, 3).select(
      (col("id") % 7).as("k"),
      col("id").as("pos"),
      when(col("id") % 5 === 0, lit(null)).when(col("id") % 11 === 0, lit(Double.NaN))
        .otherwise((col("id") % 13).cast("double") - 6.0).as("v"),
      (col("id") % 17).cast("decimal(18,2)").as("d"),
      (col("id") % 3).cast("string").as("s"))

  private def ops(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
    case q: QueryStageExec => ops(q.plan)
    case _ => p.children.flatMap(ops)
  })

  /** Collects `df`, then returns the whole-stage-codegen stages that
    * evaluate `fn`. */
  private def stagesWith(df: DataFrame, fn: String): Seq[WholeStageCodegenExec] = {
    df.collect()
    ops(df.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec if w.child.toString.contains(fn) => w
    }
  }

  /** Per-key totals of `out` over a scan result: the consumer reads the
    * scan's column, so the optimizer cannot prune the kernel away. */
  private def fingerprint(scanned: DataFrame, out: String): DataFrame =
    scanned.groupBy("k").agg(count(col(out)), sum(col(out).cast("double")))

  test("scan is the first call of a fresh session") {
    val s = strictSession()
    val out = GroupByScan.scan(events(s), "d", Seq("k"), "cumsum", Seq(col("pos")), "cs",
      exactScale = Some(2))
    assert(stagesWith(fingerprint(out, "cs"), "graft_running").nonEmpty)
  }

  test("scanChunked is the first call of a fresh session") {
    val s = strictSession()
    val out = GroupByScan.scanChunked(events(s), "d", Seq("k"), "cumsum", Seq(col("pos")),
      floor(col("pos") / 500), "cs", exactScale = Some(2))
    assert(stagesWith(fingerprint(out, "cs"), "graft_running").nonEmpty)
  }

  test("two scans over the same keys, and a two-step scan, share one codegen stage") {
    val s = strictSession()
    val once = GroupByScan.scan(events(s), "v", Seq("k"), "cummin", Seq(col("pos")), "m")
    val twice = GroupByScan.scan(once, "s", Seq("k"), "ffill", Seq(col("pos")), "f")
    val limited = GroupByScan.scan(twice, "v", Seq("k"), "bfill", Seq(col("pos")), "b", limit = 2)
    val stages = stagesWith(limited, "graft_running")
    // cummin on doubles is two running steps (NaN seen, min) in one stage
    assert(stages.exists(w => "graft_running".r.findAllMatchIn(w.child.toString).size >= 2))
    assert(limited.collect().length == 4000)
  }

  test("argmax, first and mode in one reduce compile") {
    val s = strictSession()
    val out = GroupByReduce.reduce(events(s), Seq("k"),
      Seq(Agg("argmax", "v", "am"), Agg("first", "d", "f"), Agg("mode", "v", "mo"),
        Agg("nanlast", "v", "nl")),
      pos = Some(col("pos")), sort = false)
    assert(stagesWith(out, "graft_argselect").nonEmpty)
    assert(out.collect().length == 7)
  }
}
