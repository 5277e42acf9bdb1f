package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own listeners. They only record raw events with their
  * wall-clock timestamps (ms); attribution to calls happens after the
  * session has stopped, when the listener bus has drained. Calls run one
  * at a time, so an event belongs to the call whose window holds its
  * timestamp.
  *
  * With `dropEvents` the listener loses every third job end and SQL
  * execution end on purpose: the self-test uses it to show that the
  * per-call reconciliation (Layers) catches lost events. */
final class Trace(spark: SparkSession, dropEvents: Boolean = false) {
  import Trace._

  val jobs    = new ConcurrentLinkedQueue[JobRec]()
  val stages  = new ConcurrentLinkedQueue[StageRec]()
  val tasks   = new ConcurrentLinkedQueue[TaskRec]()
  val aqe     = new ConcurrentLinkedQueue[java.lang.Long]()
  val plans   = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  val sqls    = new ConcurrentLinkedQueue[SqlRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private def lost(id: Long): Boolean = dropEvents && id % 3 == 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.put(e.jobId, (e.time, group.getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, group) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, ""))
      if (!lost(e.jobId)) jobs.add(JobRec(e.jobId, group, t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.executorDeserializeTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => aqe.add(System.currentTimeMillis())
      case x: SparkListenerSQLExecutionStart => sqlStarts.put(x.executionId, x.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(x.executionId)).foreach { t0 =>
          if (!lost(x.executionId)) sqls.add(SqlRec(t0.longValue, x.time))
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(planRec(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      plans.add(planRec(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.id.toString,
        p.batchDuration, d("addBatch"), d("queryPlanning"), d("walCommit"),
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener bus has delivered what is queued (no new
    * event for 200 ms, at most 5 s): a listener removed earlier would
    * miss the last call's events. */
  def settle(): Unit = {
    def seen = jobs.size + stages.size + tasks.size + aqe.size + plans.size + batches.size +
      sqls.size
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    while (seen != last && System.nanoTime() < deadline) { last = seen; Thread.sleep(200) }
  }

  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** `group` is the job group the job ran under ("" for none). */
  final case class JobRec(id: Int, group: String, start: Long, end: Long)
  /** One SQL execution (an action on a Dataset), start to end. */
  final case class SqlRec(start: Long, end: Long)
  final case class StageRec(start: Long, end: Long)
  final case class TaskRec(start: Long, end: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      deserMs: Long, peakMem: Long, shWrite: Long, shRead: Long, shRecords: Long,
      spillMem: Long, spillDisk: Long, inputBytes: Long)
  /** One QueryExecution: its planning-tracker phases and the operator
    * counts of its final (post-AQE) physical plan. */
  final case class PlanRec(phases: Map[String, (Long, Long)], counts: Map[String, Int]) {
    /** Wall-clock anchor of the execution: the end of its last phase. */
    def at: Long = if (phases.isEmpty) 0L else phases.values.map(_._2).max
  }
  final case class BatchRec(at: Long, query: String, durMs: Long, addBatchMs: Long,
      planningMs: Long, walMs: Long, inputRows: Long, stateRows: Long, stateMem: Long)

  val PlanKinds: Seq[String] = Seq("exchanges", "hash_aggs", "object_hash_aggs",
    "sort_aggs", "windows", "sorts", "broadcasts")

  private def planRec(qe: QueryExecution): PlanRec = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val counts = mutable.Map[String, Int]().withDefaultValue(0)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def kind(p: SparkPlan): Option[String] = p.getClass.getSimpleName match {
      case "ShuffleExchangeExec"     => Some("exchanges")
      case "BroadcastExchangeExec"   => Some("broadcasts")
      case "HashAggregateExec"       => Some("hash_aggs")
      case "ObjectHashAggregateExec" => Some("object_hash_aggs")
      case "SortAggregateExec"       => Some("sort_aggs")
      case "WindowExec"              => Some("windows")
      case "SortExec"                => Some("sorts")
      case _                         => None
    }
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      kind(p).foreach(k => counts(k) += 1)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    PlanRec(phases, counts.toMap)
  }

  /** Total length of the union of the intervals, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    xs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
