package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one cache lifecycle of the operator library. An operator [[hold]]s
  * each intermediate its plan reads more than once; a caller that wants
  * those entries back wraps the consuming action in [[releasing]], which
  * unpersists everything held inside it when the body returns or throws —
  * the way a task scheduler frees a chunk's result once its consumers
  * finish. Outside any scope a held frame stays in the session cache, where
  * Spark's CacheManager dedupes identical plans across repeated calls.
  *
  * Scopes are per thread and nest: a frame belongs to the innermost open
  * scope of the thread that held it. The stack is a plain ThreadLocal, not
  * an inheritable one, so the pool threads Spark creates during an action
  * never see the caller's scope. */
object CacheScope {

  private val scopes = ThreadLocal.withInitial[List[collection.mutable.Buffer[DataFrame]]](() => Nil)

  /** Persist `df` at MEMORY_AND_DISK; inside a [[releasing]] scope, the
    * scope unpersists it on exit. */
  def hold(df: DataFrame): DataFrame = {
    val held = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get.headOption.foreach(_ += held)
    held
  }

  /** Run `body`, then unpersist (non-blocking) every frame held inside it
    * on this thread — including frames held by nested operator calls,
    * except those a nested scope already released. Spark keys cache
    * entries by plan, so a frame whose plan was already cached before the
    * scope held it loses that shared entry too (`Dataset.unpersist`
    * semantics). */
  def releasing[T](body: => T): T = {
    val mine = collection.mutable.Buffer.empty[DataFrame]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** Drop a DEAD localCheckpoint's blocks: a checkpointed frame pins
    * block-manager memory until its RDD is garbage-collected, so a
    * long-running stream would accumulate every batch's dead
    * intermediates. Call it only on frames no live handle references.
    * Throws IllegalStateException, naming the plan node, when `df` is not
    * a checkpointed frame (its analyzed plan is not a LogicalRDD) — the
    * call would otherwise free nothing. */
  def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case other => throw new IllegalStateException(
        s"dropCheckpoint needs a checkpointed frame (LogicalRDD), got ${other.nodeName}")
    }
}
