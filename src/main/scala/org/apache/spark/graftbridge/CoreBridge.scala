package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge into `private[spark]` core APIs — same escape-hatch pattern as
  * `org.apache.spark.sql.graftbridge.Bridge`, for the non-SQL side.
  */
object CoreBridge {

  /** Block until the listener bus has delivered every queued event.
    * Required for exact per-query attribution of SparkListener task
    * metrics: `onTaskEnd` fires asynchronously on the bus, so a
    * snapshot taken right after an action can miss the last tasks'
    * metrics (they would leak into the NEXT query's window).
    *
    * A drain that outlasts `timeoutMs` must NOT abort the caller: on
    * exactly the contended machine the bench's retry machinery exists
    * for (multi-second time-to-safepoint stalls), the bus can lag past
    * Spark's default 10s window — the flush then degrades to
    * best-effort (a few task metrics may attribute to the next query)
    * instead of throwing away a multi-hour run.
    */
  def flushListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"listener bus not drained after ${timeoutMs}ms; metrics snapshot is approximate")
    }

  /** Frees an RDD's blocks as `RDD.unpersist` does, minus its warning
    * that a locally checkpointed RDD cannot be recomputed afterwards.
    */
  def unpersistRDD(sc: SparkContext, rddId: Int, blocking: Boolean): Unit =
    sc.unpersistRDD(rddId, blocking)
}
