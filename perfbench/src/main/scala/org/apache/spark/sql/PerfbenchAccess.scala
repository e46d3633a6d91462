package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Two Spark internals the benchmark harness needs. */
object PerfbenchAccess {

  /** Waits until the listener bus has delivered every queued event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Blocks until `query` has committed the micro-batch that holds
    * `offset` of its only source. `processAllAvailable` cannot be used:
    * a processing-time timeout keeps no-data batches running, so the
    * query never reports that it is idle.
    */
  def awaitCommit(query: StreamingQuery, offset: Offset, timeoutMs: Long): Unit = {
    val se = query.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!se.committedOffsets.values.exists(_.json == offset.json)) {
      se.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new java.util.concurrent.TimeoutException(s"offset $offset not committed")
      java.util.concurrent.locks.LockSupport.parkNanos(200000L)
    }
  }
}
