package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
 * Lives under `org.apache.spark` for the `private[spark]` listener bus:
 * after a call returns, its task-end events may still be queued, and the
 * per-call task statistics must not lose them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
