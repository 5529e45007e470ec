package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Telemetry access to the (private[spark]) listener bus: block until
  * all queued listener events have been delivered, so per-key records
  * (graft.QueryTelemetry) attribute straggler task and query events to
  * the key that ran them instead of the next one. Lives in an
  * `org.apache.spark` subpackage purely for visibility — the TestUtils
  * pattern; dev-tooling only, never on a query path. */
object ListenerBusDrain {
  /** Wait until the listener bus queue is empty, or `timeoutMs` elapses
    * (swallows the timeout: metric slop degrades the evidence, it must
    * not abort a multi-hour probe campaign). */
  def drain(sc: SparkContext, timeoutMs: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
