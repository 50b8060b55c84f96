package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** Accessor for the `private[spark]` listener-bus drain. graft.RunLedger's
  * task totals and executed-plan captures are listener-fed; the bus is
  * async, so "poll until the capture count is stable for 100 ms"
  * undercounts whenever the terminal event lands later than the poll
  * window (a loaded host trivially does this). `waitUntilEmpty` is the
  * deterministic contract — it returns only when every queued event has
  * been delivered — and is exactly what Spark's own test harness uses; it
  * is just not exposed outside the `org.apache.spark` package, hence this
  * one-line bridge (same pattern as the Catalyst expressions under
  * `org.apache.spark.sql.graft`).
  */
object ListenerBridge {
  /** Block until the listener bus has delivered all queued events (bounded
    * by `timeoutMs`; a timeout surfaces as false, never an exception — the
    * caller's report then says how complete it is). */
  def drain(spark: SparkSession, timeoutMs: Long = 30000L): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
