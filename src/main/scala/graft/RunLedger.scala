package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics and plan capture every harness measures through
  * (Bench, ScaleMain, PipeScaleMain, StageLedgerMain, ExplainMain). Each capture registers its listener for the duration of
  * one `body` only, and drains the listener bus with
  * [[org.apache.spark.graft.ListenerBridge.drain]] both before it zeroes
  * and before it reads: late events of an earlier window can never land
  * in this one, and this window's terminal events are never missed.
  *
  * {{{
  * val (out, m) = RunLedger.measure(spark)(df.write.format("noop").save())
  * val (_, plans) = RunLedger.executedPlans(spark)(SparkEntry.queries(q)(spark, dir))
  * }}}
  */
object RunLedger {

  /** One completed stage attempt: the stage's task metrics aggregated by
    * Spark. `peakMemSumBytes` is the SUM of task peaks (an upper bound on
    * any one task's footprint, not a max). */
  final case class StageRow(stageId: Int, attempt: Int, name: String,
      tasks: Int, runMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, memSpillBytes: Long, diskSpillBytes: Long,
      peakMemSumBytes: Long)

  /** Task-metric totals of one measured window, plus its stage rows in
    * stage-id order. `peakTaskMemBytes` is the max over tasks. */
  final case class Totals(wallSec: Double, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, memSpillBytes: Long,
      diskSpillBytes: Long, peakTaskMemBytes: Long, stages: Seq[StageRow]) {
    def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
    def spillBytes: Long = memSpillBytes + diskSpillBytes
  }

  /** Run `body` and return its result with the wall seconds of `body`
    * and the task metrics of every task that ended while it ran. */
  def measure[A](spark: SparkSession)(body: => A): (A, Totals) = {
    val input, shRead, shWrite, memSpill, diskSpill, peak = new AtomicLong()
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          input.addAndGet(m.inputMetrics.bytesRead)
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peak.getAndAccumulate(m.peakExecutionMemory, Math.max); ()
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        Option(si.taskMetrics).foreach { m =>
          stages.add(StageRow(si.stageId, si.attemptNumber(), si.name,
            si.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.diskBytesSpilled, m.peakExecutionMemory)); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(spark)
      Seq(input, shRead, shWrite, memSpill, diskSpill, peak).foreach(_.set(0L))
      stages.clear()
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      drain(spark)
      (result, Totals(wall, input.get, shRead.get, shWrite.get, memSpill.get,
        diskSpill.get, peak.get, stages.asScala.toSeq.sortBy(_.stageId)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` and return its result with the executed plan of every
    * successful execution while it ran — including executions during
    * query CONSTRUCTION (localCheckpoint barriers, eager counts), whose
    * returned frame is only a LogicalRDD scan. SQL metrics live only on
    * these instances: after `df.write`, `df.queryExecution` reads all-zero
    * accumulators because the writer ran its own QueryExecution. */
  def executedPlans[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      drain(spark)
      plans.clear()
      val result = body
      drain(spark)
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Drop every cache before a timed run and return how many persisted
    * RDDs were still alive. `clearCache` covers Dataset-level caches only;
    * localCheckpoint blocks of earlier queries stay until their RDD
    * objects are collected, and left alone they fill the unified memory
    * manager so later queries measure eviction and spill instead of their
    * own plan (q102 100 s in a 167-query sweep vs 3.6 s alone). Earlier
    * queries never re-read those blocks, so unpersisting them is safe. */
  def resetCaches(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    val leftovers = spark.sparkContext.getPersistentRDDs
    leftovers.values.foreach(_.unpersist(blocking = true))
    System.gc()
    leftovers.size
  }

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character (< 0x20) escaped, so any value round-trips through a JSON
    * parser. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def drain(spark: SparkSession): Unit =
    if (!ListenerBridge.drain(spark))
      System.err.println("[ledger] WARNING: listener bus not drained — capture may undercount")
}
