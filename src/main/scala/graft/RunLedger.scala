package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics and plan capture every harness measures through
  * (Bench, ScaleMain, PipeScaleMain, ExplainMain), and the one ledger
  * format every harness writes. Each capture registers its listener for
  * the duration of one `body` only, and drains the listener bus with
  * [[org.apache.spark.graft.ListenerBridge.drain]] both before it zeroes
  * and before it reads: late events of an earlier window can never land
  * in this one, and this window's terminal events are never missed.
  *
  * A ledger is a JSONL file of [[Row]]s behind one header row (see
  * [[open]]); a one-line summary prints a single `Row`.
  *
  * {{{
  * val r = RunLedger.query(spark)(SparkEntry.queries(q)(spark, dir))
  * val ledger = RunLedger.open(out, "ScaleMain", dir)
  * ledger.write(RunLedger.Row("query" -> q, "ok" -> r.ok, "wall_sec" -> r.totals.wallSec))
  * }}}
  */
object RunLedger {

  /** One completed stage attempt: the stage's task metrics aggregated by
    * Spark. `peakMemSumBytes` is the SUM of task peaks (an upper bound on
    * any one task's footprint, not a max). */
  final case class StageRow(stageId: Int, attempt: Int, name: String,
      tasks: Int, runMs: Long, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, memSpillBytes: Long, diskSpillBytes: Long,
      peakMemSumBytes: Long) {
    /** The stage's ledger row, seconds and MiB; `name` is the call site
      * of the action that ran the stage, cut to 120 characters. */
    def row(query: String): Row = Row("query" -> query, "stage" -> stageId,
      "attempt" -> attempt, "name" -> name.take(120), "tasks" -> tasks,
      "run_sec" -> runMs / 1000.0, "input_mb" -> mb(inputBytes),
      "sh_read_mb" -> mb(shuffleReadBytes), "sh_write_mb" -> mb(shuffleWriteBytes),
      "spill_mem_mb" -> mb(memSpillBytes), "spill_disk_mb" -> mb(diskSpillBytes),
      "peak_mem_sum_mb" -> mb(peakMemSumBytes))
  }

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

  /** One query run the way every harness measures it: caches reset, the
    * frame built and written to the noop sink inside the timed window (a
    * query that materialises while it is built pays for it; the noop sink
    * keeps computed columns from being pruned), with the window's totals
    * and every plan executed in it. A failing query reports `ok = false`
    * and prints its error. */
  final case class QueryRun(ok: Boolean, totals: Totals, plans: Seq[SparkPlan])

  def query(spark: SparkSession)(df: => DataFrame): QueryRun = {
    resetCaches(spark)
    val ((ok, m), plans) = executedPlans(spark) {
      measure(spark)(Try(df.write.format("noop").mode("overwrite").save()) match {
        case Success(_) => true
        case Failure(e) =>
          System.err.println(s"[ledger] query failed: ${e.getMessage}"); false
      })
    }
    QueryRun(ok, m, plans)
  }

  /** One ledger row: named fields rendered, in order, as one JSON object.
    * Strings go through [[jsonString]] and doubles through [[jnum]]; longs,
    * ints and booleans are literals; a field may also hold a nested `Row`
    * or a `Seq[String]` (a JSON string array). */
  final case class Row(fields: (String, Any)*) {
    def render: String =
      fields.map { case (k, v) => jsonString(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  private def value(v: Any): String = v match {
    case s: String => jsonString(s)
    case d: Double => jnum(d)
    case _: Long | _: Int | _: Boolean => v.toString
    case r: Row => r.render
    case xs: Seq[_] => xs.map { case s: String => jsonString(s) }.mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no ledger rendering for ${other.getClass.getName}")
  }

  /** `bytes` in MiB, the unit of every `_mb` ledger field. */
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** A JSONL ledger file; see [[open]]. */
  final class Ledger private[RunLedger] (path: Path) {
    /** Print `row` and append it to the file at once, so a run that dies
      * partway keeps every row it finished. */
    def write(row: Row): Unit = {
      val line = row.render
      println(line)
      Files.write(path, (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
    }
  }

  /** Open the ledger at `path`: truncate it and write the header row — the
    * writing `main`, the fixture dir, the harness core count and the
    * `SPARK_GRAFT_CONF` pairs in effect, recorded next to the numbers. */
  def open(path: String, main: String, sfDir: String): Ledger = {
    val p = Paths.get(path)
    Files.write(p, Array.emptyByteArray)
    val ledger = new Ledger(p)
    ledger.write(Row("main" -> main, "sf_dir" -> sfDir,
      "cpus" -> GraftSession.cpus, "conf" -> Row(GraftSession.confPairs: _*)))
    ledger
  }

  /** Locale-safe compact double rendering for machine-parsed JSON: fixed
    * scale, trailing zeros stripped, never scientific notation; NaN and
    * infinities render as `0` so the line still parses. Four decimals by
    * default — full-precision doubles cost ~10 extra chars per field inside
    * the bench trailer's ~2000-char tail budget. */
  def jnum(d: Double, scale: Int = 4): String =
    if (d.isNaN || d.isInfinite) "0"
    else {
      val b = java.math.BigDecimal.valueOf(d)
        .setScale(scale, java.math.RoundingMode.HALF_UP).stripTrailingZeros
      if (b.scale < 0) b.setScale(0).toPlainString else b.toPlainString
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
