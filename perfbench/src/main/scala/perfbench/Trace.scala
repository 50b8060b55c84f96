package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in ms since [[Clock]]'s origin. `parent` is 0 for
  * a root span; spans of one op share `trace` (the op span's id). */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    kind: String, start: Double, end: Double, attrs: Map[String, Double])

/** One monotonic origin for the benchmark's own spans (nanoTime) and for
  * Spark listener events (epoch ms). */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Driver-side JVM measurements without forcing a collection: the largest
  * old-generation occupancy seen after any collection (GC notifications)
  * and the collectors' accumulated time. */
object Heap {
  @volatile private var peakOld = 0L

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, use) =>
            if (pool.contains("Old Gen") || pool.contains("Tenured"))
              synchronized { peakOld = math.max(peakOld, use.getUsed) }
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakOldMb: Double = peakOld / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}

/** Per-stage task-metric totals, folded from task-end events. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  @volatile var name = ""
  @volatile var submitted = 0L
  @volatile var completed = 0L
  val tasks = new AtomicLong()
  val sums = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
}

final class JobRec(val jobId: Int, val parent: Long, val site: String,
    val execId: Long, val start: Long) {
  @volatile var end = 0L
}

/** The listener the benchmark registers from its own files. Untraced runs
  * only count scanned records (the `docs_per_s` input of report_queries);
  * traced runs also keep every job, stage and task-metric total, and the
  * benchmark span each job was submitted under (local property
  * [[Trace.SpanProperty]]). */
final class RunListener(full: Boolean) extends SparkListener {
  val recordsRead = new AtomicLong()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id -> the call site of the action that started it. The
    * jobs of adaptive query stages are submitted from a pool thread, so
    * their own call site names no engine file; their execution's does. */
  val execSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if full =>
      execSites.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, parent, site, execId, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full)
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def stage(id: Int): StageAgg =
    stages.computeIfAbsent(id, s => new StageAgg(s, stageJob.getOrDefault(s, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (full) {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (full) {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitted == 0L) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      if (full) {
        val s = stage(e.stageId)
        s.tasks.incrementAndGet()
        val info = e.taskInfo
        val overhead = m.executorDeserializeTime + m.resultSerializationTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("cpu_ms", m.executorCpuTime / 1e6)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("delay_ms", math.max(0L,
          info.duration - m.executorRunTime - overhead - gettingResult).toDouble)
        s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("input_b", m.inputMetrics.bytesRead.toDouble)
      }
    }
}

/** Counts per executed query, attributed to the op in flight when the
  * listener bus delivers them (traced runs drain the bus at every op end,
  * so no event crosses an op boundary). */
final class PlanListener(current: () => Long) extends QueryExecutionListener {
  val perOp = new ConcurrentHashMap[Long, ConcurrentHashMap[String, DoubleAdder]]()

  private def add(op: Long, k: String, v: Double): Unit =
    perOp.computeIfAbsent(op, _ => new ConcurrentHashMap[String, DoubleAdder]())
      .computeIfAbsent(k, _ => new DoubleAdder).add(v)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = current()
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(op, s"${p}_ms", s.durationMs.toDouble))
    }
    add(op, "sort_aggregates", PlanListener.sortAggregates(qe.executedPlan).toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  /** SortAggregate nodes in an executed plan, looking through adaptive
    * wrappers and query stages. */
  def sortAggregates(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => sortAggregates(a.executedPlan)
    case s: QueryStageExec => sortAggregates(s.plan)
    case _ =>
      (if (p.isInstanceOf[SortAggregateExec]) 1 else 0) +
        p.children.map(sortAggregates).sum + p.subqueries.map(sortAggregates).sum
  }
}

/** The benchmark's span recorder. Spans are opened only on the single client
  * thread; each one sets [[Trace.SpanProperty]] so the Spark jobs it
  * submits are parented to it. A traced run traces half of its ops
  * ([[beginOp]]) and leaves the rest untraced, so the same run measures
  * tracing overhead. Untraced, [[span]] runs the body and records nothing. */
final class Trace(val enabled: Boolean) {
  @volatile private var active = false
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private var stack: List[(Long, Long)] = Nil // (span id, trace id)
  @volatile private var opId = 0L
  private var spark: SparkSession = _

  val listener = new RunListener(enabled)
  val plans = new PlanListener(() => opId)

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
    if (enabled) s.listenerManager.register(plans)
  }

  /** Start the next op, traced or not (never traced in an untraced run). */
  def beginOp(traced: Boolean): Unit = { active = enabled && traced; opId = 0L }

  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!active) body else {
      val id = ids.incrementAndGet()
      val (parent, trace) = stack.headOption match {
        case Some((p, t)) => (p, t)
        case None => (0L, id)
      }
      if (parent == 0L) opId = id
      stack = (id, trace) :: stack
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Trace.SpanProperty,
          stack.headOption.map(_._1.toString).orNull)
        done.add(Span(id, parent, trace, name, kind, t0, t1, Map.empty))
      }
    }

  /** The innermost open span on the client thread, as (span id, trace id). */
  def top: (Long, Long) = stack.headOption.getOrElse((0L, 0L))

  /** A span opened on another thread (a streaming query's batch thread),
    * under a client-thread span captured with [[top]]. */
  def spanUnder[T](parent: (Long, Long), name: String)(body: => T): T =
    if (!active) body else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val before = sc.getLocalProperty(Trace.SpanProperty)
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        done.add(Span(id, parent._1, parent._2, name, "call", t0, Clock.nowMs, Map.empty))
        sc.setLocalProperty(Trace.SpanProperty, before)
      }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.graft.ListenerBridge.drain(spark)

  /** Every span: the benchmark's own plus one per Spark job and stage,
    * parented job -> benchmark span, stage -> job. */
  def spans: Seq[Span] = {
    val own = done.asScala.toSeq
    val traceOf = own.map(s => s.id -> s.trace).toMap
    val jobIdBase = 1L << 40
    val stageIdBase = 1L << 50
    val jobSpans = listener.jobs.values.asScala.toSeq.map { j =>
      Span(jobIdBase + j.jobId, j.parent, traceOf.getOrElse(j.parent, 0L),
        s"job ${Option(listener.execSites.get(j.execId)).getOrElse(j.site)}", "job",
        Clock.fromEpochMs(j.start),
        Clock.fromEpochMs(if (j.end > 0) j.end else j.start), Map.empty)
    }
    val jobTrace = jobSpans.map(s => s.id -> s.trace).toMap
    val stageSpans = listener.stages.values.asScala.toSeq.filter(_.completed > 0).map { s =>
      val parent = if (s.jobId >= 0) jobIdBase + s.jobId else 0L
      Span(stageIdBase + s.stageId, parent, jobTrace.getOrElse(parent, 0L),
        s"stage ${s.name}", "stage", Clock.fromEpochMs(s.submitted),
        Clock.fromEpochMs(s.completed),
        s.sums.asScala.map { case (k, v) => k -> v.sum }.toMap +
          ("tasks" -> s.tasks.get.toDouble))
    }
    own ++ jobSpans ++ stageSpans
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
}
