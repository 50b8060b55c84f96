package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation. `readMs`/`writeMs` split its wall into the part
  * that only reads and the part that changes stored state. */
final case class OpRec(name: String, start: Double, end: Double,
    readMs: Double, writeMs: Double, ok: Boolean, attrs: Map[String, Double])

/** What a workload hands the runner. */
trait Workload {
  /** Generate the inputs and build the standing state under `dir`. Runs
    * several times (fresh dirs); the last repetition is the one used. */
  def prepare(dir: String): Unit
  /** Untimed traffic that fills caches and compiles code before timing. */
  def warmup(): Unit
  /** One timed op; `phase` times a read or write part of it. */
  def op(i: Int, phase: Phase): Map[String, Double]
  /** Work to do between ops, outside the op's time. */
  def between(): Unit = ()
  /** Output checks, run after the timed window: one message per failure. */
  def check(): Seq[String]
  /** Input records, and the op wall (ms) they were processed in;
    * `recordsRead` is what Spark scanned over the timed window. */
  def docs(ops: Seq[OpRec], recordsRead: Long): (Double, Double)
  def stateDirs: Seq[String]
  def traffic: Map[String, Double]
  def fingerprint: String
  def opName(i: Int): String
  /** Ops per pass: the loop only stops at a pass boundary, so every run
    * times the same mix. */
  def passLength: Int = 1
}

/** Times the read and write parts of one op, and opens their spans. */
final class Phase(trace: Trace) {
  var readMs = 0.0
  var writeMs = 0.0
  def read[T](name: String)(body: => T): T = timed(name, isWrite = false)(body)
  def write[T](name: String)(body: => T): T = timed(name, isWrite = true)(body)
  private def timed[T](name: String, isWrite: Boolean)(body: => T): T = {
    val t0 = Clock.nowMs
    try trace.span(name)(body)
    finally {
      val d = Clock.nowMs - t0
      if (isWrite) writeMs += d else readMs += d
    }
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, work: String)

/** Runs one workload for a fixed time and writes a raw result file that
  * `perfbench/run.py` turns into metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json>
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    Heap.install()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    trace.attach(spark)
    val sessionS = Clock.sinceJvmStartS
    val ctx = Ctx(spark, trace, seed, work)

    val wl: Workload = workload match {
      case "report_queries" => new ReportQueries(ctx)
      case "curation_waves" => new CurationWaves(ctx)
      case "index_serving" => new IndexServing(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val p0 = Clock.nowMs
    wl.prepare(s"$work/prep")
    val prepareS = (Clock.nowMs - p0) / 1e3
    trace.beginOp(false)
    val w0 = Clock.nowMs
    wl.warmup()
    val warmupS = (Clock.nowMs - w0) / 1e3
    trace.drain()

    val ops = mutable.ArrayBuffer[OpRec]()
    val failures = mutable.ArrayBuffer[String]()
    val records0 = trace.listener.recordsRead.get
    val gc0 = Heap.gcMs
    val loop0 = Clock.nowMs
    val deadline = loop0 + seconds * 1000
    val hardStop = loop0 + (seconds + 90) * 1000
    // a traced run times two passes and traces each position of the pass in
    // exactly one of them, so every op is seen traced and untraced once
    val passes = if (traced) 2 else 1
    def tracedOp(i: Int) = traced && (i % wl.passLength + i / wl.passLength) % 2 == 1
    var i = 0
    while ((Clock.nowMs < deadline || i % wl.passLength != 0 || i < passes * wl.passLength) &&
        Clock.nowMs < hardStop) {
      val phase = new Phase(trace)
      trace.beginOp(tracedOp(i))
      val t0 = Clock.nowMs
      val (ok, attrs) =
        try (true, trace.span(s"op ${wl.opName(i)}", "op")(wl.op(i, phase)))
        catch { case e: Throwable =>
          failures += s"${wl.opName(i)}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          (false, Map.empty[String, Double])
        }
      val t1 = Clock.nowMs
      ops += OpRec(wl.opName(i), t0, t1, phase.readMs, phase.writeMs, ok,
        attrs + ("traced" -> (if (tracedOp(i)) 1.0 else 0.0)))
      wl.between()
      if (traced) trace.drain()
      i += 1
    }
    val loopS = (Clock.nowMs - loop0) / 1e3
    val gcMs = Heap.gcMs - gc0
    trace.drain()
    val recordsRead = trace.listener.recordsRead.get - records0
    val peakOld = Heap.peakOldMb

    trace.beginOp(false)
    val c0 = Clock.nowMs
    val checkFailures =
      try wl.check()
      catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val checkS = (Clock.nowMs - c0) / 1e3
    val (docs, docsWallMs) = wl.docs(ops.toSeq, recordsRead)
    val stateBytes = wl.stateDirs.map(p => dirBytes(new File(p))).sum

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => (k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.driver.") || k.startsWith("spark.executor.")) &&
        !Seq("JavaOptions", ".host", ".port", ".id").exists(k.endsWith) }
    val J = Json
    val out = J.obj(
      "workload" -> J.str(workload), "seed" -> J.num(seed.toDouble),
      "seconds" -> J.num(seconds), "trace" -> J.bool(traced), "cores" -> J.num(cores.toDouble),
      "setup" -> J.obj("session_s" -> J.num(sessionS),
        "prepare_s" -> J.num(prepareS), "warmup_s" -> J.num(warmupS),
        "setup_s" -> J.num(sessionS + prepareS + warmupS)),
      "window_s" -> J.num(loopS), "check_s" -> J.num(checkS),
      "ops" -> J.arr(ops.toSeq.map(o => J.obj("name" -> J.str(o.name),
        "start" -> J.num(o.start), "end" -> J.num(o.end), "read_ms" -> J.num(o.readMs),
        "write_ms" -> J.num(o.writeMs), "ok" -> J.bool(o.ok),
        "attrs" -> J.obj(o.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*)))),
      "op_failures" -> J.arr(failures.toSeq.map(J.str)),
      "check_failures" -> J.arr(checkFailures.map(J.str)),
      "docs" -> J.num(docs), "docs_wall_ms" -> J.num(docsWallMs),
      "records_read" -> J.num(recordsRead.toDouble),
      "state_bytes" -> J.num(stateBytes.toDouble),
      "peak_old_gen_mb" -> J.num(peakOld), "driver_gc_ms" -> J.num(gcMs.toDouble),
      "traffic" -> J.obj(wl.traffic.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*),
      "input_fingerprint" -> J.str(wl.fingerprint),
      "context" -> J.obj(
        "spark_conf" -> J.obj(conf.map { case (k, v) => k -> J.str(v) }: _*),
        "spark_version" -> J.str(spark.version),
        "java_version" -> J.str(System.getProperty("java.version")),
        "max_heap_mb" -> J.num(Runtime.getRuntime.maxMemory / 1048576.0)),
      "plans" -> J.obj(planTotals(trace, ops.toSeq): _*))
    write(args("out"), out)
    if (traced) {
      val lines = trace.spans.map(s => J.obj("id" -> J.num(s.id.toDouble),
        "parent" -> J.num(s.parent.toDouble), "trace" -> J.num(s.trace.toDouble),
        "name" -> J.str(s.name), "kind" -> J.str(s.kind), "start" -> J.num(s.start),
        "end" -> J.num(s.end),
        "attrs" -> J.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*)))
      write(args("out").stripSuffix(".json") + ".spans.jsonl", lines.mkString("\n") + "\n")
    }
    spark.stop()
  }

  /** Per-op query-execution counters (traced runs), keyed by op span. */
  private def planTotals(trace: Trace, ops: Seq[OpRec]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    trace.plans.perOp.asScala.toSeq.sortBy(_._1).map { case (op, m) =>
      op.toString -> Json.obj(m.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v.sum) }: _*)
    }
  }

  def write(path: String, s: String): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.exists()) f.length else 0L

  def parquetFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(parquetFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}

/** A minimal JSON encoder (values are pre-rendered strings). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
