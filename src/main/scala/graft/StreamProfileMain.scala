package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Profiles the transformWithState per-batch fixed cost (VERDICT r11 #2):
  * the stream micro-bench reads two orders of magnitude under batch
  * throughput, and the question is WHERE the ~1 s/batch goes — RocksDB
  * full-snapshot checkpointing per partition, the number of state
  * partitions (each one pays store open/commit per batch even with zero
  * keys), or the state rows themselves.
  *
  * Runs the running-quantiles processor over a MemoryStream feed of real
  * event rows (the stream_bench harness, extracted) across a config grid:
  * state partitions x changelog checkpointing. One JSON line per cell.
  *
  * ```
  * sbt "runMain graft.StreamProfileMain [sfDir] [rowsPerBatch] [nBatches]"
  * ```
  */
object StreamProfileMain {

  final case class Cell(partitions: Int, changelog: Boolean,
      rowsPerSec: Long, p50Ms: Long, p95Ms: Long, nBatches: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val perBatch = args.lift(1).map(_.toInt).getOrElse(2000)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.cli()
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val rows = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("ts").limit(perBatch * (nBatches + 1))
      .as[graft.streaming.EventRow].collect()
    val batches = rows.grouped(perBatch).toSeq

    // stateless floor: the same MemoryStream + noop sink with a trivial
    // map and NO state operator — what the micro-batch machinery itself
    // (incremental planning, offset/commit WAL, task scheduling,
    // processAllAvailable handshake) costs per batch
    def floor(): Cell = {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = in.toDS().map(e => e.user_id + e.event_type.length)
        .writeStream.format("noop").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData(batches.head: _*); q.processAllAvailable()
        val lats = batches.tail.map { b =>
          val t0 = System.nanoTime()
          in.addData(b: _*); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val nRows = batches.tail.map(_.length).sum
        Cell(0, changelog = false, math.round(nRows / (lats.sum / 1e3)),
          math.round(lats(lats.size / 2)),
          math.round(lats(math.min(lats.size - 1, lats.size * 19 / 20))),
          lats.size)
      } finally q.stop()
    }

    def run(partitions: Int, changelog: Boolean): Cell = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        changelog.toString)
      val in = MemoryStream[graft.streaming.EventRow]
      val q = graft.streaming.EventsPipeline.runningQuantiles(in.toDS())
        .writeStream.format("noop").outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData(batches.head: _*); q.processAllAvailable() // warmup
        val lats = batches.tail.map { b =>
          val t0 = System.nanoTime()
          in.addData(b: _*); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val nRows = batches.tail.map(_.length).sum
        Cell(partitions, changelog,
          math.round(nRows / (lats.sum / 1e3)),
          math.round(lats(lats.size / 2)),
          math.round(lats(math.min(lats.size - 1, lats.size * 19 / 20))),
          lats.size)
      } finally q.stop()
    }

    // r17 repeat mode (the BENCH_r16 running-quantiles watch item):
    // SPARK_GRAFT_STREAM_REPEAT=N runs N ALTERNATING (quantiles, drift)
    // throughput cells in ONE JVM at the stream_bench shape — the drift
    // cell is the in-run control, so a quantiles swing beyond the pair's
    // common movement is real and within it is sampling noise. Bench's
    // number is a 4-batch sample; this is its temporal error bar.
    // `name` builds the printed JSON keys (r17 ADVICE: it was dead, and a
    // third cell added at a call site could silently mislabel its output)
    def runNamed(name: String,
        mode: String, mk: Dataset[graft.streaming.EventRow] => Dataset[_]): (String, Cell) = {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = mk(in.toDS()).writeStream.format("noop").outputMode(mode)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData(batches.head: _*); q.processAllAvailable()
        val lats = batches.tail.map { b =>
          val t0 = System.nanoTime()
          in.addData(b: _*); q.processAllAvailable()
          (System.nanoTime() - t0) / 1e6
        }.sorted
        val nRows = batches.tail.map(_.length).sum
        name -> Cell(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          changelog = true, math.round(nRows / (lats.sum / 1e3)),
          math.round(lats(lats.size / 2)),
          math.round(lats(math.min(lats.size - 1, lats.size * 19 / 20))),
          lats.size)
      } finally q.stop()
    }
    val repeat = sys.env.get("SPARK_GRAFT_STREAM_REPEAT").map(_.toInt).getOrElse(0)
    if (repeat > 0) {
      val nKeys = rows.iterator.map(_.event_type).toSet.size
      val sized = graft.streaming.EventsPipeline.statePartitionsFor(
        nKeys.toLong, spark.sparkContext.defaultParallelism,
        rowsPerBatch = perBatch.toLong)
      spark.conf.set("spark.sql.shuffle.partitions", sized.toString)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      (1 to repeat).foreach { i =>
        val cells = Seq(
          runNamed("quantiles", "update",
            ds => graft.streaming.EventsPipeline.runningQuantiles(ds)),
          runNamed("drift", "append",
            ds => graft.streaming.EventsPipeline.driftAlerts(ds, bucketMs = 3600L * 1000)))
        val fields = cells.map { case (n, c) =>
          s""""${n}_rps":${c.rowsPerSec},"${n}_p50":${c.p50Ms}"""
        }.mkString(",")
        println(s"""{"rep":$i,$fields,"partitions":$sized,""" +
          s""""n_batches":${cells.head._2.nBatches}}""")
      }
      spark.stop(); return
    }

    val grid = (for {
      p <- Seq(GraftSession.cpus, 8, 4, 1)
      c <- Seq(false, true)
    } yield run(p, c)) :+ floor()
    grid.foreach { c =>
      println(s"""{"partitions":${c.partitions},"changelog":${c.changelog},""" +
        s""""rows_per_sec":${c.rowsPerSec},"batch_ms_p50":${c.p50Ms},""" +
        s""""batch_ms_p95":${c.p95Ms},"n_batches":${c.nBatches}}""")
    }
    spark.stop()
  }
}
