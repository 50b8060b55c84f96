package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Reconcile}

/** The OPTIMIZE executor: content-preserving by fingerprint, layout
  * actually improved (file sizing, row-group splitting, key clustering). */
class CompactionSpec extends SparkSpec {

  private val dirA = sf("sf0.001")

  test("compaction preserves content exactly and hits the file-size plan") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    // stage a pathological MANY-SMALL-FILES layout (the ingest problem)
    Tables(spark, dirA, "lineitem").repartition(37)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val stats = Compaction.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 1L << 20, rowGroupBytes = 256L << 10)
    assert(stats.n_files_in == 37L)
    assert(stats.n_files_out < stats.n_files_in, s"no consolidation: $stats")
    // sizing comes from bytes, not file count: ceil(bytes/target)
    val expect = math.max(1L, (stats.bytes_in + (1L << 20) - 1) / (1L << 20))
    assert(stats.n_files_out == expect, s"bin plan missed: $stats expected $expect")
    assert(stats.n_rows == Tables(spark, dirA, "lineitem").count())
  }

  test("single-row-group input gains scan parallelism after compaction") {
    val tmp = java.nio.file.Files.createTempDirectory("compactrg").toString
    // the round-8 fixture pathology: one file, one giant row group
    Tables(spark, dirA, "lineitem").coalesce(1)
      .write.mode("overwrite")
      .option("parquet.block.size", (1L << 30).toString)
      .parquet(s"$tmp/in")
    val stats = Compaction.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 4L << 20, rowGroupBytes = 16L << 10)
    assert(stats.n_rows == Tables(spark, dirA, "lineitem").count())
    // Spark parallelizes parquet at ROW-GROUP granularity: with the same
    // split sizing, count splits that actually carry rows. The input's
    // single row group rides ONE split however the byte ranges fall; the
    // compacted output's small row groups spread across several.
    def effectiveTasks(path: String): Int = {
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", (16L << 10).toString)
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        spark.read.parquet(path).rdd
          .mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).collect().sum
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    }
    val inParts = effectiveTasks(s"$tmp/in")
    val outParts = effectiveTasks(s"$tmp/out")
    assert(inParts == 1, s"fixture staging expected one effective task, got $inParts")
    assert(outParts > inParts, s"no parallelism gained: $inParts -> $outParts")
  }

  test("streaming sink output (many small files + metadata log) compacts clean") {
    // the canonical compaction customer: a micro-batch parquet sink leaves
    // one-plus files per trigger and a _spark_metadata log; the rewrite
    // must read through the log, consolidate, and fingerprint-match
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("compactstream").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .format("parquet").option("path", s"$tmp/in")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      for (b <- 0 until 5) {
        in.addData((0 until 200).map(i => (b * 200L + i, s"v$b-$i")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val nIn = Compaction.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 64L << 20)
    assert(nIn.n_files_in >= 5, s"expected one-plus files per micro-batch: $nIn")
    assert(nIn.n_files_out == 1L && nIn.n_rows == 1000L, s"$nIn")
  }

  test("hive-partitioned input is sized from its leaf files, not the top level") {
    val tmp = java.nio.file.Files.createTempDirectory("compactpart").toString
    Tables(spark, dirA, "orders")
      .withColumn("bucket", col("o_orderkey") % 4)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/in")
    val stats = Compaction.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 16L << 10)
    // the key=value subdirs hold the data: byte sizing must see them, so
    // more than one output bin results (a flat listFiles saw 0 bytes here)
    assert(stats.bytes_in > 0 && stats.n_files_in > 0, s"leaf files unseen: $stats")
    assert(stats.n_files_out > 1, s"whole table crammed into one file: $stats")
    assert(stats.n_rows == Tables(spark, dirA, "orders").count())
  }

  test("sort-key clustering gives each output file a near-disjoint key span") {
    val tmp = java.nio.file.Files.createTempDirectory("compactsort").toString
    Tables(spark, dirA, "orders").repartition(11)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val stats = Compaction.compact(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 8L << 10, rowGroupBytes = 4L << 10,
      clusterBy = Seq("o_orderkey"))
    assert(stats.n_files_out > 1)
    // per-file [min,max] key ranges must not overlap (range clustering):
    // that is what makes min/max stats selective for key-range scans
    val spans = spark.read.parquet(s"$tmp/out")
      .select(input_file_name().as("f"), col("o_orderkey"))
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(lo2 >= hi1, s"overlapping file spans: ${spans.mkString(",")}")
      case _ =>
    }
  }

  test("z-order clustering bounds per-file spans in BOTH dimensions") {
    val tmp = java.nio.file.Files.createTempDirectory("compactz").toString
    // the full 256x256 (x, y) grid: x and y are exactly independent, so
    // single-key clustering can never help the trailing key
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"),
      (col("id") / 256).cast("long").as("y"),
      col("id").as("payload"))
    grid.repartition(7).write.mode("overwrite").parquet(s"$tmp/in")
    def fileSpans(dir: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .select(input_file_name().as("f"), col("x"), col("y"))
        .groupBy("f").agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // z-order on (x, y): every file's span is a bounded block in BOTH dims
    val statsZ = Compaction.compact(spark, s"$tmp/in", s"$tmp/z",
      targetFileBytes = 16L << 10, rowGroupBytes = 8L << 10,
      clusterBy = Seq("x", "y"))
    assert(statsZ.n_files_out >= 16)
    val zSpans = fileSpans(s"$tmp/z")
    // a contiguous range of a 2^16 z-curve over 2 x 8-bit keys is a block
    // of bounded extent in each dim. Individual files CAN go full-span
    // when an unaligned range boundary crosses a high curve bit, so the
    // assertion is on the average: ~64-128 blocks out of the 256 space
    // (observed ~80) vs 255 everywhere without clustering
    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    assert(avg(zSpans.map(_._1)) <= 140 && avg(zSpans.map(_._2)) <= 140,
      s"z-order file spans too wide on average: $zSpans")
    // single-key clustering on x: y stays full-span in (nearly) every file
    Compaction.compact(spark, s"$tmp/in", s"$tmp/x",
      targetFileBytes = 16L << 10, rowGroupBytes = 8L << 10,
      clusterBy = Seq("x"))
    val xSpans = fileSpans(s"$tmp/x")
    assert(avg(xSpans.map(_._2)) >= 220,
      s"expected full y-spans under x-only clustering: $xSpans")
  }

  test("z-order refuses non-numeric keys up front; OptimizeMain skips them") {
    val tmp = java.nio.file.Files.createTempDirectory("compactznn").toString
    val df = spark.range(1000).select(
      col("id"), concat(lit("s"), col("id") % 7).as("tag"))
    df.write.mode("overwrite").parquet(s"$tmp/in/t.parquet")
    // direct zvalue on a string key: fail the PRECONDITION with an
    // actionable message, not approxQuantile's mid-job IAE
    val ex = intercept[IllegalArgumentException] {
      Compaction.zvalue(spark.read.parquet(s"$tmp/in/t.parquet"), Seq("id", "tag"))
    }
    assert(ex.getMessage.contains("tag"))
    // the multi-table CLI path: a non-numeric z-key must not abort the
    // job — the table compacts unclustered (the missing-column fallback)
    val results = OptimizeMain.run(spark, s"$tmp/in", s"$tmp/out",
      targetFileBytes = 1L << 20, clusterBy = Seq("id", "tag"))
    assert(results.map { case (t, st) => (t, st.n_rows) } === Seq(("t", 1000L)))
  }

  test("compaction verifies through the binary row hash: -0.0 and NULL array elements") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("compactbits").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val rows = (0 until 200).map { i =>
      Row(i.toLong, if (i % 2 == 0) -0.0 else 0.0,
        if (i % 3 == 0) Seq(0.0, null) else if (i % 3 == 1) Seq(null, 0.0) else Seq(-0.0))
    }
    def frame(rs: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 9), schema)
    frame(rows).write.mode("overwrite").parquet(s"$tmp/in")
    val stats = Compaction.compact(spark, s"$tmp/in", s"$tmp/out", targetFileBytes = 1L << 20)
    assert(stats.n_files_in == 9L && stats.n_files_out == 1L && stats.n_rows == 200L, s"$stats")
    // the rewrite kept every sign bit and every NULL position
    def bits(dir: String) = spark.read.parquet(dir).collect().map { r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        r.getSeq[Any](2).map(Option(_).map(d => java.lang.Double.doubleToRawLongBits(
          d.asInstanceOf[Double]))))
    }.sortBy(_._1).toSeq
    assert(bits(s"$tmp/out") === bits(s"$tmp/in"))
    // the check compact runs tells those bits apart: a copy with one
    // -0.0 written as 0.0, or one array's NULL moved, is a mismatch
    def flipped(i: Int) = rows.updated(i, rows(i) match {
      case Row(id: Long, x: Double, v: Seq[_]) => if (i == 0) Row(id, 0.0, v) else Row(id, x, v.reverse)
    })
    for (i <- Seq(0, 3)) {
      frame(flipped(i)).write.mode("overwrite").parquet(s"$tmp/bad$i")
      val e = intercept[IllegalArgumentException] {
        Reconcile.requireMatch("compact", Seq(("t", spark.read.parquet(s"$tmp/in"),
          spark.read.parquet(s"$tmp/bad$i"))))
      }
      assert(e.getMessage.contains("t content mismatch"), e.getMessage)
    }
  }

  test("OptimizeMain writes every table, then verifies all in one job") {
    val tmp = java.nio.file.Files.createTempDirectory("compactbudget").toString
    for (t <- Seq("a", "b", "c"))
      spark.range(300).selectExpr("id", s"'$t' AS tag").repartition(4)
        .write.parquet(s"$tmp/in/$t.parquet")
    val group = s"optimize-budget-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    val (results, jobs) = try {
      val ((rs, _), _) = RunLedger.measure(spark)(RunLedger.executedPlans(spark)(
        OptimizeMain.run(spark, s"$tmp/in", s"$tmp/out", 1L << 20)))
      val st = spark.sparkContext.statusTracker
      (rs, st.getJobIdsForGroup(group).sorted.toSeq.map { j =>
        st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)
          .flatMap(s => st.getStageInfo(s).map(_.name)).mkString("+")
      })
    } finally spark.sparkContext.clearJobGroup()
    assert(results.map { case (t, st) => (t, st.n_rows) } ===
      Seq(("a", 300L), ("b", 300L), ("c", 300L)))
    // the three tables fold in one aggregate at one call site: its
    // exchange's map stage and its result
    val checks = jobs.filter(_.contains("Reconcile"))
    val sites = checks.flatMap(_.split('+')).distinct
    assert(sites.size == 1 && sites.head.startsWith("collect at Reconcile.scala:"),
      s"verification call sites ${sites.mkString("; ")}")
    assert(checks.size == 2, s"${checks.size} verification jobs: ${jobs.mkString("; ")}")
  }
}
