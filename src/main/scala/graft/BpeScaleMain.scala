package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.queries.TrainPrep

/** Round-axis measurement for in-engine BPE merge learning (VERDICT r15
  * #2). The oracle-gated queries (q299/q301) learn 3 merges; a real
  * tokenizer training run is thousands of SEQUENTIAL rounds, each one a
  * full adjacent-pair-count shuffle + a per-doc mark/rebuild + exactly one
  * collected row — a round-count axis the tier table had never measured.
  * This main produces that cost curve, plus the BATCHED variant: per
  * pass, learn the top-B most frequent pairs with pairwise-disjoint
  * FOOTPRINTS {a, b, "a b"} and a != b (so their leftmost-greedy merges
  * provably cannot interact within the pass — see
  * [[graft.queries.TrainPrep.bpeApplyPairs]]), then recount. Batching is the standard fast-trainer approximation: the
  * trajectory can diverge from pure greedy BPE exactly where the true
  * next-best pair overlaps a pair already taken this pass (those are
  * deferred to the next pass, never misapplied), in exchange for
  * R/B-round wall instead of R. Both variants report their merge list so
  * the divergence is inspectable, and the per-doc memory discipline is
  * q299's (DISK_ONLY round persists, released as the successor lands,
  * no final unread rebuild).
  *
  * ```
  * runMain graft.BpeScaleMain <sfDir> <outJsonl> [roundsList] [batchSize]
  * #   roundsList: comma list of greedy round counts, default 3,8,16,32
  * #   batchSize:  if >= 2 also run the batched variant at
  * #               max(roundsList) merges, batchSize per pass (default 8)
  * ```
  * One JSON line per configuration (greedy R=3 / 8 / ... / batched).
  */
object BpeScaleMain {

  private def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
      .filter(size(col("w")) > 0)

  private def totalToks(df: DataFrame): Long =
    df.agg(sum(size(col("w")).cast("long"))).collect()(0).getLong(0)

  /** Cut the iterative lineage for real (the ConnectedComponents lesson,
    * round-count edition): a DISK_ONLY persist caches BLOCKS but the RDD
    * object graph still chains every prior round — by round ~10 the
    * recursive task/plan serialization overflows the stack (q299's 3
    * rounds never reached it; this harness's very first 16-round run
    * did). `localCheckpoint(eager, DISK_ONLY)` truncates the dependency
    * graph after materializing; per-round blocks are released by
    * RDD-level unpersist of everything except the newest (checkpoint
    * blocks are invisible to Dataset.unpersist — the r15 lesson — but
    * getPersistentRDDs reaches them). */
  private def step(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.DISK_ONLY)

  /** Release every persistent RDD except the NEWEST (the checkpoint `step`
    * just created — RDD ids are monotone and this harness is
    * single-threaded, so max id == the live round). */
  private def releaseOld(spark: SparkSession): Unit = {
    val m = spark.sparkContext.getPersistentRDDs
    if (m.nonEmpty) {
      val newest = m.keys.max
      m.filterNot(_._1 == newest).values.foreach(_.unpersist(blocking = true))
    }
  }

  private def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** One greedy run of `rounds` sequential merges. Returns
    * (per-round seconds, merges, tokens before, tokens after). */
  def greedy(spark: SparkSession, dir: String,
      rounds: Int): (Seq[Double], Seq[String], Long, Long) = {
    var cur = step(tokens(spark, dir))
    val n0 = totalToks(cur)
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probe = sys.env.contains("SPARK_GRAFT_BPE_PROBE")
    for (k <- 1 to rounds) {
      val t0 = System.nanoTime()
      val (pa, pb) = TrainPrep.bpeTopPair(cur)
      val t1 = System.nanoTime()
      merges += s"$pa $pb"
      // the last round's rebuild is NOT skipped here (unlike q299): the
      // measured unit must be the full learn-round cost, and the final
      // sequences are read once more for the compression number
      cur = step(TrainPrep.bpeApplyPairs(cur, Seq((pa, pb))))
      val t2 = System.nanoTime()
      releaseOld(spark)
      if (probe) println(f"round $k: top1 ${(t1 - t0) / 1e9}%.2f s, " +
        f"merge+ckpt ${(t2 - t1) / 1e9}%.2f s, release ${(System.nanoTime() - t2) / 1e9}%.2f s")
      secs += (System.nanoTime() - t0) / 1e9
    }
    val nAfter = totalToks(cur)
    releaseAll(spark)
    (secs.toSeq, merges.toSeq, n0, nAfter)
  }

  /** The batched variant: per pass, take the top `perPass` pairs that are
    * pairwise token-disjoint with a != b (scanning the top 4x candidates
    * in count order — a pair overlapping an already-taken one is deferred
    * to the next pass), apply them in ONE mark/rebuild, recount. Runs
    * until `targetMerges` merges are learned. */
  def batched(spark: SparkSession, dir: String, targetMerges: Int,
      perPass: Int): (Seq[Double], Seq[String], Long, Long, Int) = {
    var cur = step(tokens(spark, dir))
    val n0 = totalToks(cur)
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var passes = 0
    while (merges.size < targetMerges) {
      val t0 = System.nanoTime()
      val want = math.min(perPass, targetMerges - merges.size)
      // shared selection (TrainPrep.bpeSelectBatch): greedy over rank with
      // the FOOTPRINT rule — a candidate whose token equals another take's
      // merged output (or vice versa) is deferred, closing the r16 advice
      // gap where {(a,b), (x,"a b")} passed the token-only screen
      val taken = TrainPrep.bpeSelectBatch(
        TrainPrep.bpeTopPairs(cur, perPass * 4), want)
      require(taken.nonEmpty, "batched: no applicable pair left")
      merges ++= taken.map { case (a, b) => s"$a $b" }
      cur = step(TrainPrep.bpeApplyPairs(cur, taken.toSeq))
      releaseOld(spark)
      passes += 1
      secs += (System.nanoTime() - t0) / 1e9
    }
    val nAfter = totalToks(cur)
    releaseAll(spark)
    (secs.toSeq, merges.toSeq, n0, nAfter, passes)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BpeScaleMain <sfDir> <outJsonl> [roundsList] [batchSize]")
    val dir = args(0)
    val out = args(1)
    val roundsList = args.lift(2).getOrElse("3,8,16,32")
      .split(",").map(_.trim.toInt).toSeq
    val batchSize = args.lift(3).map(_.toInt).getOrElse(8)
    val spark = GraftSession.cli()

    // one RunLedger window per configuration, after a cache reset: the
    // ledger drains the listener bus before zeroing and before reading, so
    // no configuration's late task events land in the next row
    def measured[A](body: => A): (A, RunLedger.Totals) = {
      RunLedger.resetCaches(spark)
      RunLedger.measure(spark)(body)
    }
    def strs(xs: Seq[String]): String =
      xs.map(RunLedger.jsonString).mkString("[", ",", "]")

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    roundsList.foreach { r =>
      val ((secs, merges, n0, nAfter), m) = measured(greedy(spark, dir, r))
      val l = s"""{"mode":"greedy","rounds":$r,"wall_sec":${jnum(m.wallSec)},""" +
        s""""sec_per_round":${jnum(m.wallSec / r)},""" +
        s""""round_secs":[${secs.map(jnum).mkString(",")}],""" +
        s""""spill_disk_mb":${jnum(m.diskSpillBytes / 1048576.0)},""" +
        s""""n0":$n0,"n_after":$nAfter,""" +
        s""""merges":${strs(merges)}}"""
      println(l); lines += l
    }
    if (batchSize >= 2) {
      val target = roundsList.max
      val ((secs, merges, n0, nAfter, passes), m) =
        measured(batched(spark, dir, target, batchSize))
      val l = s"""{"mode":"batched","rounds":$target,"per_pass":$batchSize,""" +
        s""""passes":$passes,"wall_sec":${jnum(m.wallSec)},""" +
        s""""sec_per_merge":${jnum(m.wallSec / target)},""" +
        s""""pass_secs":[${secs.map(jnum).mkString(",")}],""" +
        s""""spill_disk_mb":${jnum(m.diskSpillBytes / 1048576.0)},""" +
        s""""n0":$n0,"n_after":$nAfter,""" +
        s""""merges":${strs(merges)}}"""
      println(l); lines += l
    }
    lines += s"""{"metric":"bpe_scale","sf_dir":${RunLedger.jsonString(dir)},"calib_mt_sec":${
      jnum(Bench.calibrate(GraftSession.cpus))}}"""
    Files.write(Paths.get(out),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    println(s"wrote $out")
    spark.stop()
  }
}
