package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AggState, ClusterState, DedupIndex, Generations}
import graft.streaming.CorpusStream

/** The end-to-end curation pipeline (PipelineMain's wiring): a directory
  * feed drained with AvailableNow through curated() into pipelineBatch —
  * novelty gate, standing near-dup index, standing dup clusters, corpus
  * append, generation maintenance — across TWO invocations with a shared
  * checkpoint (the cron shape: run two processes only the delta). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val good = "the quick data row is a fine piece of text " +
    "and it keeps going with more useful words in the table"
  private val freshA = "a curious model reads the long corpus and it " +
    "notes every rare word while the index stays small in memory"
  private val fresh2 = "soon the planner picks a narrow scan of the " +
    "bright column store and every shuffle stays tiny under it"

  test("directory feed -> gated, deduped, clustered, published corpus across two runs") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val inDir = s"$root/in"
    val pipe = s"$root/pipe"
    val bloomTable = s"$pipe/bloom"
    val indexTable = s"$pipe/index"
    val clusterDir = s"$pipe/clusters"
    val corpusDir = s"$pipe/corpus"

    def writeWave(docs: Doc*): Unit =
      docs.toSeq.toDF().coalesce(1).write.mode("append").parquet(inDir)

    def drain(): Unit = {
      val schema = spark.read.parquet(inDir).schema
      val feed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = CorpusStream.curated(feed).writeStream
        .option("checkpointLocation", s"$pipe/checkpoint")
        .foreachBatch(CorpusStream.pipelineBatch(bloomTable, indexTable,
          clusterDir, corpusDir, optimizeEvery = 1) _)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    try {
      // ---- wave 1: one file = one batch --------------------------------
      // 1 good (lands), 2 exact dup (curated's digest dedup), 3 freshA
      // (lands), 4 paraphrase of freshA in the SAME batch (within-batch
      // LSH pair: dropped, edge recorded)
      writeWave(
        Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")),
        Doc(2, good, "en", "crawl", t("2024-01-01 10:01:00")),
        Doc(3, freshA, "en", "crawl", t("2024-01-01 10:02:00")),
        Doc(4, freshA.replaceAll("memory$", "cache"), "en", "crawl",
          t("2024-01-01 10:03:00")))
      drain()
      val landed1 = spark.read.parquet(corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(landed1 == Seq(1L, 3L), s"wave 1 landed $landed1")
      // both standing tables published + the optimize cadence rotated
      // them at least once (optimizeEvery = 1)
      val bloomGen1 = Generations.resolve(bloomTable)
      val indexGen1 = Generations.resolve(indexTable)
      assert(DedupIndex.exists(indexGen1))
      // the within-batch near-dup edge is in the standing clusters
      val c1 = ClusterState.clusters(spark, clusterDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(c1.keySet == Set(3L, 4L), s"wave 1 clusters hold ${c1.keySet}")
      assert(c1(3L) == c1(4L), "paraphrase pair not in one cluster")

      // ---- wave 2: a new file after a restart (checkpoint resumes) -----
      // 6 template remix of doc 1 (mostly-seen 8-grams -> novelty gate
      // drops it BEFORE any index probe), 7 paraphrase of doc 1 with a
      // MIDDLE-token edit — the edit position is load-bearing both ways:
      // it flips 8 of the 14 8-gram windows novel (5714 bp >= the 3000 bp
      // gate) while changing only 3 of the 19 3-token shingles (J = 16/22
      // = 0.727 >= 0.7, so the standing index probe catches it; a
      // LAST-token edit would flip only ONE window, 714 bp, and die at
      // the novelty gate before any probe) — then 8 fresh (lands)
      writeWave(
        Doc(6, good + " plus tail", "en", "crawl", t("2024-01-01 11:00:00")),
        Doc(7, good.replaceAll("text", "prose"), "en", "crawl",
          t("2024-01-01 11:01:00")),
        Doc(8, fresh2, "en", "crawl", t("2024-01-01 11:02:00")))
      drain()
      val landed2 = spark.read.parquet(corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(landed2 == Seq(1L, 3L, 8L), s"wave 2 landed $landed2")
      // doc 7's near-dup edge to doc 1 joined the standing clusters
      val c2 = ClusterState.clusters(spark, clusterDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(c2.keySet == Set(1L, 3L, 4L, 7L), s"wave 2 clusters ${c2.keySet}")
      assert(c2(1L) == c2(7L) && c2(3L) == c2(4L) && c2(1L) != c2(3L))
      // generation maintenance kept rotating: wave 2 published NEW
      // generations and retired the superseded ones (keepLast = 1)
      val bloomGen2 = Generations.resolve(bloomTable)
      val indexGen2 = Generations.resolve(indexTable)
      assert(bloomGen2 != bloomGen1 && indexGen2 != indexGen1,
        "optimize cadence did not rotate the generations")
      assert(!new java.io.File(bloomGen1).exists(),
        "superseded bloom generation still on disk")
      // the index's live ids track the corpus exactly
      val idxIds = DedupIndex.liveIds(spark, indexGen2)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(idxIds == Seq(1L, 3L, 8L), s"index holds $idxIds")

      // ---- rerun with nothing new: a no-op -----------------------------
      drain()
      val landed3 = spark.read.parquet(corpusDir).count()
      assert(landed3 == 3L, s"no-op rerun changed the corpus: $landed3 rows")
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  // ---- r18 exact-paragraph trim: the standing q312 state in the loop -----

  test("exact-paragraph stage: cross-batch repeated paragraph trimmed on second sight, doc survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe_para").toString
    val inDir = s"$root/in"
    val pipe = s"$root/pipe"
    val (bloomT, indexT, clusterD, corpusD, paraT) =
      (s"$pipe/bloom", s"$pipe/index", s"$pipe/clusters", s"$pipe/corpus",
        s"$pipe/para")

    // three paragraphs; every doc passes the curated gates (>= 10 tokens,
    // stopwords present)
    val pA = "the quick data row is a fine piece of text and it keeps going"
    val pB = "a curious model reads the long corpus and it notes every rare word"
    val pC = "soon the planner picks a narrow scan of the bright column store"

    def writeWave(docs: Doc*): Unit =
      docs.toSeq.toDF().coalesce(1).write.mode("append").parquet(inDir)
    def drain(): Unit = {
      val schema = spark.read.parquet(inDir).schema
      val feed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = CorpusStream.curated(feed).writeStream
        .option("checkpointLocation", s"$pipe/checkpoint")
        .foreachBatch(CorpusStream.pipelineBatch(bloomT, indexT, clusterD,
          corpusD, optimizeEvery = 1, paraTable = paraT) _)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    try {
      // wave 1: doc 1 = [A, B] — both paragraphs novel, doc lands VERBATIM
      // (untouched docs are never rewritten)
      writeWave(Doc(1, s"$pA\n\n$pB", "en", "crawl", t("2024-01-01 10:00:00")))
      drain()
      val c1 = spark.read.parquet(corpusD).collect()
      assert(c1.map(_.getLong(0)).toSeq == Seq(1L))
      assert(c1.head.getString(1) == s"$pA\n\n$pB", "untouched doc was rewritten")

      // wave 2: doc 2 = [A, C] — A repeats doc 1's paragraph (exact-DOC
      // dedup and whole-doc LSH both miss it: C dilutes the signature);
      // doc 3 = [B, A] REORDERED — a different doc digest carrying zero
      // novel paragraphs
      writeWave(
        Doc(2, s"$pA\n\n$pC", "en", "crawl", t("2024-01-01 10:05:00")),
        Doc(3, s"$pB\n\n$pA", "en", "crawl", t("2024-01-01 10:06:00")))
      drain()
      val c2 = spark.read.parquet(corpusD).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(c2.keySet == Set(1L, 2L), s"wave 2 landed ${c2.keySet}")
      // doc 2 survived with A trimmed: its rebuilt text is the kept
      // paragraph, normalized (lowercase + collapsed whitespace)
      assert(c2(2L) == pC.toLowerCase, s"doc 2 text: '${c2(2L)}'")

      // the standing state holds exactly the corpus's paragraph digests
      val paraGen = Generations.resolve(paraT)
      val st = graft.operators.AggState.merged(spark, paraGen, Seq("dig"))
      assert(st.count() == 3L, "state must hold digests of A, B, C only")

      // trim ledger: wave 2 probed 4 paragraphs, trimmed 3 (doc 2's A,
      // doc 3's B and A)
      val led = spark.read.parquet(s"$paraT/trim_ledger")
        .orderBy("batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(led.toSeq == Seq((2L, 0L), (4L, 3L)),
        s"trim ledger (paras_in, paras_dropped) rows: ${led.toSeq}")

      // generation maintenance rotated the para table too (optimizeEvery=1)
      assert(graft.operators.Generations.history(paraT).size >= 2,
        "para table generations never rotated")
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  // ---- r16 lock staging: the optimistic-compute fallback ------------------
  // pipelineBatch now computes probes/pairs/slices with NO lock held and
  // re-validates each generation (pointer + listing fingerprint) inside its
  // lock window. These specs mutate the state in exactly that window (the
  // raceHook seam) and prove the fallback re-reads: a concurrent mutation
  // can delay a batch, never corrupt it or leak a duplicate.

  test("lock staging: index append racing the window is seen by the re-probe") {
    val freshB = "a curious model reads the long corpus and it " +
      "notes every rare word while the index stays small in memory"
    val nearB = freshB.replaceAll("rare", "odd") // middle-token edit: J = 16/22 >= 0.7
    def setup(root: String): (String, String, String, String, String) = {
      val pipe = s"$root/pipe"
      val tables = (s"$pipe/bloom", s"$pipe/index", s"$pipe/clusters",
        s"$pipe/corpus", s"$pipe/para")
      val seed = Seq(Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00"))).toDF()
      CorpusStream.pipelineBatch(tables._1, tables._2, tables._3, tables._4,
        optimizeEvery = 100, paraTable = tables._5)(seed, 0L)
      tables
    }
    // control: without the race, the near-dup's only index neighbor is
    // absent and doc 21 LANDS — proving the racing append below is what
    // the optimistic probe genuinely missed
    val rootA = java.nio.file.Files.createTempDirectory("graft_race_a").toString
    val (_, _, _, corpusA, _) = setup(rootA)
    locally {
      val (bloomT, indexT, clusterD, corpusD, paraT) = setup(rootA + "/ctl")
      CorpusStream.pipelineBatch(bloomT, indexT, clusterD, corpusD,
        optimizeEvery = 100, paraTable = paraT)(
        Seq(Doc(21, nearB, "en", "crawl", t("2024-01-01 11:00:00"))).toDF(), 1L)
      val landed = spark.read.parquet(corpusD)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(landed == Seq(1L, 21L), s"control run landed $landed")
    }
    // raced: doc 20 (near-dup source) is appended to the live index
    // generation between the optimistic probe and the index lock window
    val (bloomT, indexT, clusterD, corpusD, paraT) = setup(rootA + "/raced")
    var fired = false
    val hook: String => Unit = {
      case "index" =>
        fired = true
        DedupIndex.append(
          Seq(Doc(20, freshB, "en", "crawl", t("2024-01-01 10:30:00"))).toDF(),
          Generations.resolve(indexT))
      case _ => ()
    }
    CorpusStream.pipelineBatch(bloomT, indexT, clusterD, corpusD,
      optimizeEvery = 100, paraTable = paraT, raceHook = hook)(
      Seq(Doc(21, nearB, "en", "crawl", t("2024-01-01 11:00:00"))).toDF(), 1L)
    assert(fired, "race hook never fired")
    val landed = spark.read.parquet(corpusD)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(landed == Seq(1L), s"raced run landed $landed — the fallback " +
      "missed the concurrent append and leaked a near-duplicate")
    // and the duplicate EDGE made it into the standing clusters
    val c = ClusterState.clusters(spark, clusterD)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c.contains(20L) && c.contains(21L) && c(20L) == c(21L),
      s"near-dup edge missing from clusters: $c")
  }

  test("lock staging: bloom fold racing the window is seen by the re-probe") {
    val root = java.nio.file.Files.createTempDirectory("graft_race_b").toString
    val pipe = s"$root/pipe"
    val (bloomT, indexT, clusterD, corpusD, paraT) =
      (s"$pipe/bloom", s"$pipe/index", s"$pipe/clusters", s"$pipe/corpus",
        s"$pipe/para")
    val seed = Seq(Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00"))).toDF()
    CorpusStream.pipelineBatch(bloomT, indexT, clusterD, corpusD,
      optimizeEvery = 100, paraTable = paraT)(seed, 0L)
    // a concurrent writer lands doc 31's CONTENT (folds its n-grams) in
    // the bloom race window; the batch carries the identical content under
    // a new id — the optimistic decision admitted it, the locked re-probe
    // must drop it (novelty 0 bp)
    var fired = false
    val hook: String => Unit = {
      case "bloom" =>
        fired = true
        val gen = Generations.resolve(bloomT)
        val ngrams = Seq(fresh2).toDF("text").select(explode(
          graft.queries.TrainPrep.hashedNgrams8(col("text"))).as("h"))
        AggState.writeBloomSlice(
          AggState.bloomSliceFor(ngrams, Nil, "h", gen), gen)
      case _ => ()
    }
    CorpusStream.pipelineBatch(bloomT, indexT, clusterD, corpusD,
      optimizeEvery = 100, paraTable = paraT, raceHook = hook)(
      Seq(Doc(31, fresh2, "en", "crawl", t("2024-01-01 11:00:00"))).toDF(), 1L)
    assert(fired, "race hook never fired")
    val landed = spark.read.parquet(corpusD)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(landed == Seq(1L), s"raced run landed $landed — the bloom " +
      "fallback did not re-probe the concurrently folded filter")
  }
}
