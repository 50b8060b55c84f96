package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.CorpusStream

case class Doc(doc_id: Long, text: String, lang: String, source: String,
               ingest_ts: Timestamp)

/** Streaming corpus intake: the batch curation gates (CorpusMain stages
  * 1/3/4/5) applied to a document stream — watermark-bounded exact dedup,
  * per-row quality/repetition gates, PII scrub. */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)
  private val good = "the quick data row is a fine piece of text " +
    "and it keeps going with more useful words in the table"
  private val loop = ("the " * 20 + "spam " * 20).trim
  private val pii = "the quick data row mail me at bob@corp.example.org " +
    "or call 555-123-4567 about the table of it"

  test("dedup within watermark, quality/repetition gates, PII scrub") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = CorpusStream.curated(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("corpus_in").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")),
        Doc(2, good, "en", "crawl", t("2024-01-01 10:01:00")), // exact dup
        Doc(3, loop, "en", "crawl", t("2024-01-01 10:02:00")), // repetitive
        Doc(4, "too short", "en", "crawl", t("2024-01-01 10:03:00")),
        Doc(5, pii, "en", "crawl", t("2024-01-01 10:04:00")))
      q.processAllAvailable()
      // a re-crawl of doc 1's text in a later batch, still within the
      // watermark horizon: state drops it
      in.addData(Doc(6, good, "en", "crawl", t("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val rows = spark.table("corpus_in")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 5L),
        s"expected docs 1 and 5 only, got ${rows.map(_._1).toSeq}")
      val scrubbed = rows.find(_._1 == 5L).get._2
      assert(scrubbed.contains("[EMAIL]") && scrubbed.contains("[PHONE]") &&
        !scrubbed.contains("@") && !scrubbed.contains("555-123-4567"))
      // dedup is stateful, not aggregating: append mode, one state operator
      assert(q.lastProgress.stateOperators.length == 1)
      // observe() funnel rides the batch execution: the last DATA batch
      // held one doc (the re-crawl), which passed the gates and was then
      // dropped by dedup state — n_in == n_gated == 1, output empty.
      // (lastProgress can be a trailing zero-data batch; find the data one.)
      val om = q.recentProgress.filter(_.numInputRows > 0).last.observedMetrics
      assert(om.containsKey("intake") && om.containsKey("gated"),
        s"observed metrics missing: $om")
      assert(om.get("intake").getAs[Long]("n_in") == 1L)
      assert(om.get("gated").getAs[Long]("n_gated") == 1L)
    } finally q.stop()
  }

  test("curated stream ships each kept doc exactly once through the HTTP sink") {
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentHashMap
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val hits = new ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/ingest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.merge(ex.getRequestURI.getPath, 1, (a, b) => a + b)
        ex.sendResponseHeaders(200, 0L); ex.close()
      }
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/ingest"
    val in = MemoryStream[Doc]
    // the full streaming path: curation gates -> stateful dedup -> the
    // same checkpointed HTTP delivery the sync sink uses (K1 streaming)
    val requests = CorpusStream.curated(in.toDF(), watermark = "10 minutes")
      .select(col("doc_id").cast("string").as("node_id"),
        concat(lit(s"$base/"), col("doc_id")).as("url"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_corpus_ckpt").toString
    val q = graft.sinks.HttpSink.streamTo(requests, ckpt, parallelism = 2)
    try {
      in.addData(
        Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")),
        Doc(2, "too short", "en", "crawl", t("2024-01-01 10:01:00")))
      q.processAllAvailable()
      in.addData(
        Doc(3, good, "en", "crawl", t("2024-01-01 10:02:00")), // dup of 1
        Doc(4, pii, "en", "crawl", t("2024-01-01 10:03:00")))
      q.processAllAvailable()
      assert(hits.getOrDefault("/ingest/1", 0) == 1, s"doc 1: $hits")
      assert(hits.getOrDefault("/ingest/2", 0) == 0, s"junk shipped: $hits")
      assert(hits.getOrDefault("/ingest/3", 0) == 0, s"duplicate shipped: $hits")
      assert(hits.getOrDefault("/ingest/4", 0) == 1, s"doc 4: $hits")
    } finally { q.stop(); server.stop(0) }
  }

  // ---- the curation sink: CorpusStream.pipelineBatch over one pipe dir ----

  private def pipe(prefix: String): CorpusStream.Layout =
    CorpusStream.Layout(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** One direct `pipelineBatch` call over `p`'s tables. */
  private def run(p: CorpusStream.Layout, optimizeEvery: Int = 100,
      keepLast: Int = 1, bloomBits: Long = graft.operators.AggState.BloomDefaultBits)(
      batchId: Long, docs: Doc*): Unit =
    CorpusStream.pipelineBatch(p.bloom, p.index, p.clusters, p.corpus,
      optimizeEvery, keepLast = keepLast, bloomBits = bloomBits,
      paraTable = p.para)(docs.toSeq.toDF(), batchId)

  private def landed(p: CorpusStream.Layout): Seq[Long] =
    spark.read.parquet(p.corpus)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Standing cluster labels (id -> cluster_id); empty before any edge. */
  private def labels(p: CorpusStream.Layout): Map[Long, Long] = {
    import graft.operators.ClusterState
    if (!ClusterState.exists(p.clusters)) Map.empty
    else ClusterState.clusters(spark, p.clusters).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
  }

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  // a PARAPHRASE of `good`: one word INSERTED mid-doc. Different digest
  // (exact dedup is blind to it); 8 of its 15 8-grams novel (5333 bp, so
  // the novelty gate admits it — a last-word edit would flip one 8-gram,
  // 714 bp, and die there); 3-shingle Jaccard 17/22 ~0.77 (>= 0.7, so the
  // standing index catches it). An insertion, not a substitution, because
  // it shifts every 16-token block after it: a substitution would leave
  // `good`'s second block intact, the exact-paragraph trim would cut it,
  // and the index would see only a fragment.
  private val paraphrase = good.replace("fine piece", "fine short piece")

  private val fresh = "a completely different report text about weekly shipment " +
    "volumes and the carriers that move them across the region every day"
  private val fresh2 = "quarterly revenue numbers for the hardware division " +
    "show a steady climb in unit sales across all partner channels this year"

  test("near-dup paraphrase arriving in a later batch is dropped via the standing index") {
    import graft.operators.{DedupIndex, Generations}
    implicit val sc = spark.sqlContext
    val p = pipe("graft_stream_pipe")
    val in = MemoryStream[Doc]
    val q = CorpusStream.curated(in.toDF(), watermark = "10 minutes")
      .writeStream
      .foreachBatch(CorpusStream.pipelineBatch(p.bloom, p.index, p.clusters,
        p.corpus, optimizeEvery = 100, paraTable = p.para) _)
      .option("checkpointLocation", p.checkpoint)
      .trigger(Trigger.ProcessingTime(0)).start()
    def indexed(): Seq[Long] = DedupIndex.liveIds(spark, Generations.resolve(p.index))
      .collect().map(_.getLong(0)).sorted.toSeq
    try {
      in.addData(Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(indexed() == Seq(1L), s"index after batch 1: ${indexed()}")
      in.addData(
        Doc(2, paraphrase, "en", "crawl", t("2024-01-01 10:05:00")),
        Doc(3, fresh, "en", "crawl", t("2024-01-01 10:06:00")))
      q.processAllAvailable()
      assert(landed(p) == Seq(1L, 3L),
        s"paraphrase must be dropped by the index probe, got ${landed(p)}")
      // the index grew per batch: doc 1, then batch 2's survivor (doc 3)
      assert(indexed() == Seq(1L, 3L), s"index must hold survivors only: ${indexed()}")
      // the drop was the INDEX's: its probe edge 2—1 is in the standing
      // clusters (a novelty-gate drop never reaches the probe)
      val c = labels(p)
      assert(c.keySet == Set(1L, 2L) && c(1L) == c(2L), s"clusters $c")
    } finally {
      q.stop()
      clearCaches()
    }
  }

  test("novelty gate: standing bloom drops re-crawls and template remixes across batches") {
    import graft.operators.Generations
    // 60 distinct tokens -> 53 distinct 8-grams. The re-crawl is SHIFTED
    // by one leading token and the remix by two, so no two docs share a
    // 16-token paragraph block and the exact-paragraph trim passes them
    // all to the novelty gate: the re-crawl is 1/54 novel, the remix (one
    // MIDDLE word swapped) 10/55 ~ 18% — both under the 30% gate — while
    // a fresh 20-token doc is 100% novel
    val words = (1 to 60).map(i => s"tok$i")
    val long1 = words.mkString(" ")
    val recrawl = ("intro" +: words).mkString(" ")
    val remix = (Seq("lead", "story") ++ words.updated(29, "swapped")).mkString(" ")
    val freshDoc = (1 to 20).map(i => s"new$i").mkString(" ")
    val p = pipe("graft_bloom_gate")
    try {
      run(p)(0L, Doc(1, long1, "en", "crawl", t("2024-01-01 10:00:00")))
      run(p)(1L,
        Doc(2, recrawl, "en", "mirror", t("2024-01-01 10:05:00")), // re-crawl: 1/54 novel
        Doc(3, remix, "en", "crawl", t("2024-01-01 10:06:00")),    // template remix: 10/55 novel
        Doc(4, freshDoc, "en", "crawl", t("2024-01-01 10:07:00"))) // 100% novel
      assert(landed(p) == Seq(1L, 4L),
        s"bloom gate must drop the re-crawl and the remix, got ${landed(p)}")
      // it was the BLOOM that dropped them: the paragraph trim trimmed
      // nothing, and no near-dup edge was recorded (index drops record one)
      val trimmed = spark.read.parquet(s"${p.para}/trim_ledger")
        .agg(org.apache.spark.sql.functions.sum("paras_dropped")).head().getLong(0)
      assert(trimmed == 0L, s"paragraph trim fired on $trimmed paragraphs")
      assert(labels(p).isEmpty, s"near-dup edges recorded: ${labels(p)}")
      // the filter grew only by admissions: the remix's 10 novel 8-grams
      // were never folded in, so a THIRD batch repeating the remix still
      // sees them as novel (state holds admitted content only) — dropped
      // at the 30% gate, admitted at a 10% one
      run(p)(2L, Doc(6, remix, "en", "crawl", t("2024-01-01 10:15:00")))
      assert(landed(p) == Seq(1L, 4L), s"remix must stay dropped: ${landed(p)}")
      val remixDf = Seq(Doc(8, remix, "en", "crawl", t("2024-01-01 10:20:00"))).toDF()
      assert(CorpusStream.noveltyDecide(Generations.resolve(p.bloom), 1000L)(remixDf)
        .count() == 1L, "rejected n-grams leaked into the filter")
      // docs with no 8-gram to probe carry no signal and are admitted: a
      // too-short doc and a null text (the coalesce branch — size(NULL)
      // is NULL under ANSI). curated's token gate keeps both out of the
      // sink, so the gate's own contract is checked on noveltyDecide
      val noSignal = Seq(
        Doc(5, "tiny text", "en", "crawl", t("2024-01-01 10:08:00")),
        Doc(7, null, "en", "crawl", t("2024-01-01 10:09:00"))).toDF()
      val admitted = CorpusStream.noveltyDecide(Generations.resolve(p.bloom))(noSignal)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(admitted == Seq(5L, 7L), s"no-signal docs must be admitted: $admitted")
    } finally clearCaches()
  }

  test("bloomBits sizes the novelty filter: a saturated tiny filter " +
      "over-drops novel docs, a sized one admits them (the r15 finding)") {
    // The scale-tier failure mode, pinned at fixture size: the filter is
    // mBits forever, and once fill saturates every genuinely-novel doc
    // reads as seen (false positives push its novel fraction under the
    // gate) — the pipeline keeps "working" while admitting nothing. The
    // knob must make the difference: same feed, tiny vs sized filter.
    def mk(ids: Range, prefix: String): Seq[Doc] =
      ids.map(i => Doc(i.toLong,
        (1 to 30).map(j => s"$prefix${i}w$j").mkString(" "),
        "en", "crawl", t("2024-01-01 10:00:00")))
    val seed = mk(1 to 10, "a")     // 10 docs x 23 8-grams x k=3 ≈ 690 bits
    val fresh = mk(101 to 110, "b") // entirely new vocabulary: 100% novel
    val tiny = pipe("bloom_tiny")
    val big = pipe("bloom_big")
    try {
      run(tiny, bloomBits = 64L)(0L, seed: _*)
      run(big)(0L, seed: _*) // 2^20 default
      run(tiny, bloomBits = 64L)(1L, fresh: _*)
      run(big)(1L, fresh: _*)
      val tinyAdmitted = landed(tiny).count(_ > 100L)
      val bigAdmitted = landed(big).count(_ > 100L)
      assert(bigAdmitted === 10,
        s"sized filter must admit every genuinely novel doc, got $bigAdmitted")
      assert(tinyAdmitted < bigAdmitted,
        s"saturated 64-bit filter must over-drop ($tinyAdmitted vs $bigAdmitted)")
    } finally clearCaches()
  }

  test("maintained loop: optimize + publish every N batches, probes survive the swap") {
    import graft.operators.{DedupIndex, Generations}
    val p = pipe("graft_gen_tbl")
    def runN(id: Long, docs: Doc*): Unit = run(p, optimizeEvery = 2)(id, docs: _*)
    try {
      // batch 0 creates generation 0 and publishes it
      runN(0L, Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")))
      val gen0 = Generations.resolve(p.index)
      assert(DedupIndex.exists(gen0))
      // batch 1 appends, then the cadence fires: optimize -> NEW
      // generation, atomic publish, old generation retired
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      val gen2 = Generations.resolve(p.index)
      assert(gen2 != gen0, "optimize cadence did not publish a new generation")
      assert(!new java.io.File(gen0).exists(), "retired generation still on disk")
      // batch 2 probes the NEW generation: a paraphrase of doc 1 (landed
      // two generations ago) is still caught — the swap lost nothing
      runN(2L,
        Doc(3, paraphrase, "en", "crawl", t("2024-01-01 10:02:00")),
        Doc(4, fresh2, "en", "crawl", t("2024-01-01 10:03:00")))
      assert(landed(p) == Seq(1L, 2L, 4L), s"landed ${landed(p)}")
      val idxIds = DedupIndex.liveIds(spark, Generations.resolve(p.index))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(idxIds == Seq(1L, 2L, 4L), s"index holds $idxIds")
      // caught by the index probe (its edge 3—1 is recorded), not the gate
      assert(labels(p).keySet == Set(1L, 3L), s"clusters ${labels(p)}")
    } finally clearCaches()
  }

  test("maintained novelty loop: bloom optimize cadence collapses slices, screens survive the swap") {
    import graft.operators.{AggState, Generations}
    val words = (1 to 60).map(i => s"mnt$i")
    val long1 = words.mkString(" ")
    // shifted by one token (no paragraph block shared with doc 1, so the
    // exact trim leaves it whole) with a middle word swapped: 9/54 novel
    val remix = ("lead" +: words.updated(29, "swapped")).mkString(" ")
    val p = pipe("graft_bloomgen_tbl")
    def runN(id: Long, docs: Doc*): Unit = run(p, optimizeEvery = 2)(id, docs: _*)
    try {
      // batch 0 creates + publishes generation 0
      runN(0L, Doc(1, long1, "en", "crawl", t("2024-01-01 10:00:00")))
      val gen0 = Generations.resolve(p.bloom)
      assert(AggState.bloomExists(gen0))
      // batch 1 appends a fresh doc, then the cadence fires: optimize ->
      // new generation, atomic publish, old generation retired
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      val gen2 = Generations.resolve(p.bloom)
      assert(gen2 != gen0, "optimize cadence did not publish a new generation")
      assert(!new java.io.File(gen0).exists(), "retired generation still on disk")
      // the collapsed state holds ONE row per word (two slices folded)
      val merged = AggState.mergedBloom(spark, gen2, Nil)
      assert(spark.read.parquet(s"$gen2/bloom_state").count() === merged.count())
      // crash-REPLAY of the cadence batch (publish succeeded, streaming
      // checkpoint did not commit): CURRENT already points at gen-2, so
      // next == gen — the guard must make this a no-op, not an optimize
      // of gen-2 onto itself (which the in-place require refuses, wedging
      // every restart). The replayed doc's content is already in the
      // standing state, so it under-admits: landed set unchanged.
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      assert(Generations.resolve(p.bloom) == gen2, "replay must not re-publish")
      assert(landed(p) == Seq(1L, 2L), s"replayed batch must under-admit: ${landed(p)}")
      // batch 2 probes the NEW generation: a remix of doc 1 (folded in two
      // generations ago) is still screened out — the swap lost no bits
      runN(2L,
        Doc(3, remix, "en", "crawl", t("2024-01-01 10:02:00")),
        Doc(4, fresh2, "en", "crawl", t("2024-01-01 10:03:00")))
      assert(landed(p) == Seq(1L, 2L, 4L), s"landed ${landed(p)}")
      // screened by the filter: the remix never reached the index probe
      assert(labels(p).isEmpty, s"remix reached the index: ${labels(p)}")
    } finally clearCaches()
  }

  test("maintained loop drain window: keepLast holds the superseded generation") {
    // the r12 retention knob: a multi-reader deployment passes keepLast/
    // retentionHours so a reader that resolved CURRENT just before the
    // swap keeps its snapshot on disk — default (keepLast=1, 0h) deletes
    // it immediately (previous test); keepLast=2 must keep it resolvable
    import graft.operators.{DedupIndex, Generations}
    val p = pipe("graft_drain_tbl")
    def runN(id: Long, docs: Doc*): Unit =
      run(p, optimizeEvery = 2, keepLast = 2)(id, docs: _*)
    try {
      runN(0L, Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")))
      val gen0 = Generations.resolve(p.index)
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      val gen2 = Generations.resolve(p.index)
      assert(gen2 != gen0)
      // the superseded generation survives the swap for the drain window
      assert(new java.io.File(gen0).exists(),
        "keepLast=2 should hold the superseded generation on disk")
      assert(DedupIndex.exists(gen0))
      // and the lineage still resolves it as the as-of read
      assert(Generations.resolveAt(p.index, 1) == gen0)
    } finally clearCaches()
  }

  test("replay of a crashed cadence batch is a no-op for bloom, index and para") {
    import graft.operators.Generations
    val p = pipe("graft_replay_tbl")
    def runN(id: Long, docs: Doc*): Unit = run(p, optimizeEvery = 2)(id, docs: _*)
    val tables = Seq(p.bloom, p.index, p.para)
    def gens(table: String): Set[String] =
      Option(new java.io.File(table).list()).toSet.flatten.filter(_.startsWith("gen-"))
    try {
      runN(0L, Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")))
      // batch 1 is the cadence batch: all three tables optimize + publish
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      val current = tables.map(Generations.current)
      val history = tables.map(Generations.history)
      val onDisk = tables.map(gens)
      assert(current.forall(_.exists(_.endsWith("/gen-2"))),
        s"cadence batch did not publish gen-2 everywhere: $current")
      val corpus = spark.read.parquet(p.corpus).collect().map(_.toString).sorted.toSeq
      // crash after the publish, before the streaming commit: the same
      // batchId replays against CURRENT = gen-2. It must neither throw
      // (an optimize of gen-2 onto itself) nor publish or write a gen
      runN(1L, Doc(2, fresh, "en", "crawl", t("2024-01-01 10:01:00")))
      assert(tables.map(Generations.current) == current, "replay moved a CURRENT")
      assert(tables.map(Generations.history) == history, "replay published again")
      assert(tables.map(gens) == onDisk, "replay wrote a generation")
      // the replayed doc's content is already in the standing state, so
      // the replay under-admits: the landed corpus is unchanged
      val after = spark.read.parquet(p.corpus).collect().map(_.toString).sorted.toSeq
      assert(after == corpus, s"replay changed the corpus: $after")
    } finally clearCaches()
  }

  test("crash repair: ghost index entries tombstoned, content re-admitted") {
    import graft.operators.DedupIndex
    val idxDir = java.nio.file.Files.createTempDirectory("graft_repair_idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_repair_out").toString + "/landed"
    def probeIds(id: Long, text: String): Seq[Long] =
      DedupIndex.probe(spark, Seq((id, text)).toDF("doc_id", "text"), idxDir)
        .select("batch_id").collect().map(_.getLong(0)).toSeq
    try {
      // doc 1 landed normally: indexed AND written to the corpus store
      DedupIndex.append(Seq((1L, good)).toDF("doc_id", "text"), idxDir)
      Seq((1L, good)).toDF("doc_id", "text").write.parquet(outDir)
      // CRASH WINDOW: doc 10 (fresh text) reached the index append but
      // its corpus write was lost — a ghost
      DedupIndex.append(Seq((10L, fresh)).toDF("doc_id", "text"), idxDir)
      // the ghost suppresses every later copy of content never admitted
      assert(probeIds(11L, fresh) == Seq(11L), "ghost did not suppress the re-crawl")
      // REPAIR: reconcile index vs corpus — doc 10 is a ghost (indexed,
      // never landed); it gets tombstoned so its content is admittable again
      val ghosts = CorpusStream.ghostIds(spark, idxDir, outDir)
      assert(ghosts.collect().map(_.getLong(0)).toSeq == Seq(10L))
      assert(probeIds(11L, fresh) == Seq(11L), "ghostIds changed the index")
      DedupIndex.remove(ghosts, idxDir)
      // the re-crawl returns under a fresh ingest id and now passes the
      // probe; the landed doc still suppresses its own near-dups
      assert(probeIds(11L, fresh).isEmpty, "repair did not re-admit the content")
      assert(probeIds(12L, good) == Seq(12L), "repair tombstoned a landed doc")
      // idempotent: a second look finds nothing (10 is tombstoned)
      assert(CorpusStream.ghostIds(spark, idxDir, outDir).isEmpty)
    } finally clearCaches()
  }

  test("crash repair on a pipe dir: ghostIds + takedown with rebloom") {
    import graft.operators.{Generations, Takedown}
    val p = pipe("graft_ghost")
    def corpusFiles(): Set[java.io.File] =
      Option(new java.io.File(p.corpus).listFiles()).map(_.toSet).getOrElse(Set.empty)
    def crawl(batchId: Long, id: Long, text: String): Unit =
      run(p)(batchId, Doc(id, text, "en", "crawl", t("2024-01-01 10:00:00")))
    try {
      crawl(0L, 1L, good)
      val before = corpusFiles()
      // CRASH WINDOW: batch 1 ran its bloom, index and para windows, then
      // its corpus write was lost — doc 10 is a ghost
      crawl(1L, 10L, fresh)
      (corpusFiles() -- before).foreach(f => assert(f.delete(), s"cannot delete $f"))
      assert(landed(p) == Seq(1L))
      val ghosts = CorpusStream.ghostIds(spark, Generations.resolve(p.index), p.corpus)
      assert(ghosts.collect().map(_.getLong(0)).toSeq == Seq(10L))
      // a takedown of the ghost id retracts its paragraph keepers, but
      // without rebloom the novelty filter still holds its n-grams, so a
      // re-crawl under a new id dies before the index
      val r0 = Takedown.apply(spark, p.pipeDir, ghosts)
      assert(r0.corpusRemoved == 0L && r0.paraDigestsRetracted > 0L, s"takedown: $r0")
      crawl(2L, 11L, fresh)
      assert(landed(p) == Seq(1L), "the novelty filter forgot the ghost's n-grams")
      // the recovery that works: the takedown with rebloom
      val r = Takedown.apply(spark, p.pipeDir, ghosts, rebloom = true)
      assert(r.bloomRebuilt, s"takedown: $r")
      crawl(3L, 12L, fresh)
      assert(landed(p) == Seq(1L, 12L), "takedown + rebloom did not re-admit the content")
      // the ghost is tombstoned now; the re-admitted copy is no ghost
      assert(CorpusStream.ghostIds(spark, Generations.resolve(p.index), p.corpus).isEmpty)
    } finally clearCaches()
  }

  test("standing clusters fold forward across stream batches (archive shape)") {
    val p = pipe("graft_cl_pipe")
    try {
      // batch 0: two unrelated docs — admitted, indexed, no clusters yet
      run(p)(0L, Doc(1, good, "en", "crawl", t("2024-01-01 10:00:00")),
        Doc(10, fresh, "en", "crawl", t("2024-01-01 10:00:30")))
      assert(labels(p) === Map.empty, "unrelated docs must not cluster")
      // batch 1: a paraphrase of doc 1 — probe edge 2—1 opens cluster {1,2}
      run(p)(1L, Doc(2, paraphrase, "en", "crawl", t("2024-01-01 10:01:00")))
      assert(labels(p) === Map(1L -> 1L, 2L -> 1L), s"got ${labels(p)}")
      // batch 2: another mid-doc insertion into doc 1 (a different word,
      // so its 8-grams are novel to the filter that now holds doc 2's
      // too) — its probe edge folds into the STANDING cluster, label
      // stays the global min
      val para2 = good.replace("keeps going", "keeps on going")
      run(p)(2L, Doc(3, para2, "en", "crawl", t("2024-01-01 10:02:00")))
      assert(labels(p) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got ${labels(p)}")
      // the corpus keeps one copy of the family; the clusters keep the rest
      assert(landed(p) == Seq(1L, 10L), s"landed ${landed(p)}")
    } finally clearCaches()
  }
}
