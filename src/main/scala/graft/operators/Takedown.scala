package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables

import graft.streaming.CorpusStream.Layout

/** End-to-end corpus TAKEDOWN across every standing table the curation
  * pipeline maintains (r18) — the GDPR/DMCA-deletion shape. Each table
  * has had its own delete primitive for rounds (index tombstones q270,
  * cluster re-derivation q279, exact para-digest retraction q314); this
  * orchestrates them against one [[graft.PipelineMain]] `pipeDir` so a
  * single request removes a document everywhere, in an order that fails
  * SAFE (over-suppression, never resurrection) and re-runs idempotently:
  *
  *  1. **corpus rewrite first** — the takedown's primary obligation
  *     lands before anything else (survivors pinned eagerly before the
  *     overwrite); a crash after this leaves ghost state entries, which
  *     only over-suppress re-crawls until the takedown is re-run;
  *  2. index tombstones + affected-cluster re-derivation
  *     ([[ClusterState.removeDocs]] — a hub removal SPLITS its cluster)
  *     under the index table's writer locks;
  *  3. exact-paragraph digest retraction ([[AggState.retractExact]]) —
  *     every removed doc's corpus paragraphs are state KEEPERS by the
  *     pipeline's construction (the corpus holds exactly the kept
  *     copies), so the affected-keys rebuild path re-derives each from
  *     the survivors and the digest vanishes, re-admitting a future
  *     re-crawl of that content at the trim gate. Corpus-derived pids
  *     are <= the ingest-time pids (a rebuild only removes indexes), so
  *     the affected-min detection always fires for removed keepers. A
  *     requested id the corpus never held — a GHOST, whose batch lost its
  *     corpus write after its para window — has no text to digest: its
  *     keepers are the state's own rows whose min pid falls in the id's
  *     pid range (pid = doc_id * 2^20 + paragraph index);
  *  4. optionally (`rebloom`) the novelty Bloom filter is REBUILT from
  *     the surviving corpus into a new published generation — OR-only
  *     bits cannot retract, so without this the novelty gate keeps
  *     suppressing re-crawls of the removed content until the next
  *     rebuild (documented fail direction; the rebuild is the one
  *     corpus-scan step, which is why it is opt-in cadence work).
  *
  * Re-running the same takedown is harmless: tombstones dedup on read,
  * `removeDocs` no-ops on untouched labels, a double retraction leaves
  * n<=0 rows that the merged view filters and optimize collapses away,
  * and the corpus rewrite is idempotent. */
object Takedown {

  case class Report(requested: Long, corpusRemoved: Long, corpusLeft: Long,
                    indexTombstoned: Boolean, clustersUpdated: Boolean,
                    paraDigestsRetracted: Long, bloomRebuilt: Boolean)

  /** Dry-run accounting: what [[apply]] would remove, touching nothing. */
  def plan(spark: SparkSession, pipeDir: String, docIds: DataFrame): Report = {
    val ids = docIds.select(col("doc_id")).distinct()
      .localCheckpoint(eager = true)
    val t = Layout(pipeDir)
    val corpus = StandingTables.read(spark, t.corpus)
    val removed = corpus.join(ids, Seq("doc_id"), "left_semi")
    val nRemoved = removed.count()
    val paraGen = Generations.active(t.para)
    val nDigs =
      if (AggState.exists(paraGen))
        paraKeepers(spark, paraGen, ids, removed).select("dig").distinct().count()
      else 0L
    Report(ids.count(), nRemoved, corpus.count() - nRemoved,
      indexTombstoned = false, clustersUpdated = false, nDigs,
      bloomRebuilt = false)
  }

  /** The (dig, pid) para-state rows a takedown of `ids` retracts: the
    * paragraphs of the `removed` corpus docs, plus the state's own keeper
    * rows of every requested id the corpus never held (ghosts). */
  private def paraKeepers(spark: SparkSession, paraGen: String,
      ids: DataFrame, removed: DataFrame): DataFrame = {
    import graft.queries.Dedup
    val ghosts = ids.join(removed.select("doc_id"), Seq("doc_id"), "left_anti")
    Dedup.paraDigested(removed.select("doc_id", "text"))
      .select(col("dig"), Dedup.pidDecimal(col("pid")).as("pid"))
      .unionByName(AggState.merged(spark, paraGen, Seq("dig"))
        .withColumn("doc_id", floor(col("min") / lit(Dedup.ParaIdScale)).cast("long"))
        .join(ghosts, Seq("doc_id"), "left_semi")
        .select(col("dig"), col("min").as("pid")))
  }

  /** Execute the takedown (see the object scaladoc for order + crash
    * contract). `docIds`: any frame with a `doc_id` column. */
  def apply(spark: SparkSession, pipeDir: String, docIds: DataFrame,
      rebloom: Boolean = false): Report = {
    val t = Layout(pipeDir)

    val ids = docIds.select(col("doc_id")).distinct()
      .localCheckpoint(eager = true)
    val corpus = StandingTables.read(spark, t.corpus)
    // pin BOTH halves before the overwrite destroys the directory the
    // plans read from; the removed docs' TEXT drives the para retraction
    val removed = corpus.join(ids, Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = true)
    val survivors = corpus.join(ids, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    val nRemoved = removed.count()

    // 1. the corpus itself
    survivors.write.mode("overwrite").parquet(t.corpus)

    // 2. index tombstones + cluster re-derivation (removeDocs tombstones
    // the index itself before re-deriving the affected components)
    val (indexTombstoned, clustersUpdated) =
      Generations.withTableWriter(t.index) { indexGen =>
        if (!DedupIndex.exists(indexGen)) (false, false)
        else if (ClusterState.exists(t.clusters)) {
          ClusterState.removeDocs(spark, ids, t.clusters, indexGen)
          (true, true)
        } else {
          DedupIndex.remove(ids, indexGen)
          (true, false)
        }
      }

    // 3. exact-paragraph digest retraction (affected-keys rebuild)
    val nDigs = Generations.withTableWriter(t.para) { paraGen =>
      if (!AggState.exists(paraGen)) 0L
      else {
        val deleted = paraKeepers(spark, paraGen, ids, removed)
          .localCheckpoint(eager = true)
        val n = deleted.select("dig").distinct().count()
        val surv = graft.queries.Dedup
          .paraDigested(survivors.select("doc_id", "text"))
          .select(col("dig"),
            graft.queries.Dedup.pidDecimal(col("pid")).as("pid"))
        AggState.retractExact(spark, deleted, surv, Seq("dig"), "pid", paraGen)
        n
      }
    }

    // 4. optional novelty-filter rebuild over the survivors (new
    // generation, atomic publish, policy retirement left to the caller's
    // cadence — the pipeline's own maintain loop keeps running)
    var bloomRebuilt = false
    if (rebloom) {
      Generations.withWriterLock(t.bloom) {
        val gen = Generations.active(t.bloom)
        if (AggState.bloomExists(gen)) {
          val m = AggState.readBloomMeta(gen)
          val next = s"${t.bloom}/gen-tk${System.currentTimeMillis()}"
          AggState.buildBloom(
            survivors.select(
              explode(graft.queries.TrainPrep.hashedNgrams8(col("text")))
                .as("__h")),
            Nil, "__h", next, m.mBits, m.k)
          Generations.publish(t.bloom, next)
          bloomRebuilt = true
        }
      }
    }
    Report(ids.count(), nRemoved, survivors.count(), indexTombstoned,
      clustersUpdated, nDigs, bloomRebuilt)
  }
}
