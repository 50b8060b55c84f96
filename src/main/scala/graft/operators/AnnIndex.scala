package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
import org.apache.spark.sql.graft.{StandingTables, VectorMath}

/** Standing IVF (ANN) index as a TABLE — the vector-space sibling of
  * [[DedupIndex]] (reference analog: the memo dict reused across work
  * items, `app.py:112,218` — standing state consulted and extended per
  * batch instead of recomputed).
  *
  * Layout under `indexDir`:
  *  - `centroids/` — (centroid_id, centv): the coarse quantizer, FROZEN
  *    at build time. Appends assign against these same centroids, so an
  *    index grown over many batches is assignment-identical to one built
  *    from scratch over the union (proved in `AnnIndexSpec`).
  *  - `vectors/` — (vec_id, embedding) partitioned by `centroid_id`: the
  *    assigned corpus. A probe's top-nprobe centroid join prunes the scan
  *    to the probed centroids' own files (PartitionFilters — the
  *    ScaleOpsSpec pruning proof, now a first-class lifecycle).
  *
  * Lifecycle: `build` writes quantizer + first slice, `append` adds a
  * batch (blind parquet appends — the corpus is never rescanned, ingest
  * cost is O(|batch|)), `probe` answers top-k queries against the CURRENT
  * index, `optimize` compacts accumulated small append files
  * (fingerprint-validated, partitioning preserved).
  *
  * This object is also the ONE home of the engine's vector kernels
  * (cosine nearest-centroid argmax, top-nprobe selection, PQ encode, ADC
  * scoring, the Lloyd member mean, the seed frames): the in-query
  * IVF/PQ/k-means queries call the same kernels, so the persisted path
  * cannot drift from the oracle-verified one — q253 drives
  * build→append→probe for real and is checked against q51's own oracle
  * (the answer depends only on index content).
  *
  * 100 TB design: centroids and codebooks are tiny, so the assignment,
  * PQ encode and top-nprobe selection run per row against their
  * driver-collected candidate literals — an append is one map stage
  * straight into the partitioned write, with no shuffle. A probe is
  * planned around its request: the probe set is broadcast into the
  * vectors scan, which streams past it and reads only the probed
  * partitions, so the only exchanges carry each task's leaf top-k per
  * query (and, for probePq, the ADC scores of the probed partitions'
  * candidates) — never a vectors row that has not met a query. The
  * standing tables are read without a schema job
  * ([[org.apache.spark.sql.graft.StandingTables]]).
  */
object AnnIndex {

  private def centroidsPath(indexDir: String): String = s"$indexDir/centroids"
  private def vectorsPath(indexDir: String): String = s"$indexDir/vectors"
  private def codebooksPath(indexDir: String): String = s"$indexDir/codebooks"
  private def tombstonesPath(indexDir: String): String = s"$indexDir/tombstones"
  private def fitStatsPath(indexDir: String): String = s"$indexDir/fitstats"

  def exists(indexDir: String): Boolean =
    new File(centroidsPath(indexDir)).isDirectory &&
      new File(vectorsPath(indexDir)).isDirectory

  /** Create the index: freeze `centroids` (centroid_id, centv) as the
    * coarse quantizer and write the assigned first slice, replacing any
    * prior content at `indexDir`. With `codebooks` (code, cv) the index
    * ALSO stores each vector's PQ code array — frozen like the quantizer,
    * so batch-grown code columns equal from-scratch ones by construction —
    * enabling the compressed-domain [[probePq]] read path. */
  def build(embeddings: DataFrame, centroids: DataFrame, indexDir: String,
      codebooks: Option[DataFrame] = None): Unit = {
    // a fresh build replaces everything — stale tombstones from a prior
    // index at the same path would suppress legitimately re-used ids
    Generations.deleteTree(tombstonesPath(indexDir))
    centroids.select("centroid_id", "centv")
      .write.mode("overwrite").parquet(centroidsPath(indexDir))
    codebooks.foreach(_.select("code", "cv")
      .write.mode("overwrite").parquet(codebooksPath(indexDir)))
    writeVectors(embeddings, centroids.select("centroid_id", "centv"),
      indexDir, "overwrite", codebooks.map(_.select("code", "cv")))
  }

  /** Add a batch to an existing index. The FROZEN quantizer (and PQ
    * codebooks, when the index carries them) is read back and the batch
    * assigned/encoded against it — blind parquet appends, no
    * read-modify-write. */
  def append(spark: SparkSession, embeddings: DataFrame, indexDir: String): Unit =
    writeVectors(embeddings, StandingTables.read(spark, centroidsPath(indexDir)),
      indexDir, "append",
      if (new File(codebooksPath(indexDir)).isDirectory)
        Some(StandingTables.read(spark, codebooksPath(indexDir))) else None)

  /** Drift-aware REBUILD into a new generation dir (r18 — the action the
    * q307/q309 retrain trigger advises): retrain the coarse quantizer
    * over the index's LIVE (tombstone-filtered) vectors, re-assign every
    * live vector against it, and write a fresh index at `outIndexDir` —
    * the Generations publish/retire choreography is the caller's
    * (AnnIndexMain `reindex` + `publish`; the maintained streaming loops'
    * cadence). Specifics:
    *
    *  - retraining is ONE Lloyd step under the index's own assignment
    *    metric (rounded cosine, lowest-id tie-break): seeds = the `k`
    *    lowest-vec_id live vectors, then per-dimension member means —
    *    float32-derived doubles sum exactly in f64, so the means are
    *    order-independent and the float round-trip is deterministic
    *    (the q78 parity discipline). Content-determined, so a reindexed
    *    grown index probes identically to one built from scratch over
    *    the survivors — q315's oracle hash-checks exactly that;
    *  - PQ codebooks, when present, are CARRIED (codes are recomputed by
    *    the build, identically — encoding depends only on the codebooks):
    *    the drift statistic the reindex answers is coarse-quantizer fit;
    *    codebook retraining would be this same discipline per subspace;
    *  - the fit ledger RESETS: a fresh "build" anchor row over the live
    *    vectors against the NEW quantizer lands at `outIndexDir` (drops
    *    are meaningless across quantizers); the old ledger stays with
    *    the old generation for history.
    *
    * 100 TB: seeds are a k-row TakeOrdered; the Lloyd step is one
    * per-row assignment + one (centroid, dim) aggregation shuffle; the
    * rebuild itself is [[build]]'s one assignment pass — all linear, no
    * step rescans more than the live corpus once. */
  def reindex(spark: SparkSession, indexDir: String, outIndexDir: String,
      k: Int = 8): Unit = {
    Generations.refuseInPlace(indexDir, outIndexDir, "reindex")
    val live = liveVectors(spark, indexDir).select("vec_id", "embedding")
      .localCheckpoint(eager = true) // one materialization feeds seed/assign/build
    val cent = retrainCentroids(live, k)
    val cb =
      if (new File(codebooksPath(indexDir)).isDirectory)
        Some(StandingTables.read(spark, codebooksPath(indexDir)))
      else None
    build(live, cent, outIndexDir, cb)
    recordFitStats(spark, live, outIndexDir, "build")
  }

  /** One cosine-metric Lloyd step from the k lowest-id seeds — the
    * retrained quantizer (centroid_id = seed vec_id, centv ARRAY<FLOAT>).
    * A seed whose cluster is empty cannot occur (each seed assigns to
    * itself at cosine 1.0, losing ties only to a parallel lower-id seed —
    * in which case the two clusters merge, exactly as from scratch). */
  private[graft] def retrainCentroids(live: DataFrame, k: Int): DataFrame = {
    val seeds = live.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    memberMean(assignCosine(live, seeds), "centroid_id", "centv", f32 = true)
  }

  /** Record a batch's quantizer-FIT statistics beside the index (r17 —
    * the standing form of the q307 drift audit): one blind 1-row append
    * to `fitstats/` per ingest batch, computed from the batch alone
    * against the frozen quantizer — O(|batch|), the corpus is never
    * rescanned. The per-vector argmax is the index's own assignment
    * kernel ([[nearestCentroid]]), so the statistic measures exactly
    * the assignment the stored vectors received. Call it beside `build`
    * (batchId "build" anchors the ledger) and each `append`. */
  def recordFitStats(spark: SparkSession, embeddings: DataFrame,
      indexDir: String, batchId: String): Unit = {
    val cent = StandingTables.read(spark, centroidsPath(indexDir))
    nearestCentroid(embeddings.select("vec_id", "embedding"), cent,
        Seq("vec_id"), Seq("ascore"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(floor(best.ascore * 10000) AS BIGINT)")).as("sum_assign_e4"),
        countDistinct(col("best.centroid_id")).as("n_cent_used"))
      .withColumn("batch_id", lit(batchId))
      // an EMPTY batch would write n_vecs=0 with NULL sum_assign_e4, and
      // fitLedger would then emit null statistics for it (a null "build"
      // anchor would nullify every drop) — skip the row instead (r17
      // ADVICE); the filter is blind, no extra action
      .filter(col("n_vecs") > 0)
      .coalesce(1)
      .write.mode("append").parquet(fitStatsPath(indexDir))
  }

  /** The standing retrain-trigger read: every recorded batch's mean
    * assignment fit (e4-integerized), its drop vs the "build" anchor
    * batch, and `reindex_advised` at a >= `dropE4` (default 0.01 cosine)
    * decay — the q307 audit's verdict, answered from the persisted
    * 1-row-per-batch ledger instead of a corpus scan. */
  def fitLedger(spark: SparkSession, indexDir: String,
      dropE4: Long = 100L): DataFrame = {
    val st = StandingTables.read(spark, fitStatsPath(indexDir))
      .withColumn("mean_assign_e4", expr("sum_assign_e4 div n_vecs"))
    val anchor = st.filter(col("batch_id") === "build")
      .select(col("mean_assign_e4").as("base_e4"))
    // fail loudly, not emptily: without exactly one "build" anchor the
    // cross join would silently return an empty (or row-duplicated)
    // ledger — a missing anchor means recordFitStats was never called at
    // build time, a doubled one that it was re-recorded. The anchor's
    // mean must also be non-null (r17 ADVICE: a null anchor — possible
    // only in legacy state written before the empty-batch guard — would
    // silently nullify every drop_e4/reindex_advised downstream).
    val anchorRows = anchor.collect()
    require(anchorRows.length == 1,
      s"fitLedger: expected exactly one 'build' fit-stats row at $indexDir, found ${anchorRows.length}")
    require(!anchorRows.head.isNullAt(0),
      s"fitLedger: the 'build' anchor at $indexDir has null mean_assign_e4 (empty build batch?)")
    st.crossJoin(broadcast(anchor))
      .select(col("batch_id"), col("n_vecs").cast("long").as("n_vecs"),
        col("mean_assign_e4").cast("long").as("mean_assign_e4"),
        col("n_cent_used").cast("long").as("n_cent_used"),
        (col("base_e4") - col("mean_assign_e4")).cast("long").as("drop_e4"),
        ((col("base_e4") - col("mean_assign_e4")) >= dropE4)
          .cast("long").as("reindex_advised"))
      .orderBy("batch_id")
  }

  /** Delete vectors from the index: a blind append of their ids to the
    * tombstone table — O(|removed|), no rewrite. Probes (both the cosine
    * and the IVF-PQ path) exclude tombstoned vectors before scoring, so a
    * grown-then-tombstoned index answers exactly like one built from the
    * survivors (assignment is per-vector against the frozen quantizer, so
    * no boundary interaction exists — proved in `AnnIndexSpec`).
    * `optimize` physically drops tombstoned rows and emits a generation
    * with no tombstone table. */
  def remove(vecIds: DataFrame, indexDir: String): Unit =
    vecIds.select(col("vec_id"))
      .write.mode("append").parquet(tombstonesPath(indexDir))

  /** The index's LIVE vectors: raw table minus tombstoned ids (the
    * tombstone set is delta-sized — AQE broadcasts the anti join). An
    * anti join ignores duplicate keys on its right side, so ids removed
    * twice need no distinct, and no exchange of their own. */
  private def liveVectors(spark: SparkSession, indexDir: String): DataFrame = {
    val raw = StandingTables.read(spark, vectorsPath(indexDir))
    if (new File(tombstonesPath(indexDir)).isDirectory)
      raw.join(StandingTables.read(spark, tombstonesPath(indexDir)).select("vec_id"),
        Seq("vec_id"), "left_anti")
    else raw
  }

  /** (vec_id, centroid_id, embedding[, codes]) per vector, then the
    * partitioned write: both kernels run per row, so the whole write is
    * one map stage. */
  private def writeVectors(e: DataFrame, cent: DataFrame, indexDir: String,
      mode: String, codebooks: Option[DataFrame]): Unit = {
    val assigned = assignCosine(e.select("vec_id", "embedding"), cent)
    codebooks.fold(assigned)(pqEncode(assigned, _))
      .write.mode(mode).partitionBy("centroid_id").parquet(vectorsPath(indexDir))
  }

  // ---- PQ (compressed-domain) read path ----------------------------------

  /** `vectors` with its PQ code array appended as `codes`: per row, the
    * lowest-code nearest codeword of each subspace ([[pqAssign]]'s
    * argmin, in subspace order). */
  private[graft] def pqEncode(vectors: DataFrame, cw: DataFrame): DataFrame = {
    val (cands, k) = candidateSet(cw, "code", "cv")
    nonEmpty(vectors.withColumn("codes", VectorMath.nearest_l2(col("embedding"),
      cands, PqSubspaces, PqSubDim, keepDist = false)), k)
  }

  /** IVF-PQ search against the standing index — the full production ANN
    * read path: the probe prunes to the top-`nprobe` centroids' OWN
    * partitions (the q253 DPP discipline), candidates are scored in the
    * compressed domain (ADC: per-query LUT broadcast against the stored
    * 4-byte codes — the embedding column is never read for scoring), the
    * ADC top-`shortlistK` joins back to the probed partitions' raw vectors
    * for exact L2, and the re-rank's top-`topK` is served. The ADC sum is
    * [[adcScore]]'s fixed-order d0+d1+d2+d3 (q99's cross-engine
    * determinism trick). Both vectors scans stream past the broadcast
    * probe set, so each is pruned to the probed partitions; the answer is
    * |queries| × `topK` rows, sorted in one partition (see [[probe]]). */
  def probePq(spark: SparkSession, queries: DataFrame, indexDir: String,
      nprobe: Int = 2, shortlistK: Int = 32, topK: Int = 5): DataFrame = {
    val cent = StandingTables.read(spark, centroidsPath(indexDir))
    val cw = StandingTables.read(spark, codebooksPath(indexDir))
    val probes = topCentroids(queries, cent, nprobe)
      .select(col("qid"), col("centroid_id").cast("long").as("pcid"))
    // the probe set is the request, so it is the broadcast side: the
    // vectors scan streams past it, and dynamic partition pruning reuses
    // the same broadcast to read only the probed partitions — the index
    // table is never shuffled, whatever the planner estimates for the
    // probe frame
    val probed = liveVectors(spark, indexDir)
      .withColumn("ccid", col("centroid_id").cast("long"))
      .join(broadcast(probes), col("pcid") === col("ccid") && col("qid") =!= col("vec_id"))
    val dt = pqLut(queries, cw)
    val cands = probed
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
    val adc = adcScore(cands.join(broadcast(dt), Seq("qid", "subspace", "code")))
    val shortlist = adc.groupBy("qid")
      .agg(graft.functions.TopKByScore.top_k(shortlistK)(col("vec_id"), -col("adc")).as("top"))
      .select(col("qid"), explode(col("top")).as("sc"))
      .select(col("qid"), col("sc.id").as("vec_id"))
    // exact re-rank: shortlist + query vectors broadcast, ONE map-side
    // reduction of the probed partitions' scan (q247's plan shape); a
    // shortlisted vector lives in a partition its query probed
    val l2 = VectorMath.l2sq(col("qe"), col("embedding"))
    val wR = Window.partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    sortedAnswer(probed.select(col("qid"), col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("qid", "vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("dist", l2)
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("dist"), 4).as("l2")))
  }

  /** A probe's answer — |queries| × topK rows, delta-sized by
    * construction — sorted by (qid, rank) in ONE partition: a
    * `coalesce(1).sortWithinPartitions`, not a range-partitioned orderBy
    * and the sampling job it launches. */
  private def sortedAnswer(ranked: DataFrame): DataFrame =
    ranked.coalesce(1).sortWithinPartitions("qid", "rank")

  /** Top-k search against the standing index: q51's probe discipline
    * (top-`nprobe` centroids per query, leaf top-`topK` by cosine) over
    * the persisted assignment. Queries carry (qid, qe), qid unique. The
    * answer is sorted by (qid, rank) in one partition (it is at most
    * |queries| × `topK` rows). */
  def probe(spark: SparkSession, queries: DataFrame, indexDir: String,
      nprobe: Int = 2, topK: Int = 5): DataFrame = {
    val cent = StandingTables.read(spark, centroidsPath(indexDir))
    val assign = liveVectors(spark, indexDir)
      .select(col("vec_id").as("cid"),
        col("centroid_id").cast("long").as("ccid"), col("embedding").as("ce"))
    searchAssigned(queries, cent, assign, nprobe, topK)
  }

  // ---- the shared vector kernels -----------------------------------------
  // Every IVF/PQ/k-means site in the engine (this index, Similarity's
  // q40-q315 family, Dedup's q59/q237) calls these; none is hand-written
  // elsewhere, so a kernel's plan shape changes in exactly one place.
  //
  // The three assignment kernels (nearestCentroid, pqAssign/pqEncode,
  // assignL2) and topCentroids are PER ROW: the candidate frame is
  // collected once on the driver and scanned by a native expression
  // (VectorMath.nearest_cosine / top_cosine / nearest_l2) — no cross join,
  // no shuffle, no aggregate. This equals the grouped argmax (or ranking
  // window) over the cross join exactly when the grouping keys are unique
  // in the input, which holds at every caller (they key on vec_id or qid,
  // or on (vec_id, slice) over a union of disjoint slices).

  private val PqSubspaces = 4
  private val PqSubDim = 16

  /** The K-row candidate frame `cand` (id, vec), collected once on the
    * driver — the data path a broadcast exchange takes — as the literal
    * the per-row kernels scan, with its row count. */
  private def candidateSet(cand: DataFrame, id: String, vec: String): (Column, Int) = {
    val df = cand.select(col(id), col(vec))
    val rows = df.collect().toSeq
    (VectorMath.candidates(rows, df.schema(0).dataType, df.schema(1).dataType), rows.size)
  }

  /** An empty candidate set pairs with nothing: no rows, as the cross
    * join it replaces. */
  private def nonEmpty(df: DataFrame, k: Int): DataFrame = if (k == 0) df.limit(0) else df

  /** The quantizer seed: the vectors with `vec_id < k` as
    * (centroid_id, centv). */
  private[graft] def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))

  /** The PQ codebook seed: the first 4 vectors as codewords (code, cv). */
  private[graft] def seedCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cv"))

  /** Nearest centroid by cosine: per row of `e` (which carries
    * `embedding`), the centroid (centroid_id, centv) with the highest
    * `ascore` = round(cos, 4) — or the raw cosine when `rounded = false`
    * — ties to the LOWEST centroid_id, emitted beside `keys` as the struct
    * `best` (centroid_id, payload...). `ascore` is in scope for the
    * payload. Per row (≡ row_number over (ascore DESC, centroid_id ASC)
    * = 1 per key, given `keys` unique in `e`): a NaN score beats every
    * number, a NULL one loses to every number. */
  private[graft] def nearestCentroid(e: DataFrame, cent: DataFrame,
      keys: Seq[String], payload: Seq[String], rounded: Boolean = true): DataFrame = {
    val (cands, k) = candidateSet(cent, "centroid_id", "centv")
    val best = struct((col("_nearest.id").as("centroid_id") +: payload.map(p =>
      if (p == "ascore") col("_nearest.score").as("ascore") else col(p))): _*)
    nonEmpty(e.withColumn("_nearest",
        VectorMath.nearest_cosine(col("embedding"), cands, rounded))
      .select((keys.map(col) :+ best.as("best")): _*), k)
  }

  /** Each query's (qid, qe, ...) top-`nprobe` centroids by
    * round(cos, 4) — score descending, NaN highest, NULL lowest, ties to
    * the lowest centroid_id — as one row per probed centroid: the query's
    * columns, `centroid_id`, `qscore` and its rank `rn` (1-based). One
    * per-row kernel over the driver-collected centroids
    * ([[VectorMath.top_cosine]]): no query × centroid cross join and no
    * window. Equal to `row_number() <= nprobe` over (qscore DESC,
    * centroid_id ASC) per qid when qid is unique in `q`. */
  private[graft] def topCentroids(q: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame = {
    val (cands, k) = candidateSet(cent, "centroid_id", "centv")
    nonEmpty(q.select(col("*"),
        posexplode(VectorMath.top_cosine(col("qe"), cands, nprobe, rounded = true))
          .as(Seq("_pos", "_top")))
      .select((q.columns.map(c => col(s"`$c`")) ++ Seq(col("_top.id").as("centroid_id"),
        col("_top.score").as("qscore"), (col("_pos") + 1).as("rn"))): _*), k)
  }

  /** Squared L2 between one 16-dim subspace slice of `a` and the codeword
    * column `cv` — a native codegen'd loop (sequential accumulation, so
    * the raw doubles are bit-equal to the oracle's list comprehension;
    * parity pinned in VectorMathSpec). Expects `subspace` and `cv`. */
  private def subL2(a: Column): Column =
    VectorMath.slice_l2sq(a, col("cv"), (col("subspace") * PqSubDim + 1).cast("int"),
      lit(PqSubDim))

  /** PQ encode, per (vec_id, subspace): the nearest codeword of the
    * codebook (code, cv) by raw sub-L2, ties to the LOWEST code — as
    * `code`, or with `keepDist` as the struct `best` (code, dist). A NULL
    * distance (a vector whose slice length differs from the codeword's)
    * sorts first, as min_by's struct order puts it. Per row: the 4
    * argmins of a vector come out of one expression. */
  private[graft] def pqAssign(vectors: DataFrame, cw: DataFrame,
      keepDist: Boolean = false): DataFrame = {
    val (cands, k) = candidateSet(cw, "code", "cv")
    val codes = vectors.select(col("vec_id"), posexplode(VectorMath.nearest_l2(
      col("embedding"), cands, PqSubspaces, PqSubDim, keepDist)).as(Seq("subspace", "b")))
    nonEmpty(
      if (keepDist) codes.select(col("vec_id"), col("subspace"),
        struct(col("b.id").as("code"), col("b.score").as("dist")).as("best"))
      else codes.withColumnRenamed("b", "code"), k)
  }

  /** Nearest centroid under squared L2, ties to the lowest `cid`: every
    * vector of `e` (vec_id, embedding) with its centroid of `cent`
    * (cid, cv) and the raw distance, as (vec_id, cid, embedding, dist).
    * Per row, given vec_id unique in `e`; a NULL distance (unequal
    * lengths) sorts first, as min_by's struct order puts it. */
  private[graft] def assignL2(e: DataFrame, cent: DataFrame): DataFrame = {
    val (cands, k) = candidateSet(cent, "cid", "cv")
    nonEmpty(e.withColumn("_nearest", VectorMath.nearest_l2(col("embedding"), cands,
        1, Int.MaxValue, keepDist = true).getItem(0))
      .select(col("vec_id"), col("_nearest.id").as("cid"), col("embedding"),
        col("_nearest.score").as("dist")), k)
  }

  /** The per-query ADC lookup table: the exact sub-L2 of each query
    * (qid, qe) against every codeword, as (qid, subspace, code, d). */
  private[graft] def pqLut(q: DataFrame, cw: DataFrame): DataFrame =
    q.withColumn("subspace", explode(array((0 until PqSubspaces).map(lit(_)): _*)))
      .join(broadcast(cw))
      .select(col("qid"), col("subspace"), col("code"), subL2(col("qe")).as("d"))

  /** ADC score per (qid, vec_id) from looked-up (subspace, d) rows: the
    * per-subspace components pivot into fixed columns and add in ONE
    * order, d0+d1+d2+d3, so the double sum never depends on row arrival
    * (q99's cross-engine determinism trick). */
  private[graft] def adcScore(lookups: DataFrame): DataFrame =
    lookups.groupBy("qid", "vec_id")
      .agg(
        sum(when(col("subspace") === 0, col("d"))).as("d0"),
        sum(when(col("subspace") === 1, col("d"))).as("d1"),
        sum(when(col("subspace") === 2, col("d"))).as("d2"),
        sum(when(col("subspace") === 3, col("d"))).as("d3"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))

  /** One Lloyd update: per `key`, the per-dimension mean of the members'
    * embeddings as `out` ARRAY<DOUBLE>, or ARRAY<FLOAT> with `f32`.
    * Member sums of float32-derived doubles are exact in f64, so the
    * means are order-independent and bit-equal across engines (the q78
    * parity note); the float cast is the same IEEE rounding in both. */
  private[graft] def memberMean(members: DataFrame, key: String, out: String,
      f32: Boolean = false): DataFrame =
    members
      .select(col(key),
        posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("pos", "v")))
      .groupBy(key, "pos").agg(avg("v").as("m"))
      .groupBy(key)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(key), transform(col("pm"), p =>
        if (f32) p.getField("m").cast("float") else p.getField("m")).as(out))

  /** q40/q51's assignment: every vector tagged with its nearest centroid
    * ([[nearestCentroid]]), carrying its embedding through the argmax. */
  private[graft] def assignCosine(e: DataFrame, cent: DataFrame): DataFrame =
    nearestCentroid(e, cent, Seq("vec_id"), Seq("embedding"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        col("best.embedding").as("embedding"))

  /** q51's search over an assigned corpus: probe the top-`nprobe`
    * centroids per query, score only their members, rank by rounded
    * cosine with cid tie-break. `assign` carries (cid, ccid, ce); the
    * probe set is broadcast into it (as in [[probePq]]), and the answer
    * is sorted in one partition (see [[sortedAnswer]]). */
  private[graft] def searchAssigned(q: DataFrame, cent: DataFrame,
      assign: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    val probes = topCentroids(q, cent, nprobe)
      .select(col("qid"), col("qe"), col("centroid_id").as("pcid"))
    val wS = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
    sortedAnswer(assign.join(broadcast(probes),
        col("pcid") === col("ccid") && col("qid") =!= col("cid"))
      .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
      .withColumn("rank", row_number().over(wS).cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid", "score"))
  }

  /** Compact the index's accumulated append files into `outIndexDir`
    * (size-targeted; vectors keep their `centroid_id` partitioning — it
    * is what prunes a probe to the probed centroids' files — and, under
    * the size target, get exactly one file per `centroid_id=` directory,
    * the directories written in parallel by `Compaction.write`),
    * physically dropping tombstoned vectors — the output generation is
    * the survivor set with NO tombstone table. The quantizer and, when present, the PQ
    * `codebooks/` and the `fitstats/` ledger are carried over verbatim —
    * standing state the probePq and fitLedger readers depend on, which a
    * generation must not silently miss or mangle across a publish switch.
    * Every rewritten table is fingerprint-validated against its source
    * (the vectors against the live view) in one `Reconcile.requireMatch`:
    * one job for all tables, failing loudly. */
  def optimize(spark: SparkSession, indexDir: String, outIndexDir: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    Generations.refuseInPlace(indexDir, outIndexDir, "optimize")
    val carried = "centroids" +: Seq("codebooks", "fitstats")
      .filter(t => new File(s"$indexDir/$t").isDirectory)
    carried.foreach { t =>
      val df = StandingTables.read(spark, s"$indexDir/$t")
      Compaction.write(df, df, s"$outIndexDir/$t", targetFileBytes)
    }
    val vecs = liveVectors(spark, indexDir)
    Compaction.write(vecs, StandingTables.read(spark, vectorsPath(indexDir)),
      vectorsPath(outIndexDir), targetFileBytes, Some("centroid_id" -> Seq("centroid_id")))
    Reconcile.requireMatch("optimize",
      carried.map(t => (t, StandingTables.read(spark, s"$indexDir/$t"),
        StandingTables.read(spark, s"$outIndexDir/$t"))) :+
        (("vectors", vecs, StandingTables.read(spark, vectorsPath(outIndexDir)))))
  }
}
