package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design (100 TB):
  *  - brute-force cosine top-k (q39) is the correctness baseline: the query
  *    set is tiny and broadcast, so the plan streams the candidate side once
  *    — no shuffle of the big table;
  *  - IVF (q40 assignment, q51 search, q55 recall) is the scale path: every
  *    vector is assigned to its nearest centroid once; at scale the
  *    assignment table is written partitioned by centroid so probes read
  *    only matching partitions. q55 measures what the approximation costs;
  *  - SQ8 quantization (q50) is the storage half: int8 codes are 4× smaller
  *    than float32.
  *
  * The hot cosine path is the codegen'd native expression
  * [[org.apache.spark.sql.graft.CosineSimilarity]]; double accumulation in
  * array order keeps bit-parity with the DuckDB oracle's `list_sum`.
  */
object Similarity {

  /** HOF norm (q41's array-math surface). */
  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  // 1-based range over a 64-dim list, mirroring Spark's sequential aggregate
  private def dotSql(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a) + 1)])"
  private def normSql(a: String): String =
    s"sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE for i in range(1, len($a) + 1)]))"

  /** The hot squared-L2: native codegen'd loop whose double accumulation
    * order matches the oracle's list comprehension (bit-parity with the
    * sequential HOF fold pinned in VectorMathSpec). */
  private def l2(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorMath.l2sq(a, b)

  /** Nearest-centroid assignment under L2 (ties → lowest cid). `cent` must
    * be small — it is broadcast. The argmin is `min_by` over the struct
    * order (dist, cid), NOT a row_number window: min_by partially
    * aggregates map-side, so ONE row per vector crosses the shuffle
    * instead of |centroids|× rows plus a sort — the window form's exchange
    * is the scale bug this avoids (same result set: lexicographic
    * (dist asc, cid asc) ≡ the window's orderBy). */
  private def assignL2(e: org.apache.spark.sql.DataFrame,
                       cent: org.apache.spark.sql.DataFrame) =
    e.join(broadcast(cent))
      .withColumn("dist", l2(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("embedding"), col("dist")),
        struct(col("dist"), col("cid"))).as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"),
        col("b.embedding").as("embedding"), col("b.dist").as("dist"))

  /** q307's drift shift: a deterministic per-dimension affine
    * (x*0.5 + 0.25, computed in double, rounded back to float so the
    * index parquet schema stays array<float> and every shared cosine
    * formula applies unchanged). 0.5/0.25 are dyadic, so the double ops
    * are exact and the float round-trip is the same IEEE
    * round-to-nearest in both engines. */
  private[graft] def driftShift(e: Column): Column =
    transform(e, x => (x.cast("double") * 0.5 + 0.25).cast("float"))

  /** q307's reindex trigger: advise a rebuild when the appended slice's
    * mean assignment cosine to the FROZEN quantizer is >= 0.01 worse
    * than the base slice's (e4-integerized). */
  private[graft] val ReindexDropE4 = 100L

  /** q307's body over any (vec_id, embedding) frame — spec-callable so
    * planted drift cases run without fixture I/O. Even ids are the base
    * slice (quantizer + first index slice), odd ids are [[driftShift]]ed
    * and appended against the frozen quantizer; ids < 20 of the GROWN
    * corpus are the query set. Output: one row per slice with the probe's
    * recall@5 vs brute force and the residual statistics feeding
    * reindex_advised. */
  private[graft] def annDriftReport(s: SparkSession,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withStateDir("graft-ann-drift-") { idxDir =>
      val base = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
      val drift = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), driftShift(col("embedding")).as("embedding"))
      val cent = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      graft.operators.AnnIndex.build(base, cent, idxDir)
      graft.operators.AnnIndex.append(s, drift, idxDir)
      val corpus = base.withColumn("slice", lit("base"))
        .unionByName(drift.withColumn("slice", lit("drift")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = corpus.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("slice"))
      // exact ground truth over the grown corpus (q39's broadcast shape)
      val wB = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
      val bf = corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .join(broadcast(qs.select("qid", "qe")), col("qid") =!= col("cid"))
        .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
        .withColumn("rank", row_number().over(wB)).filter(col("rank") <= 5)
        .select("qid", "cid")
      // the STANDING index answers through its real probe path
      val ivf = graft.operators.AnnIndex
        .probe(s, qs.select("qid", "qe"), idxDir)
        .select(col("qid"), col("cid"), lit(1L).as("hit"))
      val recall = bf.join(ivf, Seq("qid", "cid"), "left")
        .groupBy("qid").agg(count(col("hit")).as("nh"))
        .join(qs.select("qid", "slice"), Seq("qid"))
        .groupBy("slice")
        .agg(count(lit(1)).as("n_queries"), sum("nh").as("n_hit"))
      // residual: every corpus vector's fit against the frozen quantizer
      val resid = corpus.join(broadcast(cent))
        .withColumn("ascore", round(cosine_sim(col("centv"), col("embedding")), 4))
        .groupBy("vec_id", "slice")
        .agg(max_by(struct(col("centroid_id"), col("ascore")),
          struct(col("ascore"), -col("centroid_id"))).as("b"))
        .groupBy("slice")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(floor(b.ascore * 10000) AS BIGINT)")).as("se4"),
          countDistinct(col("b.centroid_id")).as("n_cent_used"))
        .withColumn("mean_assign_e4", expr("se4 div n_vecs"))
      val wAll = Window.partitionBy()
      val out = resid.join(recall, Seq("slice"))
        .withColumn("recall_bp", expr("(n_hit * 10000) div (n_queries * 5)"))
        .withColumn("drop_e4",
          max(when(col("slice") === "base", col("mean_assign_e4"))).over(wAll) -
            max(when(col("slice") === "drift", col("mean_assign_e4"))).over(wAll))
        .select(col("slice"), col("n_vecs").cast("long").as("n_vecs"),
          col("mean_assign_e4").cast("long").as("mean_assign_e4"),
          col("n_cent_used").cast("long").as("n_cent_used"),
          col("n_queries").cast("long").as("n_queries"),
          col("n_hit").cast("long").as("n_hit"),
          col("recall_bp").cast("long").as("recall_bp"),
          col("drop_e4").cast("long").as("drop_e4"),
          (col("drop_e4") >= ReindexDropE4).cast("long").as("reindex_advised"))
        .orderBy("slice")
        .localCheckpoint(eager = true)
      corpus.unpersist()
      out
    }

  /** q297's corpus-sized centroid count: K = clamp(8..4096, n/250) — the
    * SemDeDup paper's knob, applied so expected cluster cardinality stays
    * ~250 as the corpus grows (the within-cluster pair mass is the only
    * quadratic term; at fixed K=8 the 100× tier measured 45×/decade, with
    * K-scaling it is re-measured in SCALE.md). The 4096 cap bounds the
    * centroid broadcast (~2 MB of doubles); past it a deployment goes
    * hierarchical (IVF-style coarse quantizer, q79's shape). At the three
    * oracle SFs (500/500/2000 vectors) the clamp floors to K=8, so the
    * DuckDB mirror — greatest(8, least(4096, count/250)) — is gate-checked
    * at the value the tiers grow away from. */
  private[queries] def semdedupK(n: Long): Long =
    math.max(8L, math.min(4096L, n / 250L))

  /** One Lloyd step from the first-8 seed: assign → per-dimension means.
    * Member sums of float32-derived doubles are exact in f64, so the means
    * are order-independent (the q78 parity note). */
  private def trainedCentroids(e: org.apache.spark.sql.DataFrame) = {
    val c0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
    assignL2(e, c0)
      .select(col("cid"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(avg("v").as("m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("cv"))
  }

  val queries: Map[String, Q] = Map(
    // ---- brute-force cosine top-k ---------------------------------------
    "q39_cosine_topk" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "cid", "score")
        .orderBy("qid", "rank")
    }),

    // ---- IVF assignment: nearest-of-k-centroids --------------------------
    // argmax via max_by over (score, -centroid_id) — map-side partial
    // aggregation, one row per vector over the shuffle; ≡ the window
    // orderBy(score DESC, centroid_id ASC) row_number()=1 (see assignL2)
    "q40_ivf_assign" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      e.join(broadcast(cent))
        .withColumn("score", round(cosine_sim(col("centv"), col("embedding")), 4))
        .groupBy("vec_id")
        .agg(max_by(struct(col("centroid_id"), col("score")),
          struct(col("score"), -col("centroid_id"))).as("b"))
        .groupBy(col("b.centroid_id").as("centroid_id"))
        .agg(count(lit(1)).as("n_members"), round(avg("b.score"), 4).as("avg_sim"))
        .orderBy("centroid_id")
    }),

    // ---- IVF search: probe top-2 centroids, search only their members ----
    // Assignment (map-side argmax, see q40) and search are the SHARED
    // AnnIndex shapes — the persisted-index path (q253) runs this exact
    // code over parquet instead of an in-query frame, so the two cannot
    // drift apart.
    "q51_ivf_search" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val assign = graft.operators.AnnIndex
        .assignCosine(e.select("vec_id", "embedding"), cent)
        .select(col("vec_id").as("cid"), col("centroid_id").as("ccid"),
          col("embedding").as("ce"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.operators.AnnIndex.searchAssigned(q, cent, assign, nprobe = 2, topK = 5)
    }),

    // ---- standing ANN index: build -> append -> probe --------------------
    // q51's semantics with the index driven through its real PERSISTED
    // lifecycle: quantizer frozen at build, first slice written, second
    // batch appended blind (assigned against the frozen centroids — the
    // first slice is never rescanned), then the q51 query set probes the
    // standing table. The answer depends only on index CONTENT, so q51's
    // own oracle verifies the whole build/append/probe path at every sf.
    "q253_ann_index" -> ((s: SparkSession, dir: String) => withStateDir("graft-ann-index-") { idxDir =>
      val e = Tables(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      graft.operators.AnnIndex.build(e.filter(col("vec_id") % 10 < 5), cent, idxDir)
      graft.operators.AnnIndex.append(s, e.filter(col("vec_id") % 10 >= 5), idxDir)
      graft.operators.AnnIndex.probe(s,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        idxDir)
    }),

    // ---- recall@5 of IVF vs brute force (ANN quality measurement) --------
    "q55_ivf_recall" -> ((s: SparkSession, dir: String) => {
      val bf = queries("q39_cosine_topk")(s, dir).select("qid", "cid")
      val ivf = queries("q51_ivf_search")(s, dir)
        .select(col("qid"), col("cid"), lit(1L).as("hit"))
      bf.join(ivf, Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall", round(col("n_hit").cast("double") / 5.0, 4))
        .orderBy("qid")
    }),

    // ---- standing-index recall decay under distribution drift (r17) ------
    // AnnIndex freezes its quantizer at build; q55/q100 only ever measured
    // from-scratch builds. This audits the FROZEN index after a drifted
    // append: the base slice (even ids) builds the index, the odd slice is
    // affine-shifted (x*0.5 + 0.25 per dimension, float-rounded — a
    // deterministic, oracle-expressible distribution shift toward the
    // all-ones direction) and appended blind. Per slice it reports
    // recall@5 of the standing probe vs exact brute force over the grown
    // corpus, AND the retrain trigger: the mean assignment cosine to the
    // frozen quantizer (e4-integerized) with centroid-usage count. On
    // every fixture the residual is the robust drift signal — the drifted
    // slice's fit drops 120-500 e4 and its vectors crowd into 3-5 of the 8
    // centroids — while recall alone can HOLD under drift (crowded
    // partitions are probed together), which is exactly why a production
    // reindex trigger must watch the residual, not recall.
    // reindex_advised fires when the drift slice fits the frozen quantizer
    // >= 0.01 cosine worse than the base slice did.
    "q307_ann_drift" -> ((s: SparkSession, dir: String) =>
      annDriftReport(s, Tables(s, dir, "embeddings"))),

    // ---- standing fit ledger: the retrain trigger at O(batch) (r17) ------
    // q307 audits drift by rescanning the corpus; production wants the
    // statistic maintained AT INGEST. AnnIndex.recordFitStats appends ONE
    // row per batch (its mean assignment fit against the frozen quantizer
    // and centroid usage, computed from the batch alone), and fitLedger
    // answers reindex_advised from the persisted rows — the corpus is
    // never rescanned, ingest cost stays O(|batch|), and the trigger is a
    // metadata read. Same slices/shift as q307, so the drift row's
    // statistics must equal q307's drift slice (the oracle re-derives the
    // per-batch fold from the slice definitions — content-determined, the
    // q253 discipline for persisted state).
    "q309_ann_fit_ledger" -> ((s: SparkSession, dir: String) => withStateDir("graft-ann-fit-") { idxDir =>
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
      val drift = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), driftShift(col("embedding")).as("embedding"))
      val cent = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      graft.operators.AnnIndex.build(base, cent, idxDir)
      graft.operators.AnnIndex.recordFitStats(s, base, idxDir, "build")
      graft.operators.AnnIndex.append(s, drift, idxDir)
      graft.operators.AnnIndex.recordFitStats(s, drift, idxDir, "b1_drift")
      graft.operators.AnnIndex.fitLedger(s, idxDir)
    }),

    // ---- drift -> REINDEX: the retrain trigger's action (r18) ------------
    // q307/q309 fire reindex_advised; this drives the advised action
    // end-to-end through the standing index: build on the base slice,
    // blind-append the drifted slice, tombstone a takedown set
    // (vec_id % 7 == 2 — hits both slices, so the retrain provably reads
    // LIVE vectors only), then AnnIndex.reindex into a new generation
    // (quantizer retrained over the live corpus: 8 lowest-id seeds + one
    // cosine Lloyd step, fit ledger re-anchored) and answer the q51-shape
    // probe from it. The oracle re-derives everything from the slice
    // definitions — seeds, means (exact f64 sums of floats, cast back to
    // FLOAT), re-assignment and probe — so "post-reindex probe ≡ index
    // scratch-built on the current corpus" is hash-checked at 3 SFs.
    "q315_ann_reindex" -> ((s: SparkSession, dir: String) => withStateDir("graft-ann-reindex-") { tmpDir =>
      val idx0 = s"$tmpDir/gen0"; val idx1 = s"$tmpDir/gen1"
      val e = Tables(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
      val drift = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), driftShift(col("embedding")).as("embedding"))
      val cent = base.filter(col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      graft.operators.AnnIndex.build(base, cent, idx0)
      graft.operators.AnnIndex.recordFitStats(s, base, idx0, "build")
      graft.operators.AnnIndex.append(s, drift, idx0)
      graft.operators.AnnIndex.recordFitStats(s, drift, idx0, "b1_drift")
      graft.operators.AnnIndex.remove(
        e.filter(col("vec_id") % 7 === 2).select("vec_id"), idx0)
      graft.operators.AnnIndex.reindex(s, idx0, idx1, k = 8)
      val qs = base.unionByName(drift)
        .filter(col("vec_id") < 20 && col("vec_id") % 7 =!= 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.operators.AnnIndex.probe(s, qs, idx1)
    }),

    // ---- SQ8 scalar quantization: reconstruction error per label ---------
    "q50_quantize" -> ((s: SparkSession, dir: String) => {
      val recon = aggregate(
        transform(col("embedding"), x =>
          abs(x.cast("double") - round(x.cast("double") * 127).cast("double") / 127.0)),
        lit(0.0), (acc, v) => acc + v) / size(col("embedding")).cast("double")
      Tables(s, dir, "embeddings")
        .withColumn("recon_err", recon)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("recon_err"), 6).as("avg_err"),
          round(max("recon_err"), 6).as("max_err"))
        .orderBy("label")
    }),

    // ---- grouped top-k via the bounded-heap Aggregator -------------------
    // Same result set as q39, but the per-query top-5 is computed by
    // TopKByScore (partial ObjectHashAggregate): each map-side partition
    // keeps a 5-element heap per query, so the shuffle moves k rows per
    // (group × partition) instead of sorting every scored candidate the way
    // q39's row_number window does. At 100 TB candidate volume that is the
    // difference between a k-row combine and a full sort (VERDICT r1 #8).
    // q39 stays as the window-form baseline; TopKByScoreSpec asserts the
    // two forms agree and that this plan has no window sort.
    "q56_topk_agg" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
        .groupBy("qid")
        .agg(graft.functions.TopKByScore.top_k(5)(col("cid"), col("score")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("idx", "sc")))
        .select(col("qid"), (col("idx") + 1).cast("long").as("rank"),
          col("sc.id").as("cid"), col("sc.score").as("score"))
        .orderBy("qid", "rank")
    }),

    // ---- product quantization: per-subspace codebook assignment ----------
    // PQ completes the quantization family (SQ8 = scalar codes, PQ =
    // subvector codes): the 64-dim space splits into 4×16-dim subspaces;
    // in each, a vector is coded as its nearest of 4 codewords (taken
    // deterministically from the first 4 vectors — a real pipeline would
    // k-means them). Storage: 4 code bytes/vector vs 256 float bytes — the
    // compressed layout large-scale ANN actually scans. Argmin on the raw
    // double L2 (identical fold order in both engines, so bit-equal),
    // codeword id breaks ties; the emitted distance is rounded.
    "q76_pq_assign" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cw = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("code"), col("embedding").as("cv"))
      val sub = e.select(col("vec_id"), col("embedding"))
        .withColumn("subspace", explode(array((0 until 4).map(i => lit(i)): _*)))
      val l2 = org.apache.spark.sql.graft.VectorMath.slice_l2sq(
        col("embedding"), col("cv"),
        (col("subspace") * 16 + 1).cast("int"), lit(16))
      // per-(vector, subspace) argmin via min_by — map-side partial agg,
      // no |codebook|× window shuffle (see q40)
      sub.join(broadcast(cw))
        .withColumn("dist", l2)
        .groupBy("vec_id", "subspace")
        .agg(min_by(struct(col("code"), col("dist")),
          struct(col("dist"), col("code"))).as("b"))
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("b.code").as("code"), round(col("b.dist"), 4).as("dist"))
        .orderBy("vec_id", "subspace")
    }),

    // ---- PQ-compressed ANN search (ADC) ----------------------------------
    // Closes the PQ loop the way q79 closes IVF's: search in the COMPRESSED
    // domain. Every vector is its 4 codes (q76's assignment — 4 bytes, the
    // only corpus-sized input); per query a 4×|codebook| distance table of
    // exact sub-L2s is broadcast; the asymmetric (ADC) distance is the sum
    // of 4 table lookups. The per-subspace components are pivoted into
    // fixed columns and added in one order (d0+d1+d2+d3), so the float sum
    // never depends on row arrival; ranking runs on that raw deterministic
    // double via the bounded-heap TopKByScore aggregator — k rows per query
    // per partition cross the shuffle, the corpus-sized scored set is never
    // sorted. At 100 TB this is the memory story of PQ: the scan touches
    // 4-byte codes + a broadcast LUT, never the float vectors.
    "q99_pq_search" -> ((s: SparkSession, dir: String) => pqTop5(s, dir)),

    // ---- PQ search recall vs exact brute force ---------------------------
    // The honesty measurement for q99 (q55's role for IVF): per query, how
    // many of the ADC top-5 appear in the EXACT L2 top-5. Both sides are
    // deterministic (ordered folds, fixed-order ADC sum, id tie-breaks), so
    // recall is exact integer math — hits × 2000 bp.
    "q100_pq_recall" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val exact = c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("d", l2(col("qe"), col("ce")))
        .groupBy("qid")
        .agg(graft.functions.TopKByScore.top_k(5)(col("cid"), -col("d")).as("top"))
        .select(col("qid"), explode(col("top")).as("sc"))
        .select(col("qid"), col("sc.id").as("vec_id"), lit(1L).as("hit"))
      pqTop5(s, dir)
        .join(exact, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(col("hit")).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          (col("n_hits") * 2000).as("recall_bp"))
        .orderBy("qid")
    }),

    // ---- IVF-PQ refine: ADC shortlist → exact re-rank --------------------
    // The standard two-stage ANN read path q99 stops short of: the
    // compressed scan RANKS (ADC over 4-byte codes, corpus never touches
    // floats), then only the top-32 shortlist per query is re-scored
    // EXACTLY against the raw vectors and the top-5 of that re-rank is
    // served. At 100 TB the economics: stage 1 reads |corpus|×4 bytes,
    // stage 2 reads 32 raw vectors per query — the full-precision table is
    // probed, never scanned. Plan shape: the shortlist (k·|queries| rows)
    // and the query vectors are both broadcast, so the single corpus scan
    // semi-reduces to candidates map-side with zero shuffle of the big
    // side. Recall@5 can only improve on q100's ADC-only number: the exact
    // top-1 is found whenever it survives the shortlist, and any exact
    // top-5 member ranked by ADC within 32 is recovered (measured: see
    // SimilaritySpec's rerank-recall case).
    "q247_pq_rerank" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cand = pqAdcTopK(s, dir, 32).select(col("qid"), col("vec_id"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      e.select(col("vec_id"), col("embedding").as("ce"))
        .join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .withColumn("d", l2(col("qe"), col("ce")))
        .groupBy("qid")
        .agg(graft.functions.TopKByScore.top_k(5)(col("vec_id"), -col("d")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("idx", "sc")))
        .select(col("qid"), (col("idx") + 1).cast("long").as("rank"),
          col("sc.id").as("vec_id"), round(-col("sc.score"), 4).as("l2"))
        .orderBy("qid", "rank")
    }),

    // ---- standing IVF-PQ index (the full production ANN read path) -------
    // AnnIndex with PQ codes stored alongside the vectors (both quantizer
    // and codebooks FROZEN at build, so batch-grown ≡ from-scratch by
    // construction): probe prunes to the top-2 centroids' partitions,
    // scores candidates in the COMPRESSED domain (broadcast per-query LUT
    // against the stored 4-byte codes — embeddings never read for
    // scoring), re-ranks the ADC top-32 exactly, serves top-5. The oracle
    // rebuilds the identical pipeline relationally (q51's assignment ∩
    // q99's ADC chain ∩ q247's re-rank), so IVF pruning, compressed
    // scoring and the refine stage are all hash-checked together.
    "q267_ivfpq_index" -> ((s: SparkSession, dir: String) => withStateDir("graft-ivfpq-index-") { idxDir =>
      import graft.operators.AnnIndex
      val e = Tables(s, dir, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cw = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("code"), col("embedding").as("cv"))
      AnnIndex.build(e.filter(col("vec_id") % 2 === 0), cent, idxDir, Some(cw))
      AnnIndex.append(s, e.filter(col("vec_id") % 2 === 1), idxDir)
      AnnIndex.probePq(s,
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe")),
        idxDir)
    }),

    // ---- distributed k-means (2 Lloyd iterations) ------------------------
    // The training step IVF (q40) and PQ (q76) codebooks actually come
    // from: init = first 8 vectors, then assign → per-dimension mean →
    // re-assign, twice. Each iteration is one broadcast join (assignment,
    // no shuffle of the vectors) + one (cluster, dim) aggregation shuffle.
    // Parity note: member sums of float32-derived doubles are EXACT in
    // f64 (24-bit mantissas + small exponent spread), so the per-dimension
    // means are order-independent and bit-equal across engines; only the
    // final avg_dist is a rounded computed double.
    "q78_kmeans" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val a2 = assignL2(e, trainedCentroids(e))
      a2.groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), round(avg("dist"), 4).as("avg_dist"))
        .orderBy("cluster_id")
    }),

    // ---- k-means convergence: second Lloyd step + centroid shift ---------
    // How far do q78's centroids still move? Reassign under the step-1
    // centroids, recompute the per-dimension means, and report each
    // centroid's L2 shift. Means are exact (float32-derived doubles sum
    // exactly in f64 — the q78 note), so both engines hold bit-identical
    // arrays and the fixed-order 64-term shift fold is IEEE-deterministic,
    // floor-e9'd. Vectors shuffle once per assignment; centroids broadcast.
    "q169_kmeans_shift" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val c1 = trainedCentroids(e)
      val a2 = assignL2(e, c1)
      val c2 = a2
        .select(col("cid"),
          posexplode(transform(col("embedding"), x => x.cast("double")))
            .as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("cv2"))
      val members = a2.groupBy("cid").agg(count(lit(1)).as("n_members"))
      c1.join(c2, Seq("cid")).join(broadcast(members), Seq("cid"))
        .select(col("cid").as("cluster_id"), col("n_members"),
          floor(sqrt(l2(col("cv"), col("cv2"))) * lit(1000000000.0))
            .cast("long").as("shift_e9"))
        .orderBy("cluster_id")
    }),

    // ---- per-dimension embedding profile ----------------------------------
    // Feature-space QA: mean/variance/min/max per embedding dimension —
    // the drift/normalization check a vector pipeline runs before indexing.
    // Values are integer-ized (floor-e6) BEFORE aggregation so the power
    // sums are exact BIGINTs (a raw float sum is summation-order-dependent);
    // the two output moments are floor'd shared-verbatim doubles. One
    // explode + one 64-group aggregation (map-side combined).
    "q170_embedding_profile" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).cast("long").as("dim"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)").as("vi"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("vi").as("s1"),
          sum(col("vi") * col("vi")).as("s2"),
          min("vi").as("min_e6"), max("vi").as("max_e6"))
        .select(col("dim"), col("n"),
          expr("CAST(floor(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)")
            .as("mean_e6"),
          expr("CAST(floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)")
            .as("var_e12"),
          col("min_e6"), col("max_e6"))
        .orderBy("dim")
    }),

    // ---- kNN label agreement (label-noise detection) -----------------------
    // ML data QA: does each vector's label agree with its 5 nearest
    // neighbors'? Low agreement flags mislabeled or boundary examples
    // before they poison training. Brute cosine with the bounded query set
    // broadcast (q39's discipline: rank on round(score,4) with cid
    // tie-break), agreement aggregated per label in exact basis points.
    "q174_label_agreement" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 200)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").cast("long").as("qlabel"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").cast("long").as("clabel"))
      val w = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
      c.join(broadcast(q), col("qid") =!= col("cid"))
        .withColumn("score", round(cosine_sim(col("qe"), col("ce")), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .groupBy("qid", "qlabel")
        .agg(sum((col("clabel") === col("qlabel")).cast("long")).as("q_agree"))
        .groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_queries"), sum("q_agree").as("n_agree"))
        .select(col("label"), col("n_queries"), col("n_agree"),
          expr("CAST((n_agree * 10000) DIV (5 * n_queries) AS BIGINT)").as("agree_bp"))
        .orderBy("label")
    }),

    // ---- IVF search over the TRAINED centroids ---------------------------
    // Closes the train→index→serve loop: q40/q51 index with arbitrary seed
    // vectors as centroids; here the k-means output (q78's c1) IS the
    // coarse quantizer, which is how a real IVF index is built. Same probe
    // discipline as q51 (top-2 centroids per query), but assignment, probe
    // and leaf scoring all use the L2 metric the centroids were trained
    // under. One broadcast of 8 centroids, one shuffle for the leaf top-k
    // window — the vectors themselves are never re-shuffled.
    "q79_trained_ivf" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cent = trainedCentroids(e)
      val assign = assignL2(e, cent)
        .select(col("vec_id").as("cid"), col("cid").as("ccid"),
          col("embedding").as("ce"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wQ = Window.partitionBy("qid").orderBy(asc("qdist"), asc("cid"))
      val probes = q.join(broadcast(cent))
        .withColumn("qdist", l2(col("qe"), col("cv")))
        .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= 2)
        .select(col("qid"), col("qe"), col("cid").as("pcid"))
      val wS = Window.partitionBy("qid").orderBy(asc("dist"), asc("cid"))
      probes.join(assign, col("pcid") === col("ccid") && col("qid") =!= col("cid"))
        .withColumn("dist", l2(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wS).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), round(col("dist"), 4).as("dist"))
        .orderBy("qid", "rank")
    }),

    // ---- embedding norms + label stats (array math surface) --------------
    "q41_embedding_stats" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .withColumn("nrm", norm(col("embedding")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("nrm"), 4).as("avg_norm"),
          round(min("nrm"), 4).as("min_norm"),
          round(max("nrm"), 4).as("max_norm"))
        .orderBy("label")
    }),

    // ---- embedding outliers: farthest-from-centroid per label ------------
    // The embedding-space quality gate: vectors far from their own label's
    // centroid are mislabeled/noisy candidates for manual review. Centroid
    // = exact per-dimension f64 mean over float32 values (order-independent
    // — the q78 parity note); per-vector L2 to the broadcast centroid; the
    // top-5 farthest per label rank on the RAW distance (bit-equal across
    // engines) with vec_id tie-break, output rounded. One broadcast join +
    // one |labels|-keyed window over 5-ish survivors per partition — the
    // vectors are never shuffled for the distance itself.
    "q112_embed_outliers" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cent = e
        .select(col("label"),
          posexplode(transform(col("embedding"), x => x.cast("double")))
            .as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg("v").as("m"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("label"), transform(col("pm"), p => p.getField("m")).as("cv"))
      val w = Window.partitionBy("label").orderBy(desc("dist"), asc("vec_id"))
      e.join(broadcast(cent), Seq("label"))
        .withColumn("dist", l2(col("embedding"), col("cv")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("label"), col("rank"), col("vec_id"),
          round(col("dist"), 4).as("dist"))
        .orderBy("label", "rank")
    }),

    // ---- simplified silhouette (cluster cohesion vs separation) ----------
    // Per vector: a = L2 to its own label centroid, b = min L2 to any OTHER
    // label centroid, s = (b − a)/max(a, b) — the clustering-quality score
    // that tells a curation pipeline whether label groups are actually
    // separated in embedding space. All |labels| centroids broadcast; the
    // per-(vector, centroid) distances aggregate map-side via min_by-style
    // conditional minima (one row per vector crosses the shuffle). s comes
    // from identical doubles in both engines, floor-integerized ×1e4 per
    // vector, then exactly summed per label; the per-label mean is floor of
    // one double division (possibly negative — never DIV).
    "q113_silhouette" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val cent = e
        .select(col("label").as("clabel"),
          posexplode(transform(col("embedding"), x => x.cast("double")))
            .as(Seq("pos", "v")))
        .groupBy("clabel", "pos").agg(avg("v").as("m"))
        .groupBy("clabel")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("clabel"), transform(col("pm"), p => p.getField("m")).as("cv"))
      e.join(broadcast(cent))
        .withColumn("dist", l2(col("embedding"), col("cv")))
        .groupBy("vec_id", "label")
        .agg(min(when(col("label") === col("clabel"), col("dist"))).as("a"),
          min(when(col("label") =!= col("clabel"), col("dist"))).as("b"))
        .withColumn("sil_e4", // max(a,b)=0 ⇒ 0/0 = NaN, which ANSI CAST rejects
          when(greatest(col("a"), col("b")) === 0.0, lit(0L))
            .otherwise(floor((col("b") - col("a")) / greatest(col("a"), col("b"))
              * lit(10000.0)).cast("long")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("sil_e4").as("sum_sil_e4"))
        .select(col("label"), col("n_vecs"), col("sum_sil_e4"),
          floor(col("sum_sil_e4").cast("double") / col("n_vecs").cast("double"))
            .cast("long").as("avg_sil_e4"))
        .orderBy("label")
    }),

    // ---- SemDeDup: semantic dedup inside trained k-means clusters --------
    // Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    // through semantic deduplication"): embed, k-means-cluster, then drop
    // every vector that has a LOWER-ID cluster-mate above the cosine
    // threshold — one survivor per semantic-duplicate group, pairwise
    // comparison confined to each cluster. Complements the dedup family:
    // q35 exact text, q37 lexical MinHash, q59 raw-seed bucketed cosine
    // pairs; this is the cluster-then-prune SCALE recipe (candidate pairs
    // are |cluster|², never |corpus|²) with the keep/drop LEDGER a curation
    // pipeline consumes, under TRAINED spherical centroids (one Lloyd
    // step of cosine assignment + member mean).
    // Threshold 0.45 per the q59 note: the synthetic corpus has no true
    // semantic dups (max pairwise cosine ≈ 0.6), so the threshold is set to
    // exercise the decision path with non-empty drops at all 3 SFs
    // (2/9/51 dropped).
    //
    // Scale: the assignment is one broadcast of K centroids + a map-side
    // argmin (assignL2's min_by — one row per vector crosses the shuffle);
    // the pair join shuffles once on cid with the cosine threshold INSIDE
    // the join condition after the cheap conjuncts (the PushPredicate
    // lesson). K SCALES WITH THE CORPUS (semdedupK: n/250 clamped to
    // 8..4096) so cluster cardinality — the only quadratic term — stays
    // bounded: at fixed K=8 the 100× tier measured 45×/decade on the pair
    // join; with K-scaling the decade is re-measured in SCALE.md. The
    // assignment feeds three consumers (both join sides + the output), so
    // it is pinned once (eager localCheckpoint).
    "q297_semdedup" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val k = semdedupK(e.count()) // one scalar action; K=8 at all oracle SFs
      // Spherical assignment via the NATIVE codegen'd cosine: at K=800
      // (the 100x tier) the assignment evaluates K x |corpus| candidate
      // rows, and an interpreted per-element HOF there is the bottleneck
      // (measured: the L2-HOF form did not finish the tier the cosine
      // form completes in minutes). argmax cosine is scale-invariant in
      // the centroid, so the UNNORMALIZED member mean is the exact
      // spherical-k-means update; means are computed in f64 (exact — the
      // q78 note) and cast to f32 for the float-typed native expression,
      // a rounding both engines perform identically.
      //
      // The argmax ordering (score DESC, cid ASC) is PACKED into one
      // BIGINT — floor(cos*1e4)*2^40 - cid — so max_by's buffer is two
      // longs and the partial aggregate runs as a map-side HashAggregate:
      // the struct-ordered max_by form buffers a StructType, which is not
      // hash-mutable, and fell back to SortAggregate — a sort of all
      // K x |corpus| candidate rows (97 GB spilled at the 100x tier).
      // cid < 2^40 bounds the pack exactly.
      def assignCos(cent: org.apache.spark.sql.DataFrame) =
        e.join(broadcast(cent))
          .withColumn("akey",
            floor(cosine_sim(col("cv"), col("embedding")) * lit(10000.0)).cast("long")
              * lit(1099511627776L) - col("cid"))
          .groupBy("vec_id")
          .agg(max_by(col("cid"), col("akey")).as("cid"))
      val c0 = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val c1 = assignCos(c0).join(e, Seq("vec_id"))
        .select(col("cid"),
          posexplode(transform(col("embedding"), x => x.cast("double")))
            .as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(avg("v").as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(
          struct(col("pos"), col("m").cast("float").as("mf")))).as("pm"))
        .select(col("cid"), transform(col("pm"), p => p.getField("mf")).as("cv"))
      val a2 = assignCos(c1).join(e, Seq("vec_id"))
        .localCheckpoint(eager = true)
      val x = a2.select(col("vec_id").as("v1"), col("cid").as("c1"),
        col("embedding").as("e1"))
      val y = a2.select(col("vec_id").as("v2"), col("cid").as("c2"),
        col("embedding").as("e2"))
      val cos = round(cosine_sim(col("e1"), col("e2")), 4)
      val dropped = x
        .join(y, col("c1") === col("c2") && col("v1") < col("v2") && cos >= 0.45)
        .select(col("v2").as("vec_id")).distinct()
        .withColumn("dropped", lit(1L))
      val wC = Window.partitionBy("cid")
      a2.join(dropped, Seq("vec_id"), "left")
        .withColumn("n_members", count(lit(1)).over(wC))
        .select(col("vec_id"), col("cid").as("cluster_id"), col("n_members"),
          coalesce(col("dropped"), lit(0L)).as("dropped"))
        .orderBy("vec_id")
    })
  )

  /** q99's plan: PQ-encode the corpus, broadcast per-query LUTs, ADC top-k
    * via the bounded-heap aggregator. Shared by q99/q100 (k=5, rounded
    * output) and q247's re-rank stage (k=32, raw candidate set). */
  private def pqTop5(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    pqAdcTopK(s, dir, 5)
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("adc"), 4).as("adc_dist"))
      .orderBy("qid", "rank")

  private def pqAdcTopK(s: SparkSession, dir: String, k: Int): org.apache.spark.sql.DataFrame = {
      val e = Tables(s, dir, "embeddings")
      val cw = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("code"), col("embedding").as("cv"))
      def subL2(a: Column): Column = org.apache.spark.sql.graft.VectorMath.slice_l2sq(
        a, col("cv"), (col("subspace") * 16 + 1).cast("int"), lit(16))
      val subspaces = explode(array((0 until 4).map(i => lit(i)): _*))
      // 1. encode the corpus: q76's per-subspace argmin (map-side min_by)
      val codes = e.select(col("vec_id"), col("embedding"))
        .withColumn("subspace", subspaces)
        .join(broadcast(cw))
        .withColumn("dist", subL2(col("embedding")))
        .groupBy("vec_id", "subspace")
        .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
      // 2. per-query LUT: exact sub-L2 of query vs every codeword
      val dt = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("subspace", subspaces)
        .join(broadcast(cw))
        .select(col("qid"), col("subspace"), col("code"),
          subL2(col("qe")).as("d"))
      // 3. ADC score + bounded-heap top-5 (score = -dist: heap keeps best)
      codes.join(broadcast(dt), Seq("subspace", "code"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
          sum(when(col("subspace") === 0, col("d"))).as("d0"),
          sum(when(col("subspace") === 1, col("d"))).as("d1"),
          sum(when(col("subspace") === 2, col("d"))).as("d2"),
          sum(when(col("subspace") === 3, col("d"))).as("d3"))
        .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
        .groupBy("qid")
        .agg(graft.functions.TopKByScore.top_k(k)(col("vec_id"), -col("adc")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("idx", "sc")))
        .select(col("qid"), (col("idx") + 1).cast("long").as("rank"),
          col("sc.id").as("vec_id"), (-col("sc.score")).as("adc"))
    }

  private lazy val q39Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |sc AS (SELECT qid, cid,
       |  round(${dotSql("qe", "ce")} / (${normSql("qe")} * ${normSql("ce")}), 4) AS score
       | FROM q, c WHERE qid <> cid),
       |rk AS (SELECT qid, cid, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS BIGINT) AS rank
       | FROM sc)
       |SELECT qid, rank, cid, score FROM rk WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  private lazy val q51Sql: String =
    s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS centv
       |              FROM embeddings WHERE vec_id < 8),
       |assign AS (
       | SELECT vec_id AS cid, centroid_id AS ccid, embedding AS ce FROM (
       |  SELECT e.vec_id, centroid_id, e.embedding,
       |   round(${dotSql("centv", "embedding")}
       |         / (${normSql("centv")} * ${normSql("embedding")}), 4) AS ascore
       |  FROM embeddings e, cent)
       | QUALIFY row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ascore DESC, centroid_id) = 1),
       |probes AS (
       | SELECT qid, qe, centroid_id AS pcid FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, centroid_id,
       |   round(${dotSql("centv", "qe")}
       |         / (${normSql("centv")} * ${normSql("qe")}), 4) AS qscore
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q, cent)
       | QUALIFY row_number() OVER (PARTITION BY qid
       |                            ORDER BY qscore DESC, centroid_id) <= 2),
       |sc AS (SELECT qid, cid,
       |  round(${dotSql("qe", "ce")} / (${normSql("qe")} * ${normSql("ce")}), 4) AS score
       | FROM probes JOIN assign ON pcid = ccid AND qid <> cid)
       |SELECT qid, rank, cid, score FROM (
       | SELECT qid, cid, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS BIGINT) AS rank
       | FROM sc)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The PQ ADC scoring chain ending in a(qid, vec_id, adc) — shared by
    * the q99 oracle and q247's re-rank oracle. */
  private val pqAdcCtes: String =
    """cw AS (SELECT vec_id AS code, embedding AS cv
        |            FROM embeddings WHERE vec_id < 4),
        |sub AS (SELECT vec_id, embedding, unnest(range(0, 4)) AS subspace
        |        FROM embeddings),
        |enc AS (SELECT vec_id, subspace, code,
        |  list_sum([ (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |           * (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |            for i in range(1, 17)]) AS dist
        | FROM sub, cw),
        |codes AS (SELECT vec_id, subspace, code FROM enc
        |          QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
        |                                     ORDER BY dist, code) = 1),
        |qs AS (SELECT vec_id AS qid, embedding AS qe, unnest(range(0, 4)) AS subspace
        |       FROM embeddings WHERE vec_id < 10),
        |dt AS (SELECT qid, subspace, code,
        |  list_sum([ (qe[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |           * (qe[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |            for i in range(1, 17)]) AS d
        | FROM qs, cw),
        |sc AS (SELECT qid, vec_id,
        |        sum(CASE WHEN subspace = 0 THEN d END) AS d0,
        |        sum(CASE WHEN subspace = 1 THEN d END) AS d1,
        |        sum(CASE WHEN subspace = 2 THEN d END) AS d2,
        |        sum(CASE WHEN subspace = 3 THEN d END) AS d3
        |       FROM codes JOIN dt USING (subspace, code)
        |       WHERE qid <> vec_id GROUP BY qid, vec_id),
        |a AS (SELECT qid, vec_id, d0 + d1 + d2 + d3 AS adc FROM sc)""".stripMargin

  private val q99Sql: String =
    s"""WITH $pqAdcCtes,
       |r AS (SELECT qid, vec_id, adc,
       |        CAST(row_number() OVER (PARTITION BY qid
       |               ORDER BY adc, vec_id) AS BIGINT) AS rank
       |      FROM a)
       |SELECT qid, rank, vec_id, round(adc, 4) AS adc_dist
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ADC top-32 shortlist → exact L2 re-rank → top-5 (q247). The exact
  // distance is the same sequential-fold list comprehension as q100's
  // ground truth, so the raw doubles are bit-equal to the sequential HOF
  // fold's (VectorMathSpec).
  private val q247Sql: String =
    s"""WITH $pqAdcCtes,
       |cand AS (SELECT qid, vec_id FROM a
       |         QUALIFY row_number() OVER (PARTITION BY qid
       |                  ORDER BY adc, vec_id) <= 32),
       |rer AS (SELECT c.qid, c.vec_id,
       |  list_sum([ (q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE)
       |           * (q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE)
       |            for i in range(1, len(q.embedding) + 1)]) AS d
       | FROM cand c JOIN embeddings q ON q.vec_id = c.qid
       |             JOIN embeddings v ON v.vec_id = c.vec_id)
       |SELECT qid, rank, vec_id, round(d, 4) AS l2 FROM (
       | SELECT qid, vec_id, d,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY d, vec_id)
       |       AS BIGINT) AS rank
       | FROM rer)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // Standing IVF-PQ (q267): q51's rounded-cosine assignment decides the
  // partitions, q99's ADC chain scores only candidates inside the probed
  // partitions, q247's list-comprehension L2 re-ranks the ADC top-32.
  private val q267Sql: String =
    s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS centv
       |              FROM embeddings WHERE vec_id < 8),
       |cw AS (SELECT vec_id AS code, embedding AS cv
       |       FROM embeddings WHERE vec_id < 4),
       |assign AS (SELECT vec_id, centroid_id FROM (
       |  SELECT e.vec_id, centroid_id,
       |   round(${dotSql("centv", "embedding")}
       |         / (${normSql("centv")} * ${normSql("embedding")}), 4) AS ascore
       |  FROM embeddings e, cent)
       | QUALIFY row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY ascore DESC, centroid_id) = 1),
       |probes AS (SELECT qid, centroid_id AS pcid FROM (
       |  SELECT q.vec_id AS qid, centroid_id,
       |   round(${dotSql("centv", "embedding")}
       |         / (${normSql("centv")} * ${normSql("embedding")}), 4) AS qscore
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q(vec_id, embedding), cent)
       | QUALIFY row_number() OVER (PARTITION BY qid
       |                            ORDER BY qscore DESC, centroid_id) <= 2),
       |sub AS (SELECT vec_id, embedding, unnest(range(0, 4)) AS subspace
       |        FROM embeddings),
       |enc AS (SELECT vec_id, subspace, code,
       |  list_sum([ (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
       |           * (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
       |            for i in range(1, 17)]) AS dist
       | FROM sub, cw),
       |codes AS (SELECT vec_id, subspace, code FROM enc
       |          QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
       |                                     ORDER BY dist, code) = 1),
       |qs AS (SELECT vec_id AS qid, embedding AS qe, unnest(range(0, 4)) AS subspace
       |       FROM embeddings WHERE vec_id < 10),
       |dt AS (SELECT qid, subspace, code,
       |  list_sum([ (qe[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
       |           * (qe[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
       |            for i in range(1, 17)]) AS d
       | FROM qs, cw),
       |cand0 AS (SELECT p.qid, a.vec_id
       |          FROM probes p JOIN assign a ON a.centroid_id = p.pcid
       |          WHERE p.qid <> a.vec_id),
       |sc AS (SELECT c.qid, c.vec_id,
       |        sum(CASE WHEN k.subspace = 0 THEN d END) AS d0,
       |        sum(CASE WHEN k.subspace = 1 THEN d END) AS d1,
       |        sum(CASE WHEN k.subspace = 2 THEN d END) AS d2,
       |        sum(CASE WHEN k.subspace = 3 THEN d END) AS d3
       |       FROM cand0 c
       |       JOIN codes k ON k.vec_id = c.vec_id
       |       JOIN dt ON dt.qid = c.qid AND dt.subspace = k.subspace
       |              AND dt.code = k.code
       |       GROUP BY c.qid, c.vec_id),
       |adc AS (SELECT qid, vec_id, d0 + d1 + d2 + d3 AS adc FROM sc),
       |short AS (SELECT qid, vec_id FROM adc
       |          QUALIFY row_number() OVER (PARTITION BY qid
       |                   ORDER BY adc, vec_id) <= 32),
       |rer AS (SELECT c.qid, c.vec_id,
       |  list_sum([ (q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE)
       |           * (q.embedding[i]::DOUBLE - v.embedding[i]::DOUBLE)
       |            for i in range(1, len(q.embedding) + 1)]) AS d
       | FROM short c JOIN embeddings q ON q.vec_id = c.qid
       |              JOIN embeddings v ON v.vec_id = c.vec_id)
       |SELECT qid, rank, vec_id, round(d, 4) AS l2 FROM (
       | SELECT qid, vec_id, d,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY d, vec_id)
       |       AS BIGINT) AS rank
       | FROM rer)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "q267_ivfpq_index" -> q267Sql,

    "q39_cosine_topk" -> q39Sql,

    // identical output contract to q39 — the aggregation strategy differs,
    // the semantics don't
    "q56_topk_agg" -> q39Sql,

    "q40_ivf_assign" ->
      s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS centv
         |              FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, centroid_id,
         |  round(${dotSql("centv", "embedding")}
         |        / (${normSql("centv")} * ${normSql("embedding")}), 4) AS score
         | FROM embeddings e, cent),
         |best AS (SELECT vec_id, centroid_id, score FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY score DESC, centroid_id) = 1)
         |SELECT centroid_id, count(*) AS n_members, round(avg(score), 4) AS avg_sim
         |FROM best GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,

    "q51_ivf_search" -> q51Sql,

    // the standing-index lifecycle answers depend only on index content,
    // which build+append make identical to q51's in-query assignment
    "q253_ann_index" -> q51Sql,

    "q55_ivf_recall" ->
      s"""SELECT bf.qid AS qid, CAST(count(ivf.cid) AS BIGINT) AS n_hit,
         | round(CAST(count(ivf.cid) AS DOUBLE) / 5.0, 4) AS recall
         |FROM ($q39Sql) bf
         |LEFT JOIN ($q51Sql) ivf
         |  ON bf.qid = ivf.qid AND bf.cid = ivf.cid
         |GROUP BY bf.qid ORDER BY qid""".stripMargin,

    // q307: the drifted-append audit — slice relations, frozen-quantizer
    // assignment (with score), standing-probe replay (q51's chain over the
    // grown corpus), exact ground truth, per-slice fold + residual deltas
    "q307_ann_drift" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |drift AS (SELECT vec_id,
         |    [CAST(x::DOUBLE * 0.5 + 0.25 AS FLOAT) for x in embedding] AS embedding
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |corpus AS (SELECT *, 'base' AS slice FROM base
         |           UNION ALL SELECT *, 'drift' AS slice FROM drift),
         |cent AS (SELECT vec_id AS centroid_id, embedding AS centv
         |         FROM base WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qe, slice FROM corpus
         |      WHERE vec_id < 20),
         |sc AS (SELECT qid, c.vec_id AS cid,
         |  round(${dotSql("qe", "embedding")}
         |        / (${normSql("qe")} * ${normSql("embedding")}), 4) AS score
         | FROM q, corpus c WHERE qid <> c.vec_id),
         |bf AS (SELECT qid, cid FROM
         |  (SELECT qid, cid,
         |     row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
         |   FROM sc) WHERE rk <= 5),
         |asg AS (SELECT vec_id, slice, ccid, ce, ascore FROM (
         |   SELECT c.vec_id, c.slice, cent.centroid_id AS ccid,
         |     c.embedding AS ce,
         |     round(${dotSql("centv", "embedding")}
         |           / (${normSql("centv")} * ${normSql("embedding")}), 4) AS ascore
         |   FROM corpus c, cent)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY ascore DESC, ccid) = 1),
         |probes AS (SELECT qid, qe, centroid_id AS pcid FROM (
         |   SELECT q.qid, q.qe, cent.centroid_id,
         |     round(${dotSql("centv", "qe")}
         |           / (${normSql("centv")} * ${normSql("qe")}), 4) AS qscore
         |   FROM q, cent)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |                             ORDER BY qscore DESC, centroid_id) <= 2),
         |isc AS (SELECT qid, asg.vec_id AS cid,
         |  round(${dotSql("qe", "ce")} / (${normSql("qe")} * ${normSql("ce")}), 4) AS score
         | FROM probes JOIN asg ON pcid = ccid AND qid <> asg.vec_id),
         |ivf AS (SELECT qid, cid FROM
         |  (SELECT qid, cid,
         |     row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
         |   FROM isc) WHERE rk <= 5),
         |rq AS (SELECT bf.qid,
         |        sum(CASE WHEN ivf.cid IS NOT NULL THEN 1 ELSE 0 END) AS nh
         |       FROM bf LEFT JOIN ivf ON bf.qid = ivf.qid AND bf.cid = ivf.cid
         |       GROUP BY bf.qid),
         |rec AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_queries,
         |         CAST(sum(nh) AS BIGINT) AS n_hit
         |        FROM rq JOIN q USING (qid) GROUP BY slice),
         |res AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_vecs,
         |         CAST(sum(CAST(floor(ascore * 10000) AS BIGINT)) // count(*)
         |              AS BIGINT) AS mean_assign_e4,
         |         CAST(count(DISTINCT ccid) AS BIGINT) AS n_cent_used
         |        FROM asg GROUP BY slice),
         |j AS (SELECT res.slice, n_vecs, mean_assign_e4, n_cent_used,
         |        n_queries, n_hit,
         |        CAST((n_hit * 10000) // (n_queries * 5) AS BIGINT) AS recall_bp
         |      FROM res JOIN rec USING (slice)),
         |dd AS (SELECT max(CASE WHEN slice = 'base' THEN mean_assign_e4 END) -
         |              max(CASE WHEN slice = 'drift' THEN mean_assign_e4 END)
         |              AS drop_e4 FROM j)
         |SELECT j.slice, j.n_vecs, j.mean_assign_e4, j.n_cent_used,
         |  j.n_queries, j.n_hit, j.recall_bp,
         |  CAST(dd.drop_e4 AS BIGINT) AS drop_e4,
         |  CAST(CASE WHEN dd.drop_e4 >= $ReindexDropE4 THEN 1 ELSE 0 END
         |       AS BIGINT) AS reindex_advised
         |FROM j, dd ORDER BY j.slice""".stripMargin,

    // q309: the persisted per-batch fold re-derived from the slice
    // definitions — the ledger is content-determined, so grown-state
    // equals from-scratch is hash-checked (the q253 discipline)
    "q309_ann_fit_ledger" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |drift AS (SELECT vec_id,
         |    [CAST(x::DOUBLE * 0.5 + 0.25 AS FLOAT) for x in embedding] AS embedding
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |cent AS (SELECT vec_id AS centroid_id, embedding AS centv
         |         FROM base WHERE vec_id < 16),
         |corpus AS (SELECT *, 'build' AS batch_id FROM base
         |           UNION ALL SELECT *, 'b1_drift' AS batch_id FROM drift),
         |asg AS (SELECT vec_id, batch_id, ccid, ascore FROM (
         |   SELECT c.vec_id, c.batch_id, cent.centroid_id AS ccid,
         |     round(${dotSql("centv", "embedding")}
         |           / (${normSql("centv")} * ${normSql("embedding")}), 4) AS ascore
         |   FROM corpus c, cent)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY ascore DESC, ccid) = 1),
         |st AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_vecs,
         |        CAST(sum(CAST(floor(ascore * 10000) AS BIGINT)) // count(*)
         |             AS BIGINT) AS mean_assign_e4,
         |        CAST(count(DISTINCT ccid) AS BIGINT) AS n_cent_used
         |       FROM asg GROUP BY batch_id),
         |a AS (SELECT mean_assign_e4 AS base_e4 FROM st WHERE batch_id = 'build')
         |SELECT st.batch_id, st.n_vecs, st.mean_assign_e4, st.n_cent_used,
         |  CAST(a.base_e4 - st.mean_assign_e4 AS BIGINT) AS drop_e4,
         |  CAST(CASE WHEN a.base_e4 - st.mean_assign_e4 >= $ReindexDropE4
         |       THEN 1 ELSE 0 END AS BIGINT) AS reindex_advised
         |FROM st, a ORDER BY st.batch_id""".stripMargin,

    // q315: the reindexed generation re-derived from the slice
    // definitions — live corpus (union minus tombstones), 8 lowest-id
    // seeds, one cosine Lloyd step (means = exact f64 sums of floats,
    // cast back to FLOAT), re-assignment under the retrained quantizer,
    // then q51's probe chain over it
    "q315_ann_reindex" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |drift AS (SELECT vec_id,
         |    [CAST(x::DOUBLE * 0.5 + 0.25 AS FLOAT) for x in embedding] AS embedding
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |corpus AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM drift)
         |           WHERE vec_id % 7 <> 2),
         |seeds AS (SELECT vec_id AS scid, embedding AS scv FROM corpus
         |          ORDER BY vec_id LIMIT 8),
         |asg0 AS (SELECT vec_id, scid, embedding FROM (
         |   SELECT c.vec_id, seeds.scid, c.embedding,
         |     round(${dotSql("scv", "embedding")}
         |           / (${normSql("scv")} * ${normSql("embedding")}), 4) AS ascore
         |   FROM corpus c, seeds)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY ascore DESC, scid) = 1),
         |cm AS (SELECT scid, pos, avg(embedding[pos]::DOUBLE) AS m
         |       FROM asg0, (SELECT unnest(range(1, 65)) AS pos)
         |       GROUP BY scid, pos),
         |cent2 AS (SELECT scid AS centroid_id,
         |           list(CAST(m AS FLOAT) ORDER BY pos) AS centv
         |          FROM cm GROUP BY scid),
         |asg2 AS (SELECT vec_id AS cid, ccid, embedding AS ce FROM (
         |   SELECT c.vec_id, cent2.centroid_id AS ccid, c.embedding,
         |     round(${dotSql("centv", "embedding")}
         |           / (${normSql("centv")} * ${normSql("embedding")}), 4) AS ascore
         |   FROM corpus c, cent2)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY ascore DESC, ccid) = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM corpus WHERE vec_id < 20),
         |probes AS (SELECT qid, qe, centroid_id AS pcid FROM (
         |   SELECT q.qid, q.qe, cent2.centroid_id,
         |     round(${dotSql("centv", "qe")}
         |           / (${normSql("centv")} * ${normSql("qe")}), 4) AS qscore
         |   FROM q, cent2)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |                             ORDER BY qscore DESC, centroid_id) <= 2),
         |sc AS (SELECT qid, cid,
         |  round(${dotSql("qe", "ce")} / (${normSql("qe")} * ${normSql("ce")}), 4) AS score
         | FROM probes JOIN asg2 ON pcid = ccid AND qid <> cid)
         |SELECT qid, rank, cid, score FROM (
         | SELECT qid, cid, score,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid)
         |       AS BIGINT) AS rank
         | FROM sc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q50_quantize" ->
      """WITH t AS (SELECT label,
        |  list_sum(list_transform(embedding, x ->
        |    abs(x::DOUBLE - round(x::DOUBLE * 127)::DOUBLE / 127.0)))
        |    / CAST(len(embedding) AS DOUBLE) AS recon_err
        | FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        | round(avg(recon_err), 6) AS avg_err,
        | round(max(recon_err), 6) AS max_err
        |FROM t GROUP BY label ORDER BY label""".stripMargin,

    "q99_pq_search" -> q99Sql,

    "q247_pq_rerank" -> q247Sql,

    "q100_pq_recall" ->
      s"""WITH ex AS (
         | SELECT qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |   CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |    list_sum([ (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
         |             * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
         |              for i in range(1, len(q.embedding) + 1)]),
         |    c.vec_id) AS BIGINT) AS rank
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
         | WHERE rank <= 5)
         |SELECT adc.qid, CAST(count(ex.cid) AS BIGINT) AS n_hits,
         | CAST(count(ex.cid) * 2000 AS BIGINT) AS recall_bp
         |FROM ($q99Sql) adc
         |LEFT JOIN ex ON adc.qid = ex.qid AND adc.vec_id = ex.cid
         |GROUP BY adc.qid ORDER BY adc.qid""".stripMargin,


    "q76_pq_assign" ->
      """WITH cw AS (SELECT vec_id AS code, embedding AS cv
        |            FROM embeddings WHERE vec_id < 4),
        |sub AS (SELECT vec_id, embedding, unnest(range(0, 4)) AS subspace
        |        FROM embeddings),
        |d AS (SELECT vec_id, subspace, code,
        |  list_sum([ (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |           * (embedding[subspace*16 + i]::DOUBLE - cv[subspace*16 + i]::DOUBLE)
        |            for i in range(1, 17)]) AS dist
        | FROM sub, cw)
        |SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code,
        |       round(dist, 4) AS dist
        |FROM d
        |QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
        |                           ORDER BY dist, code) = 1
        |ORDER BY vec_id, subspace""".stripMargin,

    "q78_kmeans" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid, v, dist FROM (
        |   SELECT e.vec_id, c0.cid, e.v,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c0)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |   SELECT cid, pos, avg(v[pos]) AS m
        |   FROM a1, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY cid, pos)
        |  GROUP BY cid),
        |a2 AS (SELECT vec_id, cid, dist FROM (
        |   SELECT e.vec_id, c1.cid,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c1)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)
        |SELECT cid AS cluster_id, count(*) AS n_members,
        |       round(avg(dist), 4) AS avg_dist
        |FROM a2 GROUP BY cid ORDER BY cluster_id""".stripMargin,

    "q79_trained_ivf" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid, v FROM (
        |   SELECT e.vec_id, c0.cid, e.v,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c0)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |   SELECT cid, pos, avg(v[pos]) AS m
        |   FROM a1, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY cid, pos)
        |  GROUP BY cid),
        |asg AS (SELECT vec_id AS mid, cid AS ccid, v AS ce FROM (
        |   SELECT e.vec_id, c1.cid, e.v,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c1)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |probes AS (SELECT qid, qe, cid AS pcid FROM (
        |   SELECT e.vec_id AS qid, e.v AS qe, c1.cid,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS qdist
        |   FROM e, c1 WHERE e.vec_id < 10)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY qdist, cid) <= 2),
        |sc AS (SELECT qid, mid AS cid,
        |   list_sum([ (qe[i] - ce[i]) * (qe[i] - ce[i]) for i in range(1, 65)]) AS dist
        | FROM probes JOIN asg ON pcid = ccid AND qid <> mid)
        |SELECT qid, rank, cid, round(dist, 4) AS dist FROM (
        | SELECT qid, cid, dist,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS BIGINT) AS rank
        | FROM sc)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q169_kmeans_shift" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid, v FROM (
        |   SELECT e.vec_id, c0.cid, e.v,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c0)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |   SELECT cid, pos, avg(v[pos]) AS m
        |   FROM a1, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY cid, pos)
        |  GROUP BY cid),
        |a2 AS (SELECT vec_id, cid, v FROM (
        |   SELECT e.vec_id, c1.cid, e.v,
        |     list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        |   FROM e, c1)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
        |c2 AS (SELECT cid, list(m ORDER BY pos) AS cv2 FROM (
        |   SELECT cid, pos, avg(v[pos]) AS m
        |   FROM a2, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY cid, pos)
        |  GROUP BY cid),
        |mm AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM a2 GROUP BY cid)
        |SELECT c1.cid AS cluster_id, mm.n_members,
        |  CAST(floor(sqrt(list_sum(
        |    [ (c1.cv[i] - c2.cv2[i]) * (c1.cv[i] - c2.cv2[i]) for i in range(1, 65)]))
        |    * 1000000000.0) AS BIGINT) AS shift_e9
        |FROM c1 JOIN c2 ON c1.cid = c2.cid JOIN mm ON c1.cid = mm.cid
        |ORDER BY cluster_id""".stripMargin,

    "q174_label_agreement" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, CAST(label AS BIGINT) AS qlabel
         |           FROM embeddings WHERE vec_id < 200),
         |c AS (SELECT vec_id AS cid, embedding AS ce, CAST(label AS BIGINT) AS clabel
         |      FROM embeddings),
         |sc AS (SELECT qid, qlabel, cid, clabel,
         |  round(${dotSql("qe", "ce")} / (${normSql("qe")} * ${normSql("ce")}), 4) AS score
         | FROM q, c WHERE qid <> cid),
         |rk AS (SELECT qid, qlabel, clabel,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
         | FROM sc),
         |ag AS (SELECT qid, qlabel,
         |   CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS q_agree
         | FROM rk WHERE rank <= 5 GROUP BY 1, 2)
         |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
         | CAST(sum(q_agree) AS BIGINT) AS n_agree,
         | CAST((sum(q_agree) * 10000) // (5 * count(*)) AS BIGINT) AS agree_bp
         |FROM ag GROUP BY qlabel ORDER BY label""".stripMargin,

    "q170_embedding_profile" ->
      """WITH x AS (SELECT CAST(pos AS BIGINT) AS dim,
        |        CAST(floor(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT) AS vi
        |      FROM (SELECT unnest(embedding) AS val,
        |              generate_subscripts(embedding, 1) AS pos
        |            FROM embeddings)),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(vi) AS BIGINT) AS s1,
        |        CAST(sum(vi * vi) AS BIGINT) AS s2,
        |        CAST(min(vi) AS BIGINT) AS min_e6, CAST(max(vi) AS BIGINT) AS max_e6
        |      FROM x GROUP BY dim)
        |SELECT dim, n,
        |  CAST(floor(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_e6,
        |  CAST(floor((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT) AS var_e12,
        |  min_e6, max_e6
        |FROM a ORDER BY dim""".stripMargin,

    "q41_embedding_stats" ->
      s"""WITH t AS (SELECT label, ${normSql("embedding")} AS nrm FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         | round(avg(nrm), 4) AS avg_norm,
         | round(min(nrm), 4) AS min_norm,
         | round(max(nrm), 4) AS max_norm
         |FROM t GROUP BY label ORDER BY label""".stripMargin,

    "q112_embed_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM (
        |   SELECT label, pos, avg(v[pos]) AS m
        |   FROM e, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY label, pos)
        |  GROUP BY label),
        |d AS (SELECT e.vec_id, e.label,
        |   list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        | FROM e JOIN c USING (label))
        |SELECT label, rank, vec_id, round(dist, 4) AS dist FROM (
        | SELECT label, vec_id, dist,
        |  CAST(row_number() OVER (PARTITION BY label
        |                          ORDER BY dist DESC, vec_id) AS BIGINT) AS rank
        | FROM d)
        |WHERE rank <= 5 ORDER BY label, rank""".stripMargin,

    "q113_silhouette" ->
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |c AS (SELECT clabel, list(m ORDER BY pos) AS cv FROM (
        |   SELECT label AS clabel, pos, avg(v[pos]) AS m
        |   FROM e, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY label, pos)
        |  GROUP BY clabel),
        |d AS (SELECT e.vec_id, e.label, c.clabel,
        |   list_sum([ (v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)]) AS dist
        | FROM e, c),
        |ab AS (SELECT vec_id, label,
        |         min(CASE WHEN label = clabel THEN dist END) AS a,
        |         min(CASE WHEN label <> clabel THEN dist END) AS b
        |       FROM d GROUP BY vec_id, label),
        |sil AS (SELECT vec_id, label,
        |         CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor((b - a) / greatest(a, b) * 10000.0) AS BIGINT)
        |         END AS sil_e4
        |        FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(sum(sil_e4) AS BIGINT) AS sum_sil_e4,
        | CAST(floor(CAST(sum(sil_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT)
        |   AS avg_sil_e4
        |FROM sil GROUP BY label ORDER BY label""".stripMargin,

    // the spherical trained-centroid chain (c0 -> a1 -> c1 -> a2: argmax
    // rounded cosine, ties -> lowest cid; f64 member means cast to f32 to
    // mirror the float-typed native expression), then the within-cluster
    // pair screen: a vector is dropped when a lower-id cluster-mate
    // clears the rounded cosine threshold.
    "q297_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, embedding AS cv FROM e
        |       WHERE vec_id < greatest(8, least(4096, (SELECT count(*) FROM e) // 250))),
        |a1 AS (SELECT vec_id, cid, embedding FROM (
        |   SELECT e.vec_id, c0.cid, e.embedding,
        |     CAST(floor(list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, 65)])
        |       / (sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, 65)]))
        |        * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, 65)])))
        |       * 10000.0) AS BIGINT) * 1099511627776 - c0.cid AS akey
        |   FROM e, c0)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY akey DESC) = 1),
        |c1 AS (SELECT cid, list(mf ORDER BY pos) AS cv FROM (
        |   SELECT cid, pos, CAST(avg(embedding[pos]::DOUBLE) AS FLOAT) AS mf
        |   FROM a1, (SELECT unnest(range(1, 65)) AS pos)
        |   GROUP BY cid, pos)
        |  GROUP BY cid),
        |a2 AS (SELECT vec_id, cid, embedding FROM (
        |   SELECT e.vec_id, c1.cid, e.embedding,
        |     CAST(floor(list_sum([cv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, 65)])
        |       / (sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE for i in range(1, 65)]))
        |        * sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, 65)])))
        |       * 10000.0) AS BIGINT) * 1099511627776 - c1.cid AS akey
        |   FROM e, c1)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY akey DESC) = 1),
        |drp AS (SELECT DISTINCT y.vec_id AS vec_id
        |  FROM a2 x JOIN a2 y
        |    ON x.cid = y.cid AND x.vec_id < y.vec_id
        |   AND round(list_sum([x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE for i in range(1, 65)])
        |     / (sqrt(list_sum([x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE for i in range(1, 65)]))
        |      * sqrt(list_sum([y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE for i in range(1, 65)]))), 4) >= 0.45)
        |SELECT a2.vec_id, a2.cid AS cluster_id,
        |  CAST(count(*) OVER (PARTITION BY a2.cid) AS BIGINT) AS n_members,
        |  CAST(CASE WHEN drp.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dropped
        |FROM a2 LEFT JOIN drp ON a2.vec_id = drp.vec_id
        |ORDER BY a2.vec_id""".stripMargin
  )
}
