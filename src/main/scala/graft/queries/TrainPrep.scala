package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data preparation operators over `documents` — the steps between
  * a curated corpus (CorpusMain) and a training run:
  *
  *  - q72 TF-IDF: the classic salience score, the ranking primitive behind
  *    keyword extraction and quality heuristics;
  *  - q73 deterministic split: reproducible train/val/test assignment by
  *    content-independent hash bucket — never `rand()`, so reruns, retries
  *    and speculative tasks agree, and the split is stable across cluster
  *    sizes;
  *  - q74 sequence packing: concatenate-then-chunk packing of documents
  *    into fixed token windows (the standard pretraining batch layout),
  *    expressed as one running-sum window — each doc learns its global
  *    token offset and the context-window range it lands in.
  *
  * Scale notes: q72 is two shuffles (doc-term aggregation, term document
  * frequency) + one broadcast of the corpus size; q73 is per-row, no
  * shuffle; q74 is a single window over the doc order — at 100 TB the
  * offset assignment would run per-partition with a prefix-sum of partition
  * totals (the same plan Spark generates for an unbounded-preceding sum).
  */
object TrainPrep {

  /** q86's domain-mix report over an arbitrary documents DataFrame (also
    * the per-build composition report CorpusMain writes next to its curated
    * output). Shares in integer basis points ((x*10000) div total): ratios
    * of integers can land an exact 5 in the tie digit, where Spark's
    * half-up and DuckDB's half-even round() diverge — integer floor
    * division is tie-free and exact on both engines. The corpus-sized work
    * is ONE partial-aggregating shuffle keyed by source; the windows run
    * over the ~|sources| aggregate rows only.
    */
  def domainMix(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val agg = docs
      .withColumn("n", size(rawToks(col("text"))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(desc("n_tokens"), asc("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("total", sum("n_tokens").over(wAll))
      .withColumn("cum", sum("n_tokens").over(wCum))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000) div total").as("share_bp"),
        expr("(cum * 10000) div total").as("cum_share_bp"))
      .orderBy(desc("n_tokens"), asc("source"))
  }

  /** The one guarded whitespace tokenizer: raw (order- and multiplicity-
    * preserving) tokens of lowercased, trimmed text, blank text guarded
    * to [] (split alone would yield ['']). */
  private[graft] def rawToks(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(c)), "\\s+"))

  /** Positional space-joined word n-grams of a token array: element i is
    * tokens [i, i+n) joined by single spaces (no distinct); fewer than n
    * tokens → []. Built as a slice+zip_with fold, NOT
    * `transform(sequence(...), i -> t[i]...)`: after projection collapse
    * the indexed child is re-evaluated per lambda invocation, turning the
    * build O(tokens²) per row. zip_with walks each slice once. To HASH
    * grams, use the native TextHashes kernels instead. */
  private[graft] def wordGrams(t: Column, n: Int): Column =
    when(size(t) < n, array().cast("array<string>"))
      .otherwise((2 to n).foldLeft(slice(t, lit(1), size(t) - (n - 1))) { (acc, k) =>
        zip_with(acc, slice(t, lit(k), size(t) - (n - 1)), (a, b) => concat(a, lit(" "), b))
      })

  /** Adjacent token pairs of a token array as `struct<prev, nxt>`
    * elements, in order; fewer than 2 tokens → []. */
  private[graft] def wordPairs(w: Column): Column =
    when(size(w) < 2, array().cast("array<struct<prev:string,nxt:string>>"))
      .otherwise(zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("prev"), b.as("nxt"))))

  /** The shared stopword list (quality gates, language heuristics, the
    * q284-family stopword feature). Column callers use
    * `array(Stop.map(lit): _*)`. */
  private[graft] val Stop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** The curation token gate (q31's signals) over `w` = [[rawToks]] of
    * the text: at least 10 tokens and a stopword ratio of at least 0.01.
    * CorpusMain, CorpusStream.curated and q295 all gate through it. */
  private[graft] def tokenGate(w: Column): Column = {
    val n = size(w).cast("long")
    n >= 10 &&
      size(filter(w, t => array_contains(array(Stop.map(lit): _*), t))).cast("double") /
        greatest(n.cast("double"), lit(1.0)) >= 0.01
  }

  /** The curation repetition gate (q80's signals): false when the
    * duplicate-token fraction exceeds 0.8 or the duplicate-3-gram fraction
    * exceeds 0.3. `d` is `TextHashes.ngram_distincts(w)`, projected once
    * by the caller because both fractions read it. */
  private[graft] def repetitionGate(w: Column, d: Column): Column = {
    val n = size(w).cast("long")
    !(dupFrac(n, d.getField("d_tok")) > 0.8 ||
      dupFrac(greatest(n - 2, lit(0L)), d.getField("d_3g")) > 0.3)
  }

  /** The duplicate fraction of `total` units with `distinct` distinct
    * ones (0 for none). */
  private[graft] def dupFrac(total: Column, distinct: Column): Column =
    when(total === 0, lit(0.0))
      .otherwise(lit(1.0) - distinct.cast("double") / total.cast("double"))

  /** q73's content-independent split bucket (first 4 md5 hex digits of the
    * doc id, mod 100) — the train/val/test contract every decontamination
    * and eval query shares with its oracle. Single-sourced: a drifting
    * copy would silently change one query's split and fail only its own
    * gate. */
  private[graft] def splitBucket(id: Column): Column =
    (conv(substring(md5(id.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 100)

  // q284's sigmoid and weight-update expressions, shared VERBATIM between
  // the Spark plan and the DuckDB oracle (identical IEEE op sequences over
  // exact BIGINT inputs — the q93/q108/q151 discipline)
  private val TrainSigmoidExpr =
    "1.0 / (1.0 + exp(-(w0 + w1 * (CAST(x1i AS DOUBLE) / 100.0) " +
      "+ w2 * (CAST(x2i AS DOUBLE) / 10000.0))))"
  private def TrainUpdExpr(j: Int): String =
    s"w$j - 0.5 * ((CAST(g$j AS DOUBLE) / 1000000000.0) / CAST(n AS DOUBLE))"

  // q290's per-row logistic loss, shared verbatim (ln parity is
  // gate-proven by q91; the greatest() guards keep a saturated sigmoid
  // from producing ln(0) = -inf, identically in both engines)
  private val TrainLossExpr =
    "CASE WHEN yi = 1 THEN -ln(greatest(p, 1e-12)) " +
      "ELSE -ln(greatest(1.0 - p, 1e-12)) END"

  // q290's convergence control: hard iteration cap + integer loss
  // tolerance. The mean loss per round is floor-e9 per row, summed
  // BIGINT, divided by n (all non-negative, so Spark `div` == DuckDB
  // `//`); the loop stops at the first round whose mean loss moved less
  // than EpsE9 from the previous round's.
  // eps chosen against the measured loss trail (deltas shrink ~0.7x per
  // round): stops at iterations 7 / 4 / 6 at sf0.001 / 0.01 / 0.1 — the
  // loop genuinely runs past round 2 and genuinely stops before the cap.
  // No cross-engine boundary risk: both engines compare the SAME exact
  // integers (the trail is floor-e9 BIGINT and itself hash-provable).
  private[graft] val ConvergeCap = 8
  private[graft] val ConvergeEpsE9 = 1500000L // 0.0015 nats

  // one GD iteration of the q290 oracle: trainIterCtes + the floor-e9
  // loss sum `l` (same CTE names, superset columns)
  private def trainIterLossCtes(i: Int, wc: String, src: String = "d"): String =
    s"""p$i AS (SELECT x1i, x2i, yi, w0, w1, w2, $TrainSigmoidExpr AS p
       |        FROM $src, $wc),
       |e$i AS (SELECT *, p - CAST(yi AS DOUBLE) AS err FROM p$i),
       |s$i AS (SELECT count(*) AS n,
       |  sum(CAST(floor(err * 1000000000.0) AS BIGINT)) AS g0,
       |  sum(CAST(floor(err * (CAST(x1i AS DOUBLE) / 100.0) * 1000000000.0) AS BIGINT)) AS g1,
       |  sum(CAST(floor(err * (CAST(x2i AS DOUBLE) / 10000.0) * 1000000000.0) AS BIGINT)) AS g2,
       |  sum(CAST(floor(($TrainLossExpr) * 1000000000.0) AS BIGINT)) AS l,
       |  sum(CASE WHEN (p >= 0.5 AND yi = 1) OR (p < 0.5 AND yi = 0)
       |      THEN 1 ELSE 0 END) AS n_ok,
       |  min(w0) AS w0, min(w1) AS w1, min(w2) AS w2 FROM e$i)""".stripMargin

  // one GD iteration of the q284/q285 oracles: sigmoid + gradient sums
  // over the feature CTE `src` crossed with the 1-row weight CTE `wc` —
  // the same shared-verbatim expressions the Spark plan evaluates
  private def trainIterCtes(i: Int, wc: String, src: String = "d"): String =
    s"""p$i AS (SELECT x1i, x2i, yi, w0, w1, w2, $TrainSigmoidExpr AS p
       |        FROM $src, $wc),
       |e$i AS (SELECT *, p - CAST(yi AS DOUBLE) AS err FROM p$i),
       |s$i AS (SELECT count(*) AS n,
       |  sum(CAST(floor(err * 1000000000.0) AS BIGINT)) AS g0,
       |  sum(CAST(floor(err * (CAST(x1i AS DOUBLE) / 100.0) * 1000000000.0) AS BIGINT)) AS g1,
       |  sum(CAST(floor(err * (CAST(x2i AS DOUBLE) / 10000.0) * 1000000000.0) AS BIGINT)) AS g2,
       |  sum(CASE WHEN (p >= 0.5 AND yi = 1) OR (p < 0.5 AND yi = 0)
       |      THEN 1 ELSE 0 END) AS n_ok,
       |  min(w0) AS w0, min(w1) AS w1, min(w2) AS w2 FROM e$i)""".stripMargin

  // q286's keyed variant: the weight table joins by source and the sums
  // group by it — one model per key, same shared-verbatim expressions
  private def trainIterCtesKeyed(i: Int, wc: String): String =
    s"""p$i AS (SELECT source, x1i, x2i, yi, w0, w1, w2, $TrainSigmoidExpr AS p
       |        FROM d JOIN $wc USING (source)),
       |e$i AS (SELECT *, p - CAST(yi AS DOUBLE) AS err FROM p$i),
       |s$i AS (SELECT source, count(*) AS n,
       |  sum(CAST(floor(err * 1000000000.0) AS BIGINT)) AS g0,
       |  sum(CAST(floor(err * (CAST(x1i AS DOUBLE) / 100.0) * 1000000000.0) AS BIGINT)) AS g1,
       |  sum(CAST(floor(err * (CAST(x2i AS DOUBLE) / 10000.0) * 1000000000.0) AS BIGINT)) AS g2,
       |  sum(CASE WHEN (p >= 0.5 AND yi = 1) OR (p < 0.5 AND yi = 0)
       |      THEN 1 ELSE 0 END) AS n_ok,
       |  min(w0) AS w0, min(w1) AS w1, min(w2) AS w2
       | FROM e$i GROUP BY source)""".stripMargin

  /** The decontamination base of q85/q277/q282: every doc with its split
    * bucket and its hashed word 8-grams `ng`. It feeds BOTH the train and
    * the probe branches, so it is persisted — the corpus is scanned and
    * hashed once, not twice (the q37 lesson); the caller unpersists it
    * once its result is pinned. */
  private def decontamBase(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("ng", hashedNgrams8(col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The distinct 8-gram hashes `h` of the base's train split. */
  private def trainGrams(base: DataFrame, bucketBelow: Int): DataFrame =
    base.filter(col("bucket") < bucketBelow)
      .select(explode(col("ng")).as("h")).distinct()

  /** Per-doc (doc_id, n_ngrams, n_hit) counts as the overlap report: the
    * hit share in integer basis points and the >= 10% flag, by doc,
    * eagerly pinned. */
  private def overlapReport(counts: DataFrame): DataFrame =
    counts
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        expr("(n_hit * 10000) div n_ngrams").as("overlap_bp"),
        (col("n_hit") * 10 >= col("n_ngrams")).cast("long").as("flagged"))
      .orderBy("doc_id")
      .localCheckpoint(eager = true)

  /** One full-batch GD pass over `feat` (keys, x1i, x2i, yi) at the
    * weights `w` (keys, w0..w2), one model per `keys` group (Nil: one
    * global model over a 1-row `w`): per group the stats (n, g0..g2, n_ok,
    * carried w0..w2, then `extra` over the pass's p/err/yi), eagerly
    * checkpointed so downstream consumers never re-run the corpus pass. */
  private[graft] def gdPass(feat: DataFrame, w: DataFrame, keys: Seq[String],
      extra: Column*): DataFrame =
    feat.join(broadcast(w), keys)
      .withColumn("p", expr(TrainSigmoidExpr))
      .withColumn("err", expr("p - CAST(yi AS DOUBLE)"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), Seq(
        sum(expr("CAST(floor(err * 1000000000.0) AS BIGINT)")).as("g0"),
        sum(expr("CAST(floor(err * (CAST(x1i AS DOUBLE) / 100.0) * 1000000000.0) AS BIGINT)")).as("g1"),
        sum(expr("CAST(floor(err * (CAST(x2i AS DOUBLE) / 10000.0) * 1000000000.0) AS BIGINT)")).as("g2"),
        sum(expr("CASE WHEN (p >= 0.5 AND yi = 1) OR (p < 0.5 AND yi = 0) THEN 1 ELSE 0 END")).as("n_ok"),
        min("w0").as("w0"), min("w1").as("w1"), min("w2").as("w2")) ++ extra: _*)
      .localCheckpoint(eager = true)

  /** One global model's starting weights: all zero. */
  private def gdZero(s: SparkSession): DataFrame =
    s.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))

  /** The q284-family feature frame — (x1i tokens, x2i stopword bp, yi
    * lang='en') over non-empty docs, the `keys` columns of `docs` carried
    * in front (q286's source, q285's split bucket). */
  private[graft] def trainFeatures(docs: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    docs
      .withColumn("w", rawToks(col("text")))
      .withColumn("x1i", size(col("w")).cast("long"))
      .filter(col("x1i") > 0)
      .withColumn("hits", size(filter(col("w"),
        t => array_contains(array(Stop.map(lit): _*), t))).cast("long"))
      .select(keys.map(col) ++ Seq(col("x1i"), expr("(hits * 10000) div x1i").as("x2i"),
        when(col("lang") === "en", 1L).otherwise(0L).as("yi")): _*)
  }

  /** [[gdPass]] of one global model with the floor-e9 logistic-loss sum
    * `l` added — q290's per-round readout (one extra aggregate over the
    * same pass, nothing else changes). */
  private[graft] def gdStepLoss(feat: DataFrame, w: DataFrame): DataFrame =
    gdPass(feat, w, Nil,
      sum(expr(s"CAST(floor(($TrainLossExpr) * 1000000000.0) AS BIGINT)")).as("l"))

  /** The next weights (keys, w0..w2) from a [[gdPass]]'s stats. */
  private[graft] def gdNextW(st: DataFrame, keys: Seq[String] = Nil): DataFrame =
    st.selectExpr(keys ++ (0 to 2).map(j => s"${TrainUpdExpr(j)} AS w$j"): _*)

  /** A [[gdPass]]'s reported columns: the pass's accuracy in basis points
    * and the weights it updates to, ×1e6 floored. */
  private def gdReadout: Seq[String] =
    "CAST((n_ok * 10000) div n AS BIGINT) AS acc_bp" +:
      (0 to 2).map(j => s"CAST(floor((${TrainUpdExpr(j)}) * 1000000.0) AS BIGINT) AS w${j}_e6")

  private def trainRowSql(i: Int): String =
    s"""SELECT CAST($i AS BIGINT) AS iter,
       |  CAST((n_ok * 10000) // n AS BIGINT) AS acc_bp,
       |  CAST(floor((${TrainUpdExpr(0)}) * 1000000.0) AS BIGINT) AS w0_e6,
       |  CAST(floor((${TrainUpdExpr(1)}) * 1000000.0) AS BIGINT) AS w1_e6,
       |  CAST(floor((${TrainUpdExpr(2)}) * 1000000.0) AS BIGINT) AS w2_e6
       |FROM s$i""".stripMargin

  /** Distinct md5-hashed 8-gram set of a text column — q85's contamination
    * unit, extracted so CorpusMain's decontamination stage uses the exact
    * construction the oracle-verified query does. */
  def hashedNgrams8(text: Column): Column =
    // the native gram kernel — md5 digests token bytes directly, no gram
    // string materializes — then array_distinct (bit-parity incl. element
    // ORDER with the HOF form pinned in TextHashesSpec)
    org.apache.spark.sql.graft.TextHashes.hashed_ngrams(rawToks(text), 8, 2147483647L)

  val queries: Map[String, Q] = Map(
    // ---- TF-IDF: top salient term per document ---------------------------
    // tf from the raw token multiset, df over distinct docs per term, idf =
    // ln(N/df). Ranking ties break on the term string; the score is
    // round(4) on both sides.
    "q72_tfidf" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.count() // corpus size: one scalar, computed once
      val terms = docs
        .select(col("doc_id"), explode(rawToks(col("text"))).as("tok"))
      val tf = terms.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // tf rows are already distinct (doc, tok), so document frequency is
      // one more aggregation over tf — not a second corpus scan + distinct
      // (the tokenize subtree is shared; ReuseExchange dedups its shuffle)
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(desc("tfidf"), asc("tok"))
      tf.join(df, Seq("tok"))
        .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("tok").as("top_term"),
          col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
          col("tfidf"))
        .orderBy("doc_id")
    }),

    // ---- deterministic train/val/test split ------------------------------
    // bucket = first 4 md5 hex digits of the doc id, mod 100 — the shared
    // md5 trick, so the oracle reproduces the assignment bit-for-bit.
    // 90/5/5; content-independent (id-keyed), so editing a doc never moves
    // it across splits.
    "q73_det_split" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          splitBucket(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test"))
        .orderBy("doc_id")
    }),

    // ---- train/test decontamination (exact digest) -----------------------
    // The cheap first pass before q85's n-gram sweep: a TEST doc whose
    // exact text also sits in TRAIN. The natural corpus has none (500
    // distinct texts — measured), so, like q35 doubles its input, both
    // engines add id-shifted clones: a clone hashes to a different split
    // bucket than its source (bucket = md5 of the id), so cross-split
    // exact duplicates exist by construction. One digest-keyed join;
    // at 100 TB this is a shuffle on 128-bit digests, nothing else.
    "q84_exact_decontam" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text")
      val base = d.unionAll(d.select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .withColumn("bucket",
          splitBucket(col("doc_id")))
        .withColumn("digest", md5(lower(trim(col("text"))).cast("binary")))
      val train = base.filter(col("bucket") < 90)
        .groupBy("digest").agg(count(lit(1)).as("n_train_copies"))
      base.filter(col("bucket") >= 95)
        .select(col("doc_id"), col("digest"))
        .join(train, Seq("digest"))
        .select(col("doc_id"), col("digest"), col("n_train_copies"))
        .orderBy("doc_id")
    }),

    // ---- train/test decontamination (n-gram overlap) ---------------------
    // The leakage check run before every evaluation: for each TEST doc
    // (q73's bucket >= 95), how many of its distinct 8-grams also occur
    // anywhere in TRAIN (bucket < 90). GPT-3-style decontamination uses
    // 13-grams; 8 fits this corpus's ~30-token docs. Flag at >= 10% overlap
    // via the integer predicate n_hit*10 >= n_ngrams (no float boundary).
    // Scale: the train n-gram set is one explode+distinct (shuffle keyed by
    // hash) and the probe is an equi-join on the hash — at 100 TB you'd put
    // a bloom filter of the (small) test n-gram set on the train side scan
    // (the runtime-filter pattern ScaleOpsSpec proves) so train rows that
    // can't match never shuffle. 8-grams are HASHED (md5-based, the shared
    // portable hash) so the shuffle moves longs, not 60-char strings.
    // ---- novelty-filter sizing audit (r15) --------------------------------
    // The operational question the r15 scale tiers surfaced: the standing
    // novelty Bloom ([[graft.operators.AggState]], CorpusStream's gate) is
    // mBits-bounded forever, and an under-sized filter silently degrades
    // to over-dropping once fill climbs (measured: the 2^20 default
    // saturates at ~15k docs of this corpus — fill 0.9, FP 0.73, gate
    // admission collapses). This query IS the sizing run a deployment
    // executes before picking `bloomBits`: for each candidate mBits it
    // computes the EXACT bits-set count of the corpus's distinct 8-grams
    // (the same md5 hash + (h*salt_j + j) mod mBits positions the filter
    // uses — shared verbatim with the oracle), the fill in basis points,
    // and the predicted false-positive rate fill^k in basis points — all
    // integer arithmetic, no estimate. Scale: one distinct-n-gram shuffle
    // (corpus-linear, moves longs) + per-candidate position distincts
    // bounded by mBits; candidates are evaluated in ONE frame (explode
    // over the mBits list), so the corpus is hashed once.
    "q293_bloom_audit" -> ((s: SparkSession, dir: String) => {
      import graft.operators.AggState
      val k = 3
      val mList = Seq(1048573L, 4194301L, 16777213L) // primes ~2^20/22/24
      val hs = Tables(s, dir, "documents")
        .select(explode(hashedNgrams8(col("text"))).as("h"))
        .distinct()
        .localCheckpoint(eager = true) // feeds the count and the explode
      val nNg = hs.agg(count(lit(1)).as("n_ngrams"))
      val pos = hs.select(explode(array(mList.map(lit): _*)).as("m_bits"), col("h"))
        .select(col("m_bits"), explode(array((0 until k).map(j =>
          pmod(col("h") * lit(AggState.BloomSalts(j)) + lit(j.toLong),
            col("m_bits"))): _*)).as("pos"))
      val out = pos.groupBy("m_bits")
        .agg(countDistinct(col("pos")).as("bits_set"))
        .crossJoin(broadcast(nNg))
        .select(col("m_bits"), col("n_ngrams"), col("bits_set"),
          expr("(bits_set * 10000) DIV m_bits").as("fill_bp"),
          expr("(((bits_set * 10000) DIV m_bits) * ((bits_set * 10000) DIV m_bits)" +
            " * ((bits_set * 10000) DIV m_bits)) DIV 100000000").as("fp_bp"))
        .orderBy("m_bits")
      out
    }),

    "q85_decontaminate" -> ((s: SparkSession, dir: String) => {
      // the small result is checkpointed eagerly so the base's cache can
      // be released before returning
      val base = decontamBase(s, dir)
      val train = trainGrams(base, 90)
      val testEx = base.filter(col("bucket") >= 95).filter(size(col("ng")) > 0)
        .select(col("doc_id"), size(col("ng")).cast("long").as("n_ngrams"),
          explode(col("ng")).as("h"))
      val out = overlapReport(
        testEx.join(train.withColumn("hit", lit(1L)), Seq("h"), "left")
          .groupBy("doc_id", "n_ngrams")
          .agg(count(col("hit")).as("n_hit")))
      base.unpersist()
      out
    }),

    // ---- decontamination at scale: broadcast fingerprint screen ----------
    // q85's exact check with the 100 TB topology made explicit. The train
    // n-gram set's 16-bit FINGERPRINT projection is bounded at 65,536
    // distinct values no matter the corpus size, so it broadcasts to every
    // scan task and filters probe n-grams MAP-SIDE (a left-semi broadcast
    // join): only n-grams whose fingerprint exists somewhere in train ever
    // reach the exact-hash shuffle. The screen is OUTPUT-NEUTRAL —
    // fingerprint equality is implied by hash equality, so a screened-out
    // n-gram could only ever have counted as a miss — and the oracle never
    // screens, so neutrality is hash-checked in the gate. Probe docs whose
    // n-grams all screen out re-enter via the left join with n_hit = 0.
    // This is the runtime-bloom-filter pattern as an explicit, bounded,
    // engine-independent broadcast (ScaleOpsSpec proves the implicit one).
    "q277_screened_decontam" -> ((s: SparkSession, dir: String) => {
      val base = decontamBase(s, dir)
      // train feeds the fingerprint projection AND the verify join
      val train = trainGrams(base, 85)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fp = train.select(pmod(col("h"), lit(65536L)).as("fp")).distinct()
      val probe = base.filter(col("bucket") >= 90).filter(size(col("ng")) > 0)
      val probeEx = probe.select(col("doc_id"), explode(col("ng")).as("h"))
      val cand = probeEx.join(broadcast(fp),
        pmod(col("h"), lit(65536L)) === col("fp"), "left_semi")
      val hits = cand.join(train, Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit0"))
      val out = overlapReport(probe
        .select(col("doc_id"), size(col("ng")).cast("long").as("n_ngrams"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit0"), lit(0L)).cast("long")))
      train.unpersist()
      base.unpersist()
      out
    }),

    // ---- decontamination behind a packed Bloom screen ---------------------
    // q277's broadcast screen upgraded from the 16-bit fingerprint to the
    // real tool: a bit-packed Bloom filter (m = 2^20-ish bits, k = 3) built
    // over the train n-gram hashes with AggState's bloom partials — the
    // same packed words the STANDING membership state persists (q283), so
    // the screen algebra is written once. Unlike q277, the screen itself is
    // part of the OUTPUT (n_pass beside n_hit): the oracle reproduces the
    // Bloom positions in pure integer math, so the filter's exact pass set
    // — including any false positives — is hash-checked at 3 SFs, not just
    // argued neutral. No false negatives by construction (hash equality
    // implies all k positions equal), so n_hit over the pass set equals
    // q85's unscreened count. 100 TB: the filter is <=16384 words (128 KB)
    // at ANY train size, broadcasts to every probe scan task, and only
    // pass-set n-grams reach the exact-hash shuffle.
    "q282_bloom_decontam" -> ((s: SparkSession, dir: String) => {
      import graft.operators.AggState
      val m = AggState.BloomDefaultBits
      val k = AggState.BloomDefaultK
      val base = decontamBase(s, dir)
      val train = trainGrams(base, 85)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bloom = AggState.bloomMap(
        AggState.bloomPartials(train, Nil, "h", m, k), Nil)
      val probe = base.filter(col("bucket") >= 90).filter(size(col("ng")) > 0)
      val probeEx = probe.select(col("doc_id"), explode(col("ng")).as("h"))
      val pass = AggState.bloomTest(bloom, probeEx, Nil, "h", "__might", m, k)
        .filter(col("__might"))
      // one consumption of the pass set: n_pass and n_hit fold in the SAME
      // aggregation (a second consumer would re-run the screen chain)
      val counts = pass.join(train.withColumn("__t", lit(1L)), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pass0"), count(col("__t")).as("n_hit0"))
      val out = probe
        .select(col("doc_id"), size(col("ng")).cast("long").as("n_ngrams"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_ngrams"),
          coalesce(col("n_pass0"), lit(0L)).cast("long").as("n_pass"),
          coalesce(col("n_hit0"), lit(0L)).cast("long").as("n_hit"))
        // integer basis points, NEVER round() on a ratio of integers: a
        // dyadic ratio (1/32 = .03125) ties the 4-dp digit, where Spark's
        // half-up and DuckDB's half-even disagree (the r4 lesson)
        .withColumn("overlap_bp", expr("(n_hit * 10000) div n_ngrams"))
        .withColumn("flagged",
          (col("n_hit") * 10 >= col("n_ngrams")).cast("long"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      train.unpersist()
      base.unpersist()
      out
    }),

    // ---- in-engine classifier training (batch gradient descent) ----------
    // The distributed-ML training loop as pure DataFrame algebra: a
    // logistic-regression quality/language classifier trained by 3 full-
    // batch GD steps — each step is ONE corpus aggregation (map-side
    // partial sums) + a 1-row weight broadcast, the aggregate-broadcast
    // shape every data-parallel trainer (MLlib included) reduces to. At
    // 100 TB each step shuffles 4 longs per partition, nothing else.
    // Cross-engine exactness: per-row gradient contributions are
    // floor-e9'd to BIGINT before summation (a raw double sum is
    // order-dependent — the q126 lesson), the sigmoid is the shared-
    // verbatim expression (exp parity is gate-proven by q151), and each
    // 1-row weight state is eagerly checkpointed so the chain reads 3
    // corpus passes total, not a re-executed pyramid. Features: token
    // count (x/100) and stopword basis points (x/10000); label lang='en'.
    "q284_train_classifier" -> ((s: SparkSession, dir: String) => {
      val base = trainFeatures(Tables(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (rows, _) = (1 to 3).foldLeft((Seq.empty[DataFrame], gdZero(s))) {
        case ((acc, w), t) =>
          val st = gdPass(base, w, Nil) // 1 row; pins this pass's sums
          val row = st.selectExpr(s"CAST($t AS BIGINT) AS iter" +: gdReadout: _*)
          (acc :+ row, gdNextW(st))
      }
      base.unpersist()
      rows.reduce(_ unionByName _).orderBy("iter")
    }),

    // ---- convergence-controlled training (r14, VERDICT r13 #4) -----------
    // q284 runs exactly 3 unrolled steps; the production trainer stops
    // when the loss plateaus. Driver-side loop: per round ONE corpus
    // aggregation (gdStepLoss — q284's pass + a floor-e9 logistic-loss
    // sum), 1 row collected, stop at the first round whose integer mean
    // loss moved < ConvergeEpsE9 from the previous round's, hard cap
    // ConvergeCap. Rounds BEYOND the stop are never computed — at 100 TB
    // that is the entire point (each avoided round is a corpus pass).
    // Oracle-checkable despite the data-dependent iteration count: the
    // oracle unrolls all ConvergeCap rounds (tiny at oracle scale),
    // derives the SAME integer stopping round from the loss trail, and
    // selects that round's row — (iters_run, loss_e9) are part of the
    // hash-checked output.
    "q290_converged_training" -> ((s: SparkSession, dir: String) => {
      val base = trainFeatures(Tables(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var w = gdZero(s)
      var prevMl: Option[Long] = None
      var t = 0
      var done = false
      var lastSt: org.apache.spark.sql.DataFrame = null
      while (t < ConvergeCap && !done) {
        t += 1
        val st = gdStepLoss(base, w) // 1 row, eagerly pinned
        val ml = st.selectExpr("l div n AS ml").head().getLong(0)
        if (prevMl.exists(p => math.abs(p - ml) < ConvergeEpsE9)) done = true
        prevMl = Some(ml)
        lastSt = st
        w = gdNextW(st)
      }
      base.unpersist()
      lastSt.selectExpr(Seq(s"CAST($t AS BIGINT) AS iters_run",
        "CAST(l div n AS BIGINT) AS loss_e9") ++ gdReadout: _*)
    }),

    // ---- grouped training: one model per source, one job -----------------
    // The model-COUNT scale axis q284 doesn't exercise: a separate
    // classifier per `source` (per-domain quality models), all fit in the
    // SAME 3 aggregation rounds — per iteration ONE equi-join of the
    // feature base with the |keys|-row weight table + ONE keyed
    // aggregation. 10^5 models cost the same three shuffles as one model;
    // the weight table broadcasts while |keys| is small and degrades to a
    // plain shuffle join when it is not. Same shared-verbatim algebra and
    // floor-e9 gradient sums as q284, keyed — the oracle reproduces every
    // model's trajectory, and the output (final weights + third-pass
    // accuracy per source) is hash-checked per key.
    "q286_grouped_training" -> ((s: SparkSession, dir: String) => {
      val base = trainFeatures(Tables(s, dir, "documents"), Seq("source"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w0 = base.select("source").distinct()
        .select(col("source"), lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
        .localCheckpoint(eager = true)
      val s3 = (1 to 3).foldLeft(w0)((w, i) => {
        val st = gdPass(base, w, Seq("source")) // |keys| rows; pins the pass
        if (i < 3) gdNextW(st, Seq("source")) else st
      })
      base.unpersist()
      s3.selectExpr(Seq("source", "CAST(n AS BIGINT) AS n_docs") ++ gdReadout: _*)
        .orderBy("source")
    }),

    // ---- held-out evaluation of the in-engine trained model --------------
    // The honest ML loop q284 demonstrates in miniature: fit ONLY on q73's
    // train split (bucket < 90), score ONLY the test split (bucket >= 95),
    // report the confusion matrix + accuracy/precision/recall in integer
    // basis points (0-denominator arms -> -1 sentinel, never NULL). Same
    // shared-verbatim sigmoid/update algebra, same floor-e9 gradient sums,
    // so train-split weights and held-out predictions are bit-reproduced
    // by the oracle's unrolled CTEs. One extra corpus pass over q284 (the
    // eval); the broadcast weight vector is the only cross-step state.
    "q285_train_eval" -> ((s: SparkSession, dir: String) => {
      val base = trainFeatures(Tables(s, dir, "documents")
          .withColumn("bucket", splitBucket(col("doc_id"))), Seq("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val train = base.filter(col("bucket") < 90)
      val w3 = (1 to 3).foldLeft(gdZero(s))((w, _) => gdNextW(gdPass(train, w, Nil)))
      val out = base.filter(col("bucket") >= 95)
        .crossJoin(broadcast(w3))
        .withColumn("p", expr(TrainSigmoidExpr))
        .agg(count(lit(1)).as("n_test"),
          sum(expr("CASE WHEN p >= 0.5 AND yi = 1 THEN 1 ELSE 0 END")).as("tp"),
          sum(expr("CASE WHEN p >= 0.5 AND yi = 0 THEN 1 ELSE 0 END")).as("fp"),
          sum(expr("CASE WHEN p < 0.5 AND yi = 0 THEN 1 ELSE 0 END")).as("tn"),
          sum(expr("CASE WHEN p < 0.5 AND yi = 1 THEN 1 ELSE 0 END")).as("fn"))
        .selectExpr("CAST(n_test AS BIGINT) AS n_test",
          "CAST(tp AS BIGINT) AS tp", "CAST(fp AS BIGINT) AS fp",
          "CAST(tn AS BIGINT) AS tn", "CAST(fn AS BIGINT) AS fn",
          "CAST(((tp + tn) * 10000) div n_test AS BIGINT) AS acc_bp",
          "CAST(CASE WHEN tp + fp = 0 THEN -1 ELSE (tp * 10000) div (tp + fp) END AS BIGINT) AS precision_bp",
          "CAST(CASE WHEN tp + fn = 0 THEN -1 ELSE (tp * 10000) div (tp + fn) END AS BIGINT) AS recall_bp")
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- feature hashing (the hashing-trick vectorizer) ------------------
    // Tokens hashed into a fixed 32-bin count vector per document — the
    // dimension-bounded featurization a large-scale classifier trains on
    // (no vocabulary table to build, ship, or keep in sync). Emitted in
    // sparse (doc, bin, count) form: one aggregation, output bounded at
    // 32 rows/doc; shared md5 hash so both engines bin identically. The
    // probe set is bounded for oracle output; the operator is per-row at
    // any scale.
    "q173_feature_hash" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(rawToks(col("text"))).as("tok"))
        .select(col("doc_id"), (Dedup.tokHash(col("tok")) % 32).as("bin"))
        .groupBy("doc_id", "bin").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bin")
    }),

    // ---- mixture resampling to exact per-source quotas -------------------
    // The data-mixing step after a q86 report says a source is
    // over-represented: cap every source at an EXACT quota, selecting
    // uniformly-at-random but reproducibly — rank docs inside each source
    // by a salted hash (not by quality or position: that would bias the
    // mixture) and keep the first `quota`. Completes the sampling family:
    // q77 = top-by-quality quota, q82 = approximate Bernoulli rates, this
    // = exact count. One window per source partition; the salt ('mix')
    // keeps the selection independent of the q73 split and the q82 sample.
    "q90_mix_resample" -> ((s: SparkSession, dir: String) => {
      val quota = 15
      val h = conv(substring(md5(
          concat(lit("mix"), col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long")
      val w = Window.partitionBy("source").orderBy(asc("h"), asc("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("h", h)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= quota)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    }),

    // ---- corpus domain mix (per-source token share) ----------------------
    // The composition report a data-mix decision reads: sources ranked by
    // token volume with cumulative share ("the top k sources are X% of the
    // corpus"). The corpus-sized work is ONE partial-aggregating shuffle
    // keyed by source; the windows (rank order + running share) run over
    // the ~|sources| aggregate rows, so their single-partition exchange is
    // bounded by source cardinality, not corpus size.
    "q86_domain_mix" -> ((s: SparkSession, dir: String) =>
      domainMix(Tables(s, dir, "documents"))),

    // ---- temperature-scaled mixture weights ------------------------------
    // The multilingual/multi-source sampling formula (alpha = 0.5 here):
    // w_i ∝ share_i^alpha — upsamples the tail, downsamples the head
    // relative to natural proportions. Feeds q90's quota resampler from
    // q86's report. Determinism: share is one exact double division,
    // sqrt is IEEE-exact, floor(·1e6) integer-izes per source, and the
    // normalizing denominator is an exact BIGINT sum — no float summation
    // crosses rows. Windows run over the ~|sources| aggregate only.
    "q96_temp_mix" -> ((s: SparkSession, dir: String) => {
      val agg = Tables(s, dir, "documents")
        .withColumn("n", size(rawToks(col("text"))).cast("long"))
        .groupBy("source").agg(sum("n").as("n_tokens"))
      val wAll = Window.partitionBy()
      agg
        .withColumn("total", sum("n_tokens").over(wAll))
        .withColumn("s_e6",
          floor(sqrt(col("n_tokens").cast("double") / col("total").cast("double"))
            * lit(1000000.0)).cast("long"))
        .withColumn("denom", sum("s_e6").over(wAll))
        .select(col("source"), col("n_tokens"),
          expr("(n_tokens * 10000) div total").as("share_bp"),
          expr("(s_e6 * 10000) div denom").as("weight_bp"))
        .orderBy("source")
    }),

    // ---- stratified Bernoulli sample (per-language rates) ----------------
    // The rebalancing sampler: over-represented strata are kept at a lower
    // rate (en 20%) than the rest (80%). Hash-bucket Bernoulli, not
    // rank-based like q77: membership is decided per row with no window
    // and no shuffle, so it scales embarrassingly and is reproducible
    // across reruns/speculation. The hash is SALTED ('smpl' prefix) so the
    // sample is independent of q73's split buckets — reusing one hash for
    // both would correlate the sample with the train/val/test assignment.
    "q82_stratified_sample" -> ((s: SparkSession, dir: String) => {
      val bucket = (conv(substring(md5(
          concat(lit("smpl"), col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long") % 100)
      Tables(s, dir, "documents")
        .withColumn("bucket", bucket)
        .withColumn("rate",
          when(col("lang") === "en", lit(20L)).otherwise(lit(80L)))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "bucket", "rate")
        .orderBy("doc_id")
    }),

    // ---- per-language quality quota (corpus balancing) -------------------
    // Keep each language's top fifth by token count — the "balance the
    // languages" sampling step between curation and training. Quota and
    // ranking are pure integer math (ceil(n/5) = (n+4) div 5; ties broken
    // by doc_id), so there is no float boundary anywhere. One window over
    // (lang), no extra shuffle beyond it.
    "q77_lang_quota" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("lang").orderBy(desc("n_tokens"), asc("doc_id"))
      val cnt = Window.partitionBy("lang")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(rawToks(col("text"))).cast("long").as("n_tokens"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("quota", expr("(count(1) OVER (PARTITION BY lang) + 4) div 5"))
        .filter(col("rk") <= col("quota"))
        .select("lang", "doc_id", "n_tokens", "rk")
        .orderBy("lang", "doc_id")
    }),

    // ---- sequence packing into fixed context windows ---------------------
    // Concatenate docs in id order, cut every `cap` tokens (how pretraining
    // actually packs batches — documents may straddle a boundary). The
    // global running token count comes from the DISTRIBUTED two-phase
    // prefix sum (operators/PrefixSum), not a no-partition window — the
    // window form funnels the whole corpus through one task
    // (Exchange SinglePartition), which is exactly the plan that dies at
    // 100 TB. Empty docs occupy zero tokens and inherit the offset.
    "q74_seq_packing" -> ((s: SparkSession, dir: String) => {
      val cap = 2048
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), size(rawToks(col("text"))).cast("long").as("n_tokens"))
      graft.operators.PrefixSum.runningSum(toks, "doc_id", "n_tokens", "end_offset")
        .select(
          col("doc_id"), col("n_tokens"),
          (col("end_offset") - col("n_tokens")).as("start_offset"),
          expr(s"(end_offset - n_tokens) div $cap").as("first_window"),
          expr(s"greatest(end_offset - 1, end_offset - n_tokens) div $cap").as("last_window"))
        .orderBy("doc_id")
    }),

    // ---- largest-remainder apportionment ---------------------------------
    // Turning the q96 mixture weights into an actual integer sampling
    // budget: allocate exactly 1000 shards across sources proportionally
    // to character mass by the Hare-quota largest-remainder method —
    // floor shares first, then the leftover seats to the largest
    // fractional remainders (ties by source name). Pure integer math end
    // to end, so both engines agree bit-for-bit; windows run over
    // |sources| rows only (the corpus scan is one aggregation).
    "q208_apportion" -> ((s: SparkSession, dir: String) => {
      val seats = 1000L
      val mass = Tables(s, dir, "documents")
        .groupBy("source").agg(sum("n_chars").as("mass"))
      // |sources| rows from here on: unpartitioned windows are deliberate
      val all = Window.partitionBy(lit(1))
      val byRem = Window.partitionBy(lit(1))
        .orderBy(desc("rem"), asc("source"))
      mass
        .withColumn("total", sum("mass").over(all))
        .withColumn("base", expr(s"(mass * $seats) div total"))
        .withColumn("rem", expr(s"mass * $seats - base * total"))
        .withColumn("leftover", lit(seats) - sum("base").over(all))
        .withColumn("rk", row_number().over(byRem))
        .withColumn("seats",
          col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .select(col("source"), col("mass").cast("long").as("mass"),
          col("seats").cast("long").as("seats"))
        .orderBy("source")
    }),

    // ---- systematic PPS sampling per stratum -----------------------------
    // Probability-proportional-to-size sampling without randomness: lay
    // each stratum's docs along their cumulative weight (n_chars) in
    // doc_id order and take the k=10 systematic slots — doc i is selected
    // iff the running weight crosses a multiple of T/k inside it, i.e.
    // floor(cum_i*k/T) > floor((cum_i-w_i)*k/T). All-integer (the
    // apportionment lesson: never round a ratio), so reruns, retries and
    // both engines agree exactly; units heavier than T/k are certain
    // inclusions, the textbook PPS property. Two keyed windows per
    // stratum (running sum + stratum total), no shuffle beyond them —
    // the sampling weights-mixes shape for building training mixes at
    // any scale.
    "q259_pps_sample" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("source")
      Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum", sum("n_chars").over(w))
        .withColumn("total", sum("n_chars").over(all))
        .filter(expr("(cum * 10) div total > ((cum - n_chars) * 10) div total"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          expr("CAST((cum * 10) div total AS BIGINT)").as("pick_idx"))
        .orderBy("source", "doc_id")
    }),

    // ---- weighted Bernoulli (Poisson) sampling ---------------------------
    // q259's systematic PPS needs an ordered cumulative walk; the Poisson
    // form is its embarrassingly-parallel sibling: each doc is included
    // INDEPENDENTLY with p = min(1, N·w/W) (expected sample size N,
    // inclusion probability proportional to token weight) — per-row math,
    // no window, no order dependence, the form that survives any
    // partitioning and any retry. Randomness is the deterministic salted
    // md5 (never rand(): reruns and speculative tasks must agree), and
    // the inclusion test is pure integer cross-multiplication —
    // h·W < N·w·2^32 — so the oracle reproduces the draw bit-for-bit.
    // W fits BIGINT through ~2^31 token-weight mass per corpus; past
    // that the same test runs in DECIMAL(38,0). Heavier-than-threshold
    // docs (N·w ≥ W) are certain inclusions, the PPS property. One
    // corpus scan + a 1-row broadcast total.
    "q276_weighted_bernoulli" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), size(rawToks(col("text"))).cast("long").as("n_tokens"))
      val tot = docs.agg(sum("n_tokens").cast("long").as("w_total"))
      docs.crossJoin(broadcast(tot))
        .withColumn("h32", expr("CAST(conv(substring(md5(CAST(" +
          "concat('pps_', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
        .filter(col("h32") * col("w_total") <
          lit(500L) * col("n_tokens") * lit(4294967296L))
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(least(10000, (500 * n_tokens * 10000) div w_total) AS BIGINT)")
            .as("p_bp"))
        .orderBy("doc_id")
    }),

    // ---- DSIR-style hashed-n-gram importance weights ---------------------
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every raw-pool document by how much more likely its hashed n-gram
    // features are under a TARGET distribution than under the rest of the
    // pool, then admit the docs that look target-like. The target here is
    // the quality-gate slice (stopword ratio >= 8% — the same signal
    // CorpusStream.curated gates on), which is the production use: a cheap
    // bag-of-hashed-ngrams importance sampler fit on the curated slice and
    // applied to the whole raw pool. Features are unigrams + bigrams hashed
    // into 1024 buckets (the paper's hashed n-gram model); per-bucket
    // smoothed log-odds are integer-ized (floor-e6) so per-doc sums are
    // exact BIGINTs, and the admit rule (w_e6 > 0) is per-row — no global
    // sort or quantile anywhere.
    //
    // Scale: the bucket table is 1024 rows at ANY corpus size — aggregate
    // once (one partial-aggregating shuffle keyed by bucket), broadcast
    // back; the per-doc fold is the same exploded feature stream joined
    // map-side. The feature base feeds both consumers, so it is persisted
    // for the bench run and the totals window runs over the 1024-row
    // aggregate only (never the corpus). Measured at sf0.001/0.01/0.1:
    // admit precision 94/94/83% against the target label at 92/92/93%
    // recall — the hashed 1024-bucket model recovers the gate it was fit
    // on, which is the method working as the paper intends.
    "q296_dsir_weights" -> ((s: SparkSession, dir: String) => {
      val feats = dsirFeats(Tables(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bc = feats.groupBy("bucket")
        .agg(sum(col("tgt")).as("ct"), sum(lit(1L) - col("tgt")).as("cn"))
      val out = dsirScore(feats, bc).localCheckpoint(eager = true)
      feats.unpersist()
      out.orderBy("doc_id")
    }),

    // ---- in-engine BPE merge learning (3 iterations) ---------------------
    // The tokenizer-training loop (Sennrich et al. 2016) run at token
    // granularity as pure DataFrame algebra: each iteration counts adjacent
    // unit pairs over the whole corpus, picks the most frequent (count
    // DESC, pair ASC tie-break), and applies the merge LEFTMOST-GREEDY
    // non-overlapping — exactly the sequential BPE rule, applied PER ROW
    // as array algebra ([[bpeApplyPairs]] / the native
    // [[org.apache.spark.sql.graft.BpeMerge]] scan): the greedy recurrence
    // mh(i) = match(i) AND NOT mh(i-1) folds within each bounded document,
    // never across the corpus. Verified against a driver-side greedy
    // reference per doc at all 3 SFs (TrainingSpec).
    //
    // Scale (r16 form): each iteration is ONE pair-count partial-agg
    // shuffle + one MAP-ONLY merge pass — the r15 form's per-doc
    // posexplode exchange + window sort + collect_list rebuild per round
    // are gone (the fixed-vocab tier falsified r15's pair-count-state
    // attribution of the 100x residual spill: with 961 distinct pairs the
    // spill was unchanged, the stage ledger placed it in the lazily-
    // materialized mark/rebuild sort — so the sort was removed, not
    // resized). The driver collects ONE row per iteration
    // (TakeOrderedAndProject, the distributed top-1 — never the pair
    // table). Per-round merge counts derive from the per-doc SIZE ledger
    // (each applied merge shortens a doc by exactly 1), so the output
    // trajectory is unchanged and stays hash-checked by the unrolled
    // oracle (the q290 pattern); the chosen pairs ride every row (p1-p3).
    "q299_bpe_merges" -> ((s: SparkSession, dir: String) => {
      val (sizes, pairs) = bpeLedger(s, dir, 3)((cur, _) => Seq(bpeTopPair(cur)))
      sizes
        .select(col("doc_id"), col("s0").as("n0"),
          (col("s0") - col("s1")).as("m1"),
          (col("s1") - col("s2")).as("m2"),
          (col("s2") - col("s3")).as("m3"),
          col("s3").as("n3"),
          lit(pairs(0)).as("p1"), lit(pairs(1)).as("p2"), lit(pairs(2)).as("p3"))
        .orderBy("doc_id")
    }),

    // ---- tokenizer train/apply split (BPE fertility on held-out text) ----
    // The deployment half of q299: learn the 3 merges on the TRAIN split
    // ONLY (q73's content-independent md5 bucket — the same 90/5/5
    // contract every decontamination and eval query shares), then apply
    // them in learned order to the HELD-OUT test split and report the
    // compression each test doc actually gets. This is how a tokenizer
    // ships: merges frozen from training data, applied to text the
    // learner never saw — and the split-discipline is the point (pair
    // statistics never read the test docs). Apply passes reuse the
    // positional leftmost-greedy rule; train intermediates and the
    // shrinking test corpus are DISK_ONLY persists released per round
    // (the q299 memory discipline).
    "q301_bpe_apply" -> ((s: SparkSession, dir: String) => {
      val DISK = org.apache.spark.storage.StorageLevel.DISK_ONLY
      val base = Tables(s, dir, "documents")
        .withColumn("w", rawToks(col("text")))
        .filter(size(col("w")) > 0)
        .withColumn("bucket", splitBucket(col("doc_id")))
      var train = base.filter(col("bucket") < 90).select("doc_id", "w").persist(DISK)
      var test = base.filter(col("bucket") >= 95).select("doc_id", "w").persist(DISK)
      // tiny per-doc n0 ledger; the eager checkpoint materializes `test`
      val n0df = test.select(col("doc_id"), size(col("w")).cast("long").as("n0"))
        .localCheckpoint(eager = true)
      val pairs = scala.collection.mutable.ArrayBuffer.empty[String]
      for (k <- 1 to 3) {
        val (pa, pb) = bpeTopPair(train) // also pins train's blocks
        pairs += pa + " " + pb
        if (k < 3) {
          val nt = bpeApplyPairs(train, Seq((pa, pb))).persist(DISK)
          nt.count() // materialize before releasing the parent
          train.unpersist(blocking = true)
          train = nt
        } else train.unpersist(blocking = true)
        val ut = bpeApplyPairs(test, Seq((pa, pb))).persist(DISK)
        ut.count()
        test.unpersist(blocking = true)
        test = ut
      }
      val out = n0df
        .join(test.select(col("doc_id"), size(col("w")).cast("long").as("n_after")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n0"), col("n_after"),
          (col("n0") - col("n_after")).as("saved"),
          expr("(n_after * 10000) div n0").as("comp_bp"),
          lit(pairs(0)).as("p1"), lit(pairs(1)).as("p2"), lit(pairs(2)).as("p3"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      test.unpersist(blocking = true)
      out
    }),

    // ---- BATCHED BPE merges (the production trainer path, r17) -----------
    // The r16 BPE round-axis cost model (SCALE.md "BPE round axis") names
    // batched top-B token-disjoint merges the production path (~8x less
    // wall per merge at 81% of the token savings) — this puts its
    // SEMANTICS under the oracle gate, not just specs. Two passes, B = 4 per pass: rank adjacent pairs (count DESC,
    // pair ASC), scan the top 16 candidates in rank order and take up to 4
    // whose footprints {a, b, "a b"} are pairwise disjoint with a != b
    // ([[bpeSelectBatch]] — the skipped overlappers defer to pass 2), then
    // apply the whole batch in ONE native map-only scan. Disjointness
    // makes two ADJACENT positions unable to both match (b1 = a2 would
    // share a token), so no greedy recurrence is needed within a pass —
    // which is exactly why one pass equals sequential composition in any
    // order, and why the oracle can mark matches with a plain join
    // instead of the parity window. The oracle re-derives each pass's
    // ranked candidates AND the greedy disjoint selection itself (chained
    // min-rank CTEs — the q290/q299 unrolled-trajectory pattern), so the
    // batch choice is hash-checked, not trusted. Per-doc ledger: sizes
    // before/between/after (each applied merge shortens a doc by exactly
    // 1) plus the chosen batches on every row.
    "q306_bpe_batch" -> ((s: SparkSession, dir: String) => {
      val (sizes, batches) = bpeLedger(s, dir, BpeBatchPasses) { (cur, k) =>
        val taken = bpeSelectBatch(bpeTopPairs(cur, BpeBatchCandCap), BpeBatchB)
        require(taken.nonEmpty, s"q306: no applicable pair in pass $k")
        taken
      }
      sizes
        .select(col("doc_id"), col("s0").as("n0"),
          (col("s0") - col("s1")).as("m1"),
          (col("s1") - col("s2")).as("m2"),
          col("s2").as("n_final"),
          lit(batches(0)).as("b1"), lit(batches(1)).as("b2"))
        .orderBy("doc_id")
    })
  )

  /** The per-doc size ledger of a merge loop over the non-empty token
    * sequences: `rounds` rounds, each choosing its pairs from the current
    * sequences (`choose(cur, round)`) and applying them in one map pass.
    * Returns the sizes s0..s<rounds> joined on doc_id, and each round's
    * pairs as "a b" joined by "|". Loop intermediates are DISK_ONLY persists, released as soon as
    * the next round's sequences exist (the r14 loop-shared-persist
    * lesson): each is consumed by exactly two jobs (the choice, then the
    * merge pass), so the disk re-read is paid twice and execution memory
    * stays whole. */
  private def bpeLedger(s: SparkSession, dir: String, rounds: Int)(
      choose: (DataFrame, Int) => Seq[(String, String)]): (DataFrame, Seq[String]) = {
    val DISK = org.apache.spark.storage.StorageLevel.DISK_ONLY
    var cur = Tables(s, dir, "documents")
      .select(col("doc_id"), rawToks(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .persist(DISK)
    // tiny per-round size ledgers: pinned eagerly — the pin also
    // materializes the round's DISK_ONLY blocks before release
    def ledger(seqs: DataFrame, k: Int) =
      seqs.select(col("doc_id"), size(col("w")).cast("long").as(s"s$k"))
        .localCheckpoint(eager = true)
    val sizes = scala.collection.mutable.ArrayBuffer(ledger(cur, 0))
    val chosen = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- 1 to rounds) {
      val taken = choose(cur, k)
      chosen += taken.map { case (a, b) => s"$a $b" }.mkString("|")
      if (k < rounds) {
        val nxt = bpeApplyPairs(cur, taken).persist(DISK)
        sizes += ledger(nxt, k)
        cur.unpersist(blocking = true)
        cur = nxt
      } else {
        // the last round's SEQUENCES have no reader — only the size
        // ledger does; one unpersisted map pass, no round persist
        sizes += ledger(bpeApplyPairs(cur, taken), k)
        cur.unpersist(blocking = true)
      }
    }
    (sizes.reduce((a, b) => a.join(b, Seq("doc_id"))), chosen.toSeq)
  }

  /** q306's fixed shape: 2 passes of up to B = 4 merges selected from the
    * top 16 ranked candidates — small enough to unroll in the oracle,
    * large enough that pass 2's candidates contain pass-1 merged tokens
    * (the footprint rule's reason to exist). */
  private[graft] val BpeBatchPasses = 2
  private[graft] val BpeBatchB = 4
  private[graft] val BpeBatchCandCap = 16

  /** The r16 row-wise BPE merge pass: apply `prs` leftmost-greedy
    * non-overlapping to each token array IN PLACE via the native codegen'd
    * [[org.apache.spark.sql.graft.BpeMerge]] scan — no posexplode, no
    * per-doc window sort, no collect_list rebuild (the r15 per-round
    * corpus exchange+sort this replaces held the 100x residual spill; the
    * fixed-vocab tier falsified the pair-count attribution). An interim
    * HOF-fold form was measured at ~200 s per a=b pass at the 100x tier —
    * interpreted aggregate() per token; the native single-loop scan is
    * the house answer (TextHashes precedent). Batched pairs must be
    * token-disjoint with a != b so their merges provably cannot interact
    * within one pass (at most one pair can match a position and a match
    * never enables a neighbor). */
  private[graft] def bpeApplyPairs(cur: org.apache.spark.sql.DataFrame,
      prs: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    require(prs.nonEmpty, "bpeApplyPairs: no pairs")
    if (prs.size > 1) {
      require(prs.forall { case (a, b) => a != b },
        "bpeApplyPairs: a = b pairs must be applied alone")
      // the FOOTPRINT rule (r17, closing the r16 advice gap): not just the
      // pair tokens but each pair's merged OUTPUT ("a b") must be disjoint
      // across the batch — {(a,b), (x,"a b")} has four distinct tokens yet
      // merging (a,b) creates "a b" tokens mid-scan, so a single pass
      // diverges from sequential composition. Within one pair a/b/"a b"
      // are automatically distinct given a != b.
      val strs = prs.flatMap { case (a, b) => Seq(a, b, a + " " + b) }
      require(strs.distinct.size == strs.size,
        "bpeApplyPairs: batched pairs must be token-disjoint, " +
          "including every pair's merged output")
    }
    cur.select(col("doc_id"),
      org.apache.spark.sql.graft.TextHashes.bpe_merge(col("w"), prs).as("w"))
  }

  /** The corpus-global argmax pair (count DESC, pair ASC): a distributed
    * TakeOrderedAndProject — ONE row reaches the driver. Takes the
    * SEQUENCES, not the exploded view: adjacent-pair counting needs no
    * positions, so q87's [[wordPairs]] replaces the explode+lead
    * window — the stage ledger attributed the q299/q301 100×-tier
    * residual spill (2 GB in-memory sorter per counting pass) to exactly
    * that window sort, which this removes (the one remaining windowed
    * pass per round is the mark/rebuild, which genuinely needs order). */
  private[graft] def bpeTopPair(cur: DataFrame): (String, String) = {
    val (a, b, _) = bpeTopPairs(cur, 1).headOption.getOrElse(sys.error(
      "bpeTopPair: no adjacent pairs in corpus/split (every doc < 2 tokens?)"))
    (a, b)
  }

  /** Greedy batch selection over a rank-ordered candidate list (count
    * DESC, pair ASC — [[bpeTopPairs]]' order): scan in rank, take up to
    * `b` pairs whose FOOTPRINT {a, b, "a b"} is disjoint from every
    * already-taken pair's footprint (and a != b) — exactly
    * [[bpeApplyPairs]]' batch contract, so a selected batch always
    * passes its require. Skipped pairs are deferred to the next pass,
    * never misapplied. q306 selects through it and TrainingSpec pins it;
    * q306's oracle re-derives the same scan relationally
    * ([[bpeBatchSql]]). */
  private[graft] def bpeSelectBatch(cand: Seq[(String, String, Long)],
      b: Int): Seq[(String, String)] = {
    val taken = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val used = scala.collection.mutable.HashSet.empty[String]
    def fp(a: String, bb: String) = Seq(a, bb, a + " " + bb)
    cand.foreach { case (a, bb, _) =>
      if (taken.size < b && a != bb && fp(a, bb).forall(!used(_))) {
        taken += ((a, bb)); used ++= fp(a, bb)
      }
    }
    taken.toSeq
  }

  /** [[bpeTopPair]]'s top-K form for the batched trainer (q306):
    * the K most frequent adjacent pairs (count DESC, pair ASC), one
    * distributed TakeOrderedAndProject, K rows to the driver. */
  private[graft] def bpeTopPairs(cur: org.apache.spark.sql.DataFrame,
      k: Int): Seq[(String, String, Long)] = {
    cur.select(explode(wordPairs(col("w"))).as("p"))
      .groupBy(col("p.prev").as("tok"), col("p.nxt").as("nxt"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok"), asc("nxt")).limit(k)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** q296's per-bucket smoothed log-odds (target vs rest of the pool),
    * shared VERBATIM between the Spark expr() and the DuckDB oracle: one
    * ln of a ratio of exact BIGINT products (Laplace +1 counts, +1024
    * totals), floored to e6 — the shared-verbatim double pattern (q93/
    * q108/q126), so both engines integer-ize identical IEEE results.
    * Products stay far below 2^53 at oracle SFs (feature totals ~ 3e5). */
  private val DsirLnrE6Sql: String =
    "CAST(floor(ln(CAST((ct + 1) * (tn + 1024) AS DOUBLE) " +
      "/ CAST((cn + 1) * (tt + 1024) AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** q296's labeled hashed-feature stream: one (doc_id, tgt, bucket) row
    * per unigram AND bigram occurrence, tgt = the quality-gate label
    * (stopword ratio >= 8% in integer math), bucket = shared md5 31-bit
    * hash mod 1024. Single-sourced so the standing-state variant (q300)
    * scores the exact feature stream the from-scratch query does. */
  private[graft] def dsirFeats(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stop = array(Stop.map(lit): _*)
    val lab = docs
      .withColumn("w", rawToks(col("text")))
      .filter(size(col("w")) > 0)
      .withColumn("tgt",
        (size(filter(col("w"), t => array_contains(stop, t))).cast("long") * lit(10000L)
          >= size(col("w")).cast("long") * lit(800L)).cast("long"))
    lab
      .withColumn("f", explode(concat(col("w"), wordGrams(col("w"), 2))))
      .select(col("doc_id"), col("tgt"), (Dedup.tokHash(col("f")) % 1024).as("bucket"))
  }

  /** The scoring half of q296: per-bucket smoothed log-odds from the
    * (bucket, ct, cn) count table (totals window over the <=1024-row
    * aggregate only), broadcast back over the feature stream, per-doc
    * exact BIGINT weight sums, admit = w > 0. The count table's PROVENANCE
    * is the caller's: q296 aggregates it in-query, q300 reads it from the
    * standing AggState scalars — identical counts give identical output. */
  private[graft] def dsirScore(feats: org.apache.spark.sql.DataFrame,
      bc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wAll = Window.partitionBy()
    val lr = bc
      .withColumn("tt", sum("ct").over(wAll))
      .withColumn("tn", sum("cn").over(wAll))
      .select(col("bucket"), expr(DsirLnrE6Sql).as("lnr_e6"))
    feats.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id", "tgt")
      .agg(count(lit(1)).as("n_feats"), sum("lnr_e6").as("w_e6"))
      .select(col("doc_id"), col("tgt"), col("n_feats"), col("w_e6"),
        (col("w_e6") > 0).cast("long").as("admit"))
  }

  /** One unrolled BPE round of the q299 oracle: from t(k-1)(doc_id, w)
    * derive the argmax pair p(k), the merge marks (the positional
    * leftmost-greedy rule — parity guard only binds when pa = pb), the
    * per-doc merge counts c(k) and the merged sequences t(k). The oracle
    * re-derives each round's data-dependent pair itself (the q290
    * pattern), so the trajectory is hash-checked, not trusted. */
  private def bpeIterSql(k: Int): String = {
    val p = k - 1
    s""",
       |e$k AS (SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest([{'pos': i, 'tok': w[i]} for i in range(1, len(w) + 1)]) AS s
       |        FROM t$p)),
       |x$k AS (SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM e$k),
       |p$k AS (SELECT tok AS pa, nxt AS pb, count(*) AS cnt FROM x$k WHERE nxt IS NOT NULL
       |  GROUP BY tok, nxt
       |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, tok, nxt) = 1),
       |m$k AS (SELECT doc_id, pos, tok, nxt, pa, pb,
       |    CASE WHEN tok = pa AND nxt IS NOT NULL AND nxt = pb
       |          AND (pa <> pb OR (pos - coalesce(max(CASE WHEN tok <> pa THEN pos END)
       |                 OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - 1) % 2 = 0)
       |         THEN 1 ELSE 0 END AS mh
       |  FROM x$k, p$k),
       |r$k AS (SELECT doc_id, pos,
       |    CASE WHEN mh = 1 THEN pa || ' ' || pb ELSE tok END AS tok2, mh,
       |    coalesce(lag(mh) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS dropped
       |  FROM m$k),
       |c$k AS (SELECT doc_id, CAST(sum(mh) AS BIGINT) AS m FROM r$k GROUP BY doc_id),
       |t$k AS (SELECT doc_id, list(tok2 ORDER BY pos) AS w
       |        FROM r$k WHERE dropped = 0 GROUP BY doc_id)""".stripMargin
  }

  /** The q301 oracle's apply half for round k: replay the SAME positional
    * merge rule on the held-out u(k-1) sequences under the TRAIN-derived
    * pair p(k) (a 1-row cross join) — no pair counting touches the test
    * docs, which is the split discipline the query exists to prove. */
  private def bpeApplySql(k: Int): String = {
    val p = k - 1
    s""",
       |ue$k AS (SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest([{'pos': i, 'tok': w[i]} for i in range(1, len(w) + 1)]) AS s
       |        FROM u$p)),
       |ux$k AS (SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM ue$k),
       |um$k AS (SELECT doc_id, pos, tok, nxt, pa, pb,
       |    CASE WHEN tok = pa AND nxt IS NOT NULL AND nxt = pb
       |          AND (pa <> pb OR (pos - coalesce(max(CASE WHEN tok <> pa THEN pos END)
       |                 OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - 1) % 2 = 0)
       |         THEN 1 ELSE 0 END AS mh
       |  FROM ux$k, p$k),
       |ur$k AS (SELECT doc_id, pos,
       |    CASE WHEN mh = 1 THEN pa || ' ' || pb ELSE tok END AS tok2, mh,
       |    coalesce(lag(mh) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS dropped
       |  FROM um$k),
       |u$k AS (SELECT doc_id, list(tok2 ORDER BY pos) AS w
       |        FROM ur$k WHERE dropped = 0 GROUP BY doc_id)""".stripMargin
  }

  /** One unrolled BATCHED pass of the q306 oracle: from t(k-1)(doc_id, w)
    * rank the adjacent pairs (count DESC, pair ASC, capped at `cap`
    * candidates — mirroring [[bpeTopPairs]]' driver window), re-derive the
    * greedy disjoint selection as chained min-rank CTEs (each s{k}_n = the
    * lowest-ranked a != b candidate whose footprint {pa, pb, pa||' '||pb}
    * avoids every earlier take — [[bpeSelectBatch]]'s scan, relationally),
    * then apply the whole batch with a plain pair join: footprint
    * disjointness makes adjacent double-matches impossible (b1 = a2 would
    * share a token), so no parity recurrence is needed within a pass. */
  private def bpeBatchSql(k: Int, b: Int, cap: Int): String = {
    val p = k - 1
    def ov(acc: String): String =
      s"""NOT EXISTS (SELECT 1 FROM $acc t
         |      WHERE c.pa IN (t.pa, t.pb, t.pa || ' ' || t.pb)
         |         OR c.pb IN (t.pa, t.pb, t.pa || ' ' || t.pb)
         |         OR (c.pa || ' ' || c.pb) IN (t.pa, t.pb, t.pa || ' ' || t.pb))""".stripMargin
    val sel = (2 to b).map { n =>
      val acc = s"a${k}_${n - 1}"
      val accNext =
        if (n == b) s"tb$k AS (SELECT * FROM $acc UNION ALL SELECT * FROM s${k}_$n)"
        else s"a${k}_$n AS (SELECT * FROM $acc UNION ALL SELECT * FROM s${k}_$n)"
      s""",
         |s${k}_$n AS (SELECT c.pa, c.pb, c.rn FROM cd$k c
         |  WHERE c.pa <> c.pb AND ${ov(acc)}
         |  ORDER BY c.rn LIMIT 1),
         |$accNext""".stripMargin
    }.mkString
    s""",
       |e$k AS (SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest([{'pos': i, 'tok': w[i]} for i in range(1, len(w) + 1)]) AS s
       |        FROM t$p)),
       |x$k AS (SELECT doc_id, pos, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM e$k),
       |pc$k AS (SELECT tok AS pa, nxt AS pb, count(*) AS cnt FROM x$k
       |  WHERE nxt IS NOT NULL GROUP BY tok, nxt),
       |cd$k AS (SELECT pa, pb, rn FROM
       |  (SELECT pa, pb, row_number() OVER (ORDER BY cnt DESC, pa, pb) AS rn
       |   FROM pc$k) WHERE rn <= $cap),
       |s${k}_1 AS (SELECT pa, pb, rn FROM cd$k WHERE pa <> pb
       |  ORDER BY rn LIMIT 1),
       |a${k}_1 AS (SELECT * FROM s${k}_1)$sel,
       |bm$k AS (SELECT x.doc_id, x.pos, x.tok,
       |    CASE WHEN t.pa IS NOT NULL THEN 1 ELSE 0 END AS mh,
       |    t.pa AS mpa, t.pb AS mpb
       |  FROM x$k x LEFT JOIN tb$k t ON x.tok = t.pa AND x.nxt = t.pb),
       |br$k AS (SELECT doc_id, pos,
       |    CASE WHEN mh = 1 THEN mpa || ' ' || mpb ELSE tok END AS tok2, mh,
       |    coalesce(lag(mh) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS dropped
       |  FROM bm$k),
       |c$k AS (SELECT doc_id, CAST(sum(mh) AS BIGINT) AS m FROM br$k GROUP BY doc_id),
       |t$k AS (SELECT doc_id, list(tok2 ORDER BY pos) AS w
       |        FROM br$k WHERE dropped = 0 GROUP BY doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q276_weighted_bernoulli" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+'))
        |    END AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w_total FROM d),
        |h AS (SELECT doc_id, n_tokens,
        |        ('0x' || substr(md5('pps_' || doc_id::VARCHAR), 1, 8))::BIGINT AS h32
        |      FROM d)
        |SELECT doc_id, n_tokens,
        |  CAST(least(10000, (500 * n_tokens * 10000) // w_total) AS BIGINT) AS p_bp
        |FROM h, t
        |WHERE h32 * w_total < 500 * n_tokens * 4294967296
        |ORDER BY doc_id""".stripMargin,

    "q259_pps_sample" ->
      """WITH c AS (SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |                       ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n_chars) OVER (PARTITION BY source) AS total
        |  FROM documents)
        |SELECT source, doc_id, n_chars,
        |  CAST((cum * 10) // total AS BIGINT) AS pick_idx
        |FROM c
        |WHERE (cum * 10) // total > ((cum - n_chars) * 10) // total
        |ORDER BY source, doc_id""".stripMargin,

    "q208_apportion" ->
      """WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, mass,
        |        sum(mass) OVER () AS total
        |      FROM m),
        |b AS (SELECT source, mass, total,
        |        (mass * 1000) // total AS base,
        |        mass * 1000 - ((mass * 1000) // total) * total AS rem
        |      FROM w),
        |r AS (SELECT source, mass, base, rem,
        |        1000 - sum(base) OVER () AS leftover,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b)
        |SELECT source, mass,
        |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |         AS seats
        |FROM r ORDER BY source""".stripMargin,

    "q173_feature_hash" ->
      """WITH tk AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        | FROM documents WHERE doc_id < 50),
        |x AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647 % 32 AS bin
        |      FROM (SELECT doc_id, unnest(w) AS tok FROM tk))
        |SELECT doc_id, CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS cnt
        |FROM x GROUP BY 1, 2 ORDER BY doc_id, bin""".stripMargin,

    "q72_tfidf" ->
      """WITH tk AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        | FROM documents),
        |terms AS (SELECT doc_id, unnest(w) AS tok FROM tk),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM terms GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM terms GROUP BY tok),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |s AS (SELECT doc_id, tok, tf, df,
        |        round(tf * ln(n.n / df), 4) AS tfidf
        |      FROM tf JOIN df USING (tok), n)
        |SELECT doc_id, tok AS top_term, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, tfidf
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, tok ASC) = 1
        |ORDER BY doc_id""".stripMargin,

    "q73_det_split" ->
      """SELECT doc_id,
        | ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket,
        | CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 90 THEN 'train'
        |      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 95 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q84_exact_decontam" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 200000, text FROM documents),
        |b AS (SELECT doc_id,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket,
        |   md5(lower(trim(text))) AS digest
        |  FROM d),
        |tr AS (SELECT digest, count(*) AS n_train_copies
        |       FROM b WHERE bucket < 90 GROUP BY digest)
        |SELECT doc_id, digest, n_train_copies
        |FROM b JOIN tr USING (digest)
        |WHERE bucket >= 95
        |ORDER BY doc_id""".stripMargin,

    // q293: the exact position math the engine's bloomPartials uses —
    // h < 2^31 and salts ~1e6 keep h*salt < 2^51 (no overflow), h >= 0
    // makes plain % == pmod. fill/fp in integer basis points (DIV ≡ //).
    "q293_bloom_audit" ->
      """WITH s AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |g AS (SELECT doc_id,
        |   CASE WHEN len(w) < 8 THEN []
        |        ELSE list_distinct(list_transform(
        |          [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||
        |           w[i+5]||' '||w[i+6]||' '||w[i+7] for i in range(1, len(w) - 6)],
        |          t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)) END AS ng
        |  FROM s),
        |hs AS (SELECT DISTINCT unnest(ng) AS h FROM g),
        |m AS (SELECT unnest([1048573, 4194301, 16777213]) AS m_bits),
        |p AS (SELECT m_bits, (h * 1000003 + 0) % m_bits AS pos FROM hs, m
        |      UNION ALL SELECT m_bits, (h * 1000033 + 1) % m_bits FROM hs, m
        |      UNION ALL SELECT m_bits, (h * 1000037 + 2) % m_bits FROM hs, m),
        |b AS (SELECT m_bits, CAST(count(DISTINCT pos) AS BIGINT) AS bits_set
        |      FROM p GROUP BY m_bits),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_ngrams FROM hs)
        |SELECT CAST(m_bits AS BIGINT) AS m_bits, n_ngrams, bits_set,
        |  CAST((bits_set * 10000) // m_bits AS BIGINT) AS fill_bp,
        |  CAST((((bits_set * 10000) // m_bits) * ((bits_set * 10000) // m_bits)
        |    * ((bits_set * 10000) // m_bits)) // 100000000 AS BIGINT) AS fp_bp
        |FROM b CROSS JOIN n
        |ORDER BY m_bits""".stripMargin,

    "q85_decontaminate" ->
      """WITH s AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
        |  FROM documents),
        |g AS (SELECT doc_id, bucket,
        |   CASE WHEN len(w) < 8 THEN []
        |        ELSE list_distinct(list_transform(
        |          [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||
        |           w[i+5]||' '||w[i+6]||' '||w[i+7] for i in range(1, len(w) - 6)],
        |          t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)) END AS ng
        |  FROM s),
        |tr AS (SELECT DISTINCT unnest(ng) AS h FROM g WHERE bucket < 90),
        |te AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS h
        |       FROM g WHERE bucket >= 95 AND len(ng) > 0),
        |j AS (SELECT te.doc_id, te.n_ngrams, count(tr.h) AS n_hit
        |      FROM te LEFT JOIN tr ON te.h = tr.h GROUP BY te.doc_id, te.n_ngrams)
        |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams, n_hit,
        | CAST((n_hit * 10000) // n_ngrams AS BIGINT) AS overlap_bp,
        | CAST(CASE WHEN n_hit * 10 >= n_ngrams THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM j ORDER BY doc_id""".stripMargin,

    // q85's SQL over the q277 slices, with NO screen — the broadcast
    // fingerprint prefilter must be output-neutral, and this checks it
    "q277_screened_decontam" ->
      """WITH s AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
        |  FROM documents),
        |g AS (SELECT doc_id, bucket,
        |   CASE WHEN len(w) < 8 THEN []
        |        ELSE list_distinct(list_transform(
        |          [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||
        |           w[i+5]||' '||w[i+6]||' '||w[i+7] for i in range(1, len(w) - 6)],
        |          t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)) END AS ng
        |  FROM s),
        |tr AS (SELECT DISTINCT unnest(ng) AS h FROM g WHERE bucket < 85),
        |te AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS h
        |       FROM g WHERE bucket >= 90 AND len(ng) > 0),
        |j AS (SELECT te.doc_id, te.n_ngrams, count(tr.h) AS n_hit
        |      FROM te LEFT JOIN tr ON te.h = tr.h GROUP BY te.doc_id, te.n_ngrams)
        |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams, n_hit,
        | CAST((n_hit * 10000) // n_ngrams AS BIGINT) AS overlap_bp,
        | CAST(CASE WHEN n_hit * 10 >= n_ngrams THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM j ORDER BY doc_id""".stripMargin,

    // q284: three unrolled GD iterations — the sigmoid/update expressions
    // are the SAME Scala strings the Spark plan evaluates, gradient sums
    // are floor-e9 BIGINTs (order-independent), so the weight trajectory
    // is bit-reproducible end to end
    "q284_train_classifier" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
         |  FROM documents),
         |d AS (SELECT CAST(len(w) AS BIGINT) AS x1i,
         |   (CAST(len(list_filter(w, tk -> list_contains(
         |      ['the','a','of','and','to','in','is','it'], tk))) AS BIGINT)
         |    * 10000) // CAST(len(w) AS BIGINT) AS x2i,
         |   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yi
         |  FROM t WHERE len(w) > 0),
         |w0c AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |${trainIterCtes(1, "w0c")},
         |w1c AS (SELECT ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s1),
         |${trainIterCtes(2, "w1c")},
         |w2c AS (SELECT ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s2),
         |${trainIterCtes(3, "w2c")}
         |${trainRowSql(1)} UNION ALL ${trainRowSql(2)} UNION ALL ${trainRowSql(3)}
         |ORDER BY iter""".stripMargin,

    // q290: all ConvergeCap rounds unrolled (cheap at oracle scale), the
    // stopping round derived from the integer loss trail with the SAME
    // |delta| < eps rule the driver loop applies, and that round's row
    // selected — so the data-dependent iteration count is itself
    // hash-checked
    "q290_converged_training" -> {
      val iters = (1 to ConvergeCap).map { i =>
        val wc = if (i == 1) "w0c" else s"w${i - 1}c"
        val upd = if (i == 1) ""
        else s"""w${i - 1}c AS (SELECT ${TrainUpdExpr(0)} AS w0,
                |  ${TrainUpdExpr(1)} AS w1, ${TrainUpdExpr(2)} AS w2
                |  FROM s${i - 1}),
                |""".stripMargin
        upd + trainIterLossCtes(i, wc)
      }.mkString(",\n")
      val trail = (1 to ConvergeCap)
        .map(i => s"SELECT CAST($i AS BIGINT) AS it, (SELECT l // n FROM s$i) AS ml")
        .mkString(" UNION ALL ")
      val rows = (1 to ConvergeCap).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS iters_run,
           |  CAST(l // n AS BIGINT) AS loss_e9,
           |  CAST((n_ok * 10000) // n AS BIGINT) AS acc_bp,
           |  CAST(floor((${TrainUpdExpr(0)}) * 1000000.0) AS BIGINT) AS w0_e6,
           |  CAST(floor((${TrainUpdExpr(1)}) * 1000000.0) AS BIGINT) AS w1_e6,
           |  CAST(floor((${TrainUpdExpr(2)}) * 1000000.0) AS BIGINT) AS w2_e6
           |FROM s$i""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH t AS (SELECT doc_id, lang,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
         |  FROM documents),
         |d AS (SELECT CAST(len(w) AS BIGINT) AS x1i,
         |   (CAST(len(list_filter(w, tk -> list_contains(
         |      ['the','a','of','and','to','in','is','it'], tk))) AS BIGINT)
         |    * 10000) // CAST(len(w) AS BIGINT) AS x2i,
         |   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yi
         |  FROM t WHERE len(w) > 0),
         |w0c AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |$iters,
         |trail AS ($trail),
         |stopt AS (SELECT CAST(coalesce(min(b.it), $ConvergeCap) AS BIGINT) AS t
         |  FROM trail a JOIN trail b ON b.it = a.it + 1
         |    AND abs(a.ml - b.ml) < $ConvergeEpsE9),
         |allrows AS ($rows)
         |SELECT * FROM allrows WHERE iters_run = (SELECT t FROM stopt)""".stripMargin
    },

    // q286: the keyed iteration CTEs — every source's model trajectory is
    // reproduced and the per-key final weights + third-pass accuracy are
    // hash-checked
    "q286_grouped_training" ->
      s"""WITH t AS (SELECT doc_id, lang, source,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
         |  FROM documents),
         |d AS (SELECT source, CAST(len(w) AS BIGINT) AS x1i,
         |   (CAST(len(list_filter(w, tk -> list_contains(
         |      ['the','a','of','and','to','in','is','it'], tk))) AS BIGINT)
         |    * 10000) // CAST(len(w) AS BIGINT) AS x2i,
         |   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yi
         |  FROM t WHERE len(w) > 0),
         |w0c AS (SELECT DISTINCT source, 0.0 AS w0, 0.0 AS w1, 0.0 AS w2 FROM d),
         |${trainIterCtesKeyed(1, "w0c")},
         |w1c AS (SELECT source, ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s1),
         |${trainIterCtesKeyed(2, "w1c")},
         |w2c AS (SELECT source, ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s2),
         |${trainIterCtesKeyed(3, "w2c")}
         |SELECT source, CAST(n AS BIGINT) AS n_docs,
         |  CAST((n_ok * 10000) // n AS BIGINT) AS acc_bp,
         |  CAST(floor((${TrainUpdExpr(0)}) * 1000000.0) AS BIGINT) AS w0_e6,
         |  CAST(floor((${TrainUpdExpr(1)}) * 1000000.0) AS BIGINT) AS w1_e6,
         |  CAST(floor((${TrainUpdExpr(2)}) * 1000000.0) AS BIGINT) AS w2_e6
         |FROM s3 ORDER BY source""".stripMargin,

    // q285: q284's unrolled CTEs restricted to the train split, plus one
    // eval CTE scoring the held-out split at the final weights
    "q285_train_eval" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
         |  FROM documents),
         |d0 AS (SELECT
         |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket,
         |   CAST(len(w) AS BIGINT) AS x1i,
         |   (CAST(len(list_filter(w, tk -> list_contains(
         |      ['the','a','of','and','to','in','is','it'], tk))) AS BIGINT)
         |    * 10000) // CAST(len(w) AS BIGINT) AS x2i,
         |   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS yi
         |  FROM t WHERE len(w) > 0),
         |tr AS (SELECT x1i, x2i, yi FROM d0 WHERE bucket < 90),
         |te AS (SELECT x1i, x2i, yi FROM d0 WHERE bucket >= 95),
         |w0c AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |${trainIterCtes(1, "w0c", "tr")},
         |w1c AS (SELECT ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s1),
         |${trainIterCtes(2, "w1c", "tr")},
         |w2c AS (SELECT ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s2),
         |${trainIterCtes(3, "w2c", "tr")},
         |w3c AS (SELECT ${TrainUpdExpr(0)} AS w0, ${TrainUpdExpr(1)} AS w1,
         |        ${TrainUpdExpr(2)} AS w2 FROM s3),
         |ev AS (SELECT yi, $TrainSigmoidExpr AS p FROM te, w3c),
         |ag AS (SELECT count(*) AS n_test,
         |   sum(CASE WHEN p >= 0.5 AND yi = 1 THEN 1 ELSE 0 END) AS tp,
         |   sum(CASE WHEN p >= 0.5 AND yi = 0 THEN 1 ELSE 0 END) AS fp,
         |   sum(CASE WHEN p < 0.5 AND yi = 0 THEN 1 ELSE 0 END) AS tn,
         |   sum(CASE WHEN p < 0.5 AND yi = 1 THEN 1 ELSE 0 END) AS fn
         |  FROM ev)
         |SELECT CAST(n_test AS BIGINT) AS n_test,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
         |  CAST(((tp + tn) * 10000) // n_test AS BIGINT) AS acc_bp,
         |  CAST(CASE WHEN tp + fp = 0 THEN -1
         |       ELSE (tp * 10000) // (tp + fp) END AS BIGINT) AS precision_bp,
         |  CAST(CASE WHEN tp + fn = 0 THEN -1
         |       ELSE (tp * 10000) // (tp + fn) END AS BIGINT) AS recall_bp
         |FROM ag""".stripMargin,

    // q282: the oracle REPRODUCES the Bloom algebra — 32-bit md5-prefix
    // re-hash of each n-gram hash, k=3 integer probe positions mod the
    // prime m, pass iff all three positions exist in the train position
    // set — so the filter's exact pass set (false positives included) is
    // hash-checked, and n_hit over that pass set must equal the
    // unscreened q85 count (no false negatives).
    "q282_bloom_decontam" ->
      """WITH s AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
        |  FROM documents),
        |g AS (SELECT doc_id, bucket,
        |   CASE WHEN len(w) < 8 THEN []
        |        ELSE list_distinct(list_transform(
        |          [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||
        |           w[i+5]||' '||w[i+6]||' '||w[i+7] for i in range(1, len(w) - 6)],
        |          t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)) END AS ng
        |  FROM s),
        |tr AS (SELECT DISTINCT unnest(ng) AS h FROM g WHERE bucket < 85),
        |js AS (SELECT unnest([0, 1, 2]) AS j),
        |trpos AS (SELECT DISTINCT
        |    (('0x' || substr(md5(h::VARCHAR), 1, 8))::BIGINT
        |     * CASE j WHEN 0 THEN 1000003 WHEN 1 THEN 1000033 ELSE 1000037 END
        |     + j) % 1048573 AS pos
        |  FROM tr, js),
        |te AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS h
        |       FROM g WHERE bucket >= 90 AND len(ng) > 0),
        |tep AS (SELECT doc_id, h,
        |    (('0x' || substr(md5(h::VARCHAR), 1, 8))::BIGINT
        |     * CASE j WHEN 0 THEN 1000003 WHEN 1 THEN 1000033 ELSE 1000037 END
        |     + j) % 1048573 AS pos
        |  FROM te, js),
        |pass AS (SELECT doc_id, h
        |  FROM tep LEFT JOIN trpos ON tep.pos = trpos.pos
        |  GROUP BY doc_id, h HAVING count(trpos.pos) = 3),
        |np AS (SELECT doc_id, count(*) AS n_pass FROM pass GROUP BY doc_id),
        |nh AS (SELECT p.doc_id, count(*) AS n_hit
        |       FROM pass p JOIN tr ON p.h = tr.h GROUP BY p.doc_id),
        |pr AS (SELECT DISTINCT doc_id, len(ng) AS n_ngrams
        |       FROM g WHERE bucket >= 90 AND len(ng) > 0)
        |SELECT pr.doc_id, CAST(pr.n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(np.n_pass, 0) AS BIGINT) AS n_pass,
        |  CAST(coalesce(nh.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST((coalesce(nh.n_hit, 0) * 10000) // pr.n_ngrams AS BIGINT)
        |    AS overlap_bp,
        |  CAST(CASE WHEN coalesce(nh.n_hit, 0) * 10 >= pr.n_ngrams
        |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM pr LEFT JOIN np USING (doc_id) LEFT JOIN nh USING (doc_id)
        |ORDER BY pr.doc_id""".stripMargin,

    "q90_mix_resample" ->
      """WITH h AS (SELECT source, doc_id,
        |   ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 8))::BIGINT AS hv
        |  FROM documents)
        |SELECT source, doc_id, rk FROM (
        | SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
        |       AS BIGINT) AS rk
        | FROM h)
        |WHERE rk <= 15 ORDER BY source, rk""".stripMargin,

    "q86_domain_mix" ->
      """WITH tk AS (SELECT source,
        |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |     AS n
        |  FROM documents),
        |a AS (SELECT source, count(*) AS n_docs,
        |      CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM tk GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |   CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
        |   CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM a)
        |SELECT source, n_docs, n_tokens,
        | CAST((n_tokens * 10000) // total AS BIGINT) AS share_bp,
        | CAST((cum * 10000) // total AS BIGINT) AS cum_share_bp
        |FROM w ORDER BY n_tokens DESC, source""".stripMargin,

    "q96_temp_mix" ->
      """WITH tk AS (SELECT source,
        |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |     AS n
        |  FROM documents),
        |a AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM tk GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |   CAST(sum(n_tokens) OVER () AS BIGINT) AS total
        |  FROM a),
        |sq AS (SELECT source, n_tokens, total,
        |   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))
        |        * 1000000.0) AS BIGINT) AS s_e6
        |  FROM w),
        |d AS (SELECT source, n_tokens, total, s_e6,
        |   CAST(sum(s_e6) OVER () AS BIGINT) AS denom
        |  FROM sq)
        |SELECT source, n_tokens,
        | (n_tokens * 10000) // total AS share_bp,
        | (s_e6 * 10000) // denom AS weight_bp
        |FROM d ORDER BY source""".stripMargin,

    "q82_stratified_sample" ->
      """WITH t AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('smpl' || doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket,
        |  CAST(CASE WHEN lang = 'en' THEN 20 ELSE 80 END AS BIGINT) AS rate
        | FROM documents)
        |SELECT doc_id, lang, bucket, rate FROM t
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,

    "q77_lang_quota" ->
      """WITH tk AS (SELECT doc_id, lang,
        |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)
        |     AS n_tokens
        | FROM documents),
        |r AS (SELECT lang, doc_id, n_tokens,
        |  CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS rk,
        |  (count(*) OVER (PARTITION BY lang) + 4) // 5 AS quota
        | FROM tk)
        |SELECT lang, doc_id, n_tokens, rk FROM r WHERE rk <= quota
        |ORDER BY lang, doc_id""".stripMargin,

    "q74_seq_packing" ->
      """WITH tk AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens
        | FROM documents),
        |o AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
        |      FROM tk)
        |SELECT doc_id, n_tokens,
        | CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
        | CAST((end_offset - n_tokens) // 2048 AS BIGINT) AS first_window,
        | CAST(greatest(end_offset - 1, end_offset - n_tokens) // 2048 AS BIGINT) AS last_window
        |FROM o ORDER BY doc_id""".stripMargin,

    "q296_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |lab AS (SELECT doc_id, w,
         |    CAST(CASE WHEN len(list_filter(w,
         |           t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
         |           * 10000 >= len(w) * 800 THEN 1 ELSE 0 END AS BIGINT) AS tgt
         |  FROM tk),
         |feats AS (SELECT doc_id, tgt,
         |    ('0x' || substr(md5(f), 1, 8))::BIGINT % 2147483647 % 1024 AS bucket
         |  FROM (
         |    SELECT doc_id, tgt, unnest(w) AS f FROM lab
         |    UNION ALL
         |    SELECT doc_id, tgt, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS f
         |    FROM lab WHERE len(w) >= 2)),
         |bc AS (SELECT bucket,
         |    CAST(sum(tgt) AS BIGINT) AS ct,
         |    CAST(sum(1 - tgt) AS BIGINT) AS cn
         |  FROM feats GROUP BY bucket),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |               CAST(sum(cn) AS BIGINT) AS tn FROM bc),
         |lr AS (SELECT bucket, $DsirLnrE6Sql AS lnr_e6 FROM bc, tot),
         |d AS (SELECT f.doc_id, f.tgt, CAST(count(*) AS BIGINT) AS n_feats,
         |        CAST(sum(lr.lnr_e6) AS BIGINT) AS w_e6
         |      FROM feats f JOIN lr USING (bucket) GROUP BY 1, 2)
         |SELECT doc_id, tgt, n_feats, w_e6,
         |  CAST(CASE WHEN w_e6 > 0 THEN 1 ELSE 0 END AS BIGINT) AS admit
         |FROM d ORDER BY doc_id""".stripMargin,

    "q299_bpe_merges" ->
      ("""WITH tk0 AS (SELECT doc_id,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
         | FROM documents),
         |t0 AS (SELECT doc_id, w FROM tk0 WHERE len(w) > 0)""".stripMargin
        + bpeIterSql(1) + bpeIterSql(2) + bpeIterSql(3) +
        """
         |SELECT t0.doc_id, CAST(len(t0.w) AS BIGINT) AS n0,
         |  CAST(coalesce(c1.m, 0) AS BIGINT) AS m1,
         |  CAST(coalesce(c2.m, 0) AS BIGINT) AS m2,
         |  CAST(coalesce(c3.m, 0) AS BIGINT) AS m3,
         |  CAST(len(t0.w) - coalesce(c1.m, 0) - coalesce(c2.m, 0) - coalesce(c3.m, 0)
         |       AS BIGINT) AS n3,
         |  (SELECT pa || ' ' || pb FROM p1) AS p1,
         |  (SELECT pa || ' ' || pb FROM p2) AS p2,
         |  (SELECT pa || ' ' || pb FROM p3) AS p3
         |FROM t0 LEFT JOIN c1 USING (doc_id) LEFT JOIN c2 USING (doc_id)
         |        LEFT JOIN c3 USING (doc_id)
         |ORDER BY t0.doc_id""".stripMargin),

    "q301_bpe_apply" ->
      ("""WITH tk0 AS (SELECT doc_id,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w,
         |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
         | FROM documents),
         |t0 AS (SELECT doc_id, w FROM tk0 WHERE len(w) > 0 AND bucket < 90),
         |u0 AS (SELECT doc_id, w FROM tk0 WHERE len(w) > 0 AND bucket >= 95)""".stripMargin
        + bpeIterSql(1) + bpeApplySql(1)
        + bpeIterSql(2) + bpeApplySql(2)
        + bpeIterSql(3) + bpeApplySql(3) +
        """
         |SELECT u0.doc_id, CAST(len(u0.w) AS BIGINT) AS n0,
         |  CAST(len(u3.w) AS BIGINT) AS n_after,
         |  CAST(len(u0.w) - len(u3.w) AS BIGINT) AS saved,
         |  CAST((len(u3.w) * 10000) // len(u0.w) AS BIGINT) AS comp_bp,
         |  (SELECT pa || ' ' || pb FROM p1) AS p1,
         |  (SELECT pa || ' ' || pb FROM p2) AS p2,
         |  (SELECT pa || ' ' || pb FROM p3) AS p3
         |FROM u0 JOIN u3 ON u0.doc_id = u3.doc_id
         |ORDER BY u0.doc_id""".stripMargin),

    "q306_bpe_batch" ->
      ("""WITH tk0 AS (SELECT doc_id,
         |   CASE WHEN length(trim(text)) = 0 THEN []
         |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
         | FROM documents),
         |t0 AS (SELECT doc_id, w FROM tk0 WHERE len(w) > 0)""".stripMargin
        + bpeBatchSql(1, BpeBatchB, BpeBatchCandCap)
        + bpeBatchSql(2, BpeBatchB, BpeBatchCandCap) +
        """
         |SELECT t0.doc_id, CAST(len(t0.w) AS BIGINT) AS n0,
         |  CAST(coalesce(c1.m, 0) AS BIGINT) AS m1,
         |  CAST(coalesce(c2.m, 0) AS BIGINT) AS m2,
         |  CAST(len(t0.w) - coalesce(c1.m, 0) - coalesce(c2.m, 0)
         |       AS BIGINT) AS n_final,
         |  (SELECT string_agg(pa || ' ' || pb, '|' ORDER BY rn) FROM tb1) AS b1,
         |  (SELECT string_agg(pa || ' ' || pb, '|' ORDER BY rn) FROM tb2) AS b2
         |FROM t0 LEFT JOIN c1 USING (doc_id) LEFT JOIN c2 USING (doc_id)
         |ORDER BY t0.doc_id""".stripMargin)
  )
}
