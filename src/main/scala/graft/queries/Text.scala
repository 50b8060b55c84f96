package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextHashes
import graft.Tables
import TrainPrep.{Stop, rawToks}

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (builder brief): token counting, quality scoring,
  * language ID (stopword heuristic), and document fingerprinting (polynomial
  * rolling hash).
  *
  * All ops are per-row scalar pipelines (no shuffle): at 100 TB they scale
  * embarrassingly — each parquet split is processed independently, and only
  * the (tiny) aggregated outputs move. Everything is built-in Column
  * expressions / higher-order functions, so whole-stage codegen applies to
  * the scalar parts and no Python/serialization boundary is crossed.
  */
object Text {

  /** q231/q232's distinct-3-gram hash list in the native one-pass form
    * (TextHashes.hashed_ngrams_uniq — dedupe at the GRAM-STRING level,
    * exactly `transform(array_distinct(shingles3(t)), tokHash)`; hash-level
    * dedupe would miscount a string collision). Parity pinned in
    * TextHashesSpec. */
  private def gramHashes(t: Column): Column =
    TextHashes.hashed_ngrams_uniq(t, 3, 2147483647L)

  /** q109's per-(doc, query-term) BM25 partial score (k1 = 1.2, b = 0.75),
    * ×1e6 floor-integerized — shared VERBATIM between the Spark plan and
    * the DuckDB oracle so both engines execute the identical IEEE op
    * sequence (q93's trick). idf is the +1-smoothed Robertson form; avgdl
    * is inlined as sum_dl/n_docs so every input (tf, df, dl, sum_dl,
    * n_docs) is an exact BIGINT. */
  private val Bm25ScoreE6Sql: String =
    """CAST(floor(
      |  ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |  * (CAST(tf AS DOUBLE) * 2.2)
      |  / (CAST(tf AS DOUBLE)
      |     + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE))
      |                     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      |  * 1000000.0) AS BIGINT)""".stripMargin

  /** q126's HLL estimate, shared VERBATIM with the oracle. Inputs s_e
    * (integer-ized harmonic sum ×2^51) and n_regs are exact BIGINTs;
    * α₆₄·m² = 0.709·4096. E ≤ 2.5m with empty registers switches to
    * linear counting m·ln(m/V) (the standard small-range correction). */
  private val HllEstSql: String =
    """CASE WHEN (0.709 * 4096.0) / (CAST(s_e AS DOUBLE) / 2251799813685248.0) <= 160.0
      |       AND (64 - n_regs) > 0
      |     THEN CAST(floor(64.0 * ln(64.0 / CAST(64 - n_regs AS DOUBLE))) AS BIGINT)
      |     ELSE CAST(floor((0.709 * 4096.0)
      |            / (CAST(s_e AS DOUBLE) / 2251799813685248.0)) AS BIGINT) END""".stripMargin

  /** q127's Efraimidis–Spirakis priority key ×1e9, shared VERBATIM with
    * the oracle: u = (h + 0.5)/2^32 ∈ (0,1) from an exact 32-bit md5
    * integer, w an exact BIGINT token count. */
  private val WsKeyE9Sql: String =
    """CAST(floor(-ln((CAST(h AS DOUBLE) + 0.5) / 4294967296.0)
      |  / CAST(w AS DOUBLE) * 1000000000.0) AS BIGINT)""".stripMargin

  /** q156's per-vocab-term JSD contribution x 1e9, shared VERBATIM with the
    * oracle. p = source share, q = corpus share (q > 0 by vocab
    * construction); the p-side arm is guarded for vocab terms the source
    * never uses. All inputs are exact BIGINTs; the whole contribution is
    * one IEEE-deterministic double expression, floor-integer-ized so the
    * per-source sum is exact. */
  private val JsdTermE9Sql: String =
    """CAST(floor((CASE WHEN scnt = 0 THEN 0.0 ELSE
      |   0.5 * (CAST(scnt AS DOUBLE) / CAST(stot AS DOUBLE))
      |       * ln((CAST(scnt AS DOUBLE) / CAST(stot AS DOUBLE))
      |            / ((CAST(scnt AS DOUBLE) / CAST(stot AS DOUBLE)
      |                + CAST(ccnt AS DOUBLE) / CAST(vtot AS DOUBLE)) / 2.0)) END
      | + 0.5 * (CAST(ccnt AS DOUBLE) / CAST(vtot AS DOUBLE))
      |       * ln((CAST(ccnt AS DOUBLE) / CAST(vtot AS DOUBLE))
      |            / ((CAST(scnt AS DOUBLE) / CAST(stot AS DOUBLE)
      |                + CAST(ccnt AS DOUBLE) / CAST(vtot AS DOUBLE)) / 2.0))
      | ) * 1000000000.0) AS BIGINT)""".stripMargin

  /** q157's Flesch reading-ease x 100, shared VERBATIM with the oracle;
    * empty documents report a -999999 sentinel instead of NULL. */
  private val FleschE2Sql: String =
    """CASE WHEN n_words = 0 THEN CAST(-999999 AS BIGINT)
      |     ELSE CAST(floor((206.835
      |        - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
      |        - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))) * 100.0) AS BIGINT) END""".stripMargin

  // language marker words for the stopword-hit language-ID heuristic
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => array_contains(array(words.map(lit): _*), t))).cast("long")

  /** q91's scoring as a reusable operator (also CorpusMain's optional LM
    * gate): per-doc average bigram log-likelihood under the corpus's OWN
    * bigram LM. Input needs (doc_id, text); output (doc_id, n_bigrams,
    * sum_lnp_e6, avg_lnp_e6) covers exactly the docs with ≥ 2 tokens.
    * Determinism: ln integer-ized per distinct (prev,nxt) via
    * floor(ln·1e6); doc totals are exact BIGINT sums; the average is
    * floor() of one double division (tie-free; integer `div` truncates
    * negatives differently across engines). The exploded-pair base feeds
    * both the LM aggregation and the per-doc join, so it is persisted and
    * the small scored output is checkpointed eagerly before release. */
  def lmScore(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = rawToks(col("text"))
    val pairs = when(size(w) < 2, array().cast("array<struct<prev:string,nxt:string>>"))
      .otherwise(zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("prev"), b.as("nxt"))))
    val base = docs
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.nxt").as("nxt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = base.groupBy("prev", "nxt").agg(count(lit(1)).as("cnt"))
      .withColumn("n_prev",
        sum("cnt").over(Window.partitionBy("prev")))
      .withColumn("lnp_e6",
        floor(log(col("cnt").cast("double") / col("n_prev").cast("double"))
          * lit(1000000.0)).cast("long"))
      .select("prev", "nxt", "lnp_e6")
    val out = base.join(lm, Seq("prev", "nxt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lnp_e6").as("sum_lnp_e6"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lnp_e6"),
        floor(col("sum_lnp_e6").cast("double") / col("n_bigrams").cast("double"))
          .cast("long").as("avg_lnp_e6"))
      .localCheckpoint(eager = true)
    base.unpersist()
    out
  }

  val queries: Map[String, Q] = Map(
    // ---- token counting --------------------------------------------------
    "q30_token_stats" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("w", rawToks(col("text")))
        .select(
          col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          round(
            aggregate(col("w"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
              size(col("w")).cast("double"), 4).as("avg_token_len"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- quality scoring -------------------------------------------------
    "q31_quality_score" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("w", rawToks(col("text")))
        .withColumn("n_tokens", size(col("w")).cast("long"))
        .withColumn("punct_count",
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
        .withColumn("stop_hits", hitCount(col("w"), Stop))
        .withColumn("stop_ratio",
          round(col("stop_hits").cast("double") / col("n_tokens").cast("double"), 4))
        // weights 0.4/0.6 (not 0.5/0.5): with a 4-dp stop_ratio, 0.6*d never
        // puts a 5 in the tie digit, so Spark (half-up) and DuckDB
        // (half-even via *10^4) can't disagree on round(...,4)
        .withColumn("quality_score",
          round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.4 +
            col("stop_ratio") * 0.6, 4))
        .select("doc_id", "n_tokens", "punct_count", "stop_hits", "stop_ratio", "quality_score")
        .orderBy("doc_id")
    }),

    // ---- language ID (stopword-hit heuristic) ----------------------------
    "q32_langid" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "documents").withColumn("w", rawToks(col("text")))
      val withHits = langMarkers.foldLeft(base) { case (df, (code, words)) =>
        df.withColumn(s"hits_$code", hitCount(col("w"), words))
      }
      withHits
        .withColumn("pred_lang",
          when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") &&
            col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
            .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es") &&
              col("hits_de") > 0, "de")
            .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
            .when(col("hits_es") > 0, "es")
            .otherwise("unk"))
        .select("doc_id", "lang", "pred_lang", "hits_en", "hits_de", "hits_fr", "hits_es")
        .orderBy("doc_id")
    }),

    // ---- document fingerprinting: polynomial + rolling-window hash -------
    // full_hash: polynomial hash of the whole text, mod 1e9+7;
    // min_window_hash: min polynomial hash over all 16-char windows
    // (the rolling-hash fingerprint used for containment detection).
    // Native codegen'd expressions (TextHashes): the HOF form dispatched an
    // interpreted lambda per (window × position) — O(16·len) per row and
    // the 2nd-slowest bench query; the native rolling hash is O(len) in a
    // generated loop. Bit-identical to the HOF form (TextHashesSpec).
    "q33_fingerprint" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("full_hash", TextHashes.poly_hash(col("text")))
        .withColumn("min_window_hash", TextHashes.min_window_hash(col("text"), 16))
        .select("doc_id", "full_hash", "min_window_hash")
        .orderBy("doc_id")
    }),

    // ---- BPE-ish regex tokenization (builder brief: token counting = ----
    // whitespace + a BPE-ish regex). The pattern is a GPT-2-style
    // pre-tokenizer simplification — letter runs | digit runs | punctuation
    // runs — kept lookaround-free so Java regex (Spark) and RE2 (DuckDB)
    // agree. Whitespace is the EXPLICIT class [ \t\n\f\r], not \s: Java's
    // \s includes \x0B (vertical tab), RE2's does not, so \s would let the
    // engines disagree on documents containing \x0B. Per-row scalar
    // pipeline: no shuffle, codegen'd regexp.
    "q60_bpe_tokens" -> ((s: SparkSession, dir: String) => {
      val ws = " \\t\\n\\f\\r"
      val pat = s"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9$ws]+"
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
          size(regexp_extract_all(col("text"), lit(s"[^a-zA-Z0-9$ws]+"), lit(0))).cast("long")
            .as("n_punct"))
        .orderBy("doc_id")
    }),

    // ---- repetition signals (Gopher-style duplicate n-gram fractions) ----
    // The quality gates a large-scale corpus actually filters on (Rae et
    // al. 2021 §A1.1): the fraction of duplicated tokens / 2-grams /
    // 3-grams in a document — boilerplate and generator loops light these
    // up long before perplexity does. All per-row array math (slice +
    // zip_with n-gram construction, array_distinct counting): no shuffle,
    // no mode computation, linear in document length.
    // The distinct counting runs in the native one-pass NgramDistincts
    // expression (TextHashes) — the HOF zip_with/array_distinct chain
    // allocated every n-gram string and walked the token array five times
    // per row (bit-parity pinned in TextHashesSpec; oracle unchanged).
    // The n-gram universe sizes are n, n-1, n-2 arithmetically — no n-gram
    // arrays are ever materialized.
    // ---- curation-funnel ledger (r15) -------------------------------------
    // The batch answer to "how much survives each curated gate" —
    // CorpusStream.curated's exact gate chain (token-count + stopword
    // ratio, then the q80 repetition fractions, then the exact-dup
    // digest), replayed over the corpus as ONE aggregation pass with a
    // per-stage retention count. The streaming pipeline observes these
    // numbers per batch (observe() metrics); this is the whole-corpus
    // audit a curation run publishes beside its output, and the shape a
    // gate-tuning loop evaluates candidates against. Gate expressions are
    // shared VERBATIM with curated (same double comparisons — IEEE
    // agreement over identical inputs); distinct counting runs in the
    // native one-pass NgramDistincts expression (string-distinct parity
    // with the oracle pinned by q80). Scale: one corpus scan, per-row
    // array math, one partial aggregation + one distinct-digest count.
    "q295_curation_funnel" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("w", rawToks(col("text")))
        .withColumn("n", size(col("w")).cast("long"))
        .withColumn("n_stop",
          size(filter(col("w"), t => t.isin(Stop: _*))).cast("long"))
        .withColumn("d", TextHashes.ngram_distincts(col("w")))
        .withColumn("g1", col("n") >= 10 &&
          col("n_stop").cast("double") /
            greatest(col("n").cast("double"), lit(1.0)) >= 0.01)
        .withColumn("dupt", when(col("n") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("d.d_tok").cast("double") / col("n").cast("double")))
        .withColumn("t3", greatest(col("n") - 2, lit(0L)))
        .withColumn("dup3", when(col("t3") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("d.d_3g").cast("double") / col("t3").cast("double")))
        .withColumn("g2", col("g1") && !(col("dupt") > 0.8 || col("dup3") > 0.3))
        .withColumn("digest", md5(lower(trim(col("text"))).cast("binary")))
      base.agg(
        count(lit(1)).as("n_intake"),
        sum(col("g1").cast("long")).as("n_token_gate"),
        sum(col("g2").cast("long")).as("n_repetition_gate"),
        countDistinct(when(col("g2"), col("digest"))).as("n_unique_docs"))
    }),

    "q80_repetition" -> ((s: SparkSession, dir: String) => {
      def frac(total: Column, distinct: Column): Column =
        when(total === 0, lit(0.0))
          .otherwise(round(
            lit(1.0) - distinct.cast("double") / total.cast("double"), 4))
      Tables(s, dir, "documents")
        .withColumn("w", rawToks(col("text")))
        .withColumn("n", size(col("w")).cast("long"))
        .withColumn("d", TextHashes.ngram_distincts(col("w")))
        .select(col("doc_id"),
          col("n").as("n_tokens"),
          frac(col("n"), col("d.d_tok")).as("dup_token_frac"),
          frac(greatest(col("n") - 1, lit(0L)), col("d.d_2g")).as("dup_2gram_frac"),
          frac(greatest(col("n") - 2, lit(0L)), col("d.d_3g")).as("dup_3gram_frac"))
        .withColumn("repetitive",
          (col("dup_token_frac") > 0.8 || col("dup_3gram_frac") > 0.3)
            .cast("long"))
        .orderBy("doc_id")
    }),

    // ---- PII redaction (functions.Redaction) -----------------------------
    // The corpus text carries no digits or '@' (verified), so running the
    // scrubber on it alone would assert nothing. Instead both engines
    // synthesize identical PII deterministically FROM doc_id (an email and
    // a phone appended per row), then count → redact → re-count. That
    // exercises the full regex surface — match counting, ordered
    // replacement, post-scrub cleanliness — under the oracle hash, not
    // just on toy spec rows.
    "q81_pii_redact" -> ((s: SparkSession, dir: String) => {
      import graft.functions.Redaction
      val synth = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com tel 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables(s, dir, "documents")
        .withColumn("t2", synth)
        .withColumn("red", Redaction.redactPii(col("t2")))
        .select(col("doc_id"),
          Redaction.countMatches(col("t2"), Redaction.EmailRe).as("n_emails"),
          Redaction.countMatches(col("t2"), Redaction.PhoneRe).as("n_phones"),
          length(col("red")).cast("long").as("n_chars_redacted"),
          (Redaction.countMatches(col("red"), Redaction.EmailRe) === 0 &&
            Redaction.countMatches(col("red"), Redaction.PhoneRe) === 0)
            .cast("long").as("clean"))
        .orderBy("doc_id")
    }),

    // ---- bigram language-model statistics --------------------------------
    // For every vocabulary token: its most likely successor and the
    // conditional probability p(next|prev) — the count table behind n-gram
    // LMs and data-driven tokenizer merges. Two aggregations: (prev, next)
    // pair counts (one shuffle, map-side combined), then per-prev argmax
    // via min_by over (-cnt, next) — DESC count with ASC string tie-break,
    // one row per prev over the second shuffle (no window sort; the q40
    // pattern, negating the count because strings can't be negated).
    "q87_bigram_lm" -> ((s: SparkSession, dir: String) => {
      val w = rawToks(col("text"))
      val pairs = when(size(w) < 2, array().cast("array<struct<prev:string,nxt:string>>"))
        .otherwise(zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => struct(a.as("prev"), b.as("nxt"))))
      val pc = Tables(s, dir, "documents")
        .select(explode(pairs).as("p"))
        .groupBy(col("p.prev").as("prev"), col("p.nxt").as("nxt"))
        .agg(count(lit(1)).as("cnt"))
      pc.groupBy("prev")
        .agg(sum("cnt").as("n_prev"),
          min_by(struct(col("nxt"), col("cnt")), struct(-col("cnt"), col("nxt"))).as("b"))
        // Probability in integer basis points: cnt/n_prev can tie the
        // 4-dp rounding digit exactly (e.g. 1/32 = 0.03125), where Spark
        // half-up and DuckDB half-even disagree — (x*10000) div n is
        // tie-free integer math on both engines.
        .select(col("prev"), col("b.nxt").as("top_next"),
          col("b.cnt").as("n_pair"), col("n_prev"),
          expr("(b.cnt * 10000) div n_prev").as("p_next_bp"))
        .orderBy("prev")
    }),

    // ---- token-length histogram ------------------------------------------
    // The corpus length distribution a packing/truncation decision reads:
    // docs bucketed by tokens-div-10 (capped tail bucket). Per-row bucket
    // math + one aggregation shuffle keyed by bucket.
    "q88_len_histogram" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("n", size(rawToks(col("text"))).cast("long"))
        .withColumn("bucket", least(expr("n div 10"), lit(12L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n").as("min_tokens"), max("n").as("max_tokens"))
        .orderBy("bucket")
    }),

    // ---- model-based quality score: per-doc bigram LM log-likelihood -----
    // The "perplexity filter" of a curation pipeline, with the corpus's own
    // bigram LM (q87's count table) as the model: a document whose bigrams
    // are all low-probability under the corpus distribution reads as noise.
    // Determinism across engines: ln(p) is integer-ized per DISTINCT
    // (prev,nxt) via floor(ln*1e6) — per-doc totals are then exact BIGINT
    // sums (order-independent), and the average is floor() of one double
    // division (tie-free; round() would tie, `div` truncates negatives
    // differently in DuckDB). The exploded bigram base feeds both the LM
    // aggregation and the per-doc join, so it is persisted (the q85/q37
    // branch-recompute lesson). At 100 TB the LM table is O(vocab²) —
    // broadcast-joined back to the corpus — and the base would be
    // recomputed rather than cached (two scans beat materializing the
    // corpus-sized pair list).
    "q91_lm_score" -> ((s: SparkSession, dir: String) =>
      lmScore(Tables(s, dir, "documents")).orderBy("doc_id")),

    // ---- Zipf rank-frequency fit over the term distribution --------------
    // The vocabulary diagnostic (natural corpora slope ≈ −1; synthetic or
    // templated text flattens): least-squares slope of ln(freq) vs ln(rank)
    // over the top-100 terms. The regression runs on integer-ized logs
    // (floor(ln*1e4) BIGINT) so Σx, Σy, Σxy, Σx² are exact and
    // order-independent — regr_slope over raw doubles would be
    // summation-order-dependent across engines. Final slope is one double
    // expression over those exact integers, floored to basis points.
    // The rank window is global but runs over |vocab| rows (post-
    // aggregation), not the corpus.
    "q92_zipf" -> ((s: SparkSession, dir: String) => {
      val tf = Tables(s, dir, "documents")
        .select(explode(rawToks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      val fit = tf
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("freq"), asc("term"))).cast("long"))
        .filter(col("rank") <= 100)
        .withColumn("x_e4", floor(log(col("rank").cast("double")) * lit(10000.0)).cast("long"))
        .withColumn("y_e4", floor(log(col("freq").cast("double")) * lit(10000.0)).cast("long"))
      fit.agg(
          count(lit(1)).as("n_terms"),
          sum(col("x_e4")).as("sx"), sum(col("y_e4")).as("sy"),
          sum(col("x_e4") * col("y_e4")).as("sxy"),
          sum(col("x_e4") * col("x_e4")).as("sxx"))
        .select(col("n_terms"),
          // degenerate fit (a single rank): zero denominator -> NULL, not
          // an ANSI cast error on the infinite division
          when(col("n_terms") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
            .otherwise(
              floor((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
                * lit(10000.0)
                / (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
              .cast("long")).as("slope_bp"))
    }),

    // ---- language purity (mixed-language detection) ------------------------
    // q32 picks ONE language; curation also needs to catch documents that
    // straddle two (concatenation artifacts, code-switched scrapes). Top-2
    // marker-hit languages via a sorted 4-element struct array (per-row,
    // constant size — no shuffle), purity = top/(top+second) in tie-free
    // integer basis points; hitless docs classify 'und' with full purity.
    "q97_lang_purity" -> ((s: SparkSession, dir: String) => {
      val base0 = Tables(s, dir, "documents").withColumn("w", rawToks(col("text")))
      val base = langMarkers.foldLeft(base0) { case (df, (code, words)) =>
        df.withColumn(s"h_$code", hitCount(col("w"), words))
      }
      val arr = array(langMarkers.map { case (code, _) =>
        struct((-col(s"h_$code")).as("nh"), lit(code).as("code"))
      }: _*)
      base
        .withColumn("srt", array_sort(arr))
        .withColumn("top_hits", -element_at(col("srt"), 1).getField("nh"))
        .withColumn("second_hits", -element_at(col("srt"), 2).getField("nh"))
        .select(col("doc_id"),
          when(col("top_hits") === 0, lit("und"))
            .otherwise(element_at(col("srt"), 1).getField("code")).as("top_lang"),
          col("top_hits"), col("second_hits"),
          when(col("top_hits") + col("second_hits") === 0, lit(10000L))
            .otherwise(expr("(top_hits * 10000) div (top_hits + second_hits)"))
            .as("purity_bp"))
        .withColumn("mixed", (col("purity_bp") < 8000).cast("long"))
        .orderBy("doc_id")
    }),

    // ---- vocabulary coverage / OOV rate -----------------------------------
    // Token-budget planning reads this: how much of each document a fixed
    // vocabulary covers. The vocab here is the corpus's own top-30 terms
    // (rank window over the tiny term-frequency aggregate); per-doc hits
    // come from ONE broadcast-sized join of the exploded tokens against the
    // 30-row vocab and one groupBy(doc_id) — at 100 TB the vocab side stays
    // driver-small no matter the corpus, and no window touches corpus-sized
    // data. OOV rate in tie-free integer basis points.
    "q94_vocab_coverage" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val toksOf = rawToks(col("text"))
      val vocab = docs.select(explode(toksOf).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("rk", row_number().over(Window.orderBy(desc("freq"), asc("term"))))
        .filter(col("rk") <= 30)
        .select(col("term"), lit(1L).as("in_vocab"))
      val hits = docs.select(col("doc_id"), explode(toksOf).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(col("in_vocab")).as("n_in_vocab"))
      docs.select(col("doc_id"), size(toksOf).cast("long").as("n_tokens"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_oov", col("n_tokens") - coalesce(col("n_in_vocab"), lit(0L)))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          when(col("n_tokens") === 0, lit(0L))
            .otherwise(expr("(n_oov * 10000) div n_tokens")).as("oov_bp"))
        .orderBy("doc_id")
    }),

    // ---- character-entropy quality signal ---------------------------------
    // Shannon entropy of the per-doc character distribution — gibberish and
    // single-char flood documents sit at the extremes. Deterministic across
    // engines the q91 way: each character class contributes
    // floor(p*ln(p)*1e9) (exact double division, one ln, tie-free floor) and
    // the per-doc total is an exact BIGINT sum, so partial-aggregation
    // order can't flip anything. Corpus-sized work: one explode + one
    // two-key aggregation + one doc-key aggregation.
    "q95_char_entropy" -> ((s: SparkSession, dir: String) => {
      // regexp_extract_all('[\s\S]') = one element per character in BOTH
      // engines (split-on-empty edge behavior differs between them)
      val chars = Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len"),
          explode(expr("regexp_extract_all(text, '[\\\\s\\\\S]', 0)")).as("ch"))
      val terms = chars.groupBy("doc_id", "len", "ch")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("t_e9",
          floor(col("cnt").cast("double") / col("len").cast("double")
            * log(col("cnt").cast("double") / col("len").cast("double"))
            * lit(1000000000.0)).cast("long"))
      val scored = terms.groupBy("doc_id", "len")
        .agg(count(lit(1)).as("n_char_classes"), (-sum("t_e9")).as("entropy_e9"))
      Tables(s, dir, "documents")
        .select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("len"), lit(0L)).as("n_chars"),
          coalesce(col("n_char_classes"), lit(0L)).as("n_char_classes"),
          coalesce(col("entropy_e9"), lit(0L)).as("entropy_e9"))
        .orderBy("doc_id")
    }),

    // ---- 3-gram (word) shingles (shared slice+zip_with construction) -----
    "q34_shingles" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("w", rawToks(col("text")))
        .withColumn("sh", Dedup.shingles3(col("w")))
        .select(
          col("doc_id"),
          size(array_distinct(col("sh"))).cast("long").as("n_shingles"),
          when(size(col("sh")) === 0, lit(null).cast("long"))
            .otherwise(array_min(transform(array_distinct(col("sh")),
              sh => conv(substring(md5(sh.cast("binary")), 1, 8), 16, 10).cast("long"))))
            .as("min_shingle_hash"))
        .orderBy("doc_id")
    }),

    // ---- BM25 relevance scoring ------------------------------------------
    // The ranking function behind lexical retrieval (and the salience score
    // a quality-classifier pipeline feeds on). Query = the corpus's top-3
    // terms by document frequency (dynamic, so the query is scale-stable
    // and nothing is hard-coded to this corpus). One exploded-token pass
    // feeds tf/df/dl; the 3-term query set and the 1-row totals broadcast;
    // the only large shuffles are the tf and per-doc aggregations. The
    // whole double computation is ONE shared-verbatim expression over exact
    // BIGINT inputs (tf, df, dl, sum_dl, n_docs), floor-integerized per
    // (doc, term), then exactly summed per doc.
    "q109_bm25" -> ((s: SparkSession, dir: String) => {
      val ex = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
      val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = ex.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = dfx.orderBy(col("df").desc, col("term")).limit(3)
      tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score_e6", expr(Bm25ScoreE6Sql))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_terms"), sum("score_e6").as("bm25_e6"))
        .orderBy("doc_id")
    }),

    // ---- incremental retrieval-index maintenance (standing postings) -----
    // The inverted index as a STANDING TABLE: (doc_id, term) -> tf partials
    // land via operators/AggState build + two blind appends over disjoint
    // corpus slices, and EVERY retrieval statistic derives from the merged
    // state — tf directly, dl and the corpus totals by folding state rows,
    // df by counting postings per term — so growing the corpus never
    // re-scans it (O(delta) per ingest), and re-scoring reads the state
    // table, not the documents. Scoring is q109's BM25 verbatim over the
    // state-derived tf/df/dl, and the oracle IS q109's from-scratch SQL:
    // the incremental-index ≡ full-rescan equivalence is hash-checked.
    "q280_incr_bm25" -> ((s: SparkSession, dir: String) => withStateDir("graft-bm25-state-") { stateDir =>
      import graft.operators.AggState
      val docs = Tables(s, dir, "documents")
      val keys = Seq("doc_id", "term")
      def postings(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
          .withColumn("one", lit(1L))
      AggState.build(postings(docs.filter(col("doc_id") % 3 === 0)), keys, "one", stateDir)
      AggState.append(postings(docs.filter(col("doc_id") % 3 === 1)), keys, "one", stateDir)
      AggState.append(postings(docs.filter(col("doc_id") % 3 === 2)), keys, "one", stateDir)
      val tf = AggState.merged(s, stateDir, keys)
        .select(col("doc_id"), col("term"), col("n").as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = dfx.orderBy(col("df").desc, col("term")).limit(3)
      tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score_e6", expr(Bm25ScoreE6Sql))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_terms"), sum("score_e6").as("bm25_e6"))
        .orderBy("doc_id")
    }),

    // ---- retrieval-index takedown (retraction on standing postings) ------
    // The delete half of q280's lifecycle: a corpus slice is RETRACTED
    // from the standing postings state (negated partials, O(|deleted|),
    // no rebuild — AggState.retract), and BM25 over the merged survivors
    // must equal a from-scratch index over the surviving documents alone:
    // fully-retracted (doc, term) keys vanish (n = 0 rows filtered), df
    // and the corpus totals shrink accordingly, and the query terms are
    // re-derived from the post-takedown df — the oracle builds the
    // survivor index from scratch, so grown-minus-retracted ≡
    // survivors-only is hash-checked end to end.
    "q281_bm25_takedown" -> ((s: SparkSession, dir: String) => withStateDir("graft-bm25-takedown-") { stateDir =>
      import graft.operators.AggState
      val docs = Tables(s, dir, "documents")
      val keys = Seq("doc_id", "term")
      def postings(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
          .withColumn("one", lit(1L))
      AggState.build(postings(docs.filter(col("doc_id") % 3 === 0)), keys, "one", stateDir)
      AggState.append(postings(docs.filter(col("doc_id") % 3 =!= 0)), keys, "one", stateDir)
      AggState.retract(postings(docs.filter(col("doc_id") % 3 === 2)), keys, "one", stateDir)
      val tf = AggState.merged(s, stateDir, keys)
        .select(col("doc_id"), col("term"), col("n").as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = dfx.orderBy(col("df").desc, col("term")).limit(3)
      tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score_e6", expr(Bm25ScoreE6Sql))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_terms"), sum("score_e6").as("bm25_e6"))
        .orderBy("doc_id")
    }),

    // ---- conjunctive keyword search (posting-list intersection) ----------
    // AND-retrieval over an inverted index: the posting lists of the top-2
    // df terms, intersected. Relationally the intersection is the grouped
    // form below — postings never materialize as arrays, the broadcast
    // keeps the probe map-side, and only matching (doc, term) rows reach
    // the final aggregation. HAVING n_terms_hit = |query| is the AND.
    "q110_search" -> ((s: SparkSession, dir: String) => {
      val ex = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
      val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("n_occ"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = dfx.orderBy(col("df").desc, col("term")).limit(2).select("term")
      tf.join(broadcast(qterms), Seq("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms_hit"), sum("n_occ").as("n_occ"))
        .filter(col("n_terms_hit") === 2)
        .orderBy("doc_id")
    }),

    // ---- KMV distinct-count sketch ---------------------------------------
    // The k-minimum-values estimator: per language, keep the k = 16
    // smallest 56-bit md5 token hashes; |distinct| ≈ (k−1)·M / h_k (M =
    // hash space size). The bottom-k rides the SAME bounded-heap Aggregator
    // as grouped top-k (score = −h; rounding a 56-bit long to double is
    // monotone and ties break toward the smaller id, so the kept set is the
    // exact bottom-k) — k rows per group per partition cross the shuffle,
    // and the heap is mergeable, which is what makes a KMV sketch work
    // distributed. Groups smaller than k report exactly. 56-bit hashes keep
    // (k−1)·M = 15·2^56 inside BIGINT; the estimate is pure integer math,
    // identical in both engines, with the exact count alongside for the
    // error report.
    "q111_kmv_distinct" -> ((s: SparkSession, dir: String) => {
      val exd = Tables(s, dir, "documents")
        .select(col("lang"), explode(rawToks(col("text"))).as("term"))
        .distinct()
      val hashed = exd.select(col("lang"),
        expr("CAST(conv(substring(md5(CAST(term AS BINARY)), 1, 14), 16, 10) AS BIGINT)").as("h"))
      hashed.groupBy("lang")
        .agg(count(lit(1)).as("n_exact"),
          graft.functions.TopKByScore.top_k(16)(col("h"), negate(col("h").cast("double"))).as("mins"))
        .withColumn("h_k", element_at(col("mins"), 16).getField("id"))
        .withColumn("est_kmv",
          when(size(col("mins")) < 16, col("n_exact"))
            .otherwise(expr("CAST((15 * 72057594037927936) DIV h_k AS BIGINT)")))
        .select(col("lang"), col("n_exact"), col("est_kmv"),
          expr("CAST((abs(est_kmv - n_exact) * 10000) DIV n_exact AS BIGINT)").as("err_bp"))
        .orderBy("lang")
    }),

    // ---- count-min sketch (frequency estimation) -------------------------
    // KMV (q111) answers "how many distinct"; CMS answers "how often does X
    // occur" in fixed memory: d = 4 salted hash rows × w = 256 buckets of
    // exact counters. Building it IS one aggregation (counters merge by
    // addition — trivially distributed); the sketch is 1024 cells no matter
    // the corpus size. Probing the top-5 df terms: estimate = min over the
    // 4 rows of the probed cell, always ≥ exact (collisions only inflate).
    // All integer md5 arithmetic — both engines agree bit-for-bit.
    "q117_cms" -> ((s: SparkSession, dir: String) => {
      val ex = Tables(s, dir, "documents")
        .select(explode(rawToks(col("text"))).as("term"))
      val rows = ex
        .withColumn("i", explode(array((0 to 3).map(lit): _*)))
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(concat(CAST(i AS STRING), ':', term) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 256"))
      val cms = rows.groupBy("i", "b").agg(count(lit(1)).as("c"))
      val tf = ex.groupBy("term").agg(count(lit(1)).as("n_exact"))
      val probes = tf.orderBy(col("n_exact").desc, col("term")).limit(5)
        .withColumn("i", explode(array((0 to 3).map(lit): _*)))
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(concat(CAST(i AS STRING), ':', term) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 256"))
      probes.join(cms, Seq("i", "b"))
        .groupBy("term", "n_exact")
        .agg(min("c").as("est_cms"))
        .select(col("term"), col("n_exact"), col("est_cms"),
          expr("CAST(((est_cms - n_exact) * 10000) DIV n_exact AS BIGINT)").as("overcount_bp"))
        .orderBy("term")
    }),

    // ---- PMI collocations (top-df term co-occurrence) --------------------
    // Pointwise mutual information over document co-occurrence, the
    // collocation-mining statistic: restricted to the top-20 df terms so
    // the per-doc pair expansion is bounded at C(20,2) regardless of doc
    // length (the unbounded all-pairs form is the scale bug this avoids).
    // n_a/n_b/n_ab are exact document counts; PMI's single ln is
    // floor-e6-integerized (ln parity proven by q91/q92/q95).
    "q119_pmi" -> ((s: SparkSession, dir: String) => {
      val totals = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val exd = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
        .distinct()
      val dfx = exd.groupBy("term").agg(count(lit(1)).as("df"))
      val top = dfx.orderBy(col("df").desc, col("term")).limit(20)
      val hits = exd.join(broadcast(top), Seq("term"))
      val pairs = hits.select(col("doc_id"), col("term").as("t1"), col("df").as("n_a"))
        .join(hits.select(col("doc_id"), col("term").as("t2"), col("df").as("n_b")),
          Seq("doc_id"))
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2", "n_a", "n_b")
        .agg(count(lit(1)).as("n_ab"))
      pairs.crossJoin(broadcast(totals))
        .withColumn("pmi_e6",
          floor(log(col("n_ab").cast("double") * col("n_docs").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")))
            * lit(1000000.0)).cast("long"))
        .select(col("t1"), col("t2"), col("n_ab"), col("n_a"), col("n_b"), col("pmi_e6"))
        .orderBy("t1", "t2")
    }),

    // ---- HyperLogLog distinct sketch (from scratch) ----------------------
    // Completes the sketch trio: KMV (q111) and CMS (q117) need a distinct
    // pass / probe set; HLL estimates cardinality from the RAW occurrence
    // stream in 64 registers. Register j = h mod 64; rank = leading-zero
    // count of the remaining 50 bits + 1 (via length(bin(w)) — exact
    // integer string math in both engines); per-register max, then the
    // harmonic mean. The harmonic sum is integer-ized as Σ 2^(51−m) BIGINT
    // (a raw Σ2^−m double sum is ORDER-DEPENDENT at 57 significant bits —
    // the one float trap in HLL), deferred to one shared-verbatim double
    // expression with the standard small-range linear-counting branch.
    "q126_hll" -> ((s: SparkSession, dir: String) => {
      val ex = Tables(s, dir, "documents")
        .select(col("lang"), explode(rawToks(col("text"))).as("term"))
      val h = ex.select(col("lang"),
        expr("CAST(conv(substring(md5(CAST(term AS BINARY)), 1, 14), 16, 10) AS BIGINT)").as("h"))
      val regs = h
        .select(col("lang"), (col("h") % 64).as("j"), expr("h div 64").as("w"))
        .withColumn("rank",
          when(col("w") === 0, lit(51L))
            .otherwise(lit(51L) - length(expr("bin(w)")).cast("long")))
        .groupBy("lang", "j").agg(max("rank").as("m"))
      val sketch = regs.groupBy("lang")
        .agg(count(lit(1)).as("n_regs"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(51 - m AS INT))")).as("s_hit"))
        .withColumn("s_e", col("s_hit") + (lit(64L) - col("n_regs")) * lit(2251799813685248L))
        .withColumn("est_hll", expr(HllEstSql))
      val exact = ex.distinct().groupBy("lang").agg(count(lit(1)).as("n_exact"))
      sketch.join(exact, Seq("lang"))
        .select(col("lang"), col("n_exact"), col("est_hll"),
          expr("CAST((abs(est_hll - n_exact) * 10000) DIV n_exact AS BIGINT)").as("err_bp"))
        .orderBy("lang")
    }),

    // ---- weighted sampling without replacement (Efraimidis–Spirakis) -----
    // The distributed algorithm for "sample k docs per source, longer docs
    // proportionally more likely": priority key = −ln(u)/w with u a
    // deterministic md5-uniform in (0,1) and w the token count; the k
    // SMALLEST keys per group are the sample. One scalar pass + one
    // per-source top-k — at scale the rank would ride the bounded-heap
    // aggregator; keys are floor-e9 integers (ln parity per q91), doc_id
    // breaks the (coarse) integer ties. Zero-weight docs are excluded
    // up front (their key diverges; they can never be sampled).
    "q127_weighted_sample" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("source").orderBy("key_e9", "doc_id")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(rawToks(col("text"))).cast("long").as("w"))
        .filter(col("w") > 0)
        .withColumn("h", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("key_e9", expr(WsKeyE9Sql))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("source", "rank", "doc_id", "w", "key_e9")
        .orderBy("source", "rank")
    }),

    // ---- boilerplate n-gram mining via the custom Generator (UDTF) -------
    // The repeated-3-gram report (boilerplate detection across docs),
    // driven by `word_ngrams` — the library's custom table-generating
    // function (LATERAL VIEW → GenerateExec): n-grams STREAM out of the
    // generator one row at a time instead of materializing per-row arrays
    // (the q34 expression form's allocation profile). Same tokenization
    // semantics as rawToks(); oracle uses the array construction.
    "q146_ngram_udtf" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents").createOrReplaceTempView("q146_documents")
      s.sql("""
        |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM q146_documents
        |LATERAL VIEW word_ngrams(text, 3) t AS pos, ngram
        |GROUP BY ngram HAVING count(*) >= 3
        |ORDER BY ngram""".stripMargin)
    }),

    // ---- Gini concentration of the token mass across sources ------------
    // The inequality number behind q86's mix report: one scalar saying how
    // skewed the corpus is toward few sources (0 = balanced, →1 =
    // concentrated). Rank-weighted exact formula over the ascending
    // (tokens, source) order: G = (2·Σi·x_i − (n+1)·Σx)/(n·Σx), pure
    // BIGINT; the window runs over |sources| rows only.
    "q123_gini" -> ((s: SparkSession, dir: String) => {
      val st = Tables(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(rawToks(col("text"))).cast("long")).as("x"))
      st.withColumn("i",
          row_number().over(Window.orderBy("x", "source")).cast("long"))
        .agg(count(lit(1)).as("n_sources"), sum("x").as("total_tokens"),
          sum(col("i") * col("x")).as("s1"))
        .select(col("n_sources"), col("total_tokens"),
          expr("CAST(((2 * s1 - (n_sources + 1) * total_tokens) * 10000) DIV (n_sources * total_tokens) AS BIGINT)")
            .as("gini_bp"))
    }),

    // ---- Jensen-Shannon divergence per source vs the corpus --------------
    // Domain-shift detection: how far each source's unigram distribution
    // sits from the corpus-wide distribution, over the top-50 corpus vocab
    // (bounded — the full-vocab JSD is dominated by the head anyway). One
    // (source, token) aggregation shuffle; vocab, totals and the
    // sources x 50 grid are all broadcast-sized. Each term's contribution
    // is one shared-verbatim double floor-e9 so the per-source sum is an
    // exact BIGINT.
    "q156_jsd" -> ((s: SparkSession, dir: String) => {
      val tf = Tables(s, dir, "documents")
        .select(col("source"), explode(rawToks(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val vocab = tf.groupBy("tok").agg(sum("cnt").as("ccnt"))
        .orderBy(desc("ccnt"), asc("tok")).limit(50)
      val vtot = vocab.agg(sum("ccnt").as("vtot"))
      val stf = tf.join(broadcast(vocab.select("tok")), Seq("tok"))
      val stot = stf.groupBy("source").agg(sum("cnt").as("stot"))
        .filter(col("stot") > 0)
      broadcast(stot).crossJoin(broadcast(vocab))
        .join(stf, Seq("source", "tok"), "left")
        .withColumn("scnt", coalesce(col("cnt"), lit(0L)))
        .crossJoin(broadcast(vtot))
        .withColumn("term_e9", expr(JsdTermE9Sql))
        .groupBy("source", "stot")
        .agg(sum(when(col("scnt") > 0, lit(1L)).otherwise(lit(0L))).as("n_vocab_hit"),
          sum("term_e9").as("jsd_e9"))
        .select("source", "stot", "n_vocab_hit", "jsd_e9")
        .orderBy("source")
    }),

    // ---- Flesch-style readability scoring ---------------------------------
    // Per-document reading-ease from three exact regex match counts (words,
    // sentence-terminator runs, vowel-group "syllables") — per-row only, no
    // shuffle, parquet scan reads (doc_id, text) and nothing else. The one
    // double expression is shared VERBATIM with the oracle; empty docs get
    // an explicit sentinel (nullable BIGINTs break the driver's sorter).
    "q157_readability" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(size(regexp_extract_all(text, '\\\\S+', 0)) AS BIGINT)")
            .as("n_words"),
          expr("CAST(greatest(1, size(regexp_extract_all(text, '[.!?]+', 0))) AS BIGINT)")
            .as("n_sents"),
          expr("CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)")
            .as("n_syll"))
        .withColumn("flesch_e2", expr(FleschE2Sql))
        .orderBy("doc_id")
    }),

    // ---- positional phrase search ----------------------------------------
    // Exact-phrase retrieval over a positional inverted index: postings
    // are (doc_id, pos, tok) rows, and a 3-token phrase is three postings
    // joined on (doc, adjacent positions). The query itself is dynamic —
    // the corpus's most frequent trigram (lexicographic tie-break), so
    // nothing is corpus-hard-coded. Scale design: the first posting
    // stream is filtered to the (broadcast) query's first term BEFORE the
    // positional joins, and the term equality rides IN the join
    // conditions — each join is a selective equi-join on (doc, pos, term),
    // never a positional cross product. In production the postings table
    // is the materialized index, bucketed by term.
    "q184_phrase_search" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val w = rawToks(col("text"))
      val post = docs
        .select(col("doc_id"), posexplode(w).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
      val tri = when(size(w) < 3, array().cast("array<struct<t1:string,t2:string,t3:string>>"))
        .otherwise(zip_with(
          slice(w, lit(1), size(w) - 2),
          zip_with(slice(w, lit(2), size(w) - 2), slice(w, lit(3), size(w) - 2),
            (b, c) => struct(b.as("t2"), c.as("t3"))),
          (a, bc) => struct(a.as("t1"), bc.getField("t2").as("t2"),
            bc.getField("t3").as("t3"))))
      val top = docs.select(explode(tri).as("t"))
        .groupBy(col("t.t1").as("t1"), col("t.t2").as("t2"), col("t.t3").as("t3"))
        .agg(count(lit(1)).as("cnt"))
        .agg(min_by(struct(col("t1"), col("t2"), col("t3")),
          struct(-col("cnt"), col("t1"), col("t2"), col("t3"))).as("q"))
        .select(col("q.t1").as("q1"), col("q.t2").as("q2"), col("q.t3").as("q3"))
      val p1 = post.crossJoin(broadcast(top)).filter(col("tok") === col("q1"))
      val p2 = post.select(col("doc_id").as("d2"), col("pos").as("pos2"),
        col("tok").as("tok2"))
      val p3 = post.select(col("doc_id").as("d3"), col("pos").as("pos3"),
        col("tok").as("tok3"))
      p1.join(p2, col("d2") === col("doc_id") && col("pos2") === col("pos") + 1 &&
          col("tok2") === col("q2"))
        .join(p3, col("d3") === col("doc_id") && col("pos3") === col("pos") + 2 &&
          col("tok3") === col("q3"))
        .groupBy("doc_id", "q1", "q2", "q3")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"),
          concat_ws(" ", col("q1"), col("q2"), col("q3")).as("phrase"), col("n_hits"))
        .orderBy(desc("n_hits"), col("doc_id")).limit(20)
    }),

    // ---- corpus scorecard ---------------------------------------------------
    // The one-page health report a curation run opens with: corpus size,
    // token mass, language/source breadth, exact-duplicate and empty-doc
    // counts, mean length — ONE aggregation pass (conditional aggregates +
    // exact distincts), pivoted to (metric, value) rows. Every number here
    // is the cheap summary of an operator the library implements in full
    // (q35 dedup, q86 mix, q88 lengths); this is the report that decides
    // which of those to run next.
    "q200_corpus_scorecard" -> ((s: SparkSession, dir: String) => {
      val agg = Tables(s, dir, "documents")
        .withColumn("n_tok", size(rawToks(col("text"))).cast("long"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(md5(lower(trim(col("text"))).cast("binary"))))
            .as("exact_dup_docs"),
          sum(when(col("n_tok") === 0, 1L).otherwise(0L)).as("empty_docs"))
      agg.withColumn("m", explode(array(
          struct(lit("empty_docs").as("metric"), col("empty_docs").as("value")),
          struct(lit("exact_dup_docs").as("metric"), col("exact_dup_docs").as("value")),
          struct(lit("mean_tokens_e2").as("metric"),
            expr("(n_tokens * 100) div n_docs").as("value")),
          struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
          struct(lit("n_langs").as("metric"), col("n_langs").as("value")),
          struct(lit("n_sources").as("metric"), col("n_sources").as("value")),
          struct(lit("n_tokens").as("metric"), col("n_tokens").as("value")))))
        .select(col("m.metric").as("metric"), col("m.value").cast("long").as("value"))
        .orderBy("metric")
    }),

    // ---- HLL via the native mergeable register aggregate -----------------
    // q126's sketch computed the way it ships at 100 TB: the custom
    // Catalyst TypedImperativeAggregate folds each partition's hashes into
    // a 512-byte register buffer, partials merge by elementwise max, and
    // ONE row per language crosses the shuffle — versus the SQL form's
    // |langs|·64 register rows and second aggregation. Same registers,
    // same shared-verbatim estimate, same DuckDB oracle (verbatim q126's),
    // one ObjectHashAggregate (plan pinned in ScaleOpsSpec).
    "q190_hll_native" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.Sketches.hll_regs
      val ex = Tables(s, dir, "documents")
        .select(col("lang"), explode(rawToks(col("text"))).as("term"))
      val sketch = ex.select(col("lang"),
          expr("CAST(conv(substring(md5(CAST(term AS BINARY)), 1, 14), 16, 10) AS BIGINT)").as("h"))
        .groupBy("lang").agg(hll_regs(col("h")).as("r"))
        .select(col("lang"), col("r.n_regs").as("n_regs"), col("r.s_e").as("s_e"))
        .withColumn("est_hll", expr(HllEstSql))
      val exact = ex.distinct().groupBy("lang").agg(count(lit(1)).as("n_exact"))
      sketch.join(exact, Seq("lang"))
        .select(col("lang"), col("n_exact"), col("est_hll"),
          expr("CAST((abs(est_hll - n_exact) * 10000) DIV n_exact AS BIGINT)").as("err_bp"))
        .orderBy("lang")
    }),

    // ---- multinomial naive Bayes language classifier ---------------------
    // The from-scratch generative classifier: per-language priors from doc
    // counts, Laplace-smoothed term likelihoods over the top-50-df vocab
    // (the full lang x vocab grid, zero counts included), per-doc
    // log-score = prior + Σ count·ln p — every ln integer-ized (floor-e6)
    // so doc scores are exact BIGINT sums, argmax via min_by with a
    // lexicographic language tie-break. Output is the confusion matrix
    // against the labeled lang column. Scale design: the vocab, the LM
    // grid (|langs|·50 rows), and the priors are all broadcast; the corpus
    // is scanned via one persisted exploded-token base feeding vocab
    // selection, likelihood counts, and doc-term counts; the matrix is
    // checkpointed and the cache released.
    "q185_naive_bayes" -> ((s: SparkSession, dir: String) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(rawToks(col("text"))).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // top-50 by (df desc, t): orderBy+limit plans as a distributed
      // TakeOrderedAndProject (per-partition heaps) — the row_number-
      // over-global-window form funnels EVERY distinct term through one
      // task, which the full-surface PlanLint sweep rightly flags
      val vocab = tok.select("doc_id", "t").distinct()
        .groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("t")).limit(50).select("t")
      val priors = Tables(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val pri = priors
        .crossJoin(broadcast(priors.agg(sum("n_docs").as("n_total"))))
        .withColumn("prior_e6",
          floor(log(col("n_docs").cast("double") / col("n_total").cast("double"))
            * lit(1000000.0)).cast("long"))
        .select(col("lang").as("lang_c"), col("prior_e6"))
      val cnt = tok.join(broadcast(vocab), "t")
        .groupBy(col("lang").as("lang_c"), col("t")).agg(count(lit(1)).as("cnt"))
      val lm = pri.select("lang_c").crossJoin(broadcast(vocab))
        .join(cnt, Seq("lang_c", "t"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("lang_c")))
        .withColumn("lnp_e6",
          floor(log((col("cnt") + 1).cast("double") / (col("tot") + 50).cast("double"))
            * lit(1000000.0)).cast("long"))
        .select("lang_c", "t", "lnp_e6")
      val ll = tok.join(broadcast(vocab), "t")
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .join(broadcast(lm), "t")
        .groupBy("doc_id", "lang_c").agg(sum(col("c") * col("lnp_e6")).as("ll"))
      val out = Tables(s, dir, "documents").select("doc_id", "lang")
        .crossJoin(broadcast(pri))
        .join(ll, Seq("doc_id", "lang_c"), "left")
        .withColumn("score", coalesce(col("ll"), lit(0L)) + col("prior_e6"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(min_by(col("lang_c"), struct((-col("score")).as("ns"), col("lang_c")))
          .as("pred"))
        .groupBy(col("lang").as("actual"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "pred")
        .localCheckpoint(eager = true)
      tok.unpersist()
      out
    }),

    // ---- reciprocal rank fusion ------------------------------------------
    // The standard way to combine heterogeneous retrieval signals (lexical
    // score + recency here) without calibrating them onto one scale:
    // RRF(d) = Σ 1/(k + rank_i(d)), k = 60. Ranks come from two windows
    // over the (small) matching-doc set; the fused score is PURE integer
    // math (1e9 DIV (60 + r)) so both engines agree bit-for-bit. The query
    // term is the corpus's top token, computed from the same scan and
    // broadcast (q184's dynamic-query discipline).
    "q217_rrf" -> ((s: SparkSession, dir: String) => {
      val tf = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawToks(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val top = tf.groupBy("t").agg(sum("tf").as("n"))
        .orderBy(desc("n"), asc("t")).limit(1)
        .select(col("t").as("qterm"))
      val hits = tf.join(broadcast(top), col("t") === col("qterm"))
      val r1 = Window.orderBy(desc("tf"), asc("doc_id"))
      val r2 = Window.orderBy(desc("doc_id"))
      hits
        .withColumn("rank_tf", row_number().over(r1).cast("long"))
        .withColumn("rank_fresh", row_number().over(r2).cast("long"))
        .select(col("doc_id"), col("tf").cast("long").as("tf"),
          col("rank_tf"), col("rank_fresh"),
          expr("1000000000 DIV (60 + rank_tf) + 1000000000 DIV (60 + rank_fresh)")
            .as("rrf_e9"))
        .orderBy(desc("rrf_e9"), asc("doc_id")).limit(20)
    }),

    // ---- distinctive terms per language (Monroe log-odds) ----------------
    // Which top-50-vocab terms over-index in each language vs the rest of
    // the corpus: Dirichlet-smoothed log-odds-ratio delta, the
    // "fightin' words" statistic. All counts are exact BIGINTs over the
    // full lang x vocab grid (missing cells = 0); the delta is ONE
    // shared-verbatim double expression, floor-e6. Top-3 per language by
    // (delta desc, term) via a window over the 50·|langs|-row grid.
    "q218_log_odds" -> ((s: SparkSession, dir: String) => {
      val tok = Tables(s, dir, "documents")
        .select(col("lang"), explode(rawToks(col("text"))).as("t"))
      val tc = tok.groupBy("t").agg(count(lit(1)).as("n"))
      val vocabRank = Window.orderBy(desc("n"), asc("t"))
      val vocab = tc.withColumn("rn", row_number().over(vocabRank))
        .filter(col("rn") <= 50).select(col("t"), col("n").as("y_w"))
      val langs = tok.select("lang").distinct()
      val cnt = tok.join(broadcast(vocab.select("t")), "t")
        .groupBy("lang", "t").agg(count(lit(1)).as("y"))
      val grid = langs.crossJoin(broadcast(vocab))
        .join(cnt, Seq("lang", "t"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
        .withColumn("ni", sum("y").over(Window.partitionBy("lang")))
        .withColumn("nt", sum("y").over(Window.partitionBy(lit(1))))
      val delta =
        "floor((ln(CAST(y + 1 AS DOUBLE) / CAST(ni + 50 - y - 1 AS DOUBLE)) " +
          "- ln(CAST(y_w - y + 1 AS DOUBLE) " +
          "/ CAST(nt - ni + 50 - (y_w - y) - 1 AS DOUBLE))) * 1000000.0)"
      val byLang = Window.partitionBy("lang").orderBy(desc("delta_e6"), asc("t"))
      grid
        .withColumn("delta_e6", expr(delta).cast("long"))
        .withColumn("rn", row_number().over(byLang))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("t").as("term"), col("y").cast("long").as("y"),
          col("delta_e6"), col("rn").cast("long").as("rn"))
        .orderBy("lang", "rn")
    }),

    // ---- keyword-in-context concordance ----------------------------------
    // Corpus exploration: the ±3-token windows around every occurrence of
    // the corpus's top term, ranked by how often the same context repeats
    // (repeated KWIC contexts = collocations/boilerplate candidates).
    // Occurrences ride one posexplode; context extraction is slice math on
    // the already-materialized token array (per-row, no second scan); the
    // dynamic query term comes broadcast from the same token counts
    // (q217's discipline).
    "q227_kwic" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), rawToks(col("text")).as("w"))
      val tok = docs.select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("pos0", "t")))
        .withColumn("pos", col("pos0") + 1)
      val top = tok.groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("t")).limit(1)
        .select(col("t").as("qterm"))
      tok.join(broadcast(top), col("t") === col("qterm"))
        .withColumn("s", greatest(col("pos") - 3, lit(1)))
        .withColumn("e", least(col("pos") + 3, size(col("w"))))
        .select(array_join(
          slice(col("w"), col("s"), col("e") - col("s") + 1), " ").as("context"))
        .groupBy("context").agg(count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("context")).limit(15)
    }),

    // ---- n-gram novelty over ingestion order -----------------------------
    // The diminishing-returns question for dataset growth: as docs arrive
    // (doc_id order), what fraction of each decile's 3-grams was never
    // seen before? Per gram, the first carrier is ONE min aggregate; a
    // decile's novelty is new-gram instances over total instances, exact
    // bp. Falling novelty = the corpus is saturating; flat = still
    // diverse. Same (doc, gram) aggregate shape as q215 — one shuffle
    // feeds first-carrier and the join-back.
    "q231_novelty" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val nDocs = docs.count() // decile width: one scalar, computed once
      val grams = docs
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("t"))
        .filter(size(col("t")) >= 3)
        // one native pass builds the distinct-gram hash list (string-level
        // dedupe — hash-level would miscount on a collision)
        .select(col("doc_id"), explode(gramHashes(col("t"))).as("h"))
      val firstCarrier = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
      grams.join(firstCarrier, Seq("h"))
        .withColumn("decile", expr(s"least(doc_id * 10 div $nDocs, 9)"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_grams"),
          sum((col("doc_id") === col("first_doc")).cast("long")).as("n_new"))
        .select(col("decile").cast("long").as("decile"),
          col("n_grams"), col("n_new").cast("long").as("n_new"),
          expr("(n_new * 10000) div n_grams").as("novelty_bp"))
        .orderBy("decile")
    }),

    // ---- vocabulary growth curve (Heaps' law) ----------------------------
    // Distinct 3-gram vocabulary as a function of corpus position: new
    // DISTINCT grams contributed per doc-id decile and the cumulative
    // vocabulary — the curve that says when more data stops buying more
    // diversity. Rides the same first-carrier aggregate as q231; the
    // cumulative window runs over 10 rows.
    "q232_heaps_curve" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val nDocs = docs.count()
      val grams = docs
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("t"))
        .filter(size(col("t")) >= 3)
        // r18 (optimization): same native distinct-gram pass as q231
        .select(col("doc_id"), explode(gramHashes(col("t"))).as("h"))
      val perDecile = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
        .withColumn("decile", expr(s"least(first_doc * 10 div $nDocs, 9)"))
        .groupBy("decile").agg(count(lit(1)).as("new_vocab"))
      val w = Window.partitionBy(lit(1)).orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDecile
        .withColumn("cum_vocab", sum("new_vocab").over(w))
        .select(col("decile").cast("long").as("decile"),
          col("new_vocab").cast("long").as("new_vocab"),
          col("cum_vocab").cast("long").as("cum_vocab"))
        .orderBy("decile")
    }),

    // ---- RAG/training-prep document chunking -----------------------------
    // Overlapping token windows per document: width 64, stride 48 (16-token
    // overlap so no boundary context is lost), last window ragged. What an
    // embedding/retrieval pipeline feeds its encoder — q74 packs ACROSS
    // documents for training batches; this splits WITHIN documents for
    // retrieval. Pure per-row flatMap — one scan, no shuffle (the ORDER BY
    // exists for the oracle hash only), output rows ≈ n_tokens/48 —
    // embarrassingly linear at any corpus size. Chunk identity is
    // (doc_id, chunk_idx) plus an md5 content digest so a downstream join
    // can detect chunk-level drift without carrying the text.
    "q243_chunk_windows" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), rawToks(col("text")).as("w"))
        .withColumn("n", size(col("w")).cast("long"))
        .filter(col("n") > 0)
        .withColumn("nc", expr("1 + (greatest(0, n - 64) + 47) DIV 48"))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("nc") - 1)))
        .withColumn("tok_start", (col("chunk_idx") * 48).cast("long"))
        .withColumn("ctoks", expr("slice(w, CAST(tok_start + 1 AS INT), 64)"))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("tok_start"), size(col("ctoks")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("ctoks")).cast("binary")).as("digest"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- retrieval evaluation: hits@10 / MRR against judgments -----------
    // The eval harness for the BM25 ranker: per query term (the q109 query
    // set), rank the posting list by the per-term BM25 partial, take the
    // top 10, and score against a deterministic relevance judgment
    // (tf >= 3 — content-derived, rank-independent). Reported per query:
    // corpus relevant count, hits@10, first relevant rank, and MRR in
    // integer basis points (10000 div rank — 1/3 would tie a rounded 4th
    // digit). Scale: the candidate set is each term's posting list; the
    // rank filter is rn <= 10 on a keyed window, which Spark 4 plans as
    // WindowGroupLimit (per-partition bounded heap, no full sort of the
    // posting list), and the judgment aggregate is one keyed pass.
    "q261_retrieval_eval" -> ((s: SparkSession, dir: String) => {
      val ex = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawToks(col("text"))).as("term"))
      val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = ex.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = dfx.orderBy(col("df").desc, col("term")).limit(3)
      val scored = tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score_e6", expr(Bm25ScoreE6Sql))
        .withColumn("rel", when(col("tf") >= 3, 1L).otherwise(0L))
      val w = Window.partitionBy("term").orderBy(col("score_e6").desc, col("doc_id").asc)
      val ranked = scored.withColumn("rank", row_number().over(w).cast("long"))
      // judgment count over the FULL posting list (pre-window branch; its
      // exchanges are identical to the ranked branch's and get reused)
      val nrel = scored.groupBy("term").agg(sum("rel").as("n_rel"))
      ranked.filter(col("rank") <= 10)
        .groupBy("term")
        .agg(sum("rel").as("hits_at_10"),
          coalesce(min(when(col("rel") === 1, col("rank"))), lit(0L)).as("first_rel_rank"))
        .join(nrel, Seq("term"))
        .select(col("term"), col("n_rel").cast("long").as("n_rel"),
          col("hits_at_10").cast("long").as("hits_at_10"),
          col("first_rel_rank").cast("long").as("first_rel_rank"),
          expr("CAST(CASE WHEN first_rel_rank > 0 THEN 10000 div first_rel_rank ELSE 0 END AS BIGINT)")
            .as("mrr_bp"))
        .orderBy("term")
    }),

    // ---- CCNet-style LM-score terciles per language ----------------------
    // The perplexity bucketing of Wenzek et al. 2020 (CCNet): rank each
    // language's documents by model score and cut into head/middle/tail
    // thirds — downstream pipelines keep "head", sample "middle", drop
    // "tail". The model is the corpus's own bigram LM (q91's lmScore:
    // higher avg log-likelihood = lower perplexity = head). Cuts are pure
    // integer rank math (ceil(n/3) = (n+2) div 3, ties broken by doc_id),
    // so bucket assignment is engine-exact — no quantile semantics risk.
    //
    // Scale: the per-lang window is a partitioned sort bounded by each
    // language's corpus share; at 100 TB you'd swap the exact rank for
    // approx-quantile score cutoffs per language (two aggregation passes,
    // no sort) — same bucket semantics, documented trade. Covers docs with
    // >= 2 tokens (q91's domain).
    "q298_ppl_buckets" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val wRank = Window.partitionBy("lang").orderBy(desc("avg_lnp_e6"), asc("doc_id"))
      val wLang = Window.partitionBy("lang")
      lmScore(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .withColumn("n_lang", count(lit(1)).over(wLang))
        .withColumn("ppl_bucket",
          when(col("rk") <= expr("(n_lang + 2) div 3"), lit("head"))
            .when(col("rk") <= expr("(2 * n_lang + 2) div 3"), lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "lang", "avg_lnp_e6", "rk", "ppl_bucket")
        .orderBy("doc_id")
    }),

    // ---- CCNet buckets, the scale form: score cutoffs, no per-doc sort ----
    // q298's production shape (the r15 VERDICT's one `weak` flag): the
    // per-language rank window puts each language's ENTIRE document set
    // through one task's sort — parallelism bounded at |languages|, a
    // ~20 TB single-task sort per language at 100 TB. This form never
    // ranks documents. Two aggregation passes instead:
    //   1. per-(lang, score) counts — the only shuffle keyed finer than
    //      lang, and its OUTPUT is bounded by the score VALUE DOMAIN
    //      (avg_lnp_e6 is an e6-integerized mean log-prob, range ~[-2e7,0]
    //      for any corpus), not by document count;
    //   2. a per-lang cumulative window over those distinct scores (tiny,
    //      domain-bounded) picks the tercile cutoff SCORES: cut_head =
    //      the score of the ceil(n/3)-th best doc = max score s with
    //      |{score >= s}| >= (n+2) div 3; cut_mid likewise at 2n/3.
    // Bucket assignment is then MAP-SIDE (broadcast |langs|-row cutoffs,
    // score comparison per doc). Semantics vs q298: identical except at a
    // tie class straddling a cut — here the whole tie class goes to the
    // better bucket (score-pure, tie-class-atomic: what Wenzek et al.'s
    // cutoff assignment actually does), where q298 splits it by doc_id.
    // The exact-rank q298 stays as the small-scale anchor; TextStatsSpec
    // pins the plan (no row_number; no doc-level window) and the bucket
    // agreement off tie boundaries.
    "q302_ppl_cutoffs" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val sc = lmScore(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select("doc_id", "lang", "avg_lnp_e6")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wCum = Window.partitionBy("lang").orderBy(desc("avg_lnp_e6"))
      val wLang = Window.partitionBy("lang")
      val cuts = sc.groupBy("lang", "avg_lnp_e6").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(wLang))
        .groupBy("lang")
        .agg(
          max(when(col("cum") >= expr("(n + 2) div 3"), col("avg_lnp_e6")))
            .as("cut_head_e6"),
          max(when(col("cum") >= expr("(2 * n + 2) div 3"), col("avg_lnp_e6")))
            .as("cut_mid_e6"))
      val out = sc.join(broadcast(cuts), Seq("lang"))
        .withColumn("ppl_bucket",
          when(col("avg_lnp_e6") >= col("cut_head_e6"), lit("head"))
            .when(col("avg_lnp_e6") >= col("cut_mid_e6"), lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "lang", "avg_lnp_e6", "cut_head_e6", "cut_mid_e6",
          "ppl_bucket")
        .localCheckpoint(eager = true)
      sc.unpersist()
      out.orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = {
    val toksSql = """CASE WHEN length(trim(text)) = 0 THEN []
                    |     ELSE string_split_regex(lower(trim(text)), '\s+') END""".stripMargin
    def hitSql(words: Seq[String]): String =
      s"CAST(len(list_filter(w, t -> list_contains([${words.map("'" + _ + "'").mkString(",")}], t))) AS BIGINT)"

    // q298/q302 shared CTE chain through `sc` = (doc_id, lang, avg_lnp_e6):
    // lmScore's bigram-LM scoring + the lang join, single-sourced so the
    // exact-rank anchor and its cutoff-based scale form bucket the SAME
    // scored stream
    val lmLangCtesSql: String =
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |pr AS (SELECT doc_id, unnest(CASE WHEN len(w) < 2 THEN []
         |         ELSE [{'prev': w[i], 'nxt': w[i+1]} for i in range(1, len(w))]
         |       END) AS s
         |       FROM t),
         |b AS (SELECT doc_id, s.prev AS prev, s.nxt AS nxt FROM pr),
         |pc AS (SELECT prev, nxt, count(*) AS cnt FROM b GROUP BY 1, 2),
         |lm AS (SELECT prev, nxt,
         |   CAST(floor(ln(CAST(cnt AS DOUBLE) /
         |     CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE)) * 1000000.0)
         |     AS BIGINT) AS lnp_e6
         |  FROM pc),
         |d AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |        CAST(sum(lm.lnp_e6) AS BIGINT) AS sum_lnp_e6
         |      FROM b JOIN lm ON b.prev = lm.prev AND b.nxt = lm.nxt
         |      GROUP BY b.doc_id),
         |sc AS (SELECT d.doc_id, docs.lang,
         |   CAST(floor(CAST(sum_lnp_e6 AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
         |     AS avg_lnp_e6
         |  FROM d JOIN documents docs ON d.doc_id = docs.doc_id)""".stripMargin

    val m = Map(
      "q261_retrieval_eval" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |ex AS (SELECT doc_id, unnest(w) AS term FROM t),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |       FROM ex GROUP BY 1, 2),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |          CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |qt AS (SELECT term, df FROM dfx
           |       QUALIFY row_number() OVER (ORDER BY df DESC, term) <= 3),
           |sc AS (SELECT tf.doc_id, term, tf,
           |         $Bm25ScoreE6Sql AS score_e6,
           |         CASE WHEN tf >= 3 THEN 1 ELSE 0 END AS rel
           |       FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), tot),
           |r AS (SELECT term, doc_id, rel,
           |        row_number() OVER (PARTITION BY term
           |                           ORDER BY score_e6 DESC, doc_id) AS rank
           |      FROM sc),
           |nrel AS (SELECT term, CAST(sum(rel) AS BIGINT) AS n_rel FROM r GROUP BY term),
           |top AS (SELECT term, CAST(sum(rel) AS BIGINT) AS hits_at_10,
           |          CAST(coalesce(min(CASE WHEN rel = 1 THEN rank END), 0) AS BIGINT)
           |            AS first_rel_rank
           |        FROM r WHERE rank <= 10 GROUP BY term)
           |SELECT term, n_rel, hits_at_10, first_rel_rank,
           |  CAST(CASE WHEN first_rel_rank > 0 THEN 10000 // first_rel_rank
           |       ELSE 0 END AS BIGINT) AS mrr_bp
           |FROM top JOIN nrel USING (term) ORDER BY term""".stripMargin,

      "q109_bm25" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |ex AS (SELECT doc_id, unnest(w) AS term FROM t),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |       FROM ex GROUP BY 1, 2),
           |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |          CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |qt AS (SELECT term, df FROM dfx
           |       QUALIFY row_number() OVER (ORDER BY df DESC, term) <= 3),
           |sc AS (SELECT tf.doc_id,
           |         $Bm25ScoreE6Sql AS score_e6
           |       FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
           | CAST(sum(score_e6) AS BIGINT) AS bm25_e6
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q110_search" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |ex AS (SELECT doc_id, unnest(w) AS term FROM t),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n_occ
           |       FROM ex GROUP BY 1, 2),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |qt AS (SELECT term FROM dfx
           |       QUALIFY row_number() OVER (ORDER BY df DESC, term) <= 2)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           | CAST(sum(n_occ) AS BIGINT) AS n_occ
           |FROM tf JOIN qt USING (term)
           |GROUP BY doc_id HAVING count(*) = 2
           |ORDER BY doc_id""".stripMargin,

      "q111_kmv_distinct" ->
        s"""WITH t AS (SELECT lang, $toksSql AS w FROM documents),
           |exd AS (SELECT DISTINCT lang, term
           |        FROM (SELECT lang, unnest(w) AS term FROM t)),
           |h AS (SELECT lang, ('0x' || substr(md5(term), 1, 14))::BIGINT AS h
           |      FROM exd),
           |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY lang),
           |bk AS (SELECT lang, h,
           |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
           |       FROM h),
           |kk AS (SELECT lang, max(CASE WHEN rn = 16 THEN h END) AS h_k,
           |         CAST(count(*) AS BIGINT) AS k_got
           |       FROM bk WHERE rn <= 16 GROUP BY lang),
           |e AS (SELECT st.lang, st.n_exact,
           |        CAST(CASE WHEN kk.k_got < 16 THEN st.n_exact
           |             ELSE (15 * 72057594037927936) // kk.h_k END AS BIGINT) AS est_kmv
           |      FROM st JOIN kk USING (lang))
           |SELECT lang, n_exact, est_kmv,
           | CAST((abs(est_kmv - n_exact) * 10000) // n_exact AS BIGINT) AS err_bp
           |FROM e ORDER BY lang""".stripMargin,

      "q117_cms" ->
        s"""WITH t AS (SELECT $toksSql AS w FROM documents),
           |ex AS (SELECT unnest(w) AS term FROM t),
           |rows_ AS (SELECT term, i,
           |    ('0x' || substr(md5(i::VARCHAR || ':' || term), 1, 8))::BIGINT % 256 AS b
           |  FROM ex, (SELECT unnest(range(0, 4)) AS i)),
           |cms AS (SELECT i, b, CAST(count(*) AS BIGINT) AS c
           |        FROM rows_ GROUP BY i, b),
           |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
           |       FROM ex GROUP BY term),
           |top AS (SELECT term, n_exact FROM tf
           |        QUALIFY row_number() OVER (ORDER BY n_exact DESC, term) <= 5),
           |pr AS (SELECT top.term, top.n_exact, i,
           |    ('0x' || substr(md5(i::VARCHAR || ':' || term), 1, 8))::BIGINT % 256 AS b
           |  FROM top, (SELECT unnest(range(0, 4)) AS i)),
           |est AS (SELECT pr.term, pr.n_exact, min(cms.c) AS est_cms
           |        FROM pr JOIN cms USING (i, b) GROUP BY pr.term, pr.n_exact)
           |SELECT term, n_exact, CAST(est_cms AS BIGINT) AS est_cms,
           | CAST(((est_cms - n_exact) * 10000) // n_exact AS BIGINT) AS overcount_bp
           |FROM est ORDER BY term""".stripMargin,

      "q119_pmi" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
           |exd AS (SELECT DISTINCT doc_id, term
           |        FROM (SELECT doc_id, unnest(w) AS term FROM t)),
           |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM exd GROUP BY term),
           |top AS (SELECT term, df FROM dfx
           |        QUALIFY row_number() OVER (ORDER BY df DESC, term) <= 20),
           |hits AS (SELECT exd.doc_id, exd.term, top.df
           |         FROM exd JOIN top USING (term)),
           |pairs AS (SELECT a.term AS t1, b.term AS t2, a.df AS n_a, b.df AS n_b,
           |            CAST(count(*) AS BIGINT) AS n_ab
           |          FROM hits a JOIN hits b
           |            ON a.doc_id = b.doc_id AND a.term < b.term
           |          GROUP BY 1, 2, 3, 4)
           |SELECT t1, t2, n_ab, n_a, n_b,
           | CAST(floor(ln(CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
           |   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1000000.0) AS BIGINT)
           |   AS pmi_e6
           |FROM pairs, tot ORDER BY t1, t2""".stripMargin,

      "q126_hll" ->
        s"""WITH t AS (SELECT lang, $toksSql AS w FROM documents),
           |ex AS (SELECT lang, unnest(w) AS term FROM t),
           |h AS (SELECT lang, ('0x' || substr(md5(term), 1, 14))::BIGINT AS h
           |      FROM ex),
           |r AS (SELECT lang, h % 64 AS j, h // 64 AS w FROM h),
           |rk AS (SELECT lang, j,
           |         CASE WHEN w = 0 THEN 51
           |              ELSE 51 - length(bin(w)) END AS rank
           |       FROM r),
           |regs AS (SELECT lang, j, max(rank) AS m FROM rk GROUP BY lang, j),
           |sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_regs,
           |         CAST(sum(1::BIGINT << CAST(51 - m AS INT)) AS BIGINT) AS s_hit
           |       FROM regs GROUP BY lang),
           |se AS (SELECT lang, n_regs,
           |         s_hit + (64 - n_regs) * 2251799813685248 AS s_e
           |       FROM sk),
           |est AS (SELECT lang, $HllEstSql AS est_hll FROM se),
           |exd AS (SELECT DISTINCT lang, term
           |        FROM (SELECT lang, unnest(w) AS term FROM t)),
           |xc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact
           |       FROM exd GROUP BY lang)
           |SELECT xc.lang, xc.n_exact, est.est_hll,
           | CAST((abs(est.est_hll - xc.n_exact) * 10000) // xc.n_exact AS BIGINT)
           |   AS err_bp
           |FROM xc JOIN est USING (lang) ORDER BY lang""".stripMargin,

      "q127_weighted_sample" ->
        s"""WITH t AS (SELECT doc_id, source, $toksSql AS w_arr FROM documents),
           |d AS (SELECT doc_id, source, CAST(len(w_arr) AS BIGINT) AS w
           |      FROM t WHERE len(w_arr) > 0),
           |h AS (SELECT doc_id, source, w,
           |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
           |      FROM d),
           |k AS (SELECT doc_id, source, w,
           |        $WsKeyE9Sql AS key_e9
           |      FROM h)
           |SELECT source, rank, doc_id, w, key_e9 FROM (
           | SELECT source, doc_id, w, key_e9,
           |  CAST(row_number() OVER (PARTITION BY source
           |                          ORDER BY key_e9, doc_id) AS BIGINT) AS rank
           | FROM k)
           |WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

      "q146_ngram_udtf" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |g AS (SELECT doc_id, unnest(CASE WHEN len(w) < 3 THEN []
           |        ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
           |              for i in range(1, len(w) - 1)] END) AS ngram
           |      FROM t)
           |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt,
           | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |FROM g GROUP BY ngram HAVING count(*) >= 3
           |ORDER BY ngram""".stripMargin,

      "q123_gini" ->
        s"""WITH t AS (SELECT source, $toksSql AS w FROM documents),
           |st AS (SELECT source, CAST(sum(len(w)) AS BIGINT) AS x
           |       FROM t GROUP BY source),
           |r AS (SELECT x,
           |        CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i
           |      FROM st),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
           |        CAST(sum(x) AS BIGINT) AS total_tokens,
           |        CAST(sum(i * x) AS BIGINT) AS s1
           |      FROM r)
           |SELECT n_sources, total_tokens,
           | CAST(((2 * s1 - (n_sources + 1) * total_tokens) * 10000)
           |      // (n_sources * total_tokens) AS BIGINT) AS gini_bp
           |FROM a""".stripMargin,

      "q30_token_stats" ->
        s"""WITH t AS (SELECT doc_id, n_chars, $toksSql AS w FROM documents)
           |SELECT doc_id,
           | CAST(len(w) AS BIGINT) AS n_tokens,
           | CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           | round(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
           |       / CAST(len(w) AS DOUBLE), 4) AS avg_token_len,
           | n_chars
           |FROM t ORDER BY doc_id""".stripMargin,

      "q31_quality_score" ->
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS w FROM documents),
           |u AS (SELECT doc_id,
           |  CAST(len(w) AS BIGINT) AS n_tokens,
           |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_count,
           |  ${hitSql(Stop)} AS stop_hits
           | FROM t)
           |SELECT doc_id, n_tokens, punct_count, stop_hits,
           | round(CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS stop_ratio,
           | round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4 +
           |       round(CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) * 0.6, 4) AS quality_score
           |FROM u ORDER BY doc_id""".stripMargin,

      "q32_langid" -> {
        val hits = langMarkers.map { case (code, words) => s"${hitSql(words)} AS hits_$code" }
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS w FROM documents),
           |u AS (SELECT doc_id, lang, ${hits.mkString(", ")} FROM t)
           |SELECT doc_id, lang,
           | CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es
           |        AND hits_en > 0 THEN 'en'
           |      WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
           |      WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
           |      WHEN hits_es > 0 THEN 'es'
           |      ELSE 'unk' END AS pred_lang,
           | hits_en, hits_de, hits_fr, hits_es
           |FROM u ORDER BY doc_id""".stripMargin
      },

      "q33_fingerprint" ->
        """SELECT doc_id,
          | list_reduce(list_prepend(0::BIGINT,
          |   list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
          |   (a, b) -> (a * 31 + b) % 1000000007) AS full_hash,
          | CASE WHEN length(text) < 16 THEN NULL ELSE
          |  list_min([list_reduce(list_prepend(0::BIGINT,
          |     list_transform(string_split(substr(text, i, 16), ''), c -> ascii(c)::BIGINT)),
          |     (a, b) -> (a * 31 + b) % 1000000007)
          |    for i in range(1, length(text) - 14)])
          | END AS min_window_hash
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q60_bpe_tokens" ->
        """SELECT doc_id,
          | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\f\r]+')) AS BIGINT) AS n_bpe,
          | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
          | CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \t\n\f\r]+')) AS BIGINT) AS n_punct
          |FROM documents ORDER BY doc_id""".stripMargin,

      // q295: the curated gate chain replayed relationally — same double
      // comparisons, string-distinct 3-grams (== NgramDistincts counts,
      // pinned by q80), digest-distinct survivors
      "q295_curation_funnel" ->
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS w FROM documents),
           |v AS (SELECT doc_id, text, CAST(len(w) AS BIGINT) AS n,
           |  CAST(len(list_filter(w, x -> x IN
           |    ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS n_stop,
           |  CAST(len(list_distinct(w)) AS BIGINT) AS d_tok,
           |  CAST(CASE WHEN len(w) < 3 THEN 0
           |       ELSE len(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
           |                               for i in range(1, len(w) - 1)]))
           |       END AS BIGINT) AS d_3g
           | FROM t),
           |g AS (SELECT doc_id, text, n,
           |  (n >= 10 AND CAST(n_stop AS DOUBLE) / greatest(CAST(n AS DOUBLE), 1.0) >= 0.01) AS g1,
           |  (CASE WHEN n = 0 THEN 0.0
           |        ELSE 1.0 - CAST(d_tok AS DOUBLE) / CAST(n AS DOUBLE) END) AS dupt,
           |  (CASE WHEN greatest(n - 2, 0) = 0 THEN 0.0
           |        ELSE 1.0 - CAST(d_3g AS DOUBLE) / CAST(greatest(n - 2, 0) AS DOUBLE) END) AS dup3
           | FROM v),
           |h AS (SELECT doc_id, md5(lower(trim(text))) AS digest, g1,
           |  (g1 AND NOT (dupt > 0.8 OR dup3 > 0.3)) AS g2 FROM g)
           |SELECT CAST(count(*) AS BIGINT) AS n_intake,
           |  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_token_gate,
           |  CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_gate,
           |  CAST(count(DISTINCT CASE WHEN g2 THEN digest END) AS BIGINT) AS n_unique_docs
           |FROM h""".stripMargin,

      "q80_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |u AS (SELECT doc_id, w,
           |  CASE WHEN len(w) < 2 THEN []
           |       ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END AS bg,
           |  CASE WHEN len(w) < 3 THEN []
           |       ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
           |             for i in range(1, len(w) - 1)] END AS tg
           | FROM t),
           |v AS (SELECT doc_id,
           |  CAST(len(w) AS BIGINT) AS n_tokens,
           |  CASE WHEN len(w) = 0 THEN 0.0 ELSE round(1.0 -
           |    CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE), 4)
           |  END AS dup_token_frac,
           |  CASE WHEN len(bg) = 0 THEN 0.0 ELSE round(1.0 -
           |    CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE), 4)
           |  END AS dup_2gram_frac,
           |  CASE WHEN len(tg) = 0 THEN 0.0 ELSE round(1.0 -
           |    CAST(len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE), 4)
           |  END AS dup_3gram_frac
           | FROM u)
           |SELECT doc_id, n_tokens, dup_token_frac, dup_2gram_frac, dup_3gram_frac,
           | CAST(CASE WHEN dup_token_frac > 0.8 OR dup_3gram_frac > 0.3
           |      THEN 1 ELSE 0 END AS BIGINT) AS repetitive
           |FROM v ORDER BY doc_id""".stripMargin,

      "q81_pii_redact" -> {
        import graft.functions.Redaction.{EmailRe, Ipv4Re, PhoneRe}
        s"""WITH t AS (SELECT doc_id,
           |  text || ' contact user' || doc_id::VARCHAR || '@mail.example.com tel 555-' ||
           |  lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
           |  lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t2
           | FROM documents),
           |r AS (SELECT doc_id, t2,
           |  regexp_replace(regexp_replace(regexp_replace(t2,
           |    '$EmailRe', '[EMAIL]', 'g'),
           |    '$Ipv4Re', '[IP]', 'g'),
           |    '$PhoneRe', '[PHONE]', 'g') AS red
           | FROM t)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
           | CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones,
           | CAST(length(red) AS BIGINT) AS n_chars_redacted,
           | CAST(CASE WHEN len(regexp_extract_all(red, '$EmailRe')) = 0
           |        AND len(regexp_extract_all(red, '$PhoneRe')) = 0
           |      THEN 1 ELSE 0 END AS BIGINT) AS clean
           |FROM r ORDER BY doc_id""".stripMargin
      },

      "q87_bigram_lm" ->
        s"""WITH t AS (SELECT $toksSql AS w FROM documents),
           |pr AS (SELECT unnest(CASE WHEN len(w) < 2 THEN []
           |         ELSE [{'prev': w[i], 'nxt': w[i+1]} for i in range(1, len(w))]
           |       END) AS s
           |       FROM t),
           |pc AS (SELECT s.prev AS prev, s.nxt AS nxt, count(*) AS cnt
           |       FROM pr GROUP BY 1, 2),
           |sel AS (SELECT prev, nxt, cnt FROM pc
           |        QUALIFY row_number() OVER (PARTITION BY prev
           |                                   ORDER BY cnt DESC, nxt) = 1),
           |tot AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS n_prev FROM pc GROUP BY prev)
           |SELECT tot.prev, sel.nxt AS top_next, sel.cnt AS n_pair, tot.n_prev,
           | CAST((sel.cnt * 10000) // tot.n_prev AS BIGINT) AS p_next_bp
           |FROM tot JOIN sel ON tot.prev = sel.prev
           |ORDER BY tot.prev""".stripMargin,

      "q91_lm_score" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |pr AS (SELECT doc_id, unnest(CASE WHEN len(w) < 2 THEN []
           |         ELSE [{'prev': w[i], 'nxt': w[i+1]} for i in range(1, len(w))]
           |       END) AS s
           |       FROM t),
           |b AS (SELECT doc_id, s.prev AS prev, s.nxt AS nxt FROM pr),
           |pc AS (SELECT prev, nxt, count(*) AS cnt FROM b GROUP BY 1, 2),
           |lm AS (SELECT prev, nxt,
           |   CAST(floor(ln(CAST(cnt AS DOUBLE) /
           |     CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE)) * 1000000.0)
           |     AS BIGINT) AS lnp_e6
           |  FROM pc),
           |d AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |        CAST(sum(lm.lnp_e6) AS BIGINT) AS sum_lnp_e6
           |      FROM b JOIN lm ON b.prev = lm.prev AND b.nxt = lm.nxt
           |      GROUP BY b.doc_id)
           |SELECT doc_id, n_bigrams, sum_lnp_e6,
           | CAST(floor(CAST(sum_lnp_e6 AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
           |   AS avg_lnp_e6
           |FROM d ORDER BY doc_id""".stripMargin,

      "q92_zipf" ->
        s"""WITH t AS (SELECT unnest($toksSql) AS term FROM documents),
           |tf AS (SELECT term, count(*) AS freq FROM t GROUP BY term),
           |r AS (SELECT freq,
           |        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
           |      FROM tf),
           |f AS (SELECT
           |   CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000.0) AS BIGINT) AS x_e4,
           |   CAST(floor(ln(CAST(freq AS DOUBLE)) * 10000.0) AS BIGINT) AS y_e4
           |  FROM r WHERE rank <= 100),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
           |        CAST(sum(x_e4) AS BIGINT) AS sx, CAST(sum(y_e4) AS BIGINT) AS sy,
           |        CAST(sum(x_e4 * y_e4) AS BIGINT) AS sxy,
           |        CAST(sum(x_e4 * x_e4) AS BIGINT) AS sxx
           |      FROM f)
           |SELECT n_terms,
           | CASE WHEN n_terms * sxx - sx * sx = 0 THEN NULL
           |      ELSE CAST(floor(CAST(n_terms * sxy - sx * sy AS DOUBLE) * 10000.0
           |            / CAST(n_terms * sxx - sx * sx AS DOUBLE)) AS BIGINT)
           | END AS slope_bp
           |FROM a""".stripMargin,

      "q97_lang_purity" -> {
        val hitCols = langMarkers.map { case (code, words) =>
          s"${hitSql(words)} AS h_$code"
        }.mkString(",\n        ")
        val structs = langMarkers.map { case (code, _) =>
          s"{'nh': -h_$code, 'code': '$code'}"
        }.mkString(", ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |h AS (SELECT doc_id,
           |        $hitCols
           |      FROM t),
           |s AS (SELECT doc_id, list_sort([$structs]) AS l FROM h),
           |p AS (SELECT doc_id,
           |        CAST(-l[1].nh AS BIGINT) AS top_hits,
           |        CAST(-l[2].nh AS BIGINT) AS second_hits,
           |        CASE WHEN -l[1].nh = 0 THEN 'und' ELSE l[1].code END AS top_lang
           |      FROM s),
           |q AS (SELECT doc_id, top_lang, top_hits, second_hits,
           |        CASE WHEN top_hits + second_hits = 0 THEN CAST(10000 AS BIGINT)
           |             ELSE (top_hits * 10000) // (top_hits + second_hits)
           |        END AS purity_bp
           |      FROM p)
           |SELECT doc_id, top_lang, top_hits, second_hits, purity_bp,
           | CAST(CASE WHEN purity_bp < 8000 THEN 1 ELSE 0 END AS BIGINT) AS mixed
           |FROM q ORDER BY doc_id""".stripMargin
      },

      "q94_vocab_coverage" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |ex AS (SELECT doc_id, unnest(w) AS term FROM t),
           |tf AS (SELECT term, count(*) AS freq FROM ex GROUP BY term),
           |v AS (SELECT term FROM tf
           |      QUALIFY row_number() OVER (ORDER BY freq DESC, term) <= 30),
           |h AS (SELECT ex.doc_id, CAST(count(v.term) AS BIGINT) AS n_in_vocab
           |      FROM ex LEFT JOIN v ON ex.term = v.term GROUP BY ex.doc_id),
           |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t)
           |SELECT d.doc_id, d.n_tokens,
           | d.n_tokens - coalesce(h.n_in_vocab, 0) AS n_oov,
           | CASE WHEN d.n_tokens = 0 THEN CAST(0 AS BIGINT)
           |      ELSE ((d.n_tokens - coalesce(h.n_in_vocab, 0)) * 10000) // d.n_tokens
           | END AS oov_bp
           |FROM d LEFT JOIN h ON d.doc_id = h.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      "q95_char_entropy" ->
        s"""WITH c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
           |             unnest(regexp_extract_all(text, '[\\s\\S]')) AS ch
           |           FROM documents),
           |g AS (SELECT doc_id, len, ch, count(*) AS cnt FROM c GROUP BY 1, 2, 3),
           |t AS (SELECT doc_id, len, CAST(count(*) AS BIGINT) AS n_char_classes,
           |        CAST(-sum(CAST(floor(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)
           |          * ln(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE))
           |          * 1000000000.0) AS BIGINT)) AS BIGINT) AS entropy_e9
           |      FROM g GROUP BY doc_id, len)
           |SELECT d.doc_id, coalesce(t.len, 0) AS n_chars,
           |       coalesce(t.n_char_classes, 0) AS n_char_classes,
           |       coalesce(t.entropy_e9, 0) AS entropy_e9
           |FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      "q88_len_histogram" ->
        s"""WITH t AS (SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents)
           |SELECT least(n // 10, 12) AS bucket, count(*) AS n_docs,
           | min(n) AS min_tokens, max(n) AS max_tokens
           |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin,

      "q34_shingles" ->
        s"""WITH t AS (SELECT doc_id, ${"CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(lower(trim(text)), '\\s+') END"} AS w FROM documents),
           |u AS (SELECT doc_id,
           |  CASE WHEN len(w) < 3 THEN []
           |       ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
           |  END AS sh
           | FROM t)
           |SELECT doc_id,
           | CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles,
           | CASE WHEN len(sh) = 0 THEN NULL
           |      ELSE list_min(list_transform(list_distinct(sh),
           |             s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) END AS min_shingle_hash
           |FROM u ORDER BY doc_id""".stripMargin,

      "q156_jsd" ->
        s"""WITH t AS (SELECT source, $toksSql AS w FROM documents),
           |tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
           |       FROM (SELECT source, unnest(w) AS tok FROM t) GROUP BY 1, 2),
           |corpus AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS ccnt FROM tf GROUP BY tok),
           |vocab AS (SELECT tok, ccnt FROM corpus
           |          QUALIFY row_number() OVER (ORDER BY ccnt DESC, tok) <= 50),
           |vt AS (SELECT CAST(sum(ccnt) AS BIGINT) AS vtot FROM vocab),
           |stf AS (SELECT tf.source, tf.tok, tf.cnt FROM tf JOIN vocab USING (tok)),
           |st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS stot FROM stf
           |       GROUP BY source HAVING sum(cnt) > 0),
           |g AS (SELECT st.source, st.stot, v.tok, v.ccnt,
           |        CAST(coalesce(sf.cnt, 0) AS BIGINT) AS scnt, vt.vtot
           |      FROM st CROSS JOIN vocab v
           |      LEFT JOIN stf sf ON sf.source = st.source AND sf.tok = v.tok
           |      CROSS JOIN vt)
           |SELECT source, stot,
           | CAST(sum(CASE WHEN scnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_hit,
           | CAST(sum($JsdTermE9Sql) AS BIGINT) AS jsd_e9
           |FROM g GROUP BY source, stot ORDER BY source""".stripMargin,

      "q157_readability" ->
        s"""WITH c AS (SELECT doc_id,
           |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
           |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sents,
           |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
           |  FROM documents)
           |SELECT doc_id, n_words, n_sents, n_syll, $FleschE2Sql AS flesch_e2
           |FROM c ORDER BY doc_id""".stripMargin,

      "q200_corpus_scorecard" ->
        s"""WITH t AS (SELECT text, lang, source, $toksSql AS w FROM documents),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |        CAST(sum(len(w)) AS BIGINT) AS n_tokens,
           |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |        CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS BIGINT)
           |          AS exact_dup_docs,
           |        CAST(sum(CASE WHEN len(w) = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |          AS empty_docs
           |      FROM t)
           |SELECT metric, CAST(value AS BIGINT) AS value FROM (
           |  SELECT 'empty_docs' AS metric, empty_docs AS value FROM a
           |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM a
           |  UNION ALL SELECT 'mean_tokens_e2', (n_tokens * 100) // n_docs FROM a
           |  UNION ALL SELECT 'n_docs', n_docs FROM a
           |  UNION ALL SELECT 'n_langs', n_langs FROM a
           |  UNION ALL SELECT 'n_sources', n_sources FROM a
           |  UNION ALL SELECT 'n_tokens', n_tokens FROM a)
           |ORDER BY metric""".stripMargin,

      "q184_phrase_search" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |post AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.tok AS tok
           |         FROM (SELECT doc_id, unnest([{'pos': i, 'tok': w[i]}
           |                 for i in range(1, len(w) + 1)]) AS s FROM t)),
           |tri AS (SELECT unnest(CASE WHEN len(w) < 3 THEN []
           |          ELSE [{'t1': w[i], 't2': w[i+1], 't3': w[i+2]}
           |                for i in range(1, len(w) - 1)]
           |        END) AS s FROM t),
           |tc AS (SELECT s.t1 AS t1, s.t2 AS t2, s.t3 AS t3, count(*) AS cnt
           |       FROM tri GROUP BY 1, 2, 3),
           |top AS (SELECT t1, t2, t3 FROM tc
           |        QUALIFY row_number() OVER (ORDER BY cnt DESC, t1, t2, t3) = 1),
           |hit AS (SELECT p1.doc_id, count(*) AS n_hits
           |        FROM post p1 JOIN top ON p1.tok = top.t1
           |        JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
           |          AND p2.tok = top.t2
           |        JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
           |          AND p3.tok = top.t3
           |        GROUP BY 1)
           |SELECT h.doc_id, concat_ws(' ', top.t1, top.t2, top.t3) AS phrase,
           |  CAST(h.n_hits AS BIGINT) AS n_hits
           |FROM hit h, top ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

      "q185_naive_bayes" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS w FROM documents),
           |ex AS (SELECT doc_id, lang, unnest(w) AS t FROM t),
           |dfx AS (SELECT t, count(DISTINCT doc_id) AS df FROM ex GROUP BY t),
           |voc AS (SELECT t FROM dfx
           |        QUALIFY row_number() OVER (ORDER BY df DESC, t) <= 50),
           |pr AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           |       FROM documents GROUP BY lang),
           |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM pr),
           |pri AS (SELECT lang AS lang_c,
           |          CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
           |            * 1000000.0) AS BIGINT) AS prior_e6
           |        FROM pr, tot),
           |cnt AS (SELECT lang AS lang_c, ex.t, CAST(count(*) AS BIGINT) AS cnt
           |        FROM ex JOIN voc ON ex.t = voc.t GROUP BY 1, 2),
           |lmg AS (SELECT g.lang_c, g.t, coalesce(c.cnt, 0) AS cnt
           |        FROM (SELECT p.lang_c, v.t FROM pri p CROSS JOIN voc v) g
           |        LEFT JOIN cnt c ON g.lang_c = c.lang_c AND g.t = c.t),
           |lm AS (SELECT lang_c, t,
           |         CAST(floor(ln(CAST(cnt + 1 AS DOUBLE)
           |           / CAST(sum(cnt) OVER (PARTITION BY lang_c) + 50 AS DOUBLE))
           |           * 1000000.0) AS BIGINT) AS lnp_e6
           |       FROM lmg),
           |dtc AS (SELECT doc_id, ex.t, CAST(count(*) AS BIGINT) AS c
           |        FROM ex JOIN voc ON ex.t = voc.t GROUP BY 1, 2),
           |ll AS (SELECT doc_id, lang_c, CAST(sum(c * lnp_e6) AS BIGINT) AS ll
           |       FROM dtc JOIN lm ON dtc.t = lm.t GROUP BY 1, 2),
           |sc AS (SELECT d.doc_id, d.lang, p.lang_c,
           |         coalesce(l.ll, 0) + p.prior_e6 AS score
           |       FROM documents d CROSS JOIN pri p
           |       LEFT JOIN ll l ON l.doc_id = d.doc_id AND l.lang_c = p.lang_c),
           |pd AS (SELECT doc_id, lang, lang_c FROM sc
           |       QUALIFY row_number() OVER (PARTITION BY doc_id
           |                                  ORDER BY score DESC, lang_c) = 1)
           |SELECT lang AS actual, lang_c AS pred, CAST(count(*) AS BIGINT) AS n
           |FROM pd GROUP BY 1, 2 ORDER BY actual, pred""".stripMargin,

      "q217_rrf" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           |       FROM (SELECT doc_id, unnest(w) AS t FROM t)
           |       GROUP BY doc_id, t),
           |top AS (SELECT t AS qterm FROM tf GROUP BY t
           |        ORDER BY sum(tf) DESC, t LIMIT 1),
           |hits AS (SELECT doc_id, tf FROM tf JOIN top ON tf.t = top.qterm),
           |r AS (SELECT doc_id, tf,
           |        CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
           |          AS rank_tf,
           |        CAST(row_number() OVER (ORDER BY doc_id DESC) AS BIGINT)
           |          AS rank_fresh
           |      FROM hits)
           |SELECT doc_id, tf, rank_tf, rank_fresh,
           |  CAST(1000000000 // (60 + rank_tf)
           |     + 1000000000 // (60 + rank_fresh) AS BIGINT) AS rrf_e9
           |FROM r ORDER BY rrf_e9 DESC, doc_id LIMIT 20""".stripMargin,

      "q218_log_odds" ->
        s"""WITH t AS (SELECT lang, $toksSql AS w FROM documents),
           |ex AS (SELECT lang, unnest(w) AS t FROM t),
           |tc AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY t),
           |voc AS (SELECT t, n AS y_w FROM tc
           |        QUALIFY row_number() OVER (ORDER BY n DESC, t) <= 50),
           |langs AS (SELECT DISTINCT lang FROM ex),
           |cnt AS (SELECT lang, ex.t, CAST(count(*) AS BIGINT) AS y
           |        FROM ex JOIN voc ON ex.t = voc.t GROUP BY lang, ex.t),
           |grid AS (SELECT l.lang, v.t, v.y_w, coalesce(c.y, 0) AS y
           |         FROM langs l CROSS JOIN voc v
           |         LEFT JOIN cnt c ON c.lang = l.lang AND c.t = v.t),
           |g2 AS (SELECT lang, t, y_w, y,
           |         sum(y) OVER (PARTITION BY lang) AS ni,
           |         sum(y) OVER () AS nt
           |       FROM grid),
           |d AS (SELECT lang, t, y,
           |        CAST(floor((ln(CAST(y + 1 AS DOUBLE)
           |            / CAST(ni + 50 - y - 1 AS DOUBLE))
           |          - ln(CAST(y_w - y + 1 AS DOUBLE)
           |            / CAST(nt - ni + 50 - (y_w - y) - 1 AS DOUBLE)))
           |          * 1000000.0) AS BIGINT) AS delta_e6
           |      FROM g2),
           |rk AS (SELECT lang, t AS term, y, delta_e6,
           |         CAST(row_number() OVER (PARTITION BY lang
           |                 ORDER BY delta_e6 DESC, t) AS BIGINT) AS rn
           |       FROM d)
           |SELECT lang, term, y, delta_e6, rn FROM rk
           |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin,

      "q227_kwic" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |tok AS (SELECT doc_id, w, CAST(s.pos AS BIGINT) AS pos, s.tok AS t
           |        FROM (SELECT doc_id, w, unnest([{'pos': i, 'tok': w[i]}
           |                for i in range(1, len(w) + 1)]) AS s FROM t)),
           |top AS (SELECT t AS qterm FROM tok GROUP BY t
           |        ORDER BY count(*) DESC, t LIMIT 1),
           |hits AS (SELECT w, pos FROM tok JOIN top ON tok.t = top.qterm),
           |ctx AS (SELECT array_to_string(
           |          w[greatest(pos - 3, 1) : least(pos + 3, len(w))], ' ')
           |          AS context
           |        FROM hits)
           |SELECT context, CAST(count(*) AS BIGINT) AS n_occurrences
           |FROM ctx GROUP BY context
           |ORDER BY n_occurrences DESC, context LIMIT 15""".stripMargin,

      "q231_novelty" ->
        """WITH tk AS (SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN []
          |       ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
          | FROM documents),
          |sh AS (SELECT doc_id,
          |  CASE WHEN len(t) < 3 THEN []
          |       ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          |                           for i in range(1, len(t) - 1)]) END AS w
          | FROM tk),
          |g AS (SELECT doc_id,
          |        ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS h
          |      FROM (SELECT doc_id, unnest(w) AS g FROM sh)),
          |fc AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h),
          |nd AS (SELECT count(*) AS n FROM documents),
          |j AS (SELECT g.doc_id, g.h, fc.first_doc,
          |        least(g.doc_id * 10 // nd.n, 9) AS decile
          |      FROM g JOIN fc ON g.h = fc.h CROSS JOIN nd)
          |SELECT CAST(decile AS BIGINT) AS decile,
          |  CAST(count(*) AS BIGINT) AS n_grams,
          |  CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_new,
          |  CAST((sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 10000)
          |    // count(*) AS BIGINT) AS novelty_bp
          |FROM j GROUP BY decile ORDER BY decile""".stripMargin,

      "q232_heaps_curve" ->
        """WITH tk AS (SELECT doc_id,
          |  CASE WHEN length(trim(text)) = 0 THEN []
          |       ELSE string_split_regex(lower(trim(text)), '\s+') END AS t
          | FROM documents),
          |sh AS (SELECT doc_id,
          |  CASE WHEN len(t) < 3 THEN []
          |       ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          |                           for i in range(1, len(t) - 1)]) END AS w
          | FROM tk),
          |g AS (SELECT doc_id,
          |        ('0x' || substr(md5(g), 1, 8))::BIGINT % 2147483647 AS h
          |      FROM (SELECT doc_id, unnest(w) AS g FROM sh)),
          |fc AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h),
          |nd AS (SELECT count(*) AS n FROM documents),
          |pd AS (SELECT least(first_doc * 10 // nd.n, 9) AS decile,
          |         CAST(count(*) AS BIGINT) AS new_vocab
          |       FROM fc CROSS JOIN nd GROUP BY 1)
          |SELECT CAST(decile AS BIGINT) AS decile, new_vocab,
          |  CAST(sum(new_vocab) OVER (ORDER BY decile
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |    AS cum_vocab
          |FROM pd ORDER BY decile""".stripMargin,

      // width/stride integer math is shared verbatim; DuckDB list slices
      // are inclusive-inclusive 1-based, so w[s+1 : s+64] ≡ Spark
      // slice(w, s+1, 64). The comprehension-unnest sits in a subquery
      // SELECT per the established struct-unnest discipline.
      "q243_chunk_windows" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |c AS (SELECT doc_id, w,
           |      1 + (greatest(0, len(w) - 64) + 47) // 48 AS nc
           |      FROM t WHERE len(w) > 0),
           |e AS (SELECT doc_id, w,
           |        unnest([{'ci': i} for i in range(0, nc)]) AS s FROM c)
           |SELECT doc_id, CAST(s.ci AS BIGINT) AS chunk_idx,
           |  CAST(s.ci * 48 AS BIGINT) AS tok_start,
           |  CAST(len(w[s.ci*48+1 : s.ci*48+64]) AS BIGINT) AS n_tok,
           |  md5(array_to_string(w[s.ci*48+1 : s.ci*48+64], ' ')) AS digest
           |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

      "q298_ppl_buckets" ->
        s"""$lmLangCtesSql,
           |r AS (SELECT doc_id, lang, avg_lnp_e6,
           |   CAST(row_number() OVER (PARTITION BY lang
           |                           ORDER BY avg_lnp_e6 DESC, doc_id) AS BIGINT) AS rk,
           |   CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
           |  FROM sc)
           |SELECT doc_id, lang, avg_lnp_e6, rk,
           |  CASE WHEN rk <= (n_lang + 2) // 3 THEN 'head'
           |       WHEN rk <= (2 * n_lang + 2) // 3 THEN 'middle'
           |       ELSE 'tail' END AS ppl_bucket
           |FROM r ORDER BY doc_id""".stripMargin,

      // q302: the shared sc chain, then cutoffs from the distinct-score
      // histogram (no document ever ranked) and a score-pure assignment
      "q302_ppl_cutoffs" ->
        s"""$lmLangCtesSql,
           |cn AS (SELECT lang, avg_lnp_e6, CAST(count(*) AS BIGINT) AS cnt
           |       FROM sc GROUP BY 1, 2),
           |cm AS (SELECT lang, avg_lnp_e6,
           |         sum(cnt) OVER (PARTITION BY lang ORDER BY avg_lnp_e6 DESC) AS cum,
           |         sum(cnt) OVER (PARTITION BY lang) AS n
           |       FROM cn),
           |cuts AS (SELECT lang,
           |    CAST(max(CASE WHEN cum >= (n + 2) // 3 THEN avg_lnp_e6 END) AS BIGINT)
           |      AS cut_head_e6,
           |    CAST(max(CASE WHEN cum >= (2 * n + 2) // 3 THEN avg_lnp_e6 END) AS BIGINT)
           |      AS cut_mid_e6
           |  FROM cm GROUP BY lang)
           |SELECT doc_id, lang, avg_lnp_e6, cut_head_e6, cut_mid_e6,
           |  CASE WHEN avg_lnp_e6 >= cut_head_e6 THEN 'head'
           |       WHEN avg_lnp_e6 >= cut_mid_e6 THEN 'middle'
           |       ELSE 'tail' END AS ppl_bucket
           |FROM sc JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin
    )
    // the native-aggregate form computes the identical registers — the
    // q126 oracle verifies both pipelines; the incremental postings state
    // must answer exactly like q109's full re-scan, so its oracle IS
    // q109's SQL — the equivalence is the gate
    m + ("q190_hll_native" -> m("q126_hll")) +
      ("q280_incr_bm25" -> m("q109_bm25")) +
      // takedown: the oracle is the from-scratch survivor index — q109's
      // SQL over the documents that were not retracted
      ("q281_bm25_takedown" -> m("q109_bm25")
        .replace("FROM documents", "FROM documents WHERE doc_id % 3 <> 2"))
  }
}
