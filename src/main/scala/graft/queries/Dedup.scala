package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graft.TextHashes
import graft.Tables
import graft.operators.AnnIndex

/** Deduplication operators over `documents` — exact, n-gram Jaccard
  * (quadratic baseline), MinHash+LSH (the scale path), and SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup = hash-groupBy on a 128-bit digest: one shuffle keyed by
  *    the digest, perfectly partition-parallel;
  *  - the Jaccard baseline is O(n²) and exists only as the verification
  *    oracle for LSH candidates — it runs on a bounded sample
  *    (doc_id < 500) with a size-ratio prefilter;
  *  - MinHash+LSH is linear: signature computation is per-row (no shuffle),
  *    candidate generation is a shuffle keyed by (band, bucket-hash), so
  *    only near-duplicate candidates ever meet. Band buckets are the skew
  *    hazard at scale — a degenerate bucket (e.g. empty docs) would need
  *    salting or a bucket-size cap before the pair join;
  *  - SimHash is per-row (no shuffle), pairing by fingerprint is a
  *    band-rotation join (not materialized here).
  *
  * Token hashes are md5-based (`conv(substr(md5(tok),1,8),16,10)`) so the
  * DuckDB oracle can reproduce them bit-for-bit — both engines share md5.
  */
object Dedup {

  // --- MinHash parameters: k permutations (a*h + b) mod p over 31-bit token
  // hashes; 4 bands × 4 rows. Constants generated deterministically below and
  // interpolated into BOTH the Spark expressions and the oracle SQL.
  private[queries] val P = 2147483647L // 2^31 - 1 (products stay < 2^62)
  private[queries] val K = 16
  private val BANDS = 4
  private val ROWS = K / BANDS
  private[queries] val AB: Seq[(Long, Long)] = (0 until K).map { i =>
    val a = (1103515245L * (i + 1)) % (P - 1) + 1
    val b = (12345L + 1000000007L * i) % P
    (a, b)
  }

  private def toks(c: Column): Column = array_distinct(TrainPrep.rawToks(c))

  /** q175's degree-assortativity Pearson r x 1e4, shared VERBATIM with the
    * oracle (the q148 formula over exact BIGINT power sums; degenerate
    * graphs — no edges or constant degree — report 0). private[queries]:
    * q175 lives in [[Graph]] since the r15 file split. */
  private[queries] val AssortE4Sql: String =
    """CASE WHEN n = 0 OR (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
      |     THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(
      |   CAST(n * sxy - sx * sy AS DOUBLE) * 10000.0
      |   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT) END""".stripMargin

  // ---- shared oracle SQL fragments (object-level since the r15 split:
  // [[Graph]]'s oracles interpolate the same pair chain, so the fragments
  // must be single-sourced — a drifted copy would silently fork the
  // verified pair semantics between the two files) --------------------------

  /** DuckDB token hash, the SQL twin of [[tokHash]]. */
  private[queries] val TokHashSql =
    "('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647"

  /** Distinct 3-word shingle set, mirroring shingleSet (CTEs tk -> sh).
    * Parametrized by the source relation (r16): q303 runs the identical
    * chain over a derived paragraph relation — the fragment must stay
    * single-sourced or the pair semantics fork. The `documents` instance
    * is byte-identical to the pre-r16 literal (oracle_sql.json diffed). */
  private[queries] def shinglesSqlFrom(src: String): String =
    s"""tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
       | FROM $src),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(t) < 3 THEN []
       |       ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                           for i in range(1, len(t) - 1)]) END AS w
       | FROM tk)""".stripMargin

  private[queries] val ShinglesSql = shinglesSqlFrom("documents")

  /** Shared MinHash SQL pieces: per-permutation signature minima and the
    * per-band bucket keys (used by the pair chain below AND the
    * incremental-probe oracles q244/q275/q279). */
  private[queries] lazy val SigExprsSql: Seq[String] =
    AB.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(h, x -> (${a} * x + ${b}) % 2147483647)) AS m$i"
    }
  private[queries] lazy val BandSelectsSql: Seq[String] =
    (0 until BANDS).map { bi =>
      def cat(b: Int) =
        (0 until ROWS).map(r => s"m${b * ROWS + r}").mkString(" || ',' || ")
      // bh2 = the NEXT band's hash — the tiered cap's secondary bucket key
      s"SELECT doc_id, w, $bi AS bi, md5(${cat(bi)}) AS bh, " +
        s"md5(${cat((bi + 1) % BANDS)}) AS bh2 FROM sig"
    }

  /** The full MinHash→bands→capped-buckets→Jaccard-verified pair set (the
    * q37 pipeline) as a reusable CTE chain ending in pr(d1, d2, jacc) —
    * shared by the q37/q291 oracles here and every [[Graph]] oracle's
    * transitive structure over it. */
  private[queries] def lshPairCtesFrom(src: String): String =
    s"""${shinglesSqlFrom(src)},
       |hs AS (SELECT doc_id, w, list_transform(w, t -> $TokHashSql) AS h
       |       FROM sh WHERE len(w) > 0),
       |sig AS (SELECT doc_id, w, ${SigExprsSql.mkString(", ")} FROM hs),
       |b0 AS (SELECT doc_id, bi, bh, bh2,
       |         count(*) OVER (PARTITION BY bi, bh) AS bsz
       |       FROM (${BandSelectsSql.mkString(" UNION ALL ")})),
       |bsmall AS (SELECT doc_id, bi, bh FROM b0 WHERE bsz <= $LshBucketCap),
       |bbig AS (SELECT doc_id, bi, bh, bh2 FROM b0 WHERE bsz > $LshBucketCap
       |         QUALIFY count(*) OVER (PARTITION BY bi, bh, bh2) <= $LshBucketCap),
       |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bsmall a JOIN bsmall b
       |           ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
       |         UNION
       |         SELECT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bbig a JOIN bbig b
       |           ON a.bi = b.bi AND a.bh = b.bh AND a.bh2 = b.bh2
       |          AND a.doc_id < b.doc_id),
       |hd AS (SELECT doc_id, list_distinct(h) AS hs, len(list_distinct(h)) AS sz FROM hs),
       |j AS (SELECT d1, d2, len(list_intersect(x.hs, y.hs)) AS i,
       |             x.sz AS sz1, y.sz AS sz2
       | FROM cand JOIN hd x ON cand.d1 = x.doc_id JOIN hd y ON cand.d2 = y.doc_id),
       |pr AS (SELECT d1, d2,
       |  round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) AS jacc
       | FROM j
       | WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) >= 0.7)""".stripMargin

  private[queries] lazy val LshPairCtesSql: String = lshPairCtesFrom("documents")

  /** The q303/q305 paragraph relation as a CTE chain ending in
    * paras(src_doc, doc_id = pid, text) — the SQL twin of [[paraDups]]'s
    * paragraph build, single-sourced across the paragraph oracles
    * (parametrized by source relation since r17: q310 runs the identical
    * chain over a derived boundary-bearing corpus). Blank-line docs
    * split on the real boundary (normalized like the Spark side: lower +
    * whitespace collapse); the rest fall back to ParaW-token blocks. The
    * pid stride mirrors [[ParaIdScale]]; DuckDB needs no overflow guard —
    * the guard is a Spark-side fail-loud, identity on in-range data. */
  private[queries] def paraCtesFrom(src: String): String =
    s"""bp0 AS (SELECT doc_id,
       |    list_filter([regexp_replace(lower(trim(p)), '\\s+', ' ', 'g')
       |                 for p in string_split_regex(text, '\\n\\s*\\n')],
       |                p -> len(p) > 0) AS ps
       |  FROM $src WHERE regexp_matches(text, '\\n\\s*\\n')),
       |bd AS (SELECT doc_id, s.pi AS pi, s.t AS text
       |  FROM (SELECT doc_id,
       |          unnest([{'pi': i, 't': ps[i+1]} for i in range(0, len(ps))]) AS s
       |        FROM bp0)),
       |tkr AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
       |  FROM $src WHERE NOT regexp_matches(text, '\\n\\s*\\n')),
       |td AS (SELECT doc_id, w, (len(w) + ${ParaW - 1}) // $ParaW AS nc
       |       FROM tkr WHERE len(w) > 0),
       |pex AS (SELECT doc_id, w,
       |    unnest([{'pi': i} for i in range(0, nc)]) AS s
       |  FROM td),
       |blk AS (SELECT doc_id, s.pi AS pi,
       |    array_to_string(w[s.pi*$ParaW+1 : s.pi*$ParaW+$ParaW], ' ') AS text
       |  FROM pex),
       |pall AS (SELECT * FROM bd UNION ALL SELECT * FROM blk),
       |paras AS (SELECT doc_id AS src_doc, doc_id * $ParaIdScale + pi AS doc_id,
       |    text FROM pall)""".stripMargin

  private[queries] lazy val ParaCtesSql: String = paraCtesFrom("documents")

  /** [[paraBoundaryCorpus]]'s SQL twin: the derived delimiter-bearing
    * corpus as a CTE chain ending in pdocs(doc_id, text) — 10-token
    * chunks joined by blank lines for doc_id % 3 = 0, injected full
    * copies of % 11 = 5 docs at + [[ParaCopyOffset]]. DuckDB needs no
    * range guard — the Spark-side assert_true is identity on in-range
    * data. Shared verbatim by the q310 and q313 oracles. */
  private[queries] lazy val ParaBoundaryCorpusCtesSql: String =
    s"""w0 AS (SELECT doc_id, text,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
       |  FROM documents),
       |d0 AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN
       |      CASE WHEN len(w) = 0 THEN ''
       |           ELSE array_to_string(
       |             [array_to_string(w[i*10+1 : i*10+10], ' ')
       |              for i in range(0, (len(w) + 9) // 10)],
       |             chr(10) || chr(10)) END
       |    ELSE text END AS text
       |  FROM w0),
       |pdocs AS (SELECT doc_id, text FROM d0
       |          UNION ALL
       |          SELECT doc_id + $ParaCopyOffset AS doc_id, text FROM d0
       |          WHERE doc_id % 11 = 5)""".stripMargin

  /** The q303 roll-up over the pair chain's `pr` and the paragraph
    * relation `paras`: cross-document keep-first dup set, per-source-doc
    * integer fractions, drop/trim/keep verdicts — shared verbatim by the
    * q303 and q310 oracles (the boundary-gated q310 runs the identical
    * roll-up over its derived corpus). */
  private[queries] lazy val ParaRollupSql: String =
    s"""cpr AS (SELECT d1, d2 FROM pr
       |        WHERE d1 // $ParaIdScale <> d2 // $ParaIdScale),
       |dup AS (SELECT DISTINCT d2 AS pid FROM cpr),
       |np AS (SELECT src_doc, CAST(count(*) AS BIGINT) AS n_paras
       |       FROM paras GROUP BY 1),
       |nd AS (SELECT src_doc, CAST(count(*) AS BIGINT) AS ndp FROM paras
       |       JOIN dup ON paras.doc_id = dup.pid GROUP BY 1)
       |SELECT np.src_doc AS doc_id, np.n_paras,
       |  CAST(coalesce(nd.ndp, 0) AS BIGINT) AS n_dup_paras,
       |  CAST((coalesce(nd.ndp, 0) * 10000) // np.n_paras AS BIGINT) AS dup_bp,
       |  CASE WHEN (coalesce(nd.ndp, 0) * 10000) // np.n_paras >= 5000 THEN 'drop'
       |       WHEN (coalesce(nd.ndp, 0) * 10000) // np.n_paras >= 2000 THEN 'trim'
       |       ELSE 'keep' END AS verdict
       |FROM np LEFT JOIN nd USING (src_doc) ORDER BY doc_id""".stripMargin

  /** The digest keep-first chain + ledger over a `paras` CTE — the tail
    * every exact-paragraph oracle shares (q311/q312 over the raw fixture,
    * q313 over the derived boundary corpus, q314 over survivors). */
  private[queries] lazy val ParaExactChainSql: String =
    s"""dg AS (SELECT src_doc, doc_id AS pid, text, md5(text) AS dig
       |       FROM paras),
       |kp AS (SELECT dig, min(pid) AS keep_pid FROM dg GROUP BY dig),
       |mk AS (SELECT src_doc, pid, text,
       |         CASE WHEN pid <> keep_pid THEN 1 ELSE 0 END AS d,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |       FROM dg JOIN kp USING (dig))
       |$ParaLedgerSelectSql""".stripMargin

  /** The exact paragraph keep-first chain + ledger — q311's oracle,
    * reused verbatim by q312 (whose standing-state min(pid) per digest
    * must equal this from-scratch map). */
  private[queries] lazy val ParaExactSql: String =
    s"""WITH $ParaCtesSql,
       |$ParaExactChainSql""".stripMargin

  /** The retention-ledger SELECT over a marked paragraph CTE
    * mk(src_doc, pid, text, d, nt) — [[paraLedger]]'s SQL twin, shared
    * verbatim by the q305 and q311 oracles. string_agg skips the dropped
    * NULLs = Spark's filter-then-concat_ws; coalesce('') makes a
    * fully-dropped doc digest md5("") on both engines. */
  private[queries] lazy val ParaLedgerSelectSql: String =
    """SELECT src_doc AS doc_id,
      |  CAST(count(*) AS BIGINT) AS n_paras,
      |  CAST(sum(d) AS BIGINT) AS n_dropped,
      |  CAST(sum(nt) AS BIGINT) AS tokens_in,
      |  CAST(sum(CASE WHEN d = 0 THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept,
      |  CAST((sum(CASE WHEN d = 0 THEN nt ELSE 0 END) * 10000) // sum(nt)
      |       AS BIGINT) AS kept_bp,
      |  md5(coalesce(string_agg(CASE WHEN d = 0 THEN text END, ' '
      |                          ORDER BY pid), '')) AS kept_digest
      |FROM mk GROUP BY src_doc ORDER BY doc_id""".stripMargin

  /** 31-bit md5-based token hash, identical in Spark and DuckDB. */
  private[queries] def tokHash(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long") % P

  /** q287/q288's span width and the shared positional-window build: one
    * (doc_id, pos, h) row per 12-token window, 1-based positions matching
    * the oracle's range(1, len(w) - 10). Single-sourced — the two
    * span queries (and their gram12Cat oracle fragment) must stay in
    * lockstep on the window construction. */
  private val SpanW = 12
  private def spanWindows(docs: DataFrame): DataFrame = {
    // the 12-token window hash as ONE native pass
    // (TextHashes.hashed_ngrams_seq) — bit-parity incl. positions with the
    // chained zip_with concat + tokHash form pinned in TextHashesSpec
    docs
      .withColumn("w", TrainPrep.rawToks(col("text")))
      .filter(size(col("w")) >= SpanW)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.TextHashes.hashed_ngrams_seq(
          col("w"), SpanW, P)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
  }

  /** q303's fallback paragraph width: 16-token blocks, ragged last. */
  private[graft] val ParaW = 16

  /** q303/q305's pid stride: pid = doc_id * 2^20 + paragraph index. 2^20
    * paragraphs/doc ≈ 16.7M tokens at ParaW=16 — beyond it the encoding
    * would bleed into the next doc's range, so paraDups raises rather than
    * silently mislabeling (the r16 `weak`: a 1000 stride overflows at a
    * routine 16k tokens). doc_id must stay under 2^42 so pid fits a Long. */
  private[graft] val ParaIdScale: Long = 1L << 20
  private[graft] val MaxParaDocId: Long = 1L << 42

  /** Real paragraph boundary: a blank line (single newlines are
    * intra-paragraph whitespace). Docs carrying one split on it; docs
    * without (the fixtures — no newlines at any SF) fall back to
    * deterministic ParaW-token blocks. */
  private[graft] val ParaSepRe = "\\n\\s*\\n"

  /** q304's occurrence cap: a window hash with more corpus occurrences
    * than this is boilerplate (q287's flag owns it) and never pairs — the
    * pair mass stays <= cap² per hash, the one quadratic term. */
  private[graft] val SpanOccCap = 32

  /** q310/q313's injected-copy id offset. 2^40 (not the r17 1e6 — ADVICE:
    * a scale-tier base doc_id >= 1e6 would collide with an injected
    * copy's id, silently merging two docs' paragraph ledgers identically
    * in both engines): base ids are guarded < 2^40 by a fail-loud
    * assert_true riding inside the copy-id projection, and copies land at
    * < 2^41, safely under [[MaxParaDocId]] = 2^42. */
  private[graft] val ParaCopyOffset: Long = 1L << 40

  /** q303/q305 shared machinery: the pinned paragraph relation
    * (src_doc, doc_id = pid, text) and the duplicated-pid set
    * (keep-first: of a cross-doc near-dup pair only the LATER doc's copy
    * counts — pair order d1 < d2 is doc-then-position order under the pid
    * encoding, the q35 discipline). Paragraphs come from real blank-line
    * boundaries when the doc has any ([[ParaSepRe]], text normalized the
    * same way rawToks normalizes — lower + whitespace collapse); docs
    * without fall back to deterministic ParaW-token blocks. The pid
    * encoding is range-GUARDED (assert_true in the projection): a doc
    * with >= 2^20 paragraphs or an id >= 2^42 fails loudly instead of
    * bleeding pids into a neighboring doc's range. Caller must unpersist
    * the returned base after materializing its outputs. */
  /** The paragraph relation (src_doc, doc_id = pid, text) shared by every
    * paragraph query — boundary split with block fallback and the
    * fail-loud pid guard (see [[paraDups]]' scaladoc). Un-checkpointed:
    * callers pin it once before multi-consumer use.
    *
    * Single pass: one projection computes a per-row array
    * — the normalized paragraph list for boundary docs, the raw token
    * list for block-fallback docs — one generator explodes the paragraph
    * indexes, and the text projection branches per paragraph row. `arr`
    * is a generator-child attribute, evaluated once per DOC row
    * (Generate is a projection-collapse barrier — the q310 chunk-lambda
    * recompute cannot happen here). */
  private[graft] def paraRelation(docs: DataFrame): DataFrame = {
    val hasSep = col("text").rlike(ParaSepRe)
    docs
      .select(col("doc_id"), hasSep.as("sep"),
        when(hasSep, filter(
          transform(split(col("text"), ParaSepRe),
            p => regexp_replace(lower(trim(p)), "\\s+", " ")),
          p => length(p) > 0))
          .otherwise(TrainPrep.rawToks(col("text"))).as("arr"))
      .withColumn("np", when(col("sep"), size(col("arr")).cast("long"))
        .otherwise(expr(s"(size(arr) + ${ParaW - 1}) div $ParaW")))
      .filter(col("np") > 0)
      .withColumn("pi", explode(sequence(lit(0L), col("np") - 1)))
      .select(col("doc_id"), col("pi"),
        when(col("sep"), element_at(col("arr"), (col("pi") + 1).cast("int")))
          .otherwise(concat_ws(" ",
            expr(s"slice(arr, CAST(pi * $ParaW + 1 AS INT), $ParaW)")))
          .as("text"))
      // the guard rides INSIDE the pid expression (coalesce of
      // assert_true's null) so column pruning can never drop it; it costs
      // two comparisons per paragraph row
      .select(col("doc_id").as("src_doc"),
        (col("doc_id") * ParaIdScale + col("pi") + coalesce(
          assert_true(col("pi") < ParaIdScale &&
            col("doc_id").between(0L, MaxParaDocId - 1),
            concat(lit("paragraph id out of range: doc_id="),
              col("doc_id").cast("string"), lit(" pi="), col("pi").cast("string"))
          ).cast("long"), lit(0L))).as("doc_id"),
        col("text"))
  }

  /** q310/q313's derived delimiter-bearing corpus: the fixtures carry no
    * newlines, so the blank-line boundary path of [[paraRelation]] would
    * be spec-only at the gate — this rebuilds doc_id % 3 == 0 docs as
    * 10-token chunks joined by blank lines (the rest keep raw text) and
    * injects guaranteed full duplicates (doc_id % 11 == 5 docs copied
    * under id + [[ParaCopyOffset]], same derived text). Both engines
    * derive the same corpus, so the boundary split is hash-checked
    * cross-engine. The copy offset is 2^40 with a fail-loud range guard
    * riding INSIDE the copy-id projection (r17 ADVICE: the old 1e6 offset
    * would collide with a scale-tier base doc_id >= 1e6 — identically in
    * both engines, invisible to the oracle gate). */
  private[graft] def paraBoundaryCorpus(docs: DataFrame): DataFrame = {
    // the chunk rebuild is ONE native pass (TextHashes.chunk_join) — an
    // indexed-transform lambda re-reads the inlined token array per chunk
    // after projection collapse (O(tokens·chunks) re-tokenization per
    // doc). Bit-parity with that HOF form pinned in TextHashesSpec.
    val chunked = org.apache.spark.sql.graft.TextHashes.chunk_join(col("w"), 10, "\n\n")
    val base = docs
      .withColumn("w", TrainPrep.rawToks(col("text")))
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          when(size(col("w")) === 0, lit("")).otherwise(chunked))
          .otherwise(col("text")))
      // the collision guard rides EVERY base doc's id (not just copied
      // ones): any base doc_id >= offset would collide with the copy of
      // (doc_id - offset) — identity on in-range data, pruning-proof
      .select((col("doc_id") + coalesce(
        assert_true(col("doc_id").between(0L, ParaCopyOffset - 1),
          concat(lit("q310 copy id collision: base doc_id="),
            col("doc_id").cast("string"), lit(s" >= offset $ParaCopyOffset"))
        ).cast("long"), lit(0L))).as("doc_id"), col("text"))
    val dups = base.filter(col("doc_id") % 11 === 5)
      .select((col("doc_id") + lit(ParaCopyOffset)).as("doc_id"), col("text"))
    base.unionByName(dups)
  }

  private def paraDups(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val paras = paraRelation(docs)
      .localCheckpoint(eager = true) // consumed by minhash + the roll-ups
    val base = minhashBase(paras.select("doc_id", "text"))
    val pairs = lshPairs(base, LshBucketCap)
      .filter(expr(s"d1 div $ParaIdScale <> d2 div $ParaIdScale")) // cross-DOCUMENT only
    val dupP = pairs.select(col("d2").as("doc_id")).distinct()
    (paras, dupP, base)
  }

  /** q303's body over any (doc_id, text) frame — spec-callable so planted
    * paragraph-dup cases run without fixture I/O. See the queries-map
    * scaladoc for semantics. */
  private[graft] def paraDedup(docs: DataFrame): DataFrame = {
    val (paras, dupP, base) = paraDups(docs)
    val nd = paras.join(dupP, Seq("doc_id"), "left_semi")
      .groupBy("src_doc").agg(count(lit(1)).as("nd"))
    val out = paras.groupBy("src_doc").agg(count(lit(1)).as("n_paras"))
      .join(nd, Seq("src_doc"), "left")
      .select(col("src_doc").as("doc_id"),
        col("n_paras").cast("long").as("n_paras"),
        coalesce(col("nd"), lit(0L)).cast("long").as("n_dup_paras"))
      .withColumn("dup_bp", expr("(n_dup_paras * 10000) div n_paras"))
      .withColumn("verdict",
        when(col("dup_bp") >= 5000, lit("drop"))
          .when(col("dup_bp") >= 2000, lit("trim"))
          .otherwise(lit("keep")))
      .orderBy("doc_id")
      .localCheckpoint(eager = true)
    base.unpersist()
    out
  }

  /** q305's body: the TRANSFORM half of q303 (what q288 is to q287, at
    * paragraph granularity) — duplicated paragraphs are REMOVED and the
    * retention ledger reports tokens in/kept plus an md5 digest of the
    * kept text (paragraphs rejoined in document order), so downstream
    * trainers can verify exactly what content shipped. Keep-first: the
    * earliest copy of every duplicated paragraph survives somewhere in
    * the corpus — trimming never destroys content, it deduplicates it. */
  private[graft] def paraTrim(docs: DataFrame): DataFrame = {
    val (paras, dupP, base) = paraDups(docs)
    val marked = paras
      .join(dupP.withColumn("__dup", lit(1L)), Seq("doc_id"), "left")
      .select(col("src_doc"), col("doc_id").as("pid"), col("text"),
        coalesce(col("__dup"), lit(0L)).as("d"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val out = paraLedger(marked).localCheckpoint(eager = true)
    base.unpersist()
    out
  }

  /** The per-doc retention ledger over a marked paragraph frame
    * (src_doc, pid, text, d = 0|1 dropped, nt tokens) — shared by the
    * near-dup trim (q305) and the exact trim (q311): counts, token
    * retention in integer basis points, and an md5 digest of the KEPT
    * text rejoined in document (pid) order. The per-doc collect_list is
    * bounded by one document's paragraphs (ObjectHashAggregate, measured
    * clean at the 100x tier). */
  private def paraLedger(marked: DataFrame): DataFrame =
    marked.groupBy("src_doc")
      .agg(count(lit(1)).as("n_paras"),
        sum("d").as("n_dropped"),
        sum("nt").as("tokens_in"),
        sum(when(col("d") === 0L, col("nt")).otherwise(0L)).as("tokens_kept"),
        md5(concat_ws(" ",
          transform(
            filter(array_sort(collect_list(struct(col("pid"), col("d"), col("text")))),
              s => s.getField("d") === 0L),
            s => s.getField("text"))).cast("binary")).as("kept_digest"))
      .select(col("src_doc").as("doc_id"),
        col("n_paras").cast("long").as("n_paras"),
        col("n_dropped").cast("long").as("n_dropped"),
        col("tokens_in").cast("long").as("tokens_in"),
        col("tokens_kept").cast("long").as("tokens_kept"),
        expr("(tokens_kept * 10000) div tokens_in").as("kept_bp"),
        col("kept_digest"))
      .orderBy("doc_id")

  /** q311's body: EXACT paragraph dedup — the cheapest, most-deployed
    * curation op (the Dolma/FineWeb shape): paragraphs keyed by their md5
    * digest, keep-first GLOBALLY in pid (doc-then-position) order, so
    * within-doc repeats are removed too (unlike q303/q305's cross-doc
    * near-dup semantics), and no minimum length applies (near-dup needs
    * >= 3 tokens to shingle; a digest matches at any length). One
    * digest-keyed partial-aggregated shuffle + a join back on the same
    * key — the groupBy(min) form, NOT a window min per digest: a
    * boilerplate paragraph with millions of copies folds to one row per
    * map partition instead of buffering a degenerate window group. */
  private[graft] def paraExact(docs: DataFrame): DataFrame = {
    val digested = digestedParas(docs)
    val keep = digested.groupBy("dig").agg(min(col("doc_id")).as("keep_pid"))
    keptLedger(digested, keep).localCheckpoint(eager = true)
  }

  /** The paragraphs of `docs` ([[paraRelation]], pinned) with their md5
    * content digest `dig`. */
  private def digestedParas(docs: DataFrame): DataFrame =
    paraRelation(docs).localCheckpoint(eager = true)
      .withColumn("dig", md5(col("text").cast("binary")))

  /** [[paraLedger]] of digested paragraphs against a keep map (dig,
    * keep_pid): a paragraph is a drop when another pid is its digest's
    * keeper. */
  private def keptLedger(digested: DataFrame, keep: DataFrame): DataFrame =
    paraLedger(digested.join(keep, Seq("dig"))
      .select(col("src_doc"), col("doc_id").as("pid"), col("text"),
        (col("doc_id") =!= col("keep_pid")).cast("long").as("d"),
        size(split(col("text"), " ")).cast("long").as("nt")))

  /** The keep map (dig, keep_pid) of the standing min-pid digest state. */
  private def stateKeep(s: SparkSession, stateDir: String): DataFrame =
    graft.operators.AggState.merged(s, stateDir, Seq("dig"))
      .select(col("dig"), col("min").cast("long").as("keep_pid"))

  /** The digested paragraph relation (src_doc, pid, text, dig) — the unit
    * the PRODUCTION exact-paragraph trim decides over (r18, VERDICT r17
    * task 1: q311/q312 existed only as gate queries; this family wires
    * them into [[graft.streaming.CorpusStream.pipelineBatch]] and
    * [[graft.CorpusMain]]). Same [[paraRelation]] as every paragraph
    * query, digest = md5 of the normalized paragraph text. */
  private[graft] def paraDigested(docs: DataFrame): DataFrame =
    paraRelation(docs)
      .select(col("src_doc"), col("doc_id").as("pid"), col("text"))
      .withColumn("dig", md5(col("text").cast("binary")))

  /** The standing digest map's VALUE column: pid cast to DECIMAL(38,0).
    * pid ≈ doc_id·2^20 reaches 2^57 on wide-id corpora (the 100x
    * fixture's ids hit 9.9e10), and AggState's generic partials keep a
    * SUM — a boilerplate digest with ≳2^6 copies overflows Σlong (caught
    * by the r18 100x tier: ARITHMETIC_OVERFLOW in q312/q314). Decimal
    * partials stay exact to 10^38 (~10^21 copies at pid 2^57), min/max
    * order identically, and readers cast the min back to long. Applies
    * at every AggState boundary of the para digest state (q312, q314,
    * pipelineBatch's fold, Takedown's retraction). */
  private[graft] def pidDecimal(c: Column): Column = c.cast("decimal(38,0)")

  /** The exact-paragraph trim DECISION over a digested frame: d = 1 for
    * every paragraph that is a repeat — of an earlier (min-pid) copy
    * within this frame, or of anything in `seenDigs` (the standing
    * digest state's key set: content the corpus already shipped). The
    * standing rule is first-ARRIVED wins — a later batch's copy trims
    * regardless of pid order, because the state copy already landed —
    * while within one frame the q311 min-pid keep-first applies. Scale:
    * one dig-keyed partial-aggregated shuffle + the same-key join back
    * (q311's skew argument), plus one equi join against the state's key
    * set (delta × state; bucket the state table by dig at deployment —
    * AQE broadcasts it while small). */
  private[graft] def paraExactMark(digested: DataFrame,
      seenDigs: Option[DataFrame]): DataFrame = {
    val frameKeep = digested.groupBy("dig").agg(min(col("pid")).as("__keep"))
    val m = digested.join(frameKeep, Seq("dig"))
      .withColumn("d", (col("pid") =!= col("__keep")).cast("long"))
      .drop("__keep")
    seenDigs.fold(m)(sd =>
      m.join(sd.select("dig").distinct().withColumn("__seen", lit(1L)),
          Seq("dig"), "left")
        .withColumn("d", greatest(col("d"), coalesce(col("__seen"), lit(0L))))
        .drop("__seen"))
  }

  /** Rebuild the trimmed documents from a [[paraExactMark]] decision:
    * docs with NO dropped paragraph pass VERBATIM (no rewrite, no
    * normalization — the common case costs an anti join against the
    * delta-sized touched set); docs that lost paragraphs are rebuilt as
    * their KEPT paragraphs rejoined by a blank line (so a future
    * [[paraRelation]] over the rebuilt text re-derives the same
    * paragraphs — the boundary split is idempotent on normalized
    * paragraphs, and block-fallback docs become boundary docs whose
    * paragraphs are exactly the kept blocks); docs whose every paragraph
    * was a repeat vanish — they carry zero novel content. `docs` may
    * carry any extra columns; only `text` is replaced. The per-doc
    * collect_list is bounded by one document's paragraphs (the
    * paraLedger precedent). */
  private[graft] def paraExactRebuild(marked: DataFrame,
      docs: DataFrame): DataFrame = {
    val touched = marked.filter(col("d") === 1L).select("src_doc").distinct()
    val rebuilt = marked.filter(col("d") === 0L)
      .join(touched, Seq("src_doc"), "left_semi")
      .groupBy("src_doc")
      .agg(concat_ws("\n\n",
        transform(array_sort(collect_list(struct(col("pid"), col("text")))),
          s => s.getField("text"))).as("__text"))
    val untouched =
      docs.join(touched, docs("doc_id") === touched("src_doc"), "left_anti")
    val rewritten = docs.join(rebuilt, docs("doc_id") === rebuilt("src_doc"))
      .select(docs.columns.map(c =>
        if (c == "text") col("__text").as("text") else docs(c)): _*)
    untouched.unionByName(rewritten)
  }

  /** q304's body over any (doc_id, text) frame — see the queries-map
    * scaladoc. Diagonal runs of matching 12-token windows are exact
    * maximal common substrings between two positions PROVIDED every
    * constituent window stays under [[SpanOccCap]]: an over-cap window
    * inside a genuine long span is screened out, splitting the reported
    * run in two (over-cap boilerplate is q287's flag's job), and a 31-bit
    * hash collision can in principle fabricate a match. Both engines
    * share the screen and the hash, so results verify; the exactness
    * claim holds only away from the cap boundary. */
  private[graft] def maximalSpans(docs: DataFrame): DataFrame = {
    val base = spanWindows(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // occurrence screen by a window count over the same h shuffle the
    // pairing needs anyway (the r13 bucket-screen discipline), pinned so
    // the self-join reads one stable relation
    val capped = base
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c").between(2, SpanOccCap))
      .select("doc_id", "pos", "h")
      .localCheckpoint(eager = true)
    val pairs = capped.as("x").join(capped.as("y"),
      col("x.h") === col("y.h") &&
        (col("x.doc_id") < col("y.doc_id") ||
          (col("x.doc_id") === col("y.doc_id") && col("x.pos") < col("y.pos"))))
      .select(col("x.doc_id").as("d1"), col("x.pos").as("p1"),
        col("y.doc_id").as("d2"), col("y.pos").as("p2"))
    val wDiag = Window.partitionBy("d1", "d2", "off").orderBy("p1")
    val runs = pairs.withColumn("off", col("p2") - col("p1"))
      .withColumn("grp", col("p1") - row_number().over(wDiag))
      .groupBy("d1", "d2", "off", "grp")
      .agg((count(lit(1)) + (SpanW - 1)).as("span_tokens"))
    val sides = runs.select(col("d1").as("doc_id"), col("span_tokens"))
      .unionByName(runs.select(col("d2").as("doc_id"), col("span_tokens")))
    val perDoc = sides.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), max("span_tokens").as("max_span_tokens"))
    val out = base.select("doc_id").distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).cast("long").as("max_span_tokens"))
      .orderBy("doc_id")
      .localCheckpoint(eager = true)
    base.unpersist()
    out
  }

  /** Distinct 3-word shingle strings of a token array. */
  private[queries] def shingles3(t: Column): Column =
    array_distinct(TrainPrep.wordGrams(t, 3))

  /** The sorted distinct 3-word-shingle hash set of a token array (raw,
    * non-distinct tokens — shingles need word order). Shingles are the
    * MinHash item set: unigram token sets are not discriminating on a
    * small vocabulary (nearly all docs collide), shingles make Jaccard ≈ 0
    * for unrelated docs. */
  private def shingleSet(t: Column): Column =
    array_sort(TextHashes.hashed_ngrams(t, 3, P))

  /** LSH bucket-size cap: a band bucket with more members than this never
    * pairs directly — a degenerate bucket (boilerplate or near-empty docs
    * sharing a signature) would make the candidate self-join quadratic in
    * the bucket, the one quadratic blowup this pipeline can hit at 100 TB.
    * The cap is TIERED (r9): an oversized bucket is re-keyed by the
    * SECONDARY band hash (bh2) and its sub-buckets pair under the same
    * cap, so true near-dup pairs inside a big bucket survive; only
    * sub-buckets still over the cap are dropped (mega-clusters of
    * identical docs are exact-dedup's job, q35). The oracle SQL applies
    * the same two tiers (QUALIFY), so semantics match at every sf. */
  val LshBucketCap = 32

  /** Prefix-filter (AllPairs) bucket size above which [[prefixPairs]]
    * switches from in-array pair expansion to a streaming self-join: the
    * exact join cannot DROP an oversized bucket (its pairs are real
    * output), but it can refuse to materialize the bucket as one
    * reducer-side array. 256 keeps the array path's per-bucket expansion
    * ≤ ~32k pairs. */
  private[graft] val PrefixBucketArrayMax = 256

  /** (doc_id, hs, sz, sig) in ONE pass over the corpus: distinct shingle-
    * hash set, its size, and the K-permutation MinHash signature. Persisted
    * (MEMORY_AND_DISK — spills, never OOMs): the scan→tokenize→shingle→md5
    * work dominates and is needed by the band explode AND both sides of the
    * verify join — round-1 recomputed it 3×. At 100 TB this is the table
    * you'd checkpoint to parquet once per corpus snapshot.
    *
    * All K minima come from one traversal of `hs`: a fold whose accumulator
    * zips with the (a,b) constant array. K separate array_min columns would
    * re-inline the md5 hashing K times after CollapseProject. (MinHash over
    * the distinct set equals MinHash over the multiset — min ignores
    * multiplicity — so we fold the deduped `hs`, which is also smaller.)
    */
  def minhashBase(docs: DataFrame): DataFrame =
    // the per-doc shingle→md5→distinct→sort→K-min chain as ONE native
    // codegen'd pass (TextHashes.minhash_shingles — bit-parity with the
    // HOF form pinned in TextHashesSpec). The empty/short-doc gate sits
    // BEFORE the expensive projection as size(t) >= 3 (shingles3 is empty
    // iff under 3 tokens; NULL sizes drop) and is pushdown-safe, where a
    // filter on the computed column would re-evaluate the expression below
    // the projection (the q37 collapse lesson). hs/sz/sig extract in one
    // Project whose subexpression elimination evaluates the struct once.
    docs
      .select(col("doc_id"), TrainPrep.rawToks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextHashes
          .minhash_shingles(col("t"), AB.map(_._1), AB.map(_._2), P).as("m"))
      .select(col("doc_id"), col("m.hs").as("hs"),
        size(col("m.hs")).as("sz"), col("m.sig").as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** LSH candidate generation + Jaccard verify over a [[minhashBase]] table.
    * Linear at scale: ONE shuffle groups band members into bucket arrays
    * (only near-dup candidates meet), and pairs are generated INSIDE each
    * array — no bands self-join, no window. The cap does double duty: it
    * drops degenerate buckets AND bounds the per-bucket pair expansion at
    * cap·(cap−1)/2, so the explode can never blow up a task. The verify
    * join re-reads the persisted base; the corpus is scanned exactly once
    * end-to-end. */
  def lshPairs(base: DataFrame, cap: Int): DataFrame =
    lshCandidates(base, cap).filter(col("jacc") >= 0.7).select("d1", "d2", "jacc")

  /** [[lshPairs]] at [[LshBucketCap]] as (src, dst) graph edges. */
  private[queries] def lshEdges(base: DataFrame): DataFrame =
    lshPairs(base, LshBucketCap).select(col("d1").as("src"), col("d2").as("dst"))

  /** One (doc_id, bi, bh) row per band of each signature — the LSH index
    * key layout, shared by the self-join candidates (below) and the
    * incremental probe (q244). Deliberately does NOT carry the secondary
    * band hash the tiered cap uses: computing it here (a second md5 string
    * per band row) doubled the hash work and ~3×'d the bucket shuffle's
    * row payload for EVERY document, while only oversized-bucket members —
    * a rare residue — ever need it. [[lshCandidates]] recomputes it for
    * exactly those members from the persisted base instead. */
  private[graft] def bandKeys(base: DataFrame): DataFrame = {
    val bandCols = (0 until BANDS).map { bi =>
      struct(lit(bi).as("bi"), bandHash(bi).as("bh"))
    }
    base.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.bi").as("bi"), col("band.bh").as("bh"))
  }

  private def bandHash(bi: Int): Column =
    md5(concat_ws(",",
      (0 until ROWS).map(r => element_at(col("sig"), bi * ROWS + r + 1)): _*)
      .cast("binary"))

  /** The NEXT band's hash ((bi+1) mod BANDS) with `bi` as a runtime
    * column — same formula as [[bandHash]], so the two produce identical
    * strings for equal (sig, band) inputs. */
  private def bandHash2(bi: Column): Column = {
    val b2 = pmod(bi + 1, lit(BANDS))
    md5(concat_ws(",",
      (0 until ROWS).map(r => element_at(col("sig"), (b2 * ROWS + r + 1).cast("int"))): _*)
      .cast("binary"))
  }

  /** Attach each row's group size as column `cnt` — the mega-bucket
    * screen's sizing step, shared by every banded bucket build (LSH,
    * SimHash, RHP, frame digests). Default (r13): a WINDOW count over the
    * same keys-hash shuffle the downstream collect needs anyway — one
    * full pass over the rows instead of the r12 count+join's two (the
    * separate partial-aggregating count re-shuffled every band row a
    * second time for the join-back; measured 1.2-1.8x on the LSH family).
    * Skew safety is retained: a degenerate bucket lands in ONE WindowExec
    * group whose buffer (ExternalAppendOnlyUnsafeRowArray) SPILLS rather
    * than OOMs, and the downstream size filter still drops it before any
    * collect_list array forms — the DedupSpec 100k-member stress drives
    * exactly this path. */
  private[graft] def withGroupCount(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.withColumn("cnt", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))

  /** Every i<j member pair (x, y) of each bucket's member array `ds` —
    * the capped in-bucket pair expansion shared by every bucket build
    * (LSH bands, prefix tokens, SimHash/RHP bands, frame digests): pairs
    * are generated in place from the array, bounded at cap·(cap−1)/2 per
    * bucket, with no self-join. Callers screen the bucket sizes before
    * collecting `ds` and orient/verify the pairs themselves. */
  private[graft] def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.select(col("ds"), posexplode(col("ds")).as(Seq("i", "x")))
      .select(col("x"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds")) - col("i") - 1)).as("y"))

  /** The pre-verification candidate pair set (banding output, scored but
    * unfiltered) — what [[lshPairs]] gates at jacc ≥ 0.7. Exposed so the
    * banding's false-positive rate is itself measurable (q194). */
  def lshCandidates(base: DataFrame, cap: Int): DataFrame = {
    // Mega-bucket screen: member arrays are collected ONLY for keys whose
    // group size is proven within the cap. Collecting first and filtering
    // after (the pre-r12 shape) funneled a degenerate bucket's every
    // member id into ONE reducer-side array before dropping it: at 100 TB
    // a boilerplate band hash shared by millions of docs OOMs that
    // reducer even though the pair expansion itself was bounded. Sizing
    // (r13) is a WINDOW count over the same bucket-key shuffle the
    // collect needs anyway — see [[withGroupCount]] for the spill-safety
    // argument.
    val bands = bandKeys(base)
    val keyed = withGroupCount(bands, Seq("bi", "bh"))
      .filter(col("cnt") >= 2)
    // tier 1: buckets within the cap pair directly. tier 2: OVERSIZED
    // buckets are re-keyed by the secondary band hash instead of dropped,
    // and the resulting sub-buckets pair under the same cap; sub-buckets
    // still over the cap are the degenerate residue that stays dropped —
    // screened by sub-bucket COUNT, so the residue never materializes as
    // an array either. This recovers true pairs that the flat cap lost
    // (q233's 40 bp recall gap) while keeping every pair expansion bounded
    // at cap·(cap−1)/2. The secondary hash is computed HERE, for
    // oversized-bucket members only, by joining back to the persisted
    // base — carrying it on every band row cost a second md5 per row and
    // tripled the bucket shuffle's payload for the whole corpus (measured
    // ~1.5× on the LSH-graph queries), to serve a rare residue.
    val small = keyed.filter(col("cnt") <= cap)
      .groupBy(col("bi"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(col("ds"))
    val bigRows = keyed.filter(col("cnt") > cap)
      .select(col("bi"), col("bh"), col("doc_id"))
      .join(base.select(col("doc_id"), col("sig")), Seq("doc_id"))
      .select(col("bi"), col("bh"), col("doc_id"), bandHash2(col("bi")).as("bh2"))
    val big = withGroupCount(bigRows, Seq("bi", "bh", "bh2"))
      .filter(col("cnt").between(2, cap))
      .groupBy(col("bi"), col("bh"), col("bh2"))
      .agg(collect_list("doc_id").as("ds"))
      .select(col("ds"))
    // all i<j position pairs of each bucket array; orient by value so the
    // (d1 < d2) contract holds regardless of collect_list order
    val pairs = bucketPairs(small.unionByName(big))
      .select(least(col("x"), col("y")).as("d1"), greatest(col("x"), col("y")).as("d2"))
      .dropDuplicates("d1", "d2")
    withJaccard(base, pairs).select("d1", "d2", "jacc")
  }

  /** EXACT Jaccard >= 0.7 pairs over a [[minhashBase]] table via prefix
    * filtering (AllPairs/PPJoin; see q220's scaladoc). Shares the base with
    * whatever else the caller computes from it (q233 grades lshPairs
    * against this on ONE base). */
  def prefixPairs(base: DataFrame): DataFrame = {
    // Persisted: the sized prefix rows feed BOTH candidate branches, and
    // the divergent count filters defeat exchange reuse — unpersisted,
    // the whole explode + freq join + two-window subtree executed twice
    // (q220 2.3 s -> 5.5 s when the r12 split first landed). Released
    // before return; the verified pair output is eagerly checkpointed so
    // the caller never re-executes the released pipeline.
    val keyed = prefixRows(base)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = prefixCandidates(keyed).dropDuplicates("d1", "d2")
    val out = verifyJaccard(base, pairs).localCheckpoint(eager = true)
    keyed.unpersist()
    out
  }

  /** [[prefixPairs]] with the prefix-token domain processed in
    * `numShards` SEQUENTIAL hash-ranges — the bounded-memory scale path
    * for the one operator whose cost is genuinely super-linear in corpus
    * size (the 100x scale tier's only spiller). Each shard runs its
    * COMPLETE pipeline — candidate generation (window count + in-array
    * expansion + oversized-bucket self-join) AND the exact-Jaccard
    * verify join — as its own job over the ~1/R of prefix rows whose
    * token hashes fall in the range, pinning the verified output before
    * the next shard starts.
    *
    * Why the verify is INSIDE the loop (r14): the stage-by-stage spill
    * ledger (100x tier) attributed ALL of q220's ~4 GB spill to the
    * verify join — the candidate pairs carry both docs'
    * full shingle-hash arrays through a sort-merge join, and that sort
    * is the memory cliff; candidate generation itself spills ZERO at
    * 100x. The r13 form sharded only candidate generation and verified
    * globally, so its spill was byte-identical at 4/8/16 shards (and
    * ~60% HIGHER than one-shot, because the full prefix table sat in
    * MEMORY_AND_DISK storage squeezing execution memory — now
    * DISK_ONLY). With the verify sharded, the pair mass in flight — and
    * with it the sort buffer — is one shard's, so at a tier where the
    * one-shot verify spills X bytes, R can be sized until one shard's
    * verify fits in memory entirely.
    *
    * Output identity with [[prefixPairs]]: a prefix bucket lives wholly
    * in one shard (sharding is BY token hash), so no pair is lost; a
    * pair discovered via shared tokens in TWO shards is verified twice
    * — deterministically identically — and collapses in the final
    * dropDuplicates. A single degenerate token's ~|family|^2 pairs are
    * NOT split — they are real output and stream through that shard's
    * spill-capable joins as before; sharding bounds the CONCURRENT mass
    * across tokens. Cost of the rearrangement: the base side of the
    * verify shuffles once per shard instead of once (it is the NARROW
    * side — doc_id + arrays, |docs| rows — while the pair side is the
    * one that explodes super-linearly). Locally the DedupSpec
    * equivalence pin and the q289 oracle (shared verbatim with q220)
    * prove output identity at 1/3/8 shards and all 3 SFs. */
  /** Shard count from corpus size — the production sizing rule, derived
    * from the r14 measurement: the one-shot verify crosses the spill
    * threshold around 500k docs of this shape on a 32-thread/unified-
    * memory-default executor profile, and 4 shards (~125k docs of pair
    * mass in flight) already spill zero, so `docsPerShard` defaults to
    * 125k. Below one shard's worth the loop degenerates to the one-shot
    * plan plus a checkpoint (measured ~identical wall), so small inputs
    * pay nothing for the scale path. At a real deployment the budget is
    * re-derived from executor memory ÷ (candidate pair width × expected
    * pairs per doc). q289 runs `max(2, prefixShardsFor(n))` shards; the
    * 4/8/16-shard matrix behind this rule is in SCALE.md "r14". */
  def prefixShardsFor(nDocs: Long, docsPerShard: Long = 125000L,
      maxShards: Int = 64): Int = {
    require(docsPerShard >= 1 && maxShards >= 1)
    math.max(1L, math.min(maxShards.toLong,
      (nDocs + docsPerShard - 1) / docsPerShard)).toInt
  }

  def prefixPairsSharded(base: DataFrame, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    // DISK_ONLY: reused by every shard, but MEMORY_AND_DISK would park
    // the full prefix table in the unified memory manager's storage pool
    // for the whole loop, starving the very sort buffers the sharding
    // exists to relieve (measured +2.4 GB spill at 100x)
    val prefixes = prefixRows(base).persist(StorageLevel.DISK_ONLY)
    val shardOut = (0 until numShards).map { r =>
      val keyed = prefixes.filter(pmod(col("h"), lit(numShards)) === lit(r))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // eager: shard r's whole candidate+verify mass materializes NOW
      // and its working state is released before shard r+1 begins
      val out = verifyJaccard(base,
        prefixCandidates(keyed).dropDuplicates("d1", "d2"))
        .localCheckpoint(eager = true)
      keyed.unpersist()
      out
    }
    val out = shardOut.reduce(_ unionByName _).dropDuplicates("d1", "d2")
      .localCheckpoint(eager = true)
    prefixes.unpersist()
    out
  }

  /** The prefix rows (doc_id, h, sz) both prefix-join forms start from:
    * global token frequencies, rarest-first rank per doc, first
    * |x| - ceil(0.7|x|) + 1 tokens kept (the AllPairs prefix bound). */
  private def prefixRows(base: DataFrame): DataFrame = {
    val freq = base.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
    val tokens = base.select(col("doc_id"), col("sz"), explode(col("hs")).as("h"))
      .join(freq, Seq("h"))
    val byRarity = Window.partitionBy("doc_id").orderBy("cnt", "h")
    tokens
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= expr("sz - (7 * sz + 9) div 10 + 1"))
      .select("doc_id", "h", "sz")
  }

  /** Candidate (d1, d2) pairs from window-counted prefix rows (doc_id,
    * h, sz, cnt). The join is EXACT, so an oversized prefix bucket
    * cannot be dropped the way the LSH cap drops one — a template family
    * whose rarest tokens are shared genuinely has ~|family|² qualifying
    * pairs. What CAN be avoided is materializing that family as one
    * reducer-side collect_list array: buckets proven small use the
    * in-array i<j expansion (pairs generated in place); oversized
    * buckets stream through an equi self-join on the prefix token, whose
    * per-key group buffer spills (ExternalAppendOnlyUnsafeRowArray)
    * instead of OOMing. Both paths produce the same oriented pair set,
    * so the union is output-neutral. The bucket size comes from a WINDOW
    * count over the same h-keyed shuffle the collect needs anyway
    * (WindowExec group buffers spill; collect_list arrays cannot) — a
    * separate count+join screen cost an extra shuffle pass here. The
    * AllPairs length prune (J >= 0.7 implies min(sz)/max(sz) >= 0.7, an
    * integer predicate) drops candidates BEFORE the intersect verify on
    * both paths; provably output-neutral. */
  private def prefixCandidates(keyed: DataFrame): DataFrame = {
    val smallBuckets = keyed.filter(col("cnt").between(2, PrefixBucketArrayMax))
      .groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
    val smallPairs = bucketPairs(smallBuckets)
      .filter(least(col("x.sz"), col("y.sz")) * 10 >=
        greatest(col("x.sz"), col("y.sz")) * 7)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
    val bigRows = keyed.filter(col("cnt") > PrefixBucketArrayMax)
      .select(col("h"), col("doc_id"), col("sz"))
    val bigPairs = bigRows.as("a").join(bigRows.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .filter(least(col("a.sz"), col("b.sz")) * 10 >=
        greatest(col("a.sz"), col("b.sz")) * 7)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    smallPairs.unionByName(bigPairs)
  }

  /** Exact-Jaccard verify of oriented candidate pairs against the base's
    * sorted shingle-hash sets; keeps pairs at J >= 0.7. */
  private[graft] def verifyJaccard(base: DataFrame, pairs: DataFrame): DataFrame =
    withJaccard(base, pairs)
      .filter(col("jacc") >= 0.7)
      .select("d1", "d2", "jacc")

  /** Oriented (d1, d2) pairs with both sides' sorted shingle-hash sets
    * from the base and their exact Jaccard `jacc` (4 dp). */
  private def withJaccard(base: DataFrame, pairs: DataFrame): DataFrame = {
    val inter = TextHashes.sorted_intersect_size(col("h1"), col("h2"))
    pairs
      .join(base.select(col("doc_id").as("d1"), col("hs").as("h1"), col("sz").as("sz1")), Seq("d1"))
      .join(base.select(col("doc_id").as("d2"), col("hs").as("h2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jacc", round(
        inter.cast("double") / (col("sz1") + col("sz2") - inter).cast("double"), 4))
  }

  /** Split assignment shared by q291 (from-scratch CC) and
    * [[clusterSplitFromState]] (standing labels): every doc keyed by its
    * CLUSTER (labels carry (id, cluster_id) for clustered docs; a
    * singleton falls back to its own id), the md5 bucket of the key picks
    * train/val/test — whole clusters move atomically, so no verified
    * near-dup pair ever straddles a split. One broadcast-size left join:
    * the label table is one row per CLUSTERED doc, tiny next to the
    * corpus. */
  private[graft] def splitByClusterKey(docs: DataFrame, labels: DataFrame): DataFrame = {
    val bucket = TrainPrep.splitBucket(col("cluster_key"))
    docs.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_key"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** The leakage-free split read from a STANDING [[graft.operators.ClusterState]]
    * (VERDICT r14 #3) — the at-scale form of q291: the corpus's duplicate
    * closure is maintained incrementally per ingest batch (star-fold, see
    * ClusterState.appendEdges), so producing a fresh train/val/test split
    * costs one read of the tiny label table plus a broadcast left join —
    * never a corpus re-cluster. Identical assignment to q291's from-scratch
    * CC whenever the state table holds the closure of the same verified
    * pair set (DedupSpec pins the parity; the q292 oracle hash-checks it
    * at all three SFs). */
  def clusterSplitFromState(spark: SparkSession, docs: DataFrame,
      stateDir: String): DataFrame =
    splitByClusterKey(docs, graft.operators.ClusterState.labels(spark, stateDir))

  /** q83/q89's containment sides over docs < 500: the hosts (d2, h2, sz2)
    * and the synthesized snippets (d1, h1, sz1) — the first half of every
    * 7th doc's tokens under pseudo id + 1e6, non-empty only. */
  private def containmentSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables(s, dir, "documents").filter(col("doc_id") < 500)
    val host = docs
      .select(col("doc_id").as("d2"), shingleSet(TrainPrep.rawToks(col("text"))).as("h2"))
      .select(col("d2"), col("h2"), size(col("h2")).as("sz2"))
    val snip = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("t", TrainPrep.rawToks(col("text")))
      .withColumn("ht", slice(col("t"), lit(1), expr("(size(t) + 1) div 2")))
      .select((col("doc_id") + lit(1000000L)).as("d1"),
        shingleSet(col("ht")).as("h1"))
      .select(col("d1"), col("h1"), size(col("h1")).as("sz1"))
      .filter(col("sz1") > 0)
    (host, snip)
  }

  /** q246/q270's standing index at `idxDir`: built from the doc_id % 10 < 5
    * slice, then appended every other doc but the doc_id % 10 == 7 probe
    * slice. Returns the documents. */
  private def slicedIndex(s: SparkSession, dir: String, idxDir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.operators.DedupIndex.build(
      docs.filter(col("doc_id") % 10 < 5), idxDir)
    graft.operators.DedupIndex.append(
      docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), idxDir)
    docs
  }

  /** Folds a batch `nw` into the standing clusters at `stateDir`: its
    * index-probe pairs (b, c) and its own LSH pairs are the new edges. */
  private def appendBatchEdges(s: SparkSession, probePairs: DataFrame,
      nw: DataFrame, stateDir: String): Unit = {
    val probeEdges = probePairs.select(col("b").as("src"), col("c").as("dst"))
    val batchEdges = lshEdges(nw)
    graft.operators.ClusterState.appendEdges(s,
      probeEdges.unionByName(batchEdges), stateDir)
  }

  /** Clusters (id, cluster_id, cluster_size) as output rows by doc,
    * eagerly pinned so the caller may release what they were read from. */
  private[queries] def clusterRows(clusters: DataFrame): DataFrame =
    clusters.select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
      .localCheckpoint(eager = true)

  val queries: Map[String, Q] = Map(
    // ---- repeated-span REMOVAL accounting (the cut, not just the find) ---
    // q287's transform half, the Lee-et-al step that actually edits the
    // corpus: every token covered by ANY repeated 12-token window is cut.
    // Coverage expands each repeated window to its 12 positions
    // (sequence + explode — bounded at 12x the repeated-window count,
    // never the corpus), distinct per doc, and the output is the
    // retention ledger a curation run reports: tokens in, tokens covered,
    // tokens kept, kept share in integer basis points. A doc fully made
    // of boilerplate keeps 0. Same one-shuffle repeat detection as q287.
    "q288_span_removal" -> ((s: SparkSession, dir: String) => {
      // every in-scope doc has size(w) >= 12, so n_tokens derives from the
      // window count (n_windows + 11) — no second corpus-scale persist or
      // join-back just to carry the token count
      val windows = spanWindows(Tables(s, dir, "documents"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rep = windows.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"), lit(1L).as("rp"))
      val covered = windows.join(rep, Seq("h"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (SpanW - 1))).as("tok_pos"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("nc"))
      val out = windows.groupBy("doc_id")
        .agg((count(lit(1)) + (SpanW - 1)).cast("long").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("nc"), lit(0L)).cast("long").as("n_covered"))
        .withColumn("n_kept", col("n_tokens") - col("n_covered"))
        .withColumn("kept_bp", expr("(n_kept * 10000) div n_tokens"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      windows.unpersist()
      out
    }),

    // ---- cross-doc repeated-span mining (boilerplate passages) -----------
    // The Lee-et-al dedup unit the n-gram family doesn't cover: exact
    // 12-token spans occurring >= 2 times ANYWHERE in the corpus
    // (template boilerplate, syndicated passages, intra-doc loops — the
    // fixtures carry ~900 naturally repeated spans at sf0.01). Per doc:
    // window count, repeated-window count, and the LONGEST repeated run
    // (consecutive repeated windows = one contiguous boilerplate passage
    // of W+run-1 tokens), flagged at >= 30% repeated via integer
    // cross-multiplication. Scale: one corpus scan builds the positional
    // window hashes (slice+zip_with — one walk per position, never
    // indexed-transform), ONE partial-aggregating shuffle on the 31-bit
    // hash finds the repeats, one equi join-back marks them (at 100 TB a
    // runtime bloom of the repeated set screens the probe side), and the
    // run/island windows are keyed by doc_id — nothing global anywhere.
    "q287_repeated_spans" -> ((s: SparkSession, dir: String) => {
      val base = spanWindows(Tables(s, dir, "documents"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rep = base.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"), lit(1L).as("rp"))
      val marked = base.join(rep, Seq("h"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("rp"), lit(0L)).as("rp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val runs = marked.filter(col("rp") === 1)
        .withColumn("grp", col("pos") - row_number().over(wDoc))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("runlen"))
        .groupBy("doc_id").agg(max("runlen").as("lr"))
      val out = marked.groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"), sum("rp").as("n_repeated"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows").cast("long").as("n_windows"),
          col("n_repeated").cast("long").as("n_repeated"),
          coalesce(col("lr"), lit(0L)).cast("long").as("longest_run"),
          (col("n_repeated") * 10 >= col("n_windows") * 3).cast("long").as("flagged"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      marked.unpersist()
      base.unpersist()
      out
    }),

    // ---- paragraph-granularity near-dup with doc roll-up (r16) -----------
    // Production LLM pipelines dedup below the document: a doc whose
    // PARAGRAPHS are mostly duplicated elsewhere should be dropped or
    // trimmed even when the whole-doc Jaccard stays under 0.7 (one fresh
    // paragraph dilutes it). Paragraphs are real blank-line-delimited
    // blocks when the doc carries any (r17 — the fixture text has no
    // newlines, so the fixtures exercise the fallback), else deterministic
    // 16-token blocks; each paragraph runs the EXACT q37 machinery —
    // minhashBase + banded, tiered-capped, Jaccard-verified lshPairs —
    // under a range-guarded synthetic paragraph id
    // (doc_id*2^20 + idx, fail-loud past the bound), same-doc pairs excluded
    // (within-doc repetition is q287's domain), then dup fractions roll
    // up per doc into a drop(>=50%)/trim(>=20%)/keep verdict. Scale: the
    // paragraph table is ~tokens/16 rows; everything downstream is the
    // LSH family's own banded/capped shape — never all-pairs.
    "q303_para_dedup" -> ((s: SparkSession, dir: String) =>
      paraDedup(Tables(s, dir, "documents"))),

    // ---- TRUE maximal repeated spans via diagonal runs (r16) --------------
    // q287 reports the longest run of positions whose 12-token window
    // repeats ANYWHERE — an upper-bound shape for Lee et al.'s maximal
    // repeated substrings, because consecutive windows may repeat against
    // DIFFERENT partners. This query computes the real thing: matching
    // window pairs (same 31-bit hash, occurrence-capped groups), grouped
    // by (d1, d2, offset) DIAGONALS — a maximal run of k consecutive
    // matching windows on one diagonal is a maximal common substring of
    // k+11 tokens between those two positions (one more shared token ⟺
    // one more matching window), exact as long as every constituent
    // window stays under the occurrence cap (an over-cap window inside a
    // long span splits the reported run — see maximalSpans' scaladoc).
    // Per doc: participating span count and the longest true span.
    // Scale: pair mass is bounded by cap² per window hash (over-cap
    // boilerplate groups are excluded — q287's flag owns those); the
    // diagonal window is keyed by (d1, d2, off), never global.
    "q304_maximal_spans" -> ((s: SparkSession, dir: String) =>
      maximalSpans(Tables(s, dir, "documents"))),

    // ---- paragraph trim: the q303 roll-up's TRANSFORM half (r16) ----------
    // What q288 is to q287, at paragraph granularity: duplicated
    // paragraphs (keep-first — the earliest copy always survives) are
    // removed and the retention ledger reports tokens in/kept in integer
    // basis points plus an md5 digest of the kept text in document order
    // — the verifiable artifact a curation run hands the trainer.
    "q305_para_trim" -> ((s: SparkSession, dir: String) =>
      paraTrim(Tables(s, dir, "documents"))),

    // ---- q304's cap-loss audit (r17) --------------------------------------
    // SpanOccCap = 32 keeps q304's pair mass <= cap² per window hash, but
    // whatever sits in over-cap groups never pairs — an interior over-cap
    // window inside a genuine long span splits its reported run. This
    // audit MEASURES that exclusion: window hashes banded into
    // unique (c = 1, never pairs by definition), pairable (2..cap) and
    // capped (> cap), with per-band hash/window counts, the window-mass
    // share in basis points, and the would-be pair mass c*(c-1)/2 — the
    // quadratic cost the cap refuses (q287's boilerplate flag owns that
    // content instead). One groupBy(h) + a 3-row fold; the number that
    // decides whether the cap needs q37's tiered-rekey treatment lives in
    // SCALE.md per tier.
    "q308_span_cap_audit" -> ((s: SparkSession, dir: String) => {
      spanWindows(Tables(s, dir, "documents"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .withColumn("band",
          when(col("c") === 1, lit("unique"))
            .when(col("c") <= SpanOccCap, lit("pairable"))
            .otherwise(lit("capped")))
        .groupBy("band")
        .agg(count(lit(1)).as("n_hashes"),
          sum("c").as("n_windows"),
          sum(expr("c * (c - 1) div 2")).as("pair_mass"))
        .withColumn("win_bp",
          expr("(n_windows * 10000) div sum(n_windows) OVER ()"))
        .select(col("band"), col("n_hashes").cast("long").as("n_hashes"),
          col("n_windows").cast("long").as("n_windows"),
          col("pair_mass").cast("long").as("pair_mass"),
          col("win_bp").cast("long").as("win_bp"))
        .orderBy("band")
    }),

    // ---- boundary-split paragraphs under the gate (r17) -------------------
    // The fixtures carry no newlines, so q303/q305 only ever exercise the
    // BLOCK fallback at the oracle gate — the blank-line boundary path was
    // spec-only. This query derives a delimiter-bearing corpus
    // deterministically FROM the fixture (doc_id % 3 == 0 docs rebuilt as
    // 10-token chunks joined by blank lines; the rest keep raw text) and
    // injects guaranteed full duplicates (doc_id % 11 == 5 docs copied
    // under id + 1e6, same derived text), then runs the exact q303
    // machinery. Both engines derive the same corpus, so the boundary
    // split (bp0/bd CTEs), its normalization, and keep-first trimming at
    // boundary granularity are all hash-checked cross-engine — the copies
    // MUST come back verdict=drop (every paragraph duplicated,
    // keep-first: only the later copy counts). Docs under 10 tokens get
    // no separator and take the block fallback in both engines.
    "q310_para_boundary" -> ((s: SparkSession, dir: String) =>
      paraDedup(paraBoundaryCorpus(Tables(s, dir, "documents")))),

    // ---- EXACT paragraph dedup: digest keep-first (r17) -------------------
    // The workhorse curation op real pipelines run FIRST (Dolma/FineWeb's
    // shape), q35's exact dedup pushed below the document: every
    // paragraph (boundary-aware relation, block fallback) keyed by its
    // md5 digest, keep-first globally in pid order — so WITHIN-doc
    // repeats drop too (q303/q305 are cross-doc near-dup; this is the
    // complementary exact form) and no minimum length applies (a digest
    // matches at any length; shingle-based near-dup needs >= 3 tokens).
    // Output: q305's retention ledger verbatim. Scale: one digest-keyed
    // partial-aggregated shuffle + one same-key join back — no candidate
    // generation, no verification, skew-safe on mega-duplicated
    // boilerplate (the paraExact scaladoc).
    "q311_para_exact" -> ((s: SparkSession, dir: String) =>
      paraExact(Tables(s, dir, "documents"))),

    // ---- INCREMENTAL exact paragraph dedup (standing digest state) -------
    // q311's production form: the (digest -> first-seen pid) table lives
    // as standing AggState scalar partials keyed by the digest — min(pid)
    // is algebraic, so three corpus slices landing as build + two BLIND
    // appends merge into exactly the global keep-first map (the q257
    // equivalence discipline), ingest stays O(delta) forever, and the
    // trim ledger read from the merged state must equal from-scratch
    // q311 bit-for-bit — the oracle IS q311's SQL, so that equivalence is
    // hash-checked in the gate itself. Retraction of a kept copy is
    // q314's gate: AggState.retractExact rebuilds only the affected
    // digests (min partials alone are not invertible).
    "q312_incr_para_exact" -> ((s: SparkSession, dir: String) => withStateDir("graft-para-digest-") { stateDir =>
      import graft.operators.AggState
      val digested = digestedParas(Tables(s, dir, "documents"))
      def slice(r: Int) = digested.filter(col("src_doc") % 3 === r)
        .select(col("dig"), pidDecimal(col("doc_id")).as("pid"))
      AggState.build(slice(0), Seq("dig"), "pid", stateDir)
      AggState.append(slice(1), Seq("dig"), "pid", stateDir)
      AggState.append(slice(2), Seq("dig"), "pid", stateDir)
      keptLedger(digested, stateKeep(s, stateDir))
    }),

    // ---- exact paragraph dedup ON the boundary path (r18) -----------------
    // q310's derived-delimiter-corpus trick applied to q311 (VERDICT r17
    // task 3): the raw fixtures carry no newlines, so q311/q312 only ever
    // hash-checked the BLOCK-fallback split — this runs the identical
    // digest keep-first machinery over the boundary-bearing derived
    // corpus (10-token chunks joined by blank lines + injected full
    // copies), so the blank-line split, its normalization and the global
    // keep-first are cross-engine-checked at paragraph granularity. q312
    // shares paraRelation with q311 verbatim, so one gate covers the
    // boundary path of both.
    "q313_para_boundary_exact" -> ((s: SparkSession, dir: String) =>
      paraExact(paraBoundaryCorpus(Tables(s, dir, "documents")))),

    // ---- standing exact-paragraph TAKEDOWN (r18) ---------------------------
    // Closes q312's documented gap (VERDICT r17 task 2): retracting the
    // KEPT (min-pid) copy used to leave a stale keep map — min partials
    // are not invertible. AggState.retractExact rebuilds ONLY the digests
    // whose minimum was retracted (delta-sized affected set, one pruned
    // pass over the survivor paragraphs); digests with every copy deleted
    // vanish via the count retraction. The gate: grown state (build + one
    // blind append) + takedown of doc_id % 7 == 3 docs, then the ledger
    // read from the post-takedown state over the survivor corpus — the
    // oracle is q311's from-scratch SQL over survivors, so
    // grown+takedown ≡ scratch is hash-checked (the q270/q281 shape).
    // The deleted set includes keepers by construction (doc 3 is the
    // first copy of every paragraph it originated), so the rebuild path
    // is live at every SF.
    "q314_para_takedown" -> ((s: SparkSession, dir: String) => withStateDir("graft-para-takedown-") { stateDir =>
      import graft.operators.AggState
      val digested = digestedParas(Tables(s, dir, "documents"))
      def rel(df: DataFrame) = df.select(col("dig"), pidDecimal(col("doc_id")).as("pid"))
      AggState.build(rel(digested.filter(col("src_doc") % 2 === 0)),
        Seq("dig"), "pid", stateDir)
      AggState.append(rel(digested.filter(col("src_doc") % 2 === 1)),
        Seq("dig"), "pid", stateDir)
      val survivors = digested.filter(col("src_doc") % 7 =!= 3)
      AggState.retractExact(s, rel(digested.filter(col("src_doc") % 7 === 3)),
        rel(survivors), Seq("dig"), "pid", stateDir)
      keptLedger(survivors, stateKeep(s, stateDir))
    }),

    // ---- exact dedup: hash-groupBy on content digest ---------------------
    // Input doubled (union all) so the keep-first/count semantics are
    // actually exercised on a corpus with real duplicates.
    "q35_dedup_exact" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
      d.unionAll(d)
        .withColumn("text_hash", md5(lower(trim(col("text"))).cast("binary")))
        .groupBy("text_hash")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "text_hash")
        .orderBy("keep_id")
    }),

    // ---- n-gram (3-shingle) Jaccard near-dup: quadratic baseline ---------
    // O(n²) pairs — correctness baseline for q37's LSH, bounded to a sample.
    "q36_jaccard_pairs" -> ((s: SparkSession, dir: String) => {
      // Jaccard over *hashed* shingle sets (BIGINT arrays): set ops on longs
      // are several× cheaper than on ~20-char strings, and |A∪B| is derived
      // arithmetically (|A|+|B|-|A∩B|) instead of building the union array.
      val d = Tables(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), shingleSet(TrainPrep.rawToks(col("text"))).as("hs"))
        .select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
      val a = d.select(col("doc_id").as("d1"), col("hs").as("h1"), col("sz").as("sz1"))
      val b = d.select(col("doc_id").as("d2"), col("hs").as("h2"), col("sz").as("sz2"))
      // size-ratio prefilter: jacc >= 0.7 implies min(|A|,|B|)/max(|A|,|B|)
      // >= 0.7 — an integer predicate that prunes pairs before any array op.
      // repartition: the filtered sample is one parquet split, which would
      // run the nested-loop join on a single core; broadcast the build side.
      val inter = TextHashes.sorted_intersect_size(col("h1"), col("h2"))
      val jacc = round(
        inter.cast("double") / (col("sz1") + col("sz2") - inter).cast("double"), 4)
      // The threshold goes INTO the join condition, after the cheap
      // conjuncts: a separate .filter would be pushed into the join ahead
      // of them (PushPredicateThroughJoin prepends), evaluating the array
      // intersect for every id-ordered pair. Conjunct order short-circuits,
      // so the intersect runs only for size-compatible pairs; jacc is
      // recomputed in the projection for the few survivors.
      a.repartition(col("d1"))
        .join(broadcast(b), col("d1") < col("d2") &&
          col("sz1") * 10 >= col("sz2") * 7 && col("sz2") * 10 >= col("sz1") * 7 &&
          jacc >= 0.7)
        .select(col("d1"), col("d2"), jacc.as("jacc"))
        .orderBy("d1", "d2")
    }),

    // ---- containment (asymmetric Jaccard) near-dup -----------------------
    // containment(A→B) = |A∩B| / |A| flags a SHORT doc embedded in a long
    // one — a pair symmetric Jaccard structurally misses (|A∩B|/|A∪B| ≈
    // |A|/|B| ≈ 0.5 for a half-length snippet, under any useful threshold)
    // and q36's size-ratio prefilter excludes outright. This corpus has no
    // natural subset docs (its near-dups are same-length mutations —
    // measured), so, like q35 doubles its input, both engines synthesize
    // identical snippet docs (first half of every 7th doc's tokens, pseudo
    // id +1e6) and containment-join them against the full docs. The
    // threshold is the INTEGER predicate i*10 >= sz1*8 (cont >= 0.8 exactly,
    // no float boundary), placed after the cheap size conjunct; the scale
    // path for this operator is LSH over the SMALL side's signature with
    // per-band thresholds tuned for containment (asymmetric banding), which
    // this bounded-sample form is the oracle for.
    "q83_containment" -> ((s: SparkSession, dir: String) => {
      val (host, snip) = containmentSides(s, dir)
      val inter = TextHashes.sorted_intersect_size(col("h1"), col("h2"))
      snip.repartition(col("d1"))
        .join(broadcast(host),
          col("sz2") * 10 >= col("sz1") * 8 && inter * 10 >= col("sz1") * 8)
        .select(col("d1"), col("d2"),
          round(inter.cast("double") / col("sz1").cast("double"), 4).as("cont"))
        .orderBy("d1", "d2")
    }),

    // ---- containment at scale: bottom-k inverted-index screen ------------
    // q83's all-pairs form is the oracle; THIS is how containment runs at
    // 100 TB: index every host shingle hash (one explode, shuffle keyed by
    // hash), probe with only the k SMALLEST hashes of each snippet (a
    // bottom-k sketch — k rows per snippet regardless of length), verify
    // candidates exactly. Screening logic: cont ≥ 0.8 means each snippet
    // hash is in the host w.p. ≥ 0.8, so a full containment (the self
    // pair, cont = 1.0) is ALWAYS found and a 0.8-pair is missed only if
    // all k probes land outside (≤ 0.2^4). Both engines compute the same
    // md5 hashes, so the screen is deterministic and the oracle mirrors
    // it — no probabilistic slack in the comparison.
    "q89_containment_lsh" -> ((s: SparkSession, dir: String) => {
      val (host, snip) = containmentSides(s, dir)
      // inverted index of host hashes; probe = bottom-4 sketch per snippet
      val inv = host.select(col("d2"), explode(col("h2")).as("h"))
      val probes = snip.select(col("d1"),
        explode(slice(array_sort(col("h1")), 1, 4)).as("h"))
      val cand = probes.join(inv, Seq("h")).select("d1", "d2").distinct()
      val inter = TextHashes.sorted_intersect_size(col("h1"), col("h2"))
      cand
        .join(snip, Seq("d1"))
        .join(host.select(col("d2"), col("h2"), col("sz2")), Seq("d2"))
        .filter(col("sz2") * 10 >= col("sz1") * 8 && inter * 10 >= col("sz1") * 8)
        .select(col("d1"), col("d2"),
          round(inter.cast("double") / col("sz1").cast("double"), 4).as("cont"))
        .orderBy("d1", "d2")
    }),

    // ---- MinHash + LSH near-dup: the linear-time scale path --------------
    // One corpus scan (persisted minhashBase), capped band buckets — see
    // the scaladoc on minhashBase/lshPairs/LshBucketCap above.
    "q37_minhash_lsh" -> ((s: SparkSession, dir: String) => {
      lshPairs(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
        .orderBy("d1", "d2")
    }),

    // ---- split stability under corpus growth (r15) ------------------------
    // The training-reproducibility question q291/q292 raise: when a delta
    // lands and near-dup clusters MERGE, the merged component takes the
    // smaller min-id as its key — the losing cluster's docs re-hash and
    // can move between train/val/test. This query measures that churn
    // exactly: the split as of the old corpus (doc_id % 10 != 7, the q275
    // delta convention) vs the split over the grown corpus, per old doc —
    // `key_changed` marks docs whose cluster key moved (a merge or a
    // delta-bridged component absorbed them), `split_moved` the subset
    // that actually crossed a split boundary. A pipeline pins training
    // membership by snapshotting the assignment (ClusterState time travel
    // gives the as-of read); this is the audit that says how much would
    // drift if it re-derived instead. Scale: two CC runs over capped pair
    // sets (q291's cost x2) + one doc-keyed join; the minhash base is
    // computed once and sliced (it is per-row, so slicing the persisted
    // full base is content-identical to minhashBase(oldDocs) and scans
    // the corpus once).
    "q294_split_churn" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val base = minhashBase(docs)
      val isOld = col("doc_id") % 10 =!= 7
      // r19: the two closure chains (old slice vs grown corpus) are
      // INDEPENDENT sequences of small barrier-bound jobs — pair
      // generation plus an iterative CC loop each — so they run on two
      // driver threads and the scheduler back-fills one chain's stage
      // tails and per-round scheduling gaps with the other's tasks
      // (guide §2.6 job overlap). Results are untouched: each chain is
      // deterministic in isolation and they share only the READ-ONLY
      // persisted base, which is materialized once BEFORE the fork so
      // the threads never race to compute cache blocks.
      def chain(b: org.apache.spark.sql.DataFrame) =
        graft.operators.ConnectedComponents.components(lshEdges(b))
      base.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fOld = Future(chain(base.filter(isOld)))
      val fAll = Future(chain(base))
      val (compOld, compAll) =
        (Await.result(fOld, Duration.Inf), Await.result(fAll, Duration.Inf))
      val so = splitByClusterKey(docs.filter(isOld), compOld)
        .select(col("doc_id"), col("cluster_key").as("old_key"),
          col("split").as("old_split"))
      val sa = splitByClusterKey(docs, compAll)
        .select(col("doc_id"), col("cluster_key").as("new_key"),
          col("split").as("new_split"))
      val out = so.join(sa, Seq("doc_id"))
        .select(col("doc_id"), col("old_key"), col("new_key"),
          col("old_split"), col("new_split"),
          (col("old_key") =!= col("new_key")).cast("long").as("key_changed"),
          (col("old_split") =!= col("new_split")).cast("long").as("split_moved"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      compOld.unpersist(); compAll.unpersist(); base.unpersist()
      out
    }),

    // (The duplicate-cluster / graph-analytics family — q70, q101, q102,
    // q116, q128, q161, q167, q175 — lives in [[Graph]] since the r15
    // file split; the splits below consume the same components.)
    // ---- leakage-free train/val/test split (r14) --------------------------
    // q73 splits by doc hash, so a near-duplicate of a train doc can land
    // in test — the classic eval-leakage bug (the model "generalizes" to
    // paraphrases of its own training data). The fix: hash the CLUSTER,
    // not the doc — q70's connected components move atomically into one
    // split (singletons hash their own id, so the 90/5/5 proportions
    // hold; a clustered doc hashes its component's min id). Leakage is
    // ZERO by construction: both endpoints of every verified near-dup
    // pair share a cluster key, hence a split. Scale: q70's cost plus
    // one broadcast-size left join — the cluster table is one row per
    // CLUSTERED doc, tiny next to the corpus. THE AT-SCALE FORM is
    // q292_state_split / [[clusterSplitFromState]] (r15): a corpus that
    // maintains a standing ClusterState reads the labels back instead of
    // re-running the full closure per split — this query is the
    // from-scratch reference the state variant is hash-checked against.
    "q291_cluster_split" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val base = minhashBase(docs)
      val comp = graft.operators.ConnectedComponents.components(lshEdges(base))
      val out = splitByClusterKey(docs,
          comp.select(col("id"), col("cluster_id")))
        .localCheckpoint(eager = true)
      comp.unpersist()
      base.unpersist()
      out
    }),

    // q291 from STANDING state (VERDICT r14 #3): the cluster labels come
    // from a maintained ClusterState table — built here from the same
    // verified pair set, so output is identical to q291 by construction
    // (the oracle is shared verbatim) — and the split itself costs ONE
    // read of the tiny label table + the broadcast left join. At 100 TB
    // the closure is maintained incrementally per ingest batch (q275's
    // star-fold), so re-splitting after an append never re-clusters the
    // corpus; q291's full CC re-run is the from-scratch reference.
    "q292_state_split" -> ((s: SparkSession, dir: String) => withStateDir("graft-split-state-") { stateDir =>
      val docs = Tables(s, dir, "documents")
      val base = minhashBase(docs)
      graft.operators.ClusterState.build(lshEdges(base), stateDir)
      val out = clusterSplitFromState(s, docs, stateDir)
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- LSH recall vs the exact-Jaccard ground truth ----------------------
    // q55/q100's role for the text pipeline: what fraction of the TRUE
    // near-dup pairs (q36's exact quadratic baseline on the bounded sample)
    // does the banded MinHash pipeline (q37) surface? Both sides are
    // exact-verified at jacc >= 0.7 over the same shingle-hash sets, so
    // found ⊆ truth and the misses are purely banding/bucket-cap losses —
    // the number that tunes BANDS/ROWS/cap. Both small pair sets are
    // checkpointed eagerly: each feeds two consumers (count + semi join).
    "q171_lsh_recall" -> ((s: SparkSession, dir: String) => {
      val truth = queries("q36_jaccard_pairs")(s, dir)
        .select("d1", "d2").localCheckpoint(eager = true)
      val found = lshPairs(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
        .filter(col("d1") < 500 && col("d2") < 500)
        .select("d1", "d2").localCheckpoint(eager = true)
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nF = found.agg(count(lit(1)).as("n_lsh"))
      val nH = truth.join(found, Seq("d1", "d2"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(nF).crossJoin(nH)
        .select(col("n_truth"), col("n_lsh"), col("n_hit"),
          expr("CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT) " +
            "ELSE CAST((n_hit * 10000) DIV n_truth AS BIGINT) END").as("recall_bp"))
    }),

    // ---- edit-distance near-dup (bounded sample, length prefilter) -------
    "q49_edit_distance" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      val a = d.select(col("doc_id").as("d1"), col("text").as("t1"), col("len").as("len1"))
      val b = d.select(col("doc_id").as("d2"), col("text").as("t2"), col("len").as("len2"))
      // |len1-len2| is a lower bound on edit distance — prune before the
      // O(n·m) levenshtein; repartition the one-split sample for
      // parallelism. The distance threshold sits last in the join condition
      // (cheap conjuncts short-circuit first — see q36).
      a.repartition(col("d1"))
        .join(broadcast(b), col("d1") < col("d2") &&
          abs(col("len1") - col("len2")) <= 16 &&
          levenshtein(col("t1"), col("t2")) <= 16)
        .withColumn("dist", levenshtein(col("t1"), col("t2")).cast("long"))
        .select("d1", "d2", "dist")
        .orderBy("d1", "d2")
    }),

    // ---- embedding-cosine near-dup via IVF bucketing ---------------------
    // The vector-space member of the dedup family (builder brief): pairs
    // of embeddings whose cosine clears a threshold, with candidate
    // generation restricted to SAME-IVF-BUCKET pairs — at 100 TB the
    // all-pairs form is quadratic, bucketing by nearest centroid keeps it
    // ~linear (K× fewer candidates, partition-prunable by centroid), at
    // the cost of missing cross-bucket pairs (measured for search by q55).
    // The oracle mirrors the bucketing, so both engines compute the same
    // set. Threshold 0.45: the synthetic corpus has no true near-dups
    // (max pairwise cosine ≈ 0.6), so the threshold is set to exercise
    // the pipeline with non-empty output.
    "q59_cosine_neardup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
      val e = Tables(s, dir, "embeddings")
      // the index's own per-row assignment (see q40): no centroid join,
      // no shuffle, no |centroids|× window sort
      val assign = AnnIndex.assignCosine(e, AnnIndex.seedCentroids(e, 8))
      val a = assign.select(col("vec_id").as("v1"), col("centroid_id").as("c1"),
        col("embedding").as("e1"))
      val b = assign.select(col("vec_id").as("v2"), col("centroid_id").as("c2"),
        col("embedding").as("e2"))
      val cos = round(cosine_sim(col("e1"), col("e2")), 4)
      // threshold INTO the join condition after the cheap conjuncts (q36)
      a.join(b, col("c1") === col("c2") && col("v1") < col("v2") && cos >= 0.45)
        .select(col("v1"), col("v2"), cos.as("cos"))
        .orderBy("v1", "v2")
    }),

    // ---- hybrid text+embedding near-dup confirmation ---------------------
    // Cross-modal agreement: every LSH text pair (q37's candidates) is
    // scored against the docs' EMBEDDING cosine (doc_id ≡ vec_id in the
    // fixtures) — a near-dup confirmed in both spaces is the highest-
    // confidence duplicate signal a curation pipeline has. The pair set is
    // tiny after LSH, so the two embedding joins probe it; cosine rides
    // the native codegen'd expression.
    "q131_hybrid_neardup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
      val pairs = lshPairs(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
        .select(col("d1"), col("d2"), col("jacc"))
      val e = Tables(s, dir, "embeddings")
      pairs
        .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), Seq("d1"))
        .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), Seq("d2"))
        .withColumn("cos", round(cosine_sim(col("e1"), col("e2")), 4))
        .select(col("d1"), col("d2"), col("jacc"), col("cos"),
          (col("cos") >= 0.5).cast("long").as("embedding_confirms"))
        .orderBy("d1", "d2")
    }),

    // ---- SimHash near-dup pairing: band-rotation bucketing ---------------
    // Completes the SimHash path (q38 computes fingerprints; this pairs
    // them): split the 60-bit fingerprint into 4×15-bit bands — a pair
    // within Hamming distance 3 differs in ≤3 bands, so it collides on at
    // least one band bucket (pigeonhole). Candidates come from the same
    // in-bucket pair expansion as q37 (one shuffle, capped buckets);
    // verify = bit_count(xor) ≤ 3. Corpus doubled with offset ids so true
    // matches (hamming 0) exist in the synthetic data.
    "q67_simhash_pairs" -> ((s: SparkSession, dir: String) => {
      val cap = 64
      val d0 = Tables(s, dir, "documents").select("doc_id", "text")
      val d = d0.unionAll(
        d0.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val sh = d.select(col("doc_id"), toks(col("text")).as("w"))
        .withColumn("h60",
          expr("transform(w, t -> cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))"))
        .select(col("doc_id"), TextHashes.simhash60(col("h60")).as("sh"))
      val bands = sh.select(col("doc_id"), col("sh"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("bi"),
            expr(s"(sh >> ${15 * i}) & 32767").as("bv"))): _*)).as("b"))
        .select(col("doc_id"), col("sh"), col("b.bi").as("bi"), col("b.bv").as("bv"))
      // mega-bucket screen (r13 window-count form): member arrays only
      // for band buckets proven within the cap, sized over the same
      // bucket-key shuffle the collect needs (see withGroupCount)
      val buckets = withGroupCount(bands, Seq("bi", "bv"))
        .filter(col("cnt").between(2, cap))
        .groupBy("bi", "bv")
        .agg(collect_list(struct(col("doc_id"), col("sh"))).as("ds"))
      bucketPairs(buckets)
        .select(
          least(col("x.doc_id"), col("y.doc_id")).as("d1"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("d2"),
          expr("cast(bit_count(x.sh ^ y.sh) as bigint)").as("hd"))
        .filter(col("hd") <= 3)
        .dropDuplicates("d1", "d2")
        .orderBy("d1", "d2")
    }),

    // ---- SimHash fingerprints (60-bit, md5 token hashes) -----------------
    // The 60-bit majority fold is the native codegen'd simhash60 expression
    // (TextHashes): the HOF form dispatched 60 × |tokens| interpreted
    // lambdas per row — the slowest query in the round-1 noop bench by 2×.
    // Bit-identical to the HOF form (TextHashesSpec); oracle unchanged.
    "q38_simhash" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("w"))
        .withColumn("h60",
          expr("transform(w, t -> cast(conv(substring(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))"))
        .withColumn("simhash", TextHashes.simhash60(col("h60")))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // ---- LSH banding precision --------------------------------------------
    // q171 measures what the banding MISSES (recall); this measures what
    // it WASTES: the fraction of candidate pairs the bucket join surfaces
    // that survive Jaccard verification. Together they are the two numbers
    // that tune bands×rows at 100 TB — low precision burns verify-join
    // compute, low recall loses duplicates. One pass over the scored
    // candidate set (count + conditional count in a single aggregate).
    "q194_lsh_precision" -> ((s: SparkSession, dir: String) => {
      lshCandidates(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jacc") >= 0.7, 1L).otherwise(0L)).as("n_verified"))
        .select(col("n_candidates"), col("n_verified"),
          expr("CASE WHEN n_candidates = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (n_verified * 10000) div n_candidates END").as("precision_bp"))
    }),

    // ---- fuzzy entity resolution (Jaro-Winkler matching) -----------------
    // The record-linkage shape: dirty records (a deterministic one-char
    // deletion at p_partkey % len, so both engines synthesize identical
    // typos) are matched back to the clean entity catalog. Pipeline =
    // memo/dedup (distinct dirty strings carry a record count — the J2
    // pattern, so the expensive comparison runs once per distinct string,
    // not per record), then a BLOCKED candidate join: cheap blocking
    // conjuncts first (shared first char, length within ±1), the native
    // codegen'd jaro_winkler >= 0.85 last IN the join condition, then
    // per-dirty-string argmax via min_by (score desc, name asc — no
    // window sort). Unmatched strings surface with a '(none)' sentinel:
    // blocking loses first-char deletions by design, and the report shows
    // that recall cost. Scale: the catalog is the broadcast side; the
    // dirty stream is never shuffled except for its distinct+count.
    "q186_entity_match" -> ((s: SparkSession, dir: String) =>
      erBestMatch(Tables(s, dir, "part")).orderBy("dirty_name")),

    // ---- entity-resolution evaluation --------------------------------------
    // The quality readout for q186's matcher, possible because the typo
    // synthesis KNOWS each record's true entity: per record, did the
    // blocked Jaro-Winkler argmax recover the source name? Three-way
    // outcome counts with shares — the precision/recall-style scoreboard
    // that decides whether the 0.85 threshold and first-char blocking are
    // right for the corpus (first-char deletions surface here as
    // unmatched OR matched_wrong). One join of the record stream against
    // the per-distinct-string match table (the J2 memo shape again).
    "q198_er_eval" -> ((s: SparkSession, dir: String) => {
      val parts = Tables(s, dir, "part")
      val recs = parts.select(col("p_name").as("truth"), expr(ErDirtySql).as("dirty_name"))
      val best = erBestMatch(parts).select("dirty_name", "matched_name")
      recs.join(best, Seq("dirty_name"))
        .select(when(col("matched_name") === "(none)", "unmatched")
          .when(col("matched_name") === col("truth"), "matched_correct")
          .otherwise("matched_wrong").as("outcome"))
        .groupBy("outcome").agg(count(lit(1)).as("n_records"))
        .withColumn("share_bp",
          expr("(n_records * 10000) div sum(n_records) OVER ()"))
        .orderBy("outcome")
    }),

    // ---- boilerplate span detection (C4-style) -----------------------------
    // Repeated-across-documents 3-gram share per doc: a gram appearing in
    // ≥5 distinct docs is boilerplate (headers, nav text, license blurbs —
    // what C4/Gopher strip before training). Positional (non-distinct)
    // grams so repeats inside a doc count; grams grouped by the shared
    // 32-bit md5 hash (BIGINT group keys, not ~25-char strings). The
    // (doc, gram) aggregate feeds the df count AND the join-back — both
    // ride its one shuffle (ReuseExchange, q72's discipline). Share in
    // exact basis points.
    "q215_boilerplate" -> ((s: SparkSession, dir: String) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), TrainPrep.rawToks(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
      val grams = toks.select(col("doc_id"),
        explode(TextHashes.hashed_ngrams_seq(col("t"), 3, P)).as("h"))
      val gc = grams.groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      val df = gc.groupBy("h").agg(count(lit(1)).as("df"))
      gc.join(df, Seq("h"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_grams"),
          sum(when(col("df") >= 5, col("cnt")).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_boiler").cast("long").as("n_boiler"),
          expr("(n_boiler * 10000) div n_grams").as("boiler_bp"))
        .orderBy("doc_id")
    }),

    // ---- EXACT set-similarity join via prefix filtering (AllPairs/PPJoin) --
    // The exact counterpart to q37's LSH: every pair with shingle-set
    // Jaccard ≥ 0.7, no probabilistic misses. Prefix-filtering principle
    // (Chaudhuri/Xiao): order each doc's shingles by GLOBAL frequency
    // (rarest first); two sets with J ≥ t must share a token within their
    // first |x| − ⌈t·|x|⌉ + 1 tokens — so only docs sharing a PREFIX
    // shingle are candidates, and prefixes are built from the rarest
    // shingles, keeping candidate buckets small without any cap (this is
    // what makes it exact where LSH samples). Candidates then verify with
    // the true Jaccard, threshold inside the pipeline. Scale: one corpus
    // scan (the persisted base), one frequency aggregate, one doc-keyed
    // rank window, one bucket shuffle. PPJoin's positional filter was
    // MEASURED in r14 and rejected for THIS corpus shape: on sf0.1 it
    // prunes only 4% of the length-pruned candidates (104,494 -> 100,414
    // — position disparity between equal-length near-dups is small), not
    // worth carrying the rank column through the bucket shuffle (the bh2
    // lesson: a derived column on every band row cost 12-15%). Re-measure
    // before reviving it on a corpus with heavy length/rarity skew; the
    // suffix filter remains unmeasured.
    "q220_prefix_join" -> ((s: SparkSession, dir: String) => {
      val base = minhashBase(Tables(s, dir, "documents"))
      val out = prefixPairs(base)
        .orderBy("d1", "d2")
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- the exact prefix join's bounded-memory scale path ---------------
    // q220's shard loop (r13): the prefix-token domain processed in 4
    // sequential hash-ranges, each shard's candidate mass pinned before
    // the next starts — peak memory/spill is one shard's, not the whole
    // corpus's (the 100x tier's one spiller gets a knob that bounds it).
    // Output is the SAME pair set (sharding is by token hash, so a
    // bucket lives wholly in one shard; cross-shard rediscoveries
    // collapse before the single verify) — the oracle IS q220's SQL,
    // shared verbatim, so shard ≡ unshard is hash-checked at every SF.
    // Shard count auto-sized from the corpus ([[prefixShardsFor]]), but
    // floored at 2 HERE (r14 ADVICE): every local fixture is < 125k docs,
    // so the raw auto-size would run only the degenerate 1-shard plan and
    // the oracle's "shard == unshard at every SF" guarantee would rest on
    // DedupSpec alone — the floor keeps the multi-shard union+dedup path
    // under the DuckDB hash check at all 3 SFs (production callers use
    // prefixShardsFor directly and DO degenerate to one shard on small
    // inputs). Output is shard-count-invariant by construction (DedupSpec
    // pins 1/3/8 shards), so the oracle holds at any count.
    "q289_sharded_prefix" -> ((s: SparkSession, dir: String) => {
      val base = minhashBase(Tables(s, dir, "documents"))
      val shards = math.max(2, prefixShardsFor(base.count()))
      val out = prefixPairsSharded(base, numShards = shards)
        .orderBy("d1", "d2")
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- semantic train/test decontamination -----------------------------
    // The embedding-space sibling of q84 (exact digests) and q85 (8-gram
    // overlap): heldout vectors whose nearest TRAIN vector is too close in
    // cosine leak the heldout set semantically even when no n-gram
    // matches. Same deterministic md5 split as q73, candidates restricted
    // to shared IVF buckets (q59's discipline — same-centroid pairs only,
    // never all-pairs), threshold inside the join condition after the
    // cheap conjuncts, best match per heldout vec via map-side argmax.
    "q237_semantic_decontam" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
      val e = Tables(s, dir, "embeddings")
        .withColumn("b", expr(
          "CAST(conv(substring(md5(CAST(CAST(vec_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 100"))
      // the shared nearest-centroid kernel, scored on the UNROUNDED cosine
      val assign = AnnIndex.nearestCentroid(e, AnnIndex.seedCentroids(e, 8),
          Seq("vec_id", "b"), Seq("embedding"), rounded = false)
        .select(col("vec_id"), col("b"), col("best.centroid_id").as("cid"),
          col("best.embedding").as("embedding"))
      val held = assign.filter(col("b") >= 90)
        .select(col("vec_id").as("hv"), col("cid"), col("embedding").as("he"))
      val train = assign.filter(col("b") < 90)
        .select(col("vec_id").as("tv"), col("cid"), col("embedding").as("te"))
      val cos = round(cosine_sim(col("he"), col("te")), 4)
      held.join(train, Seq("cid"))
        .filter(cos >= 0.35)
        .groupBy("hv")
        .agg(max_by(struct(col("tv"), cos.as("cos")),
          struct(cos, -col("tv"))).as("m"))
        .select(col("hv").as("heldout_vec"), col("m.tv").as("nearest_train"),
          col("m.cos").as("cos"))
        .orderBy("heldout_vec")
    }),

    // ---- LSH evaluated against EXACT ground truth ------------------------
    // q171 measured recall against a bounded brute-force sample; with the
    // prefix join the full-corpus truth is affordable, so the banded+capped
    // LSH gets a complete scoreboard: TP/FN/FP with precision and recall
    // in exact basis points. FP is structurally zero (LSH verifies true
    // Jaccard before emitting) — the report proves it rather than assuming
    // it. This is the number that tunes BANDS/ROWS/LshBucketCap.
    "q233_lsh_eval" -> ((s: SparkSession, dir: String) => {
      // ONE minhash base feeds both the LSH pipeline and the exact prefix
      // join — the corpus is scanned and hashed once for the whole grade
      val base = minhashBase(Tables(s, dir, "documents"))
      val lsh = lshPairs(base, LshBucketCap).select("d1", "d2")
        .withColumn("in_lsh", lit(1L))
      val exact = prefixPairs(base).select("d1", "d2")
        .withColumn("in_exact", lit(1L))
      val joined = lsh.join(exact, Seq("d1", "d2"), "full_outer")
      val out = joined
        .agg(
          sum(coalesce(col("in_exact"), lit(0L))).as("n_exact"),
          sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"),
          sum(when(col("in_lsh").isNotNull && col("in_exact").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("in_lsh").isNull && col("in_exact").isNotNull, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("in_lsh").isNotNull && col("in_exact").isNull, 1L)
            .otherwise(0L)).as("fp"))
        .select(col("n_exact").cast("long").as("n_exact"),
          col("n_lsh").cast("long").as("n_lsh"),
          col("tp").cast("long").as("tp"), col("fn").cast("long").as("fn"),
          col("fp").cast("long").as("fp"),
          expr("CASE WHEN n_lsh = 0 THEN NULL " +
            "ELSE (tp * 10000) div n_lsh END").as("precision_bp"),
          expr("CASE WHEN n_exact = 0 THEN NULL " +
            "ELSE (tp * 10000) div n_exact END").as("recall_bp"))
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- incremental near-dup: delta batch vs corpus index ---------------
    // The PRODUCTION dedup shape at 100 TB: nobody re-runs the all-corpus
    // self-join per ingest — the daily delta (here the deterministic 10%
    // slice doc_id%10=7) probes the standing corpus LSH index (band keys of
    // everyone else; the minhashBase+bandKeys table you'd keep as parquet
    // across snapshots). Asymmetry is the scale win: the delta's band rows
    // are tiny (AQE broadcasts them), the index is touched only at its
    // colliding buckets, and no corpus-corpus pair is ever formed. The
    // bucket cap applies to INDEX buckets (degenerate boilerplate families;
    // singleton buckets stay probe-able — `<= cap`, not `between(2,cap)`).
    // Verified candidates reduce per batch doc to (match count, best match
    // by jacc desc / id asc) in ONE partial-aggregating shuffle via
    // max_by(struct) — no window over the verify output.
    "q244_incremental_neardup" -> ((s: SparkSession, dir: String) => {
      // one corpus scan + one persisted base; the split is a filter on the
      // cached signatures (per-doc minhash is side-independent). In
      // production the index side already EXISTS as a standing table — the
      // per-ingest cost is the batch slice alone. The probe joins (capped
      // index buckets, all-integer i*10 >= union*7 gate, max_by best
      // match) live in DedupIndex.probeBase, shared with the persisted
      // standing-index lifecycle (q246 / DedupIndexMain / CorpusStream).
      val base = minhashBase(Tables(s, dir, "documents"))
      val idx = base.filter(col("doc_id") % 10 =!= 7)
      val prb = base.filter(col("doc_id") % 10 === 7)
      val out = graft.operators.DedupIndex.probeBase(prb,
          bandKeys(idx).select("doc_id", "bi", "bh"),
          idx.select("doc_id", "hs", "sz"))
        .orderBy("batch_id")
        .localCheckpoint(eager = true)
      base.unpersist()
      out
    }),

    // ---- standing-index lifecycle: build -> append -> probe --------------
    // Same semantics as q244 but the index is a PERSISTED TABLE driven
    // through its real lifecycle: built from the first corpus slice,
    // extended by a second batch (blind parquet appends — the first slice
    // is never rescanned), then probed by the delta. The final answer
    // depends only on index CONTENT, so the q244 oracle verifies the whole
    // build/append/probe path end-to-end at every sf.
    "q246_standing_index" -> ((s: SparkSession, dir: String) => withStateDir("graft-standing-index-") { idxDir =>
      val docs = slicedIndex(s, dir, idxDir)
      graft.operators.DedupIndex.probe(
        s, docs.filter(col("doc_id") % 10 === 7), idxDir)
    }),

    // ---- standing-index DELETE lifecycle: tombstoned probe ---------------
    // q246's build/append/probe with the takedown step in between: the
    // doc_id%10==3 slice is tombstoned (a blind O(|removed|) append — no
    // index rewrite), and the probe must answer exactly like an index
    // built from the survivors alone. The tombstone filter applies BEFORE
    // the bucket cap, so even at the cap boundary (a removal can bring an
    // over-cap bucket back under it) semantics match from-scratch — the
    // oracle IS q244's SQL with the survivor predicate in the corpus CTE,
    // so that equivalence is hash-checked at every sf, not just
    // spec-asserted. The first production lifecycle op after append for
    // any index with takedown obligations.
    "q270_tombstoned_index" -> ((s: SparkSession, dir: String) => withStateDir("graft-tombstone-index-") { idxDir =>
      val docs = slicedIndex(s, dir, idxDir)
      graft.operators.DedupIndex.remove(
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"), idxDir)
      graft.operators.DedupIndex.probe(
        s, docs.filter(col("doc_id") % 10 === 7), idxDir)
    }),

    // ---- standing cluster state: incremental connected components --------
    // The transitive-closure half of the near-dup lifecycle as a TABLE
    // (operators/ClusterState): q70's clusters built from the first corpus
    // slice, then FOLDED FORWARD when the batch arrives — new edges are
    // the batch's index-probe pairs (DedupIndex.probePairs: delta vs
    // corpus, no corpus-corpus pair) plus its within-batch pairs, and the
    // maintenance CC runs over label STARS + those new edges only
    // (O(|labels| + |ΔE|), never the historical pair set). Because a
    // min-labeled component is exactly reconstructible as a star, grown
    // labels ≡ from-scratch labels over the cumulative edge set — the
    // oracle walks that cumulative set with a recursive CTE, so the
    // equivalence is hash-checked at every sf. A batch edge that bridges
    // two old clusters merges them (the losing side relabels) — the case
    // a pairwise-only index can't answer.
    "q275_incr_clusters" -> ((s: SparkSession, dir: String) => withStateDir("graft-cluster-state-") { stateDir =>
      val base = minhashBase(Tables(s, dir, "documents"))
      val old = base.filter(col("doc_id") % 10 =!= 7)
      val nw = base.filter(col("doc_id") % 10 === 7)
      graft.operators.ClusterState.build(lshEdges(old), stateDir)
      appendBatchEdges(s, graft.operators.DedupIndex.probePairs(nw,
          bandKeys(old).select("doc_id", "bi", "bh"),
          old.select("doc_id", "hs", "sz")), nw, stateDir)
      val out = clusterRows(graft.operators.ClusterState.clusters(s, stateDir))
      base.unpersist()
      out
    }),

    // ---- cluster TAKEDOWN: delete docs from the standing clusters --------
    // The delete half of q275's lifecycle, against PERSISTED tables: index
    // built from the corpus slice, batch probed then appended, clusters
    // grown — and then the doc_id%9==4 slice is taken down.
    // ClusterState.removeDocs tombstones the ids in the index and
    // re-clusters ONLY the affected components, re-deriving their
    // survivor pairs from the index's own bands+sigs
    // (DedupIndex.pairsAmong — no corpus re-scan, no remembered edge
    // log). A deletion that disconnects a chain splits its cluster;
    // edgeless survivors drop. The oracle replays the same algebra
    // relationally — cumulative closure, touched components, survivor
    // re-pairing under the probe cap, second closure — so the whole
    // takedown path is hash-checked at every sf.
    "q279_cluster_takedown" -> ((s: SparkSession, dir: String) => withStateDir("graft-takedown-") { root =>
      val stateDir = new java.io.File(root, "cl").getAbsolutePath
      val idxDir = new java.io.File(root, "idx").getAbsolutePath
      val docs = Tables(s, dir, "documents")
      val base = minhashBase(docs)
      val old = base.filter(col("doc_id") % 10 =!= 7)
      val nw = base.filter(col("doc_id") % 10 === 7)
      graft.operators.DedupIndex.buildFromBase(old, idxDir)
      graft.operators.ClusterState.build(lshEdges(old), stateDir)
      appendBatchEdges(s,
        graft.operators.DedupIndex.probePairsPersisted(s, nw, idxDir), nw, stateDir)
      graft.operators.DedupIndex.writeBase(nw, idxDir, "append")
      graft.operators.ClusterState.removeDocs(s,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"), stateDir, idxDir)
      val out = clusterRows(graft.operators.ClusterState.clusters(s, stateDir))
      base.unpersist()
      out
    }),

    // ---- embedding-cosine near-dup via random-hyperplane LSH -------------
    // The untrained scale path beside q59's IVF bucketing: 24 sign bits
    // (dot against fixed Rademacher hyperplanes) banded 4×6 — vectors
    // sharing any 6-bit band bucket are candidates, then exact cosine
    // verifies. Needs no centroid training and no corpus statistics, so
    // it is the shape an ingest pipeline runs on day one. The hyperplane
    // components (±1 from md5(p,j) parity) and the dot-product fold order
    // are shared VERBATIM with the oracle, so the 24-bit signatures agree
    // bit-for-bit across engines. One broadcast 24× expansion + one
    // vec_id shuffle for signatures, a 4× band explode + one (band,
    // bucket) shuffle for candidates, capped buckets — linear end to end,
    // no all-pairs anywhere.
    "q252_rhp_neardup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
      val e = Tables(s, dir, "embeddings")
      val planes = s.range(24).select(col("id").cast("int").as("p"))
        .withColumn("comp", expr(
          "transform(sequence(0, 63), j -> CASE WHEN " +
            "substring(md5(concat('rhp_', p, '_', j)), 1, 1) < '8' " +
            "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"))
      // the 24-plane projection dot is the native codegen'd loop (a HOF
      // fold pays a lambda dispatch per element ×24 planes per vector) —
      // bit-parity with the fold pinned in VectorMathSpec
      val dotC = org.apache.spark.sql.graft.VectorMath.dot(col("embedding"), col("comp"))
      val sig = e.join(broadcast(planes))
        .withColumn("dot", dotC)
        .groupBy("vec_id")
        .agg(sum(when(col("dot") > 0d,
            expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0L)).as("sg"),
          first(col("embedding")).as("embedding"))
      val bands = sig.select(col("vec_id"), col("embedding"),
        explode(array((0 until 4).map(i => struct(lit(i).as("bi"),
          expr(s"(sg >> ${6 * i}) & 63").as("bv"))): _*)).as("b"))
        .select(col("vec_id"), col("embedding"),
          col("b.bi").as("bi"), col("b.bv").as("bv"))
      // mega-bucket screen (r13 window-count form) — doubly important
      // here: the bucket array carries full 64-double embeddings, so a
      // degenerate RHP bucket would materialize them all in one reducer;
      // the window buffers (and spills) only the 24-byte key rows plus
      // embeddings per group, and the size filter drops oversized groups
      // before any array forms (see withGroupCount)
      val buckets = withGroupCount(bands, Seq("bi", "bv"))
        .filter(col("cnt").between(2, 128))
        .groupBy("bi", "bv")
        .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("ds"))
      bucketPairs(buckets)
        .select(
          least(col("x.vec_id"), col("y.vec_id")).as("v1"),
          greatest(col("x.vec_id"), col("y.vec_id")).as("v2"),
          round(cosine_sim(col("x.embedding"), col("y.embedding")), 4).as("cos"))
        .filter(col("cos") >= 0.45)
        .dropDuplicates("v1", "v2")
        .orderBy("v1", "v2")
    })
  )

  /** q186's one-char-deletion typo, shared by the matcher and its eval. */
  private val ErDirtySql: String =
    "concat(substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT)), " +
      "substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2))"

  /** Blocked fuzzy matcher over the part catalog (q186/q198): distinct
    * dirty strings (with record counts) argmax-matched to the broadcast
    * entity catalog under first-char+length blocking and jaro_winkler ≥
    * 0.85; unmatched strings carry a '(none)' sentinel. */
  private def erBestMatch(parts: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.JaroWinkler.jaro_winkler
    val dirty = parts.select(expr(ErDirtySql).as("dirty_name"))
    val dn = dirty.groupBy("dirty_name").agg(count(lit(1)).as("n_records"))
    val catalog = parts.select(col("p_name")).distinct()
    val cand = dn.join(broadcast(catalog),
      substring(col("dirty_name"), 1, 1) === substring(col("p_name"), 1, 1) &&
        abs(length(col("dirty_name")) - length(col("p_name"))) <= 1 &&
        jaro_winkler(col("dirty_name"), col("p_name")) >= 0.85)
      .withColumn("score", jaro_winkler(col("dirty_name"), col("p_name")))
    val best = cand.groupBy("dirty_name", "n_records")
      .agg(min_by(
        struct(col("p_name"), floor(col("score") * 10000).cast("long").as("s")),
        struct(-col("score"), col("p_name"))).as("b"))
      .select(col("dirty_name"), col("b.p_name").as("matched_name"),
        col("n_records"), col("b.s").as("score_e4"))
    val unmatched = dn.join(best.select("dirty_name"), Seq("dirty_name"), "left_anti")
      .select(col("dirty_name"), lit("(none)").as("matched_name"),
        col("n_records"), lit(0L).as("score_e4"))
    best.unionByName(unmatched)
  }

  val oracles: Map[String, String] = {
    val toksSql = """CASE WHEN length(trim(text)) = 0 THEN []
                    |     ELSE list_distinct(string_split_regex(lower(trim(text)), '\s+')) END""".stripMargin
    // shared fragments hoisted to the object (r15 split — see the
    // scaladoc above LshPairCtesSql); local aliases keep the oracle
    // strings below textually unchanged
    val tokHashSql = TokHashSql
    val shinglesSql = ShinglesSql
    val sigExprs = SigExprsSql
    val bandSelects = BandSelectsSql
    val lshPairCtes: String = LshPairCtesSql

    // the tiered-cap LSH pair chain (lshPairs semantics) over one slice of
    // `bandsAll`, ending in pr$tag(d1, d2) — q275 runs it for the corpus
    // slice and the batch slice, beside the probe's simple-capped chain
    def tieredPairCtes(tag: String, pred: String): String =
      s"""b0$tag AS (SELECT doc_id, bi, bh, bh2,
         |         count(*) OVER (PARTITION BY bi, bh) AS bsz
         |       FROM bandsAll WHERE $pred),
         |bsm$tag AS (SELECT doc_id, bi, bh FROM b0$tag WHERE bsz <= $LshBucketCap),
         |bbg$tag AS (SELECT doc_id, bi, bh, bh2 FROM b0$tag WHERE bsz > $LshBucketCap
         |         QUALIFY count(*) OVER (PARTITION BY bi, bh, bh2) <= $LshBucketCap),
         |cand$tag AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |         FROM bsm$tag a JOIN bsm$tag b
         |           ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id
         |         UNION
         |         SELECT a.doc_id, b.doc_id
         |         FROM bbg$tag a JOIN bbg$tag b
         |           ON a.bi = b.bi AND a.bh = b.bh AND a.bh2 = b.bh2
         |          AND a.doc_id < b.doc_id),
         |j$tag AS (SELECT d1, d2, len(list_intersect(x.hs2, y.hs2)) AS i,
         |             x.sz AS sz1, y.sz AS sz2
         |      FROM cand$tag JOIN hd x ON cand$tag.d1 = x.doc_id
         |                    JOIN hd y ON cand$tag.d2 = y.doc_id),
         |pr$tag AS (SELECT d1, d2 FROM j$tag
         |      WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) >= 0.7)""".stripMargin

    val gram12Cat = (0 until 12)
      .map(k => if (k == 0) "w[i]" else s"w[i+$k]").mkString(" || ' ' || ")
    val m = Map(
      // q288: repeated windows expand to their 12 covered positions; the
      // retention ledger is exact integer math on both engines
      "q288_span_removal" ->
        s"""WITH tk AS (SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
           |  FROM documents),
           |g0 AS (SELECT doc_id, s.i AS pos,
           |    ('0x' || substr(md5(s.g), 1, 8))::BIGINT % 2147483647 AS h
           |  FROM (SELECT doc_id, unnest([{'i': i, 'g': $gram12Cat}
           |          for i in range(1, len(w) - 10)]) AS s
           |        FROM tk WHERE len(w) >= 12)),
           |r AS (SELECT h FROM (SELECT h, count(*) AS c FROM g0 GROUP BY h)
           |      WHERE c >= 2),
           |cv AS (SELECT DISTINCT doc_id, tok_pos FROM (
           |    SELECT doc_id, unnest(range(pos, pos + 12)) AS tok_pos
           |    FROM g0 JOIN r USING (h))),
           |nc AS (SELECT doc_id, count(*) AS n_covered FROM cv GROUP BY doc_id),
           |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
           |      FROM tk WHERE len(w) >= 12)
           |SELECT d.doc_id, d.n_tokens,
           |  CAST(coalesce(nc.n_covered, 0) AS BIGINT) AS n_covered,
           |  CAST(d.n_tokens - coalesce(nc.n_covered, 0) AS BIGINT) AS n_kept,
           |  CAST(((d.n_tokens - coalesce(nc.n_covered, 0)) * 10000)
           |       // d.n_tokens AS BIGINT) AS kept_bp
           |FROM d LEFT JOIN nc USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,

      // q287: same positional 12-token windows, hash-grouped repeats,
      // islands-and-gaps longest run — unnest-in-subquery per the
      // struct-rename gotcha
      "q287_repeated_spans" ->
        s"""WITH tk AS (SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
           |  FROM documents),
           |g0 AS (SELECT doc_id, s.i AS pos,
           |    ('0x' || substr(md5(s.g), 1, 8))::BIGINT % 2147483647 AS h
           |  FROM (SELECT doc_id, unnest([{'i': i, 'g': $gram12Cat}
           |          for i in range(1, len(w) - 10)]) AS s
           |        FROM tk WHERE len(w) >= 12)),
           |r AS (SELECT h FROM (SELECT h, count(*) AS c FROM g0 GROUP BY h)
           |      WHERE c >= 2),
           |m AS (SELECT doc_id, pos,
           |        CASE WHEN r.h IS NULL THEN 0 ELSE 1 END AS rp
           |      FROM g0 LEFT JOIN r ON g0.h = r.h),
           |isl AS (SELECT doc_id, grp, count(*) AS runlen FROM (
           |    SELECT doc_id,
           |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |    FROM m WHERE rp = 1) GROUP BY doc_id, grp),
           |runs AS (SELECT doc_id, max(runlen) AS lr FROM isl GROUP BY doc_id),
           |st AS (SELECT doc_id, count(*) AS n_windows, sum(rp) AS n_repeated
           |       FROM m GROUP BY doc_id)
           |SELECT st.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
           |  CAST(n_repeated AS BIGINT) AS n_repeated,
           |  CAST(coalesce(runs.lr, 0) AS BIGINT) AS longest_run,
           |  CAST(CASE WHEN n_repeated * 10 >= n_windows * 3
           |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
           |FROM st LEFT JOIN runs USING (doc_id)
           |ORDER BY st.doc_id""".stripMargin,

      // q303: blank-line paragraphs (block fallback) under synthetic ids,
      // the SHARED verbatim LSH pair chain over the paragraph relation,
      // cross-doc pairs only, integer roll-up per source doc
      "q303_para_dedup" ->
        s"""WITH $ParaCtesSql,
           |${lshPairCtesFrom("paras")},
           |$ParaRollupSql""".stripMargin,

      // q305: same paragraph chain + keep-first dup set; the ledger sums
      // paragraph token counts and digests the kept text in pid order
      // (string_agg skips the dropped NULLs; coalesce('') makes the
      // fully-dropped doc digest md5("") on both engines)
      "q305_para_trim" ->
        s"""WITH $ParaCtesSql,
           |${lshPairCtesFrom("paras")},
           |cpr AS (SELECT d1, d2 FROM pr
           |        WHERE d1 // $ParaIdScale <> d2 // $ParaIdScale),
           |dup AS (SELECT DISTINCT d2 AS pid FROM cpr),
           |mk AS (SELECT src_doc, paras.doc_id AS pid, text,
           |         CASE WHEN dup.pid IS NULL THEN 0 ELSE 1 END AS d,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           |       FROM paras LEFT JOIN dup ON paras.doc_id = dup.pid)
           |$ParaLedgerSelectSql""".stripMargin,

      // q311: exact paragraph dedup — digest keep-first globally (within-
      // AND cross-doc, any paragraph length), then the SHARED ledger.
      // q312 reuses it VERBATIM (the q190 -> q126 precedent): the
      // standing-state form's merged min(pid) per digest must equal the
      // from-scratch keep-first map, so the equivalence is hash-checked.
      "q311_para_exact" -> ParaExactSql,
      "q312_incr_para_exact" -> ParaExactSql,

      // q313: the exact chain over the derived boundary-bearing corpus —
      // the bp0/bd CTEs are live under the DIGEST path here (q310 covers
      // the near-dup roll-up; this covers keep-first at boundary
      // granularity)
      "q313_para_boundary_exact" ->
        s"""WITH $ParaBoundaryCorpusCtesSql,
           |${paraCtesFrom("pdocs")},
           |$ParaExactChainSql""".stripMargin,

      // q314: from-scratch exact dedup over the SURVIVOR corpus — the
      // Spark side reads its ledger from the grown-then-taken-down
      // standing state, so state ≡ scratch is the hash check itself
      "q314_para_takedown" ->
        s"""WITH sdocs AS (SELECT doc_id, text FROM documents
           |               WHERE doc_id % 7 <> 3),
           |${paraCtesFrom("sdocs")},
           |$ParaExactChainSql""".stripMargin,

      // q304: q287's windows, occurrence-capped groups, matching pairs
      // grouped by (d1, d2, offset) diagonals — a maximal diagonal run of
      // k windows is a maximal common substring of k+11 tokens
      "q304_maximal_spans" ->
        s"""WITH tk AS (SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
           |  FROM documents),
           |g0 AS (SELECT doc_id, s.i AS pos,
           |    ('0x' || substr(md5(s.g), 1, 8))::BIGINT % 2147483647 AS h
           |  FROM (SELECT doc_id, unnest([{'i': i, 'g': $gram12Cat}
           |          for i in range(1, len(w) - 10)]) AS s
           |        FROM tk WHERE len(w) >= 12)),
           |cap AS (SELECT doc_id, pos, h FROM
           |        (SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS c
           |         FROM g0)
           |        WHERE c BETWEEN 2 AND 32),
           |prs AS (SELECT x.doc_id AS d1, x.pos AS p1, y.doc_id AS d2, y.pos AS p2
           |        FROM cap x JOIN cap y ON x.h = y.h
           |         AND (x.doc_id < y.doc_id OR
           |              (x.doc_id = y.doc_id AND x.pos < y.pos))),
           |runs AS (SELECT d1, d2, count(*) + 11 AS span_tokens FROM
           |        (SELECT d1, d2, p2 - p1 AS off,
           |           p1 - row_number() OVER (PARTITION BY d1, d2, p2 - p1
           |                                   ORDER BY p1) AS grp
           |         FROM prs)
           |        GROUP BY d1, d2, off, grp),
           |sides AS (SELECT d1 AS doc_id, span_tokens FROM runs
           |          UNION ALL SELECT d2, span_tokens FROM runs),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           |         CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
           |        FROM sides GROUP BY doc_id),
           |alld AS (SELECT DISTINCT doc_id FROM g0)
           |SELECT alld.doc_id, CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
           |  CAST(coalesce(max_span_tokens, 0) AS BIGINT) AS max_span_tokens
           |FROM alld LEFT JOIN agg USING (doc_id) ORDER BY alld.doc_id""".stripMargin,

      // q308: q304's window build + per-hash counts banded by the cap;
      // pair_mass = c*(c-1)/2 per band is the quadratic work the cap
      // accepts (pairable) vs refuses (capped)
      "q308_span_cap_audit" ->
        s"""WITH tk AS (SELECT doc_id,
           |    CASE WHEN length(trim(text)) = 0 THEN []
           |         ELSE string_split_regex(lower(trim(text)), '\\s+') END AS w
           |  FROM documents),
           |g0 AS (SELECT doc_id, s.i AS pos,
           |    ('0x' || substr(md5(s.g), 1, 8))::BIGINT % 2147483647 AS h
           |  FROM (SELECT doc_id, unnest([{'i': i, 'g': $gram12Cat}
           |          for i in range(1, len(w) - 10)]) AS s
           |        FROM tk WHERE len(w) >= 12)),
           |ph AS (SELECT h, count(*) AS c FROM g0 GROUP BY h),
           |b AS (SELECT CASE WHEN c = 1 THEN 'unique'
           |                  WHEN c <= $SpanOccCap THEN 'pairable'
           |                  ELSE 'capped' END AS band, c FROM ph),
           |a AS (SELECT band, CAST(count(*) AS BIGINT) AS n_hashes,
           |        CAST(sum(c) AS BIGINT) AS n_windows,
           |        CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pair_mass
           |      FROM b GROUP BY band)
           |SELECT band, n_hashes, n_windows, pair_mass,
           |  CAST((n_windows * 10000) // sum(n_windows) OVER () AS BIGINT) AS win_bp
           |FROM a ORDER BY band""".stripMargin,

      // q310: the derived boundary-bearing corpus (10-token chunks joined
      // by blank lines for doc_id % 3 = 0, injected +1e6 full copies of
      // % 11 = 5 docs), then the SHARED paragraph + pair chains — the
      // boundary CTEs (bp0/bd) are live here, unlike on the raw fixture
      "q310_para_boundary" ->
        s"""WITH $ParaBoundaryCorpusCtesSql,
           |${paraCtesFrom("pdocs")},
           |${lshPairCtesFrom("paras")},
           |$ParaRollupSql""".stripMargin,

      // grown-labels ≡ from-scratch closure over the CUMULATIVE edge set:
      // corpus-slice tiered pairs ∪ batch-slice tiered pairs ∪ the
      // batch-vs-corpus probe pairs (q244's simple-capped chain), walked
      // with a recursive CTE exactly like q70
      "q275_incr_clusters" ->
        s"""WITH RECURSIVE $shinglesSql,
           |hs AS (SELECT doc_id, w, list_transform(w, t -> $tokHashSql) AS h
           |       FROM sh WHERE len(w) > 0),
           |sig AS (SELECT doc_id, w, ${sigExprs.mkString(", ")} FROM hs),
           |bandsAll AS (${bandSelects.mkString(" UNION ALL ")}),
           |hd AS (SELECT doc_id, list_distinct(h) AS hs2,
           |              len(list_distinct(h)) AS sz FROM hs),
           |${tieredPairCtes("o", "doc_id % 10 != 7")},
           |${tieredPairCtes("n", "doc_id % 10 = 7")},
           |cbq AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 != 7
           |       QUALIFY count(*) OVER (PARTITION BY bi, bh) <= $LshBucketCap),
           |pbq AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 = 7),
           |candp AS (SELECT DISTINCT pbq.doc_id AS d1, cbq.doc_id AS d2
           |          FROM pbq JOIN cbq USING (bi, bh)),
           |jp AS (SELECT d1, d2, len(list_intersect(x.hs2, y.hs2)) AS i,
           |              x.sz AS sz1, y.sz AS sz2
           |       FROM candp JOIN hd x ON candp.d1 = x.doc_id
           |                  JOIN hd y ON candp.d2 = y.doc_id),
           |prp AS (SELECT d1, d2 FROM jp WHERE i * 10 >= (sz1 + sz2 - i) * 7),
           |alle AS (SELECT d1, d2 FROM pro UNION SELECT d1, d2 FROM prn
           |         UNION SELECT d1, d2 FROM prp),
           |edges AS (SELECT d1 AS src, d2 AS dst FROM alle
           |          UNION SELECT d2, d1 FROM alle),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
           |szc AS (SELECT cluster_id, count(*) AS cluster_size FROM comp
           |        GROUP BY cluster_id)
           |SELECT comp.id AS doc_id, comp.cluster_id, szc.cluster_size
           |FROM comp JOIN szc USING (cluster_id)
           |ORDER BY doc_id""".stripMargin,

      // q275's cumulative closure, then the takedown algebra replayed
      // relationally: touched components, survivor re-pairing under the
      // probe's flat cap (bucket counts over MEMBER bands only — exactly
      // DedupIndex.pairsAmong), a second closure, untouched rows carried
      "q279_cluster_takedown" ->
        s"""WITH RECURSIVE $shinglesSql,
           |hs AS (SELECT doc_id, w, list_transform(w, t -> $tokHashSql) AS h
           |       FROM sh WHERE len(w) > 0),
           |sig AS (SELECT doc_id, w, ${sigExprs.mkString(", ")} FROM hs),
           |bandsAll AS (${bandSelects.mkString(" UNION ALL ")}),
           |hd AS (SELECT doc_id, list_distinct(h) AS hs2,
           |              len(list_distinct(h)) AS sz FROM hs),
           |${tieredPairCtes("o", "doc_id % 10 != 7")},
           |${tieredPairCtes("n", "doc_id % 10 = 7")},
           |cbq AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 != 7
           |       QUALIFY count(*) OVER (PARTITION BY bi, bh) <= $LshBucketCap),
           |pbq AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 = 7),
           |candp AS (SELECT DISTINCT pbq.doc_id AS d1, cbq.doc_id AS d2
           |          FROM pbq JOIN cbq USING (bi, bh)),
           |jp AS (SELECT d1, d2, len(list_intersect(x.hs2, y.hs2)) AS i,
           |              x.sz AS sz1, y.sz AS sz2
           |       FROM candp JOIN hd x ON candp.d1 = x.doc_id
           |                  JOIN hd y ON candp.d2 = y.doc_id),
           |prp AS (SELECT d1, d2 FROM jp WHERE i * 10 >= (sz1 + sz2 - i) * 7),
           |alle AS (SELECT d1, d2 FROM pro UNION SELECT d1, d2 FROM prn
           |         UNION SELECT d1, d2 FROM prp),
           |edges AS (SELECT d1 AS src, d2 AS dst FROM alle
           |          UNION SELECT d2, d1 FROM alle),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
           |del AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 9 = 4),
           |touched AS (SELECT DISTINCT cluster_id FROM comp JOIN del USING (id)),
           |members AS (SELECT comp.id FROM comp
           |            JOIN touched USING (cluster_id)
           |            ANTI JOIN del ON comp.id = del.id),
           |mb AS (SELECT doc_id, bi, bh FROM bandsAll
           |       JOIN members ON bandsAll.doc_id = members.id
           |       QUALIFY count(*) OVER (PARTITION BY bi, bh)
           |               BETWEEN 2 AND $LshBucketCap),
           |rp AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |       FROM mb a JOIN mb b ON a.bi = b.bi AND a.bh = b.bh
           |        AND a.doc_id < b.doc_id),
           |rv AS (SELECT d1, d2 FROM (
           |         SELECT d1, d2, len(list_intersect(x.hs2, y.hs2)) AS i,
           |                x.sz AS sz1, y.sz AS sz2
           |         FROM rp JOIN hd x ON rp.d1 = x.doc_id
           |                 JOIN hd y ON rp.d2 = y.doc_id)
           |       WHERE i * 10 >= (sz1 + sz2 - i) * 7),
           |e2 AS (SELECT d1 AS src, d2 AS dst FROM rv UNION SELECT d2, d1 FROM rv),
           |n2 AS (SELECT DISTINCT src AS id FROM e2),
           |reach2(id, r) AS (
           |  SELECT id, id FROM n2
           |  UNION
           |  SELECT e.src, reach2.r FROM e2 e JOIN reach2 ON e.dst = reach2.id),
           |comp2 AS (SELECT id, min(r) AS cluster_id FROM reach2 GROUP BY id),
           |fin AS (SELECT id, cluster_id FROM comp
           |        WHERE cluster_id NOT IN (SELECT cluster_id FROM touched)
           |        UNION ALL SELECT id, cluster_id FROM comp2),
           |szf AS (SELECT cluster_id, count(*) AS cluster_size FROM fin
           |        GROUP BY cluster_id)
           |SELECT fin.id AS doc_id, fin.cluster_id, szf.cluster_size
           |FROM fin JOIN szf USING (cluster_id)
           |ORDER BY doc_id""".stripMargin,

      "q35_dedup_exact" ->
        """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
          | md5(lower(trim(text))) AS text_hash
          |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
          |GROUP BY md5(lower(trim(text)))
          |ORDER BY keep_id""".stripMargin,

      "q36_jaccard_pairs" ->
        s"""WITH $shinglesSql,
           |f AS (SELECT doc_id,
           |        list_distinct(list_transform(w, t -> $tokHashSql)) AS hs
           |      FROM sh WHERE doc_id < 500),
           |g AS (SELECT doc_id, hs, len(hs) AS sz FROM f),
           |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
           |        len(list_intersect(a.hs, b.hs)) AS i, a.sz AS sz1, b.sz AS sz2
           |      FROM g a JOIN g b ON a.doc_id < b.doc_id
           |        AND a.sz * 10 >= b.sz * 7 AND b.sz * 10 >= a.sz * 7)
           |SELECT d1, d2,
           | round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) AS jacc
           |FROM p
           |WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) >= 0.7
           |ORDER BY d1, d2""".stripMargin,

      "q83_containment" ->
        s"""WITH $shinglesSql,
           |host AS (SELECT doc_id AS d2,
           |          list_distinct(list_transform(w, t -> $tokHashSql)) AS h2
           |         FROM sh WHERE doc_id < 500),
           |g2 AS (SELECT d2, h2, len(h2) AS sz2 FROM host),
           |snt AS (SELECT doc_id, t[1:(len(t)+1)//2] AS ht FROM tk
           |        WHERE doc_id < 500 AND doc_id % 7 = 0),
           |ssh AS (SELECT doc_id, CASE WHEN len(ht) < 3 THEN []
           |          ELSE list_distinct([ht[i] || ' ' || ht[i+1] || ' ' || ht[i+2]
           |                              for i in range(1, len(ht) - 1)]) END AS w
           |        FROM snt),
           |snip AS (SELECT doc_id + 1000000 AS d1,
           |           list_distinct(list_transform(w, t -> $tokHashSql)) AS h1
           |         FROM ssh),
           |g1 AS (SELECT d1, h1, len(h1) AS sz1 FROM snip WHERE len(h1) > 0),
           |p AS (SELECT d1, d2, len(list_intersect(h1, h2)) AS i, sz1
           |      FROM g1, g2 WHERE sz2 * 10 >= sz1 * 8)
           |SELECT d1, d2, round(CAST(i AS DOUBLE) / CAST(sz1 AS DOUBLE), 4) AS cont
           |FROM p WHERE i * 10 >= sz1 * 8
           |ORDER BY d1, d2""".stripMargin,

      "q89_containment_lsh" ->
        s"""WITH $shinglesSql,
           |host AS (SELECT doc_id AS d2,
           |          list_distinct(list_transform(w, t -> $tokHashSql)) AS h2
           |         FROM sh WHERE doc_id < 500),
           |g2 AS (SELECT d2, h2, len(h2) AS sz2 FROM host),
           |snt AS (SELECT doc_id, t[1:(len(t)+1)//2] AS ht FROM tk
           |        WHERE doc_id < 500 AND doc_id % 7 = 0),
           |ssh AS (SELECT doc_id, CASE WHEN len(ht) < 3 THEN []
           |          ELSE list_distinct([ht[i] || ' ' || ht[i+1] || ' ' || ht[i+2]
           |                              for i in range(1, len(ht) - 1)]) END AS w
           |        FROM snt),
           |snip AS (SELECT doc_id + 1000000 AS d1,
           |           list_distinct(list_transform(w, t -> $tokHashSql)) AS h1
           |         FROM ssh),
           |g1 AS (SELECT d1, h1, len(h1) AS sz1 FROM snip WHERE len(h1) > 0),
           |inv AS (SELECT d2, unnest(h2) AS h FROM g2),
           |pb AS (SELECT d1, unnest(list_sort(h1)[1:4]) AS h FROM g1),
           |cand AS (SELECT DISTINCT d1, d2 FROM pb JOIN inv USING (h)),
           |p AS (SELECT cand.d1, cand.d2, len(list_intersect(h1, h2)) AS i,
           |             sz1, sz2
           |      FROM cand JOIN g1 USING (d1) JOIN g2 USING (d2))
           |SELECT d1, d2, round(CAST(i AS DOUBLE) / CAST(sz1 AS DOUBLE), 4) AS cont
           |FROM p WHERE sz2 * 10 >= sz1 * 8 AND i * 10 >= sz1 * 8
           |ORDER BY d1, d2""".stripMargin,

      "q37_minhash_lsh" ->
        s"""WITH $lshPairCtes
           |SELECT d1, d2, jacc FROM pr
           |ORDER BY d1, d2""".stripMargin,

      // q294: DOUBLE recursive closure (the q279 precedent) — old-slice
      // pairs and full-corpus pairs via the per-slice tiered chain, both
      // labeled min-reachable-id, split buckets off each key, churn flags
      // as integer CASEs
      "q294_split_churn" ->
        s"""WITH RECURSIVE $shinglesSql,
           |hs AS (SELECT doc_id, w, list_transform(w, t -> $tokHashSql) AS h
           |       FROM sh WHERE len(w) > 0),
           |sig AS (SELECT doc_id, w, ${sigExprs.mkString(", ")} FROM hs),
           |bandsAll AS (${bandSelects.mkString(" UNION ALL ")}),
           |hd AS (SELECT doc_id, list_distinct(h) AS hs2,
           |              len(list_distinct(h)) AS sz FROM hs),
           |${tieredPairCtes("o", "doc_id % 10 != 7")},
           |${tieredPairCtes("a", "TRUE")},
           |eo AS (SELECT d1 AS src, d2 AS dst FROM pro
           |       UNION SELECT d2, d1 FROM pro),
           |no AS (SELECT DISTINCT src AS id FROM eo),
           |ro(id, r) AS (
           |  SELECT id, id FROM no
           |  UNION
           |  SELECT e.src, ro.r FROM eo e JOIN ro ON e.dst = ro.id),
           |co AS (SELECT id, min(r) AS ck FROM ro GROUP BY id),
           |ea AS (SELECT d1 AS src, d2 AS dst FROM pra
           |       UNION SELECT d2, d1 FROM pra),
           |na AS (SELECT DISTINCT src AS id FROM ea),
           |ra(id, r) AS (
           |  SELECT id, id FROM na
           |  UNION
           |  SELECT e.src, ra.r FROM ea e JOIN ra ON e.dst = ra.id),
           |ca AS (SELECT id, min(r) AS ck FROM ra GROUP BY id),
           |go AS (SELECT d.doc_id, coalesce(co.ck, d.doc_id) AS old_key
           |       FROM (SELECT doc_id FROM documents WHERE doc_id % 10 != 7) d
           |       LEFT JOIN co ON d.doc_id = co.id),
           |ga AS (SELECT d.doc_id, coalesce(ca.ck, d.doc_id) AS new_key
           |       FROM (SELECT doc_id FROM documents) d
           |       LEFT JOIN ca ON d.doc_id = ca.id),
           |so AS (SELECT doc_id, old_key,
           |         CASE WHEN ('0x' || substr(md5(old_key::VARCHAR), 1, 4))::BIGINT % 100 < 90 THEN 'train'
           |              WHEN ('0x' || substr(md5(old_key::VARCHAR), 1, 4))::BIGINT % 100 < 95 THEN 'val'
           |              ELSE 'test' END AS old_split
           |       FROM go),
           |sa AS (SELECT doc_id, new_key,
           |         CASE WHEN ('0x' || substr(md5(new_key::VARCHAR), 1, 4))::BIGINT % 100 < 90 THEN 'train'
           |              WHEN ('0x' || substr(md5(new_key::VARCHAR), 1, 4))::BIGINT % 100 < 95 THEN 'val'
           |              ELSE 'test' END AS new_split
           |       FROM ga)
           |SELECT so.doc_id, old_key, new_key, old_split, new_split,
           |  CAST(CASE WHEN old_key != new_key THEN 1 ELSE 0 END AS BIGINT) AS key_changed,
           |  CAST(CASE WHEN old_split != new_split THEN 1 ELSE 0 END AS BIGINT) AS split_moved
           |FROM so JOIN sa USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // q291: q70's closure labels every clustered doc; singletons keep
      // their own id as the cluster key; the split bucket is q73's md5
      // expression applied to the KEY (shared with q285's oracle form)
      "q291_cluster_split" ->
        s"""WITH RECURSIVE $lshPairCtes,
           |edges AS (SELECT d1 AS src, d2 AS dst FROM pr
           |          UNION SELECT d2, d1 FROM pr),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
           |g AS (SELECT d.doc_id, coalesce(comp.cluster_id, d.doc_id) AS cluster_key
           |      FROM (SELECT doc_id FROM documents) d
           |      LEFT JOIN comp ON d.doc_id = comp.id),
           |b AS (SELECT doc_id, cluster_key,
           |        ('0x' || substr(md5(cluster_key::VARCHAR), 1, 4))::BIGINT % 100 AS bk
           |      FROM g)
           |SELECT doc_id, cluster_key,
           |  CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin,

      "q171_lsh_recall" ->
        s"""WITH $lshPairCtes,
           |f AS (SELECT doc_id,
           |        list_distinct(list_transform(w, t -> $tokHashSql)) AS hs2
           |      FROM sh WHERE doc_id < 500),
           |g AS (SELECT doc_id, hs2, len(hs2) AS sz FROM f),
           |tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
           |        len(list_intersect(a.hs2, b.hs2)) AS i, a.sz AS sz1, b.sz AS sz2
           |      FROM g a JOIN g b ON a.doc_id < b.doc_id
           |        AND a.sz * 10 >= b.sz * 7 AND b.sz * 10 >= a.sz * 7),
           |truth AS (SELECT d1, d2 FROM tp
           |          WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4)
           |            >= 0.7),
           |fnd AS (SELECT d1, d2 FROM pr WHERE d1 < 500 AND d2 < 500),
           |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
           |cf AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM fnd),
           |ch AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
           |       FROM truth t JOIN fnd f2 ON t.d1 = f2.d1 AND t.d2 = f2.d2)
           |SELECT n_truth, n_lsh, n_hit,
           |  CASE WHEN n_truth = 0 THEN CAST(10000 AS BIGINT)
           |       ELSE CAST((n_hit * 10000) // n_truth AS BIGINT) END AS recall_bp
           |FROM ct CROSS JOIN cf CROSS JOIN ch""".stripMargin,

      "q131_hybrid_neardup" -> {
        val dot = "list_sum([x.e1[i]::DOUBLE * y.e2[i]::DOUBLE for i in range(1, 65)])"
        def nrm(t: String, c: String) =
          s"sqrt(list_sum([$t.$c[i]::DOUBLE * $t.$c[i]::DOUBLE for i in range(1, 65)]))"
        s"""WITH $lshPairCtes,
           |x AS (SELECT vec_id AS d1, embedding AS e1 FROM embeddings),
           |y AS (SELECT vec_id AS d2, embedding AS e2 FROM embeddings),
           |hj AS (SELECT pr.d1, pr.d2, pr.jacc,
           |         round($dot / (${nrm("x", "e1")} * ${nrm("y", "e2")}), 4) AS cos
           |       FROM pr JOIN x USING (d1) JOIN y USING (d2))
           |SELECT d1, d2, jacc, cos,
           | CAST(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
           |   AS embedding_confirms
           |FROM hj ORDER BY d1, d2""".stripMargin
      },

      "q49_edit_distance" ->
        """WITH d AS (SELECT doc_id, text, length(text) AS len
          |           FROM documents WHERE doc_id < 100)
          |SELECT a.doc_id AS d1, b.doc_id AS d2,
          | CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
          |FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 16
          |WHERE levenshtein(a.text, b.text) <= 16
          |ORDER BY d1, d2""".stripMargin,

      "q59_cosine_neardup" -> {
        val dot = "list_sum([x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE for i in range(1, 65)])"
        def nrm(t: String) =
          s"sqrt(list_sum([$t.embedding[i]::DOUBLE * $t.embedding[i]::DOUBLE for i in range(1, 65)]))"
        def nrmc(t: String) =
          s"sqrt(list_sum([$t.centv[i]::DOUBLE * $t.centv[i]::DOUBLE for i in range(1, 65)]))"
        s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding AS centv
           |              FROM embeddings WHERE vec_id < 8),
           |assign AS (
           | SELECT vec_id, centroid_id, embedding FROM (
           |  SELECT e.vec_id, centroid_id, e.embedding,
           |   round(list_sum([c.centv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, 65)])
           |         / (${nrmc("c")} * ${nrm("e")}), 4) AS ascore
           |  FROM embeddings e, cent c)
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |                            ORDER BY ascore DESC, centroid_id) = 1),
           |p AS (SELECT x.vec_id AS v1, y.vec_id AS v2,
           |  round($dot / (${nrm("x")} * ${nrm("y")}), 4) AS cos
           | FROM assign x JOIN assign y
           |   ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
           |SELECT v1, v2, cos FROM p WHERE cos >= 0.45
           |ORDER BY v1, v2""".stripMargin
      },

      "q252_rhp_neardup" -> {
        val dot = "list_sum([x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE for i in range(1, 65)])"
        def nrm(t: String) =
          s"sqrt(list_sum([$t.embedding[i]::DOUBLE * $t.embedding[i]::DOUBLE for i in range(1, 65)]))"
        s"""WITH planes AS (
           | SELECT p, [CASE WHEN substr(md5('rhp_' || p || '_' || j), 1, 1) < '8'
           |                 THEN 1.0 ELSE -1.0 END for j in range(0, 64)] AS comp
           | FROM (SELECT unnest(range(0, 24)) AS p)),
           |dots AS (
           | SELECT e.vec_id, e.embedding, pl.p,
           |   list_sum([e.embedding[j]::DOUBLE * pl.comp[j] for j in range(1, 65)]) AS dot
           | FROM embeddings e, planes pl),
           |sig AS (
           | SELECT vec_id, any_value(embedding) AS embedding,
           |   CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END)
           |     AS BIGINT) AS sg
           | FROM dots GROUP BY vec_id),
           |bands AS (SELECT * FROM (
           |  SELECT vec_id, embedding, bi, (sg >> (6 * bi)) & 63 AS bv
           |  FROM sig, (SELECT unnest(range(0, 4)) AS bi))
           | QUALIFY count(*) OVER (PARTITION BY bi, bv) BETWEEN 2 AND 128),
           |cand AS (SELECT DISTINCT
           |   least(a.vec_id, b.vec_id) AS v1, greatest(a.vec_id, b.vec_id) AS v2
           | FROM bands a JOIN bands b
           |   ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id < b.vec_id)
           |SELECT v1, v2,
           |  round($dot / (${nrm("x")} * ${nrm("y")}), 4) AS cos
           |FROM cand JOIN embeddings x ON v1 = x.vec_id
           |          JOIN embeddings y ON v2 = y.vec_id
           |WHERE round($dot / (${nrm("x")} * ${nrm("y")}), 4) >= 0.45
           |ORDER BY v1, v2""".stripMargin
      },

      "q67_simhash_pairs" ->
        s"""WITH d AS (SELECT doc_id, text FROM documents
           |           UNION ALL SELECT doc_id + 100000, text FROM documents),
           |t AS (SELECT doc_id, $toksSql AS w FROM d),
           |hs AS (SELECT doc_id,
           |  list_transform(w, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h60 FROM t),
           |sh AS (SELECT doc_id,
           | CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
           |                                    for h in h60]) > 0
           |                THEN (1::BIGINT << j) ELSE 0::BIGINT END
           |               for j in range(0, 60)]) AS BIGINT) AS sh
           | FROM hs),
           |bands AS (SELECT * FROM (
           |  SELECT doc_id, sh, bi, (sh >> (15 * bi)) & 32767 AS bv
           |  FROM sh, (SELECT unnest(range(0, 4)) AS bi))
           | QUALIFY count(*) OVER (PARTITION BY bi, bv) <= 64),
           |cand AS (SELECT DISTINCT
           |   least(a.doc_id, b.doc_id) AS d1, greatest(a.doc_id, b.doc_id) AS d2,
           |   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hd
           | FROM bands a JOIN bands b
           |   ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
           |SELECT d1, d2, hd FROM cand WHERE hd <= 3
           |ORDER BY d1, d2""".stripMargin,

      "q38_simhash" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
           |hs AS (SELECT doc_id,
           |  list_transform(w, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h60 FROM t)
           |SELECT doc_id,
           | CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
           |                                    for h in h60]) > 0
           |                THEN (1::BIGINT << j) ELSE 0::BIGINT END
           |               for j in range(0, 60)]) AS BIGINT) AS simhash
           |FROM hs ORDER BY doc_id""".stripMargin,

      "q194_lsh_precision" ->
        s"""WITH $lshPairCtes
           |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST(sum(CASE WHEN round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4)
           |                     >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
           |  CASE WHEN count(*) = 0 THEN CAST(NULL AS BIGINT)
           |       ELSE CAST((sum(CASE WHEN round(CAST(i AS DOUBLE)
           |              / CAST(sz1 + sz2 - i AS DOUBLE), 4) >= 0.7
           |              THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) END
           |    AS precision_bp
           |FROM j""".stripMargin,

      "q198_er_eval" ->
        """WITH d0 AS (SELECT p_name AS truth, p_name,
          |        CAST(p_partkey % length(p_name) AS INT) AS pos FROM part),
          |dirty AS (SELECT truth, substr(p_name, 1, pos) || substr(p_name, pos + 2)
          |            AS dirty_name FROM d0),
          |dn AS (SELECT dirty_name FROM dirty GROUP BY 1),
          |cat AS (SELECT DISTINCT p_name FROM part),
          |cand AS (SELECT dn.dirty_name, cat.p_name,
          |           jaro_winkler_similarity(dn.dirty_name, cat.p_name) AS score
          |         FROM dn JOIN cat
          |           ON substr(dn.dirty_name, 1, 1) = substr(cat.p_name, 1, 1)
          |          AND abs(length(dn.dirty_name) - length(cat.p_name)) <= 1
          |          AND jaro_winkler_similarity(dn.dirty_name, cat.p_name) >= 0.85),
          |best AS (SELECT dirty_name, p_name AS matched_name FROM cand
          |         QUALIFY row_number() OVER (PARTITION BY dirty_name
          |                                    ORDER BY score DESC, p_name) = 1),
          |bm AS (SELECT dirty_name, matched_name FROM best
          |       UNION ALL
          |       SELECT dirty_name, '(none)' FROM dn
          |       WHERE dirty_name NOT IN (SELECT dirty_name FROM best)),
          |o AS (SELECT CASE WHEN bm.matched_name = '(none)' THEN 'unmatched'
          |             WHEN bm.matched_name = dirty.truth THEN 'matched_correct'
          |             ELSE 'matched_wrong' END AS outcome
          |      FROM dirty JOIN bm USING (dirty_name)),
          |g AS (SELECT outcome, CAST(count(*) AS BIGINT) AS n_records
          |      FROM o GROUP BY outcome)
          |SELECT outcome, n_records,
          |  CAST((n_records * 10000) // (SELECT sum(n_records) FROM g) AS BIGINT)
          |    AS share_bp
          |FROM g ORDER BY outcome""".stripMargin,

      "q186_entity_match" ->
        """WITH d0 AS (SELECT p_name,
          |        CAST(p_partkey % length(p_name) AS INT) AS pos FROM part),
          |dirty AS (SELECT substr(p_name, 1, pos) || substr(p_name, pos + 2)
          |            AS dirty_name FROM d0),
          |dn AS (SELECT dirty_name, CAST(count(*) AS BIGINT) AS n_records
          |       FROM dirty GROUP BY 1),
          |cat AS (SELECT DISTINCT p_name FROM part),
          |cand AS (SELECT dn.dirty_name, dn.n_records, cat.p_name,
          |           jaro_winkler_similarity(dn.dirty_name, cat.p_name) AS score
          |         FROM dn JOIN cat
          |           ON substr(dn.dirty_name, 1, 1) = substr(cat.p_name, 1, 1)
          |          AND abs(length(dn.dirty_name) - length(cat.p_name)) <= 1
          |          AND jaro_winkler_similarity(dn.dirty_name, cat.p_name) >= 0.85),
          |best AS (SELECT dirty_name, p_name AS matched_name, n_records,
          |           CAST(floor(score * 10000) AS BIGINT) AS score_e4
          |         FROM cand
          |         QUALIFY row_number() OVER (PARTITION BY dirty_name
          |                                    ORDER BY score DESC, p_name) = 1)
          |SELECT dirty_name, matched_name, n_records, score_e4 FROM best
          |UNION ALL
          |SELECT dirty_name, '(none)', n_records, CAST(0 AS BIGINT) FROM dn
          |WHERE dirty_name NOT IN (SELECT dirty_name FROM best)
          |ORDER BY dirty_name""".stripMargin,

      "q215_boilerplate" ->
        """WITH t AS (SELECT doc_id,
          |        string_split_regex(lower(trim(text)), '\s+') AS w
          |      FROM documents WHERE length(trim(text)) > 0),
          |t3 AS (SELECT doc_id, w FROM t WHERE len(w) >= 3),
          |g AS (SELECT doc_id,
          |        ('0x' || substr(md5(s.g), 1, 8))::BIGINT % 2147483647 AS h
          |      FROM (SELECT doc_id,
          |              unnest([{'g': w[i] || ' ' || w[i+1] || ' ' || w[i+2]}
          |                      for i in range(1, len(w) - 1)]) AS s
          |            FROM t3)),
          |gc AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS cnt
          |       FROM g GROUP BY doc_id, h),
          |df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM gc GROUP BY h),
          |j AS (SELECT doc_id, sum(cnt) AS n_grams,
          |        sum(CASE WHEN df >= 5 THEN cnt ELSE 0 END) AS n_boiler
          |      FROM gc JOIN df USING (h) GROUP BY doc_id)
          |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
          |       CAST(n_boiler AS BIGINT) AS n_boiler,
          |       CAST((n_boiler * 10000) // n_grams AS BIGINT) AS boiler_bp
          |FROM j ORDER BY doc_id""".stripMargin,

      "q220_prefix_join" ->
        s"""WITH $shinglesSql,
           |hs0 AS (SELECT doc_id, list_transform(w, t -> $tokHashSql) AS h
           |        FROM sh WHERE len(w) > 0),
           |hd AS (SELECT doc_id, list_distinct(h) AS hs,
           |         len(list_distinct(h)) AS sz FROM hs0),
           |fr AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt
           |       FROM (SELECT doc_id, unnest(hs) AS h FROM hd) GROUP BY h),
           |tok AS (SELECT t.doc_id, t.sz, t.h, fr.cnt
           |        FROM (SELECT doc_id, sz, unnest(hs) AS h FROM hd) t
           |        JOIN fr USING (h)),
           |pre AS (SELECT doc_id, h FROM (
           |          SELECT doc_id, h,
           |            row_number() OVER (PARTITION BY doc_id ORDER BY cnt, h)
           |              AS rn,
           |            sz - (7 * sz + 9) // 10 + 1 AS l
           |          FROM tok) WHERE rn <= l),
           |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |         FROM pre a JOIN pre b
           |           ON a.h = b.h AND a.doc_id < b.doc_id),
           |j AS (SELECT d1, d2, len(list_intersect(x.hs, y.hs)) AS i,
           |        x.sz AS sz1, y.sz AS sz2
           |      FROM cand JOIN hd x ON cand.d1 = x.doc_id
           |      JOIN hd y ON cand.d2 = y.doc_id)
           |SELECT d1, d2,
           |  round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) AS jacc
           |FROM j
           |WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4) >= 0.7
           |ORDER BY d1, d2""".stripMargin,

      "q237_semantic_decontam" -> {
        def nrm(t: String, c: String) =
          s"sqrt(list_sum([$t.$c[i]::DOUBLE * $t.$c[i]::DOUBLE for i in range(1, 65)]))"
        s"""WITH e AS (SELECT vec_id, embedding,
           |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100
           |      AS b
           |  FROM embeddings),
           |cent AS (SELECT vec_id AS cid, embedding AS centv
           |         FROM e WHERE vec_id < 8),
           |assign AS (SELECT vec_id, b, cid, embedding FROM (
           |  SELECT e.vec_id, e.b, c.cid, e.embedding,
           |    list_sum([c.centv[i]::DOUBLE * e.embedding[i]::DOUBLE
           |              for i in range(1, 65)])
           |    / (${nrm("c", "centv")} * ${nrm("e", "embedding")}) AS s
           |  FROM e, cent c)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |                             ORDER BY s DESC, cid) = 1),
           |p AS (SELECT h.vec_id AS hv, t.vec_id AS tv,
           |    round(list_sum([h.embedding[i]::DOUBLE * t.embedding[i]::DOUBLE
           |                    for i in range(1, 65)])
           |      / (${nrm("h", "embedding")} * ${nrm("t", "embedding")}), 4)
           |      AS cos
           |  FROM assign h JOIN assign t
           |    ON h.cid = t.cid AND h.b >= 90 AND t.b < 90)
           |SELECT hv AS heldout_vec, tv AS nearest_train, cos
           |FROM p WHERE cos >= 0.35
           |QUALIFY row_number() OVER (PARTITION BY hv
           |                           ORDER BY cos DESC, tv) = 1
           |ORDER BY heldout_vec""".stripMargin
      },

      // the LSH pipeline (pr) and a renamed prefix-join chain share the
      // lshPairCtes hd table, then full-outer compare
      "q233_lsh_eval" ->
        s"""WITH $lshPairCtes,
           |pfr AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt
           |        FROM (SELECT doc_id, unnest(hs) AS h FROM hd) GROUP BY h),
           |ptok AS (SELECT t.doc_id, t.sz, t.h, pfr.cnt
           |         FROM (SELECT doc_id, sz, unnest(hs) AS h FROM hd) t
           |         JOIN pfr USING (h)),
           |ppre AS (SELECT doc_id, h FROM (
           |           SELECT doc_id, h,
           |             row_number() OVER (PARTITION BY doc_id ORDER BY cnt, h)
           |               AS rn,
           |             sz - (7 * sz + 9) // 10 + 1 AS l
           |           FROM ptok) WHERE rn <= l),
           |pcand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |          FROM ppre a JOIN ppre b
           |            ON a.h = b.h AND a.doc_id < b.doc_id),
           |pj AS (SELECT d1, d2, len(list_intersect(x.hs, y.hs)) AS i,
           |         x.sz AS sz1, y.sz AS sz2
           |       FROM pcand JOIN hd x ON pcand.d1 = x.doc_id
           |       JOIN hd y ON pcand.d2 = y.doc_id),
           |px AS (SELECT d1, d2 FROM pj
           |       WHERE round(CAST(i AS DOUBLE) / CAST(sz1 + sz2 - i AS DOUBLE), 4)
           |             >= 0.7),
           |m AS (SELECT
           |        CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_lsh,
           |        CASE WHEN x.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_exact
           |      FROM (SELECT d1, d2 FROM pr) l
           |      FULL OUTER JOIN px x ON l.d1 = x.d1 AND l.d2 = x.d2),
           |ag AS (SELECT CAST(sum(in_exact) AS BIGINT) AS n_exact,
           |         CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           |         CAST(sum(CASE WHEN in_lsh = 1 AND in_exact = 1 THEN 1
           |              ELSE 0 END) AS BIGINT) AS tp,
           |         CAST(sum(CASE WHEN in_lsh = 0 AND in_exact = 1 THEN 1
           |              ELSE 0 END) AS BIGINT) AS fn,
           |         CAST(sum(CASE WHEN in_lsh = 1 AND in_exact = 0 THEN 1
           |              ELSE 0 END) AS BIGINT) AS fp
           |       FROM m)
           |SELECT n_exact, n_lsh, tp, fn, fp,
           |  CAST(CASE WHEN n_lsh = 0 THEN NULL
           |       ELSE (tp * 10000) // n_lsh END AS BIGINT) AS precision_bp,
           |  CAST(CASE WHEN n_exact = 0 THEN NULL
           |       ELSE (tp * 10000) // n_exact END AS BIGINT) AS recall_bp
           |FROM ag""".stripMargin,

      // bands for ALL docs, then the corpus/batch split: index buckets
      // capped on corpus membership only (WHERE runs before QUALIFY's
      // window, so the count sees just corpus rows); probe bands uncapped;
      // best match = jacc desc then id asc — mirrors max_by(struct) exactly
      "q244_incremental_neardup" ->
        s"""WITH $shinglesSql,
           |hs AS (SELECT doc_id, w, list_transform(w, t -> $tokHashSql) AS h
           |       FROM sh WHERE len(w) > 0),
           |sig AS (SELECT doc_id, w, ${sigExprs.mkString(", ")} FROM hs),
           |bandsAll AS (${bandSelects.mkString(" UNION ALL ")}),
           |cb AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 != 7
           |       QUALIFY count(*) OVER (PARTITION BY bi, bh) <= $LshBucketCap),
           |pb AS (SELECT doc_id, bi, bh FROM bandsAll WHERE doc_id % 10 = 7),
           |cand AS (SELECT DISTINCT pb.doc_id AS b, cb.doc_id AS c
           |         FROM pb JOIN cb USING (bi, bh)),
           |hd AS (SELECT doc_id, list_distinct(h) AS hs2,
           |              len(list_distinct(h)) AS sz FROM hs),
           |j AS (SELECT b, c, len(list_intersect(x.hs2, y.hs2)) AS i,
           |             x.sz AS sz1, y.sz AS sz2
           |      FROM cand JOIN hd x ON cand.b = x.doc_id
           |                JOIN hd y ON cand.c = y.doc_id),
           |v AS (SELECT b, c, (i * 10000) // (sz1 + sz2 - i) AS jacc_bp
           |      FROM j WHERE i * 10 >= (sz1 + sz2 - i) * 7),
           |r AS (SELECT b, c, jacc_bp,
           |        row_number() OVER (PARTITION BY b ORDER BY jacc_bp DESC, c) AS rn,
           |        count(*) OVER (PARTITION BY b) AS nm
           |      FROM v)
           |SELECT b AS batch_id, CAST(nm AS BIGINT) AS n_matches,
           |       c AS match_id, CAST(jacc_bp AS BIGINT) AS jacc_bp
           |FROM r WHERE rn = 1 ORDER BY batch_id""".stripMargin
    )
    // q246 drives the PERSISTED index through build/append/probe; the
    // answer depends only on index content, which equals q244's in-query
    // split — the oracle is shared verbatim (the q190 -> q126 pattern).
    // q270 adds the tombstone step (doc_id%10==3 removed): its oracle is
    // the SAME SQL with the survivor predicate added to the corpus CTE —
    // before the QUALIFY cap window, exactly like the engine filters
    // tombstones before capping.
    // q289 runs q220's exact join through the shard loop; the pair set
    // is identical by construction, so the oracle is shared verbatim.
    // q292 reads the split from a ClusterState built over the SAME pair
    // set q291 clusters in-query — labels identical (star-fold ≡
    // from-scratch CC), so the oracle is q291's SQL verbatim.
    m + ("q246_standing_index" -> m("q244_incremental_neardup")) +
      ("q270_tombstoned_index" -> m("q244_incremental_neardup").replace(
        "WHERE doc_id % 10 != 7\n",
        "WHERE doc_id % 10 != 7 AND doc_id % 10 != 3\n")) +
      ("q289_sharded_prefix" -> m("q220_prefix_join")) +
      ("q292_state_split" -> m("q291_cluster_split"))
  }
}
