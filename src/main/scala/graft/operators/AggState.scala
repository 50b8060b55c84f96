package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables

/** Incremental aggregate maintenance — a standing partial-aggregate table
  * kept current by blind appends, the third member of the standing-state
  * family (DedupIndex: near-dup bands; AnnIndex: vector buckets; here:
  * algebraic aggregates). Reference analog: the audit script recomputes
  * its per-project counts from scratch every run (`app.py`'s groupby over
  * the full pull) — at 100 TB the daily recount IS the bottleneck, and
  * the fix is to persist the aggregate's PARTIAL state and fold only the
  * delta.
  *
  * The state table holds one row per key per ingested slice:
  * (keys..., __n, __sum, __min, __max). Every stored measure is
  * ALGEBRAIC — partials merge by sum/sum/min/max — so:
  *
  *  - `append` is a blind parquet write of the delta's partials (no
  *    read-modify-write, no corpus rescan: ingest cost is O(|delta|));
  *  - `merged` folds however many slice rows exist into the exact final
  *    aggregate — bit-identical to a from-scratch groupBy over the full
  *    data (spec-proved), because count/sum/min/max are order- and
  *    grouping-insensitive (integer sums: no float reassociation);
  *  - `optimize` collapses accumulated slice rows to one row per key —
  *    validated by fingerprint equality of the MERGED view before/after,
  *    the only invariant compaction must preserve.
  *
  * Non-algebraic measures (exact distincts, medians) deliberately do not
  * fit this table; their mergeable forms are the sketch family
  * (HllRegs/HistRegs), which would store regs blobs in the same layout.
  */
object AggState {

  private def statePath(stateDir: String): String = s"$stateDir/state"

  def exists(stateDir: String): Boolean = new File(statePath(stateDir)).isDirectory

  /** One partial-aggregate row per key for `df` — the unit both `build`
    * and `append` write. One partial-aggregating shuffle on the keys. */
  def partials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__sum"),
        min(col(valueCol)).as("__min"), max(col(valueCol)).as("__max"))

  def build(df: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    partials(df, keys, valueCol).write.mode("overwrite").parquet(statePath(stateDir))

  def append(delta: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    partials(delta, keys, valueCol).write.mode("append").parquet(statePath(stateDir))

  /** RETRACT previously-ingested rows: a blind append of NEGATED partials
    * — O(|deleted|), no state rewrite. Count and sum are group-invertible,
    * so after retraction `merged`'s n/sum equal a from-scratch aggregate
    * over the survivors EXACTLY, and a fully-retracted key disappears
    * (n=0 rows are filtered from the merged view). min/max are NOT
    * invertible — the retraction slice carries NULL min/max (ignored by
    * the fold), so after a retraction has touched a key its min/max are
    * LIFETIME bounds (conservative, still valid); use [[retractExact]]
    * when a takedown must leave the bounds exact (it rebuilds only the
    * keys whose extreme was retracted). Contract: retract only rows
    * previously added — the caller owns that discipline, same as every
    * CDC feed. */
  def retract(deleted: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    negatedPartials(deleted, keys, valueCol).write.mode("append").parquet(statePath(stateDir))

  /** The retraction slice of `deleted`: its [[partials]] with `__n` and
    * `__sum` negated and NULL `__min`/`__max` (not invertible; the fold
    * ignores NULL). */
  private def negatedPartials(deleted: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val p = partials(deleted, keys, valueCol)
    p.select(keys.map(col) ++ Seq(
      negate(col("__n")).as("__n"), negate(col("__sum")).as("__sum"),
      lit(null).cast(p.schema("__min").dataType).as("__min"),
      lit(null).cast(p.schema("__max").dataType).as("__max")): _*)
  }

  /** One-write signed fold (r19 optimization): exactly [[append]] of the
    * `multCol > 0` slice plus [[retract]] of the `multCol < 0` slice, but
    * written as a SINGLE parquet append — the composed-IVM consumer
    * (q278's per-delta fold) was paying two write jobs per view delta for
    * rows that land in the same state table. Row content is identical to
    * the two-call form (AggStateSpec pins state-table equality), so
    * `merged` and `optimize` see exactly what they saw before. */
  def foldSigned(delta: DataFrame, keys: Seq[String], valueCol: String,
      multCol: String, stateDir: String): Unit = {
    partials(delta.filter(col(multCol) > 0), keys, valueCol)
      .unionByName(negatedPartials(delta.filter(col(multCol) < 0), keys, valueCol))
      .write.mode("append").parquet(statePath(stateDir))
  }

  /** Takedown with EXACT min/max (r18 — closes the [[retract]] caveat):
    * retracting the row that carries a key's min (or max) leaves the
    * lifetime bound stale; this rebuilds exactly the AFFECTED keys from
    * `survivors` (the [[ClusterState]].removeDocs affected-only
    * discipline applied to the scalar table).
    *
    *  - affected = deleted keys whose deleted extreme reaches the current
    *    merged min/max (delta-sized: one partials pass over `deleted` +
    *    a join against the merged view);
    *  - unaffected deleted keys take the plain O(|deleted|) negative-
    *    partial append — no state rewrite, min/max stay EXACT (the
    *    deleted values were strictly inside the bounds);
    *  - affected keys' slice rows are REPLACED by scratch partials over
    *    the surviving rows of only those keys (`survivors` is semi-joined
    *    against the broadcast-sized affected set, so a corpus-backed
    *    caller pays one pruned scan, never a re-aggregation of the
    *    world). A key with no surviving rows produces no partial and
    *    vanishes, exactly as from scratch.
    *
    * The state rewrite happens ONLY when some extreme was actually
    * retracted; `survivors` must hold every surviving (keys, value) row
    * of the affected keys (rows of other keys are pruned, extra ones are
    * harmless). Same CDC contract as [[retract]]: only retract rows
    * previously added. After this, `merged` equals a from-scratch
    * aggregate over the survivors on ALL four measures (gate-checked by
    * q314's oracle). */
  def retractExact(spark: SparkSession, deleted: DataFrame,
      survivors: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit = {
    val dp = partials(deleted, keys, valueCol)
      .localCheckpoint(eager = true)
    val affected = dp.join(merged(spark, stateDir, keys), keys)
      .filter(col("__min") <= col("min") || col("__max") >= col("max"))
      .select(keys.map(col): _*)
      .localCheckpoint(eager = true)
    val plainDeleted = deleted.join(broadcast(affected), keys, "left_anti")
    retract(plainDeleted, keys, valueCol, stateDir)
    if (!affected.isEmpty) {
      val rebuilt = partials(
        survivors.join(broadcast(affected), keys, "left_semi"), keys, valueCol)
      // pin before overwriting the directory the plan reads from
      val newState = StandingTables.read(spark, statePath(stateDir))
        .join(broadcast(affected), keys, "left_anti")
        .unionByName(rebuilt)
        .localCheckpoint(eager = true)
      newState.write.mode("overwrite").parquet(statePath(stateDir))
    }
  }

  /** The exact current aggregate: fold all slice rows per key. */
  def merged(spark: SparkSession, stateDir: String, keys: Seq[String]): DataFrame =
    mergeRows(StandingTables.read(spark, statePath(stateDir)), keys)

  private def mergeRows(state: DataFrame, keys: Seq[String]): DataFrame =
    state.groupBy(keys.map(col): _*)
      .agg(sum("__n").cast("long").as("n"), sum("__sum").as("sum"),
        min("__min").as("min"), max("__max").as("max"))
      // a fully-retracted key has no live rows — it must vanish from the
      // merged view exactly as it would from a from-scratch aggregate
      .filter(col("n") > 0)

  // ---- mergeable distinct-count state (KMV bottom-k) ---------------------
  // Exact distincts are NOT algebraic — the scalar table above cannot hold
  // them. The mergeable form is the sketch family; KMV is the member whose
  // state is a tiny integer array the oracle can reproduce bit-for-bit
  // (q111's shared 56-bit md5 hash): per key per slice, the k=16 smallest
  // distinct hashes. Bottom-k of a union of bottom-ks IS the bottom-k of
  // the union, so blind slice appends merge exactly and incremental ≡
  // from-scratch by construction. Estimate: (k−1)·2^56 / h_k in pure
  // integer math; fewer than k hashes collected means the count is exact.

  val KmvK = 16
  private val KmvNum = 15L * 72057594037927936L // (k-1) * 2^56

  private def distinctStatePath(stateDir: String): String = s"$stateDir/distinct_state"

  /** One KMV row per key for `df`: the bottom-k distinct hashes of
    * `valueCol` (q111's 56-bit md5-prefix hash — md5 over the value's
    * string bytes, so a DuckDB oracle's '0x' || substr(md5(v), 1, 14)
    * reproduces it exactly). One dedup + one partial bottom-k shuffle. */
  def distinctPartials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    kmvBottomK(df.select(keys.map(col) :+
        md5(col(valueCol).cast("string").cast("binary")).as("__m"): _*)
      .select(keys.map(col) :+
        expr("CAST(conv(substring(__m, 1, 14), 16, 10) AS BIGINT)").as("__h"): _*), keys)

  def buildDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    distinctPartials(df, keys, valueCol)
      .write.mode("overwrite").parquet(distinctStatePath(stateDir))

  def appendDistinct(delta: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    distinctPartials(delta, keys, valueCol)
      .write.mode("append").parquet(distinctStatePath(stateDir))

  /** Collapse slice KMV rows to ONE bottom-k row per key — the state-side
    * fold `mergedDistinct` estimates over, and the rewrite `optimize`
    * persists (bottom-k of a union of bottom-ks is the bottom-k of the
    * union, so collapsing is lossless by construction). */
  private def kmvFold(state: DataFrame, keys: Seq[String]): DataFrame =
    kmvBottomK(state.select(keys.map(col) :+ explode(col("__kmv")).as("__h"): _*), keys)

  /** The bottom-k distinct `__h` hashes per key of (keys, __h) rows, as
    * the `__kmv` array: one dedup + one partial bottom-k shuffle. */
  private def kmvBottomK(hashes: DataFrame, keys: Seq[String]): DataFrame =
    hashes
      .dropDuplicates(keys :+ "__h")
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.TopKByScore.top_k(KmvK)(col("__h"),
        negate(col("__h").cast("double"))).as("__mins"))
      .select(keys.map(col) :+
        transform(col("__mins"), m => m.getField("id")).as("__kmv"): _*)

  /** The current distinct-count estimate per key: union the slice arrays,
    * re-take the bottom-k, apply the KMV estimator. */
  def mergedDistinct(spark: SparkSession, stateDir: String,
      keys: Seq[String]): DataFrame =
    kmvFold(StandingTables.read(spark, distinctStatePath(stateDir)), keys)
      .withColumn("__h_k", element_at(col("__kmv"), KmvK))
      .select(keys.map(col) ++ Seq(
        when(size(col("__kmv")) < KmvK, size(col("__kmv")).cast("long"))
          .otherwise(expr(s"CAST($KmvNum DIV __h_k AS BIGINT)"))
          .as("est_distinct")): _*)

  // ---- mergeable quantile state (sub-log histogram buckets) --------------
  // The third state member (scalars / distincts / QUANTILES): per key per
  // slice one row per occupied bucket of q219's sub-log histogram (0-7
  // exact, then 4 sub-buckets per octave, <=25% bucket width). Bucket
  // COUNTS are plainly additive, so this is the scalar table's own
  // discipline applied to a quantile sketch: blind appends, merge = sum,
  // incremental ≡ from-scratch by arithmetic. The bucket index and the
  // ceil(p·n) walk are integer-exact, so a DuckDB oracle reproduces the
  // estimates bit-for-bit (the q219 lesson).

  private def histStatePath(stateDir: String): String = s"$stateDir/hist_state"

  // q219's bucket index / lower-bound expressions over a non-negative
  // BIGINT column named __v / __idx (shared shape with the q219 oracle)
  private val HistIdxSql =
    """CASE WHEN __v < 8 THEN __v
      |     ELSE 8 + 4 * (length(bin(__v)) - 4)
      |          + (shiftright(__v, length(bin(__v)) - 3) % 4) END""".stripMargin
  private val HistLowerSql =
    """CASE WHEN __idx < 8 THEN __idx
      |     ELSE (4 + (__idx - 8) % 4)
      |          * shiftleft(CAST(1 AS BIGINT), (__idx - 8) DIV 4 + 1) END""".stripMargin

  /** One (keys..., __idx, __cnt) row per occupied histogram bucket of
    * `valueCol` (non-negative BIGINT) — the additive quantile state. */
  def histPartials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .select(keys.map(col) :+ expr(HistIdxSql).cast("long").as("__idx"): _*)
      .groupBy(keys.map(col) :+ col("__idx"): _*)
      .agg(count(lit(1)).as("__cnt"))

  def buildHist(df: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    histPartials(df, keys, valueCol)
      .write.mode("overwrite").parquet(histStatePath(stateDir))

  def appendHist(delta: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    histPartials(delta, keys, valueCol)
      .write.mode("append").parquet(histStatePath(stateDir))

  /** RETRACT previously-ingested rows from the histogram state: bucket
    * counts are ADDITIVE, so negated counts retract EXACTLY — after this,
    * `mergedHist` equals a from-scratch histogram over the survivors
    * (same contract as [[retract]]: only retract rows previously added).
    * The KMV distinct state has NO retraction — a bottom-k sketch cannot
    * un-insert; delete-on-distincts means rebuild (`buildDistinct` over
    * the survivors), the honest contract for that sketch family. */
  def retractHist(deleted: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit =
    histPartials(deleted, keys, valueCol)
      .select(keys.map(col) ++ Seq(col("__idx"),
        negate(col("__cnt")).as("__cnt")): _*)
      .write.mode("append").parquet(histStatePath(stateDir))

  /** Current quantile estimates per key: fold the slice bucket rows (sum),
    * walk the cumulative histogram to the ceil(p·n) crossings. The window
    * runs over ~|keys|·|buckets| aggregate rows, never the data. */
  def mergedHist(spark: SparkSession, stateDir: String,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val folded = StandingTables.read(spark, histStatePath(stateDir))
      .groupBy(keys.map(col) :+ col("__idx"): _*)
      .agg(sum("__cnt").as("__cnt"))
      // a fully-retracted bucket vanishes, exactly as from scratch
      .filter(col("__cnt") =!= 0)
    val wCum = Window.partitionBy(keys.map(col): _*).orderBy("__idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys.map(col): _*)
    folded
      .withColumn("__cum", sum("__cnt").over(wCum))
      .withColumn("__n", sum("__cnt").over(wAll))
      .withColumn("__lower", expr(HistLowerSql).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(min("__n").cast("long").as("n"),
        min(when(expr("__cum >= (__n + 1) DIV 2"), col("__lower"))).cast("long").as("p50_est"),
        min(when(expr("__cum >= (9 * __n + 9) DIV 10"), col("__lower"))).cast("long").as("p90_est"),
        min(when(expr("__cum >= (99 * __n + 99) DIV 100"), col("__lower"))).cast("long").as("p99_est"))
  }

  // ---- mergeable membership state (packed Bloom filter) ------------------
  // The fourth state member (scalars / distincts / quantiles / MEMBERSHIP):
  // "have we ever ingested this value" as a standing table a scan task can
  // hold. The state is the classic Bloom filter bit array, stored PACKED —
  // one row per occupied 64-bit word per key: (keys..., __word, __bits) —
  // so its size is bounded by mBits/64 rows per key at ANY corpus size,
  // and the whole filter broadcasts (128 KB dense at the 2^20 default).
  // Bitwise OR is associative, commutative and idempotent, so:
  //  - `appendBloom` is a blind write of the delta's packed words (O(Δ));
  //  - `mergedBloom` folds slice rows with bit_or — grown-via-blind-appends
  //    is BIT-IDENTICAL to from-scratch by the OR algebra (spec-proved,
  //    and hash-checked in the q283 gate);
  //  - no false negatives ever (a set bit is never cleared), false
  //    positives at the textbook (1-e^{-kn/m})^k rate — both engines
  //    compute the SAME set because hashing is the shared md5 convention
  //    and the k probe positions are pure integer math.
  // Like the KMV sketch there is NO retraction — a bit cannot be un-ORed
  // (it may be shared); delete means rebuild over the survivors. mBits/k
  // are BUILD knobs persisted in a meta file (the ViewState lesson: sizing
  // levers must not be hard-coded), so readers honor whatever the state
  // was built at. 100 TB posture: the decontamination / novelty screen —
  // the filter rides a broadcast to every scan task and screens map-side;
  // only screened-in values reach any shuffle.

  val BloomDefaultBits = 1048573L // largest prime < 2^20 -> <=16384 words
  val BloomDefaultK = 3
  // fixed odd primes; position_j = (h * salt_j + j) mod mBits. h < 2^32
  // and salt < 2^20 keep the product < 2^52 — exact in BIGINT on both
  // engines (no float, no overflow).
  private[graft] val BloomSalts = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L)

  private def bloomStatePath(stateDir: String): String = s"$stateDir/bloom_state"
  private def bloomMetaPath(stateDir: String): String = s"$stateDir/bloom_meta.txt"

  final case class BloomMeta(mBits: Long, k: Int)

  def bloomExists(stateDir: String): Boolean =
    new File(bloomStatePath(stateDir)).isDirectory

  def readBloomMeta(stateDir: String): BloomMeta = {
    val src = scala.io.Source.fromFile(bloomMetaPath(stateDir))
    val lines = try src.getLines().toList finally src.close()
    BloomMeta(lines.head.trim.toLong, lines(1).trim.toInt)
  }

  private def writeBloomMeta(stateDir: String, m: BloomMeta): Unit = {
    new File(stateDir).mkdirs()
    java.nio.file.Files.write(new File(bloomMetaPath(stateDir)).toPath,
      (m.mBits + "\n" + m.k).getBytes("UTF-8"))
    ()
  }

  /** The shared 32-bit md5-prefix hash of a column's STRING form (q111's
    * discipline: md5 over the value's string bytes, so a DuckDB oracle's
    * ('0x' || substr(md5(v::VARCHAR), 1, 8))::BIGINT reproduces it). */
  private def bloomHash(valueCol: String): Column =
    expr("CAST(conv(substring(md5(CAST(CAST(" + valueCol +
      " AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)")

  /** k probe positions of one value — pure integer math both engines agree
    * on bit-for-bit. */
  private def bloomPositions(h: Column, mBits: Long, k: Int): Column = {
    require(k >= 1 && k <= BloomSalts.length, s"bloom k out of range: $k")
    array((0 until k).map(j =>
      pmod(h * lit(BloomSalts(j)) + lit(j.toLong), lit(mBits))): _*)
  }

  /** Packed word rows for `df`: (keys..., __word, __bits). One explode (k
    * rows per input) + one partial-aggregating bit_or shuffle bounded at
    * keys x mBits/64 groups. */
  def bloomPartials(df: DataFrame, keys: Seq[String], valueCol: String,
      mBits: Long, k: Int): DataFrame = {
    val h = bloomHash(valueCol)
    df.select(keys.map(col) :+ explode(bloomPositions(h, mBits, k)).as("__pos"): _*)
      .select(keys.map(col) ++ Seq(expr("__pos DIV 64").as("__word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").as("__mask")): _*)
      .groupBy((keys :+ "__word").map(col): _*)
      .agg(bit_or(col("__mask")).as("__bits"))
  }

  def buildBloom(df: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String, mBits: Long = BloomDefaultBits,
      k: Int = BloomDefaultK): Unit = {
    require(mBits >= 64, s"bloom mBits too small: $mBits")
    writeBloomMeta(stateDir, BloomMeta(mBits, k))
    bloomPartials(df, keys, valueCol, mBits, k)
      .write.mode("overwrite").parquet(bloomStatePath(stateDir))
  }

  /** Blind O(delta) append — mBits/k come from the meta the state was
    * built with, never from the caller. */
  def appendBloom(delta: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String): Unit = {
    val m = readBloomMeta(stateDir)
    bloomPartials(delta, keys, valueCol, m.mBits, m.k)
      .write.mode("append").parquet(bloomStatePath(stateDir))
  }

  /** The staged half of [[appendBloom]]/[[buildBloom]] for callers that
    * hold a writer lock only across the WRITE (r16 lock staging): compute
    * the packed-word slice for `delta` — against the state's own meta when
    * it exists, else `(mBitsIfNew, kIfNew)` — so the caller can PIN it
    * (eager localCheckpoint) outside the lock and land it blindly inside
    * one via [[writeBloomSlice]]. The caller must re-validate the state
    * (listing fingerprint) under the lock before writing: a state
    * built/rewritten between the two calls may carry different meta, and
    * slice positions are only valid under the meta they were computed
    * with. */
  def bloomSliceFor(delta: DataFrame, keys: Seq[String], valueCol: String,
      stateDir: String, mBitsIfNew: Long = BloomDefaultBits,
      kIfNew: Int = BloomDefaultK): DataFrame = {
    val (m, k) =
      if (bloomExists(stateDir)) {
        val meta = readBloomMeta(stateDir); (meta.mBits, meta.k)
      } else (mBitsIfNew, kIfNew)
    bloomPartials(delta, keys, valueCol, m, k)
  }

  /** Land a [[bloomSliceFor]] slice: blind append onto an existing state,
    * or first-build (meta written from `mBitsIfNew`/`kIfNew` — must match
    * what the slice was computed with) when none exists. */
  def writeBloomSlice(slice: DataFrame, stateDir: String,
      mBitsIfNew: Long = BloomDefaultBits, kIfNew: Int = BloomDefaultK): Unit =
    if (bloomExists(stateDir))
      slice.write.mode("append").parquet(bloomStatePath(stateDir))
    else {
      require(mBitsIfNew >= 64, s"bloom mBits too small: $mBitsIfNew")
      writeBloomMeta(stateDir, BloomMeta(mBitsIfNew, kIfNew))
      slice.write.mode("overwrite").parquet(bloomStatePath(stateDir))
    }

  /** The current filter: fold slice words with bit_or (associative +
    * commutative + idempotent, so any append history folds to the same
    * array a from-scratch build writes). */
  def mergedBloom(spark: SparkSession, stateDir: String,
      keys: Seq[String]): DataFrame =
    StandingTables.read(spark, bloomStatePath(stateDir))
      .groupBy((keys :+ "__word").map(col): _*)
      .agg(bit_or(col("__bits")).as("__bits"))

  /** One map row per key group: __word -> __bits, the broadcastable dense
    * form (bounded at mBits/64 entries per key). */
  def bloomMap(packed: DataFrame, keys: Seq[String]): DataFrame =
    packed.groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__word"), col("__bits"))))
        .as("__bloom"))

  /** Screen `probe` against a packed filter: adds boolean `outCol` — true
    * iff ALL k probed bits are set. The filter map broadcasts; the test is
    * k map lookups + getbit per row, map-side, whole-stage codegen — no
    * shuffle of the probe side. False negatives are impossible; a missing
    * key group screens everything out (empty filter holds nothing). */
  def bloomTest(bloomMapDf: DataFrame, probe: DataFrame, keys: Seq[String],
      valueCol: String, outCol: String, mBits: Long, k: Int): DataFrame = {
    val joined =
      if (keys.isEmpty) probe.crossJoin(broadcast(bloomMapDf))
      else probe.join(broadcast(bloomMapDf), keys, "left")
    // hash ONCE per row into a hidden column (k conjuncts would otherwise
    // each re-evaluate the md5), then k pure-integer probes over it
    val hit = (0 until k).map { j =>
      val pos = pmod(col("__bh") * lit(BloomSalts(j)) + lit(j.toLong), lit(mBits))
      // word = pos div 64 (floor of an exact small double), bit = pos % 64;
      // an absent word lookup is null -> the conjunct is null -> screened out
      getbit(element_at(col("__bloom"), floor(pos / lit(64L))),
        pmod(pos, lit(64L))) === lit(1)
    }
    joined
      .withColumn("__bh", bloomHash(valueCol))
      .withColumn(outCol, coalesce(hit.reduce(_ && _), lit(false)))
      .drop("__bloom", "__bh")
  }

  /** FILL MONITOR (r15): exact occupancy of the standing filter, read
    * from the packed words alone — popcount over the merged slices,
    * O(mBits/64) rows, never a corpus rescan. Returns one row:
    * (m_bits, k, bits_set, fill_bp, fp_bp) with fill and predicted
    * false-positive rate (fill^k) in integer basis points, the same
    * formulas as the q293 corpus-side audit. This is the alert hook for
    * the saturation failure mode the scale tiers measured (fill → 0.9
    * silently turns the novelty gate into a drop-everything gate): a
    * deployment reads it on the optimize cadence and re-sizes/rebuilds
    * the filter when fill_bp crosses ~5000. Keyed filters report the
    * GLOBAL occupancy across key groups (alerting wants the worst-case
    * aggregate; per-key breakdown is a groupBy away from mergedBloom). */
  def bloomFill(spark: SparkSession, stateDir: String,
      keys: Seq[String] = Nil): DataFrame = {
    val m = readBloomMeta(stateDir)
    mergedBloom(spark, stateDir, keys)
      .agg(sum(bit_count(col("__bits"))).cast("long").as("bits_set"))
      .select(lit(m.mBits).as("m_bits"), lit(m.k).as("k"),
        coalesce(col("bits_set"), lit(0L)).as("bits_set"))
      .withColumn("fill_bp", expr("(bits_set * 10000) DIV m_bits"))
      // fill^k in basis points, folded stepwise so intermediates stay
      // <= 1e8 for any k (a flat fill_bp^k DIV 10000^(k-1) overflows
      // BIGINT at k = 5)
      .withColumn("fp_bp", expr(
        (2 to m.k).foldLeft("fill_bp")((acc, _) =>
          s"(($acc * fill_bp) DIV 10000)")))
  }

  /** Screen `probe` against the standing filter under `stateDir` (meta
    * decides mBits/k): adds boolean `outCol`. */
  def bloomMightContain(spark: SparkSession, stateDir: String,
      probe: DataFrame, keys: Seq[String], valueCol: String,
      outCol: String): DataFrame = {
    val m = readBloomMeta(stateDir)
    bloomTest(bloomMap(mergedBloom(spark, stateDir, keys), keys), probe,
      keys, valueCol, outCol, m.mBits, m.k)
  }

  /** Collapse accumulated slice rows to one row per key (and size-target
    * the files), for EVERY state subtable present under `stateDir` — the
    * scalar `state/`, the KMV `distinct_state/` (re-take the bottom-k per
    * key), and the histogram `hist_state/` (sum counts per key/bucket).
    * Each rewrite is valid iff its merged view is unchanged — checked by
    * fingerprint per subtable, all of them in one `Reconcile.requireMatch`
    * after the last rewrite, failing loudly on mismatch. A stateDir that
    * carries only a subset of the layouts rewrites exactly that subset, so
    * a Generations publish over the output never drops a sketch a reader
    * depends on. */
  def optimize(spark: SparkSession, stateDir: String, outStateDir: String,
      keys: Seq[String], targetFileBytes: Long = 128L << 20): Unit = {
    Generations.refuseInPlace(stateDir, outStateDir, "optimize")
    val checks = scala.collection.mutable.ListBuffer[(String, DataFrame, DataFrame)]()
    def rewrite(sub: String, path: String => String,
        collapse: DataFrame => DataFrame,
        view: String => DataFrame): Unit =
      if (new File(path(stateDir)).isDirectory) {
        val state = StandingTables.read(spark, path(stateDir))
        Compaction.write(collapse(state), state, path(outStateDir), targetFileBytes)
        checks += ((sub, view(stateDir), view(outStateDir)))
      }
    require(Seq(statePath _, distinctStatePath _, histStatePath _, bloomStatePath _)
        .exists(p => new File(p(stateDir)).isDirectory),
      s"optimize: no state subtables under $stateDir")
    rewrite("agg_state", statePath,
      st => mergeRows(st, keys)
        .select(keys.map(col) ++ Seq(col("n").as("__n"), col("sum").as("__sum"),
          col("min").as("__min"), col("max").as("__max")): _*),
      d => merged(spark, d, keys))
    rewrite("distinct_state", distinctStatePath,
      st => kmvFold(st, keys),
      d => mergedDistinct(spark, d, keys))
    rewrite("hist_state", histStatePath,
      st => st.groupBy(keys.map(col) :+ col("__idx"): _*)
        .agg(sum("__cnt").as("__cnt"))
        .filter(col("__cnt") =!= 0), // retraction-zeroed buckets drop
      d => mergedHist(spark, d, keys))
    if (new File(bloomStatePath(stateDir)).isDirectory) {
      // the meta (mBits/k) travels with the rewrite — later appends and
      // probes on the NEW generation must honor the built knobs
      writeBloomMeta(outStateDir, readBloomMeta(stateDir))
      rewrite("bloom_state", bloomStatePath,
        st => st.groupBy((keys :+ "__word").map(col): _*)
          .agg(bit_or(col("__bits")).as("__bits")),
        d => mergedBloom(spark, d, keys))
    }
    Reconcile.requireMatch("optimize", checks.toSeq)
  }
}
