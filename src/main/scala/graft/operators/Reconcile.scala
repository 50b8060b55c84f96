package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-system table reconciliation — the operator pair a 100 TB
  * migration validates with (q160's fingerprints + q178's keyed diff,
  * generalized to arbitrary schemas).
  *
  * Canonicalization: every row becomes `to_json` of a name-sorted struct
  * of all columns (deterministic field order regardless of projection
  * order), hashed to a 56-bit md5 prefix. The table fingerprint folds
  * those hashes with BOTH `bit_xor` and a modular sum: xor alone is blind
  * to any row appearing an even number of times, the sum alone is blind
  * to compensating pair swaps — together a mismatch in either catches
  * every practical divergence, and both folds are order- and
  * partitioning-independent (one aggregation, no sort).
  *
  * Scale: `report` is one scan per side per table; `keyedDiff` is one
  * full-outer hash join on the key. Nothing collects beyond the
  * per-table summary rows.
  */
object Reconcile {

  /** Modular checksum term: folded through DECIMAL(38,0) so the aggregate
    * cannot overflow — a BIGINT sum of `fp % 1e8` terms wraps once the
    * table passes ~9.2e10 rows, well inside the 100 TB design point. The
    * decimal sum holds up to 1e38 ≫ (max Long rows)·1e8 ≈ 9e26, and the
    * final `% M` lands the result back in BIGINT range. */
  private val ModM = 100000000L
  private def sumFpMod(fp: String): org.apache.spark.sql.Column =
    (sum(expr(s"CAST($fp % $ModM AS DECIMAL(38,0))") ) % ModM).cast("long")

  /** (n_rows, xor_fp, sum_fp_mod) one-row summary for one side. */
  private def sideSummary(df: DataFrame): DataFrame = {
    val canon = to_json(struct(df.columns.sorted.map(col): _*))
    df.select(canon.as("c"))
      .select(expr(
        "CAST(conv(substring(md5(CAST(c AS BINARY)), 1, 14), 16, 10) AS BIGINT)").as("fp"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("xor_fp"),
        sumFpMod("fp").as("sum_fp_mod"))
  }

  /** One report row per table: counts + fingerprints of both sides and a
    * match flag. Each side is scanned exactly once. */
  def report(tables: Seq[(String, DataFrame, DataFrame)]): Seq[TableReport] =
    tables.map { case (name, a, b) =>
      val ra = sideSummary(a).head()
      val rb = sideSummary(b).head()
      TableReport(name, ra.getLong(0), rb.getLong(0),
        if (ra.getLong(0) == 0) 0L else ra.getLong(1),
        if (rb.getLong(0) == 0) 0L else rb.getLong(1),
        if (ra.getLong(0) == 0) 0L else ra.getLong(2),
        if (rb.getLong(0) == 0) 0L else rb.getLong(2))
    }

  /** Validate-or-fail-loudly over [[report]]: every rewrite must
    * fingerprint-equal its source, or `what` fails naming the mismatching
    * report. All reports are taken before the first check (one scan per
    * side per table, as [[report]]). */
  def requireMatch(what: String, tables: Seq[(String, DataFrame, DataFrame)]): Unit =
    report(tables).foreach(rep => require(rep.matches,
      s"$what: ${rep.tbl} content mismatch after rewrite: $rep"))

  final case class TableReport(tbl: String, n_rows_a: Long, n_rows_b: Long,
      xor_fp_a: Long, xor_fp_b: Long, sum_fp_mod_a: Long, sum_fp_mod_b: Long) {
    def matches: Boolean =
      n_rows_a == n_rows_b && xor_fp_a == xor_fp_b && sum_fp_mod_a == sum_fp_mod_b
  }

  /** Per-key diff classification (q178 generalized): each side is first
    * reduced to ONE row per key — (row count, xor-fold, modular sum of the
    * canonical row hashes) — and the full-outer join compares those
    * per-key digests. Pre-aggregating is what makes duplicate keys safe: a
    * key appearing m× on one side and n× on the other would otherwise fan
    * out to m·n joined rows (quadratic in the hottest key), and the digest
    * triple also CLASSIFIES multiplicity drift as "changed" rather than
    * miscounting it. Returns (status, n, min_key, max_key) with statuses
    * added/removed/changed/same, one counted unit per KEY. */
  def keyedDiff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    // canonical per-key digest built before the join: one scan + one
    // partial-aggregated shuffle per side
    def digest(df: DataFrame, s: String): DataFrame = {
      val rest = df.columns.filterNot(_ == key).sorted.map(col)
      df.select(col(key).as(s"k_$s"), to_json(struct(rest: _*)).as("c"))
        .select(col(s"k_$s"),
          expr("CAST(conv(substring(md5(CAST(c AS BINARY)), 1, 14), 16, 10) AS BIGINT)")
            .as("fp"))
        .groupBy(s"k_$s")
        .agg(struct(count(lit(1)).as("n"), expr("bit_xor(fp)").as("x"),
          sumFpMod("fp").as("s")).as(s"d_$s"))
    }
    // null-safe key equality: a NULL-keyed group exists at most once per
    // side after the pre-aggregation and must compare LIKE A KEY (a plain
    // equi-join would misreport it as one added + one removed forever)
    digest(a, "old").join(digest(b, "new"),
        col("k_old") <=> col("k_new"), "full_outer")
      .select(coalesce(col("k_old"), col("k_new")).as("k"),
        when(col("d_old").isNull, "added")
          .when(col("d_new").isNull, "removed")
          .when(col("d_old") =!= col("d_new"), "changed")
          .otherwise("same").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("status")
  }
}
