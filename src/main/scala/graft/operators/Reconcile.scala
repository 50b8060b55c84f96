package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RowFingerprint

/** Cross-system table reconciliation — the operator pair a 100 TB
  * migration validates with (q160's fingerprints + q178's keyed diff,
  * generalized to arbitrary schemas).
  *
  * Every row hashes to a 56-bit fingerprint over its name-sorted columns
  * (deterministic regardless of projection order). The table fingerprint
  * folds those hashes with BOTH `bit_xor` and a modular sum: xor alone is
  * blind to any row appearing an even number of times, the sum alone is
  * blind to compensating pair swaps — together a mismatch in either
  * catches every practical divergence, and both folds are order- and
  * partitioning-independent (one aggregation, no sort).
  *
  * Two row hashes, one per question:
  *  - [[report]] serves only ReconcileMain's cross-system compare (and
  *    [[keyedDiff]] shares its text hash), so it is type-lenient: md5 of
  *    the row's `to_json` text, which reads an INT and a BIGINT of equal
  *    value alike — treating them alike is the point of that compare;
  *  - [[requireMatch]] is the self-check every table rewrite runs against
  *    its own source (each optimize and `Compaction.compact`), so it is
  *    bit-exact and cheap: xxhash64 of the row's UnsafeRow bytes
  *    (`RowFingerprint.row_fp`), where a NULL moved inside an array or a
  *    `-0.0` counts. Those bytes depend on the column types, so a column
  *    whose type differs between the two sides fails by name.
  *
  * One job: every side of every table checked in one call is folded by
  * one aggregate — a union of per-side (side, fp) rows grouped by side —
  * and collected once. `keyedDiff` is one full-outer hash join on the
  * key. Nothing collects beyond the per-side summary rows.
  */
object Reconcile {

  /** Modular checksum term: folded through DECIMAL(38,0) so the aggregate
    * cannot overflow — a BIGINT sum of `fp % 1e8` terms wraps once the
    * table passes ~9.2e10 rows, well inside the 100 TB design point. The
    * decimal sum holds up to 1e38 ≫ (max Long rows)·1e8 ≈ 9e26, and the
    * final `% M` lands the result back in BIGINT range. */
  private val ModM = 100000000L
  private def sumFpMod(fp: String): Column =
    (sum(expr(s"CAST($fp % $ModM AS DECIMAL(38,0))") ) % ModM).cast("long")

  /** The text row hash: the first 56 bits of md5 over `to_json` of the
    * columns `cs` as a struct, in the order given. */
  private def textFp(cs: Seq[Column]): Column =
    conv(substring(md5(to_json(struct(cs: _*)).cast("binary")), 1, 14), 16, 10)
      .cast("long")

  /** One report per table from ONE aggregate job: each side's rows become
    * (side, rowFp of the name-sorted columns) and the union of all sides is
    * grouped by side. A side with no rows has no group and reports zeros. */
  private def fold(tables: Seq[(String, DataFrame, DataFrame)],
      rowFp: Seq[Column] => Column): Seq[TableReport] = if (tables.isEmpty) Nil else {
    val sides = tables.flatMap { case (_, a, b) => Seq(a, b) }
    val folded = sides.zipWithIndex
      .map { case (df, i) =>
        df.select(lit(i).as("side"), rowFp(df.columns.sorted.toSeq.map(col)).as("fp"))
      }
      .reduce(_ union _)
      .groupBy("side")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("xor_fp"),
        sumFpMod("fp").as("sum_fp_mod"))
    // AQE runs every stage on its own threads, whose jobs would be named
    // after a CompletableFuture frame; name them all after this collect
    val here = Thread.currentThread.getStackTrace()(1)
    val sc = folded.sparkSession.sparkContext
    val outer = sc.getLocalProperty("callSite.short")
    sc.setCallSite(s"collect at ${here.getFileName}:${here.getLineNumber}")
    val summary = try folded.collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    finally if (outer == null) sc.clearCallSite() else sc.setCallSite(outer)
    tables.zipWithIndex.map { case ((name, _, _), t) =>
      val (na, xa, sa) = summary.getOrElse(2 * t, (0L, 0L, 0L))
      val (nb, xb, sb) = summary.getOrElse(2 * t + 1, (0L, 0L, 0L))
      TableReport(name, na, nb, xa, xb, sa, sb)
    }
  }

  /** One report row per table: counts + text fingerprints of both sides
    * and a match flag, all tables in one job (each side scanned once). */
  def report(tables: Seq[(String, DataFrame, DataFrame)]): Seq[TableReport] =
    fold(tables, textFp)

  /** Validate-or-fail-loudly: every rewrite must equal its source under
    * the binary row hash, or `what` fails naming the table (or, before
    * any job, the column whose type differs). All tables fold in one job
    * before the first check; the reports of a match are returned. */
  def requireMatch(what: String,
      tables: Seq[(String, DataFrame, DataFrame)]): Seq[TableReport] = {
    tables.foreach { case (name, a, b) => RowFingerprint.requireSameTypes(s"$what: $name", a, b) }
    fold(tables, RowFingerprint.row_fp).map { rep =>
      require(rep.matches, s"$what: ${rep.tbl} content mismatch after rewrite: $rep"); rep
    }
  }

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
      val rest = df.columns.filterNot(_ == key).sorted.toSeq.map(col)
      df.select(col(key).as(s"k_$s"), textFp(rest).as("fp"))
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
