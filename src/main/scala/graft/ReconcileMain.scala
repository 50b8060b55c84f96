package graft

import org.apache.spark.sql.SparkSession
import graft.operators.Reconcile

/** Migration/replication validation as ONE runnable job:
  *
  * ```
  * runMain graft.ReconcileMain <dirA> <dirB> <outDir> [keyedTable:keyCol]
  * ```
  *
  * Compares every testdata table present in BOTH directories:
  *  - `<outDir>/tables.parquet` — per-table row counts + order-independent
  *    fingerprints (xor + modular-sum folds of canonical row hashes) for
  *    each side, with a match flag;
  *  - `<outDir>/diff_<table>.parquet` — for the keyed table (default
  *    `orders:o_orderkey`), the per-key added/removed/changed/same
  *    classification summary.
  *
  * This is q160 (fingerprints) + q178 (keyed diff) composed into the
  * report a cutover decision reads: "every table matches" or "orders has
  * 37 changed keys, here is the range". At 100 TB each table compare is
  * one scan per side and the diff is one full-outer hash join — nothing
  * is collected beyond the per-table summary rows.
  */
object ReconcileMain {

  /** Candidate tables; only those present in both dirs are compared. */
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def run(spark: SparkSession, dirA: String, dirB: String, outDir: String,
      keyed: Seq[(String, String)] = Seq("orders" -> "o_orderkey")): Seq[Reconcile.TableReport] = {
    import spark.implicits._
    def exists(dir: String, t: String): Boolean =
      new java.io.File(s"$dir/$t.parquet").exists()
    val common = tableNames.filter(t => exists(dirA, t) && exists(dirB, t))
    val reports = Reconcile.report(common.map { t =>
      (t, spark.read.parquet(s"$dirA/$t.parquet"),
        spark.read.parquet(s"$dirB/$t.parquet"))
    })
    reports.map(r => (r.tbl, r.n_rows_a, r.n_rows_b, r.xor_fp_a, r.xor_fp_b,
        r.sum_fp_mod_a, r.sum_fp_mod_b, r.matches))
      .toDF("tbl", "n_rows_a", "n_rows_b", "xor_fp_a", "xor_fp_b",
        "sum_fp_mod_a", "sum_fp_mod_b", "matches")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/tables.parquet")
    keyed.filter { case (t, _) => common.contains(t) }.foreach { case (t, key) =>
      Reconcile.keyedDiff(
          spark.read.parquet(s"$dirA/$t.parquet"),
          spark.read.parquet(s"$dirB/$t.parquet"), key)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/diff_$t.parquet")
    }
    reports
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ReconcileMain <dirA> <dirB> <outDir> [table:keyCol]")
    val keyed = if (args.length > 3) {
      val Array(t, k) = args(3).split(":")
      Seq(t -> k)
    } else Seq("orders" -> "o_orderkey")
    val spark = GraftSession.cli()
    val reports = run(spark, args(0), args(1), args(2), keyed)
    reports.foreach { r =>
      println(s"[reconcile] ${r.tbl}: A=${r.n_rows_a} B=${r.n_rows_b} " +
        s"match=${r.matches}")
    }
    println(s"[reconcile] ${reports.count(_.matches)}/${reports.size} tables match")
    spark.stop()
  }
}
