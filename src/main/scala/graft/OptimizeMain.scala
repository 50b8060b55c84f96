package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Compaction, Generations}

/** Table-maintenance OPTIMIZE as one runnable job:
  *
  * ```
  * runMain graft.OptimizeMain <inDir> <outDir> [targetFileMB] [sortKey] [publish=<tableDir>]
  * ```
  *
  * `sortKey` may be a comma-separated list — two or more columns select
  * Z-ORDER clustering ([[Compaction.zvalue]]: multi-dimension data
  * skipping) instead of single-key range clustering.
  *
  * Rewrites every parquet table under `<inDir>` into `<outDir>/<table>`
  * at the target file size (q230 plans these bins from metadata; this
  * executes the rewrite), bounding parquet row-group size so scans split
  * across tasks even inside one file. Each table's rewrite is
  * fingerprint-validated against its input (order-independent xor +
  * modular-sum folds via Reconcile) and the job fails loudly on any
  * mismatch — an OPTIMIZE that changes content must never be swapped in.
  *
  * Prints one summary line per table:
  * `table files_in->files_out bytes_in->bytes_out rows match`.
  *
  * With `publish=<tableDir>` the job finishes by atomically pointing that
  * table's CURRENT at `<outDir>` ([[graft.operators.Generations]]) — and
  * only after EVERY table's rewrite validated, so a reader resolving
  * through the pointer can never land on a generation that failed its
  * fingerprint check. The rewrite holds `<inDir>`'s writer lock and the
  * publish `<tableDir>`'s (`Generations.cliRewrite` / `cliPublish`).
  */
object OptimizeMain {

  def run(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long, sortKey: Option[String] = None
      ): Seq[(String, Compaction.CompactStats)] =
    // the source fingerprint is recorded only when EVERY table validated;
    // the checked publish then refuses if the source moved since validation
    Generations.cliRewrite(inDir, outDir,
        (rs: Seq[(String, Compaction.CompactStats)]) =>
          rs.nonEmpty && rs.forall(_._2.content_match)) {
      val tables = Option(new java.io.File(inDir).listFiles())
        .map(_.toSeq).getOrElse(Seq.empty)
        .filter(f => f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).sorted
      tables.map { t =>
        val path = s"$inDir/$t.parquet"
        // one CLI sortKey over a directory of heterogeneous tables: apply
        // it only to tables that actually carry the column (a footer-only
        // schema read) — otherwise repartitionByRange on table 1 would
        // fail the whole multi-table job; the rest compact unclustered
        val schema = spark.read.parquet(path).schema
        val cols = schema.fieldNames.toSet
        // a comma in the key list means Z-ORDER clustering over those
        // columns (multi-dimension data skipping); a single name is plain
        // range clustering — either applies only where every column
        // exists, and Z-order additionally only where every key is NUMERIC
        // (zvalue's quantile bucketing precondition) — a non-qualifying
        // table compacts unclustered instead of aborting the whole job
        val keys = sortKey.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val present = keys.nonEmpty && keys.forall(cols.contains)
        val applicable = present && (keys.size == 1 || keys.forall(k =>
          schema(k).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
        t -> Compaction.compact(spark, path,
          s"$outDir/$t", targetFileBytes,
          rowGroupBytes = math.max(1L << 20, targetFileBytes / 8),
          sortKey = if (applicable && keys.size == 1) Some(keys.head) else None,
          zorderKeys = if (applicable && keys.size > 1) keys else Nil)
      }
    }

  /** `main`'s publish step: point `tableDir` (if given) at `outDir` only
    * when every table validated. Returns the tables that failed. */
  def publishValidated(results: Seq[(String, Compaction.CompactStats)],
      outDir: String, tableDir: Option[String]): Seq[String] = {
    val bad = results.filterNot(_._2.content_match).map(_._1)
    if (bad.isEmpty) tableDir.foreach { tbl =>
      Generations.cliPublish(tbl, outDir)
      println(s"CURRENT of $tbl -> $outDir")
    }
    bad
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: OptimizeMain <inDir> <outDir> [targetFileMB] [sortKey] [publish=<tableDir>]")
    val (publishTable, rest) = args.partition(_.startsWith("publish=")) match {
      case (ps, r) => (ps.headOption.map(_.stripPrefix("publish=")), r)
    }
    val target = (if (rest.length >= 3) rest(2).toLong else 128L) << 20
    val sortKey = if (rest.length >= 4) Some(rest(3)) else None
    val spark = GraftSession.cli()
    val bad = try {
      val results = run(spark, rest(0), rest(1), target, sortKey)
      results.foreach { case (t, s) =>
        println(f"$t%-12s files ${s.n_files_in}->${s.n_files_out}  " +
          f"bytes ${s.bytes_in}->${s.bytes_out}  rows ${s.n_rows}  match ${s.content_match}")
      }
      publishValidated(results, rest(1), publishTable)
    } finally spark.stop()
    if (bad.nonEmpty)
      sys.error(s"content mismatch after compaction: ${bad.mkString(",")}")
  }
}
