package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.StandingTables
import org.apache.spark.sql.types.NumericType
import graft.operators.{Compaction, Generations}

/** Table-maintenance OPTIMIZE as one runnable job:
  *
  * ```
  * runMain graft.OptimizeMain <inDir> <outDir> [targetFileMB] [clusterBy] [publish=<tableDir>]
  * ```
  *
  * `clusterBy` is a comma-separated column list: one column range-clusters
  * each table on it, two or more select Z-ORDER clustering
  * ([[Compaction.zvalue]]: multi-dimension data skipping).
  *
  * Rewrites every parquet table under `<inDir>` into `<outDir>/<table>`
  * at the target file size (q230 plans these bins from metadata; this
  * executes the rewrite), bounding parquet row-group size so scans split
  * across tasks even inside one file. Every table is written first, then
  * all are verified against their inputs in one `Reconcile.requireMatch`
  * call ([[Compaction.compact]]: bit-exact, order-independent row hashes,
  * one job for the directory), and the job fails loudly on any mismatch —
  * an OPTIMIZE that changes content must never be swapped in.
  *
  * Prints one summary line per table:
  * `table files_in->files_out bytes_in->bytes_out rows`.
  *
  * With `publish=<tableDir>` the job finishes by atomically pointing that
  * table's CURRENT at `<outDir>` ([[graft.operators.Generations]]) — which
  * runs only after the verified rewrite returned, so a reader resolving
  * through the pointer can never land on a generation that failed its
  * check. The rewrite holds `<inDir>`'s writer lock and the publish
  * `<tableDir>`'s (`Generations.cliRewrite` / `cliPublish`).
  */
object OptimizeMain {

  def run(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long, clusterBy: Seq[String] = Nil
      ): Seq[(String, Compaction.CompactStats)] =
    Generations.cliRewrite(inDir, outDir) {
      val tables = Option(new java.io.File(inDir).listFiles())
        .map(_.toSeq).getOrElse(Seq.empty)
        .filter(f => f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).sorted
      val stats = Compaction.compact(spark, tables.map { t =>
        val path = s"$inDir/$t.parquet"
        // one CLI key list over a directory of heterogeneous tables: it
        // clusters only tables that carry every key (a footer-only schema
        // read), and Z-order only where every key is NUMERIC (zvalue's
        // quantile bucketing precondition) — any other table compacts
        // unclustered instead of aborting the whole job
        val schema = StandingTables.read(spark, path).schema
        val applicable = clusterBy.forall(schema.fieldNames.contains) &&
          (clusterBy.size == 1 || clusterBy.forall(k => schema(k).dataType.isInstanceOf[NumericType]))
        (path, s"$outDir/$t", if (applicable) clusterBy else Nil)
      }, targetFileBytes, rowGroupBytes = math.max(1L << 20, targetFileBytes / 8))
      tables.zip(stats)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: OptimizeMain <inDir> <outDir> [targetFileMB] [clusterBy] [publish=<tableDir>]")
    val (publishTable, rest) = args.partition(_.startsWith("publish=")) match {
      case (ps, r) => (ps.headOption.map(_.stripPrefix("publish=")), r)
    }
    val target = (if (rest.length >= 3) rest(2).toLong else 128L) << 20
    val clusterBy = rest.lift(3).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.cli()
    try {
      run(spark, rest(0), rest(1), target, clusterBy).foreach { case (t, s) =>
        println(f"$t%-12s files ${s.n_files_in}->${s.n_files_out}  " +
          f"bytes ${s.bytes_in}->${s.bytes_out}  rows ${s.n_rows}")
      }
      publishTable.foreach { tbl =>
        Generations.cliPublish(tbl, rest(1))
        println(s"CURRENT of $tbl -> ${rest(1)}")
      }
    } finally spark.stop()
  }
}
