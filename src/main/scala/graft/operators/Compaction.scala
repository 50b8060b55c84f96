package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables

/** The OPTIMIZE executor — q230 plans compaction bins from file metadata;
  * this operator actually rewrites a table directory into size-targeted
  * files. The two layout pathologies it fixes are exactly the ones that
  * throttle a scan at any scale:
  *
  *  - too MANY small files: per-file open/footer overhead dominates and
  *    the driver's split planning balloons (the classic 100 TB ingest
  *    problem — millions of per-batch files);
  *  - too FEW row groups: Spark parallelizes parquet at ROW-GROUP
  *    granularity, so a huge single-row-group file runs its whole
  *    pre-shuffle stage in one task no matter how many executors exist
  *    (observed on the round-8 fixtures: a 600 k-row single-row-group
  *    scan-agg ran 1.5× slower than the same rows in 8 files).
  *
  * [[write]] is the one layout rule of every standing-table rewrite: the
  * output is sized from the bytes the source reads (not its file count),
  * and a partitioned rewrite keeps its partition directories. `compact`
  * adds range clustering on one key (selective min/max row-group stats,
  * the Z-order-lite layout q159 models) or Z-order over more, and bounds
  * row-group size via `parquet.block.size` so even one output file still
  * splits across tasks. One shuffle, streaming write — nothing
  * driver-sized except the file listing. Like every optimize, `compact`
  * verifies with [[Reconcile.requireMatch]] and fails loudly.
  */
object Compaction {

  final case class CompactStats(
      n_files_in: Long, bytes_in: Long, n_files_out: Long, bytes_out: Long, n_rows: Long)

  /** Sizes of the files a materialized DataFrame actually reads —
    * `df.inputFiles` honors the `_spark_metadata` commit log for
    * streaming-sink directories, so orphaned/uncommitted batch files never
    * inflate the stats (a raw directory listing would count them). */
  private def inputFileSizes(df: DataFrame): Seq[Long] =
    df.inputFiles.toSeq.map(fileBytes)

  private def fileBytes(uri: String): Long = new java.io.File(new java.net.URI(uri)).length()

  /** The one output-file-count rule for a size-targeted rewrite:
    * ceil(bytes `df` reads / target), at least one file. */
  private def filesFor(df: DataFrame, targetFileBytes: Long): Int =
    math.max(1L, (inputFileSizes(df).sum + targetFileBytes - 1) / targetFileBytes).toInt

  /** The shuffle of a rewrite written with `partitionBy(partCol)`, sized
    * from `source`'s files. While the table is under its size target,
    * `df` shuffles on `partCol` alone into one task per `partCol=`
    * directory of the source: every directory still gets exactly one
    * file, but parallel tasks write them instead of one. Above the
    * target, [[filesFor]] tasks hash on `keys`, which spread a big
    * directory over several files. */
  private def partitionedFor(df: DataFrame, source: DataFrame, partCol: String,
      keys: Seq[String], targetFileBytes: Long): DataFrame = {
    val nOut = filesFor(source, targetFileBytes)
    if (nOut > 1) df.repartition(nOut, keys.map(col): _*)
    else {
      val dirs = source.inputFiles.flatMap(_.split('/').find(_.startsWith(s"$partCol=")))
        .distinct.length
      df.repartition(math.max(1, dirs), col(partCol))
    }
  }

  /** The one layout rule of a table rewrite: write `df` over `outDir`,
    * sized from the files `source` reads. With `partitionBy` = (column,
    * keys) the rewrite keeps that column's directories and shuffles
    * through [[partitionedFor]]; without, it is a plain write of
    * [[filesFor]] files. `rowGroupBytes` bounds the parquet row groups. */
  def write(df: DataFrame, source: DataFrame, outDir: String, targetFileBytes: Long,
      partitionBy: Option[(String, Seq[String])] = None,
      rowGroupBytes: Option[Long] = None): Unit = {
    val writer = partitionBy match {
      case Some((partCol, keys)) =>
        partitionedFor(df, source, partCol, keys, targetFileBytes).write.partitionBy(partCol)
      case None => df.repartition(filesFor(source, targetFileBytes)).write
    }
    rowGroupBytes.fold(writer)(b => writer.option("parquet.block.size", b.toString))
      .mode("overwrite").parquet(outDir)
  }

  /** Quantile-bucketed Z-value over `keys` — the multi-column clustering
    * coordinate. Each key is bucketed into 2^`bits` quantile ranks (the
    * boundaries come from `approxQuantile`, a mergeable sketch over one
    * pass — driver receives only the 2^bits-element boundary array), then
    * the rank bits interleave LSB-first across keys into one integer.
    * Sorting by that integer places rows so any contiguous z-range is a
    * bounded BLOCK in every key dimension — per-file min/max stats become
    * selective for filters on ANY of the keys, not just the leading one
    * (single-key range clustering gives the trailing keys full-span
    * stats). Quantile (not uniform-width) bucketing keeps the curve
    * balanced under skew. The per-row bucket lookup is a fold over the
    * boundary array — interpreted, but this is an IO-bound OPTIMIZE job,
    * not a query hot path. */
  def zvalue(df: DataFrame, keys: Seq[String], bits: Int = 8): org.apache.spark.sql.Column = {
    require(keys.size >= 2, "zvalue: needs at least 2 keys (one key range-clusters)")
    require(keys.size * bits <= 62, s"zvalue: ${keys.size} keys x $bits bits overflows a long")
    // approxQuantile throws IllegalArgumentException mid-job on a string
    // column; fail the precondition HERE with the actionable message (the
    // single-key repartitionByRange path handles strings fine — the
    // asymmetry is quantile bucketing, which is inherently numeric)
    keys.foreach { k =>
      val dt = df.schema(k).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"zvalue: key '$k' is $dt — quantile bucketing needs numeric keys " +
          "(cluster by that key alone for range clustering)")
    }
    val n = 1 << bits
    val bucketCols = keys.map { k =>
      val bounds = df.stat.approxQuantile(k, (1 until n).map(_.toDouble / n).toArray, 0.001)
      val arr = array(bounds.map(lit(_)): _*)
      aggregate(arr, lit(0L), (acc, b) => acc + when(col(k).cast("double") > b, 1L).otherwise(0L))
    }
    bucketCols.zipWithIndex.map { case (bucket, i) =>
      (0 until bits).map { b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * keys.size + i)
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /** Rewrite `inDir`'s parquet into `outDir` targeting `targetFileBytes`
    * per file and `rowGroupBytes` per row group within each file, and
    * verify the rewrite against its input. `clusterBy` with one key
    * range-clusters rows, so each output file owns a contiguous key span
    * and scan filters on that key prune whole files/row groups via min/max
    * stats; two or more keys cluster by their [[zvalue]]. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L << 20, rowGroupBytes: Long = 16L << 20,
      clusterBy: Seq[String] = Nil): CompactStats =
    compact(spark, Seq((inDir, outDir, clusterBy)), targetFileBytes, rowGroupBytes).head

  /** [[compact]] of each (inDir, outDir, clusterBy): every table is
    * written first, then all are verified in one [[Reconcile.requireMatch]]
    * call, which throws `IllegalArgumentException` naming a table whose
    * rewrite differs from its input. */
  def compact(spark: SparkSession, tables: Seq[(String, String, Seq[String])],
      targetFileBytes: Long, rowGroupBytes: Long): Seq[CompactStats] = {
    val written = tables.map { case (inDir, outDir, clusterBy) =>
      Generations.refuseInPlace(inDir, outDir, "compact")
      val df = StandingTables.read(spark, inDir)
      clusterBy match {
        case Seq() => write(df, df, outDir, targetFileBytes, rowGroupBytes = Some(rowGroupBytes))
        case keys =>
          val nOut = filesFor(df, targetFileBytes)
          // range-partition AND sort within partitions by the z-value, then
          // project it away: each file owns a contiguous z-range, i.e. a
          // bounded block in EVERY clustered dimension
          (if (keys.size == 1) df.repartitionByRange(nOut, col(keys.head))
           else df.withColumn("__z", zvalue(df, keys)).repartitionByRange(nOut, col("__z"))
             .sortWithinPartitions("__z").drop("__z"))
            .write.mode("overwrite")
            .option("parquet.block.size", rowGroupBytes.toString).parquet(outDir)
      }
      (inDir, df, StandingTables.read(spark, outDir))
    }
    Reconcile.requireMatch("compact", written).zip(written).map { case (rep, (_, in, out)) =>
      val (inSizes, outSizes) = (inputFileSizes(in), inputFileSizes(out))
      CompactStats(inSizes.size.toLong, inSizes.sum, outSizes.size.toLong, outSizes.sum,
        rep.n_rows_b)
    }
  }
}
