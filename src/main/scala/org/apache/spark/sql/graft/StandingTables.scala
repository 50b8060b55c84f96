package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The reader of the engine's standing parquet tables (index tables,
  * tombstones, state stores). `spark.read.parquet` infers a table's schema
  * with a Spark job of its own — one task that opens the first data file's
  * footer — so every read of a standing table paid a job, its scheduling
  * and a driver round trip before the query it feeds was even planned;
  * on an index probe that was up to a third of its jobs.
  *
  * [[read]] makes the same choice of file and the same footer conversion
  * as that job, on the driver, and hands the resulting data schema to
  * `spark.read.schema(...)`:
  *  - the directory is listed by Spark's own file index, so `_`- and
  *    `.`-prefixed files (`_SUCCESS`, `.crc`) are skipped and `k=v`
  *    partition directories are kept;
  *  - the footer read is `_common_metadata`, else `_metadata`, else the
  *    first data file by path — `ParquetUtils.inferSchema` with
  *    mergeSchema off;
  *  - the footer is converted by `ParquetFileFormat.readSchemaFromFooter`
  *    with the converter settings the inference job uses;
  *  - partition columns are not in the footer, so they still come from
  *    path inference, with the same types as before.
  *
  * A path that does not exist or holds no data file falls through to
  * `spark.read.parquet`, so it fails exactly as it did; so does a session
  * that merges parquet schemas, whose inference reads every footer. A
  * table whose files carry different schemas reads as its first file
  * says, as `spark.read.parquet` reads it too.
  */
object StandingTables {

  def read(spark: SparkSession, path: String): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val file =
      if (session.sessionState.conf.isParquetSchemaMergingEnabled) None
      else footerFile(session, new Path(path))
    file.fold(spark.read.parquet(path))(f =>
      spark.read.schema(footerSchema(session, f)).parquet(path))
  }

  /** The file whose footer schema inference reads, if `root` holds any. */
  private def footerFile(session: ClassicSession, root: Path): Option[FileStatus] =
    if (!root.getFileSystem(session.sessionState.newHadoopConf()).exists(root)) None
    else {
      val files = new InMemoryFileIndex(session, Seq(root), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    }

  private def footerSchema(session: ClassicSession, file: FileStatus): StructType = {
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    // the footer read of ParquetFileFormat.readParquetFootersInParallel
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, session.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta), converter)
  }
}
