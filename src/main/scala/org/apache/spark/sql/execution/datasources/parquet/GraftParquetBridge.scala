package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[parquet]` footer helpers, so a table's schema
  * can be read on the driver instead of by the one-task Spark job that
  * `spark.read.parquet(path)` starts to infer it
  * (`SchemaMergeUtils.mergeSchemasInParallel`). */
object GraftParquetBridge {

  /** The leaf files Spark's own file index lists for `path`, a file or a
    * directory: hidden and `_SUCCESS` files dropped, summary files kept.
    * Empty when `path` does not exist. */
  def leafFiles(spark: SparkSession, path: String): Seq[FileStatus] =
    new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None).allFiles()

  /** A `_metadata` or `_common_metadata` summary of the parts' footers. */
  def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == ParquetFileWriter.PARQUET_METADATA_FILE || n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** The schema `ParquetUtils.inferSchema` gives `files` with schema
    * merging off, read on the driver: the footer of `_common_metadata`,
    * else `_metadata`, else the first data file by path, converted under
    * the session's binary-as-string, INT96, NTZ-inference and
    * nanos-as-long rules (the converter `mergeSchemasInParallel` builds),
    * with Spark's own row schema taking precedence when the footer
    * carries one. None when there is no footer to read, or the session
    * merges schemas: then only Spark's inference gives the answer. */
  def inferSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val touch =
      if (conf.isParquetSchemaMergingEnabled) None
      else named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(sorted.find(!isSummary(_)))
    touch.flatMap { f =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat.readParquetFootersInParallel(
        state.newHadoopConf(), Seq(f), conf.ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
