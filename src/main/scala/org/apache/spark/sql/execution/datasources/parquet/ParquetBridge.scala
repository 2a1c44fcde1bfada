package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema `spark.read.parquet` gives a path, read from one footer
  * on the driver instead of by the one-task Spark job of inference
  * (`SchemaMergeUtils.mergeSchemasInParallel`).
  *
  * The file is the one `ParquetUtils.inferSchema` touches when
  * `mergeSchema` is off: `path` itself when it is a file; for a flat
  * directory, among its visible leaf files sorted by path,
  * `_common_metadata`, else `_metadata`, else the first data file.
  * Hidden names are Spark's listing rule (`_*`, `.*`, `*._COPYING_`,
  * except the two summary files). The footer becomes a schema through
  * `ParquetFileFormat.readSchema`, i.e. the converter settings
  * (binaryAsString, int96AsTimestamp, inferTimestampNTZ, nanosAsLong)
  * and the Spark row-metadata handling of inference, read from the
  * `spark` session passed in. Like the relation Spark builds, the
  * result is all-nullable.
  *
  * Flat layouts only: a directory with visible subdirectories
  * (partition discovery) is rejected with an
  * `IllegalArgumentException`; read those with `spark.read.parquet`. A missing path and a directory without data
  * files fail with the same errors as `spark.read.parquet`. Spark keeps
  * the footer helpers `private[parquet]`, hence this package (the
  * `graftbridge.ColumnBridge` pattern, one package deeper). */
object ParquetBridge {
  def schema(spark: SparkSession, path: String): StructType = {
    val session = castToImpl(spark)
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status =
      try fs.getFileStatus(root)
      catch { case _: FileNotFoundException =>
        throw QueryCompilationErrors.dataPathNotExistError(root.toString) }
    val file = if (status.isFile) Some(status) else pick(fs.listStatus(root).toSeq, path)
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, file.toSeq, session.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, session).getOrElse(
      throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")).asNullable
  }

  private def pick(children: Seq[FileStatus], path: String): Option[FileStatus] = {
    val (dirs, leaves) = children
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .partition(_.isDirectory)
    require(dirs.isEmpty,
      s"$path has subdirectories (${dirs.map(_.getPath.getName).mkString(", ")}); " +
        "read partitioned layouts with spark.read.parquet")
    val sorted = leaves.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE) // in order of preference
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }
}
