package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema inference, without a Spark job.
  *
  * Stock `spark.read.parquet(path)` infers the schema by launching a
  * one-task job that reads one footer. [[infer]] reads that same footer
  * on the driver, with the same choices, so that
  * `spark.read.schema(infer(...).get).parquet(path)` resolves to the
  * relation stock inference gives:
  *   - files: the path is listed with its Hadoop `FileSystem`, hidden
  *     names are dropped by `HadoopFSUtils.shouldFilterOutPathName` (the
  *     rule `InMemoryFileIndex` applies) and the rest sorted by path, as
  *     `ParquetUtils.inferSchema` does with schema merging off;
  *   - footer: `_common_metadata`, else `_metadata`, else the first data
  *     file, read with `SKIP_ROW_GROUPS` by `ParquetFooterReader`;
  *   - schema: `ParquetFileFormat.readSchemaFromFooter` with the
  *     converter flags `ParquetFileFormat.mergeSchemasInParallel` takes
  *     from the session conf (binary-as-string, INT96, NTZ inference,
  *     `nanosAsLong`, unknown annotations) and its defaults for the rest.
  *
  * It returns `None`, leaving the caller to stock inference, whenever
  * that choice is not a single footer or not known to be exact: schema
  * merging on, a glob path, a Hadoop input path filter, a subdirectory
  * under the path (partitioned layouts add partition columns), a
  * file-sink output (`_spark_metadata`: stock lists only its committed
  * files), no candidate file, or any error while listing or reading (a
  * missing path or a corrupt footer then fails exactly as it does
  * today).
  */
object ParquetSchema {

  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(root) ||
        hadoopConf.get(FileInputFormat.PATHFILTER_CLASS) != null) return None
    try {
      val fs = root.getFileSystem(hadoopConf)
      val leaves = fs.listStatus(fs.makeQualified(root))
        .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
        .sortBy(_.getPath.toString)
      if (leaves.exists(_.isDirectory) ||
          FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return None
      // `ParquetUtils.splitFiles` (private in Spark) and `inferSchema`'s
      // pick; in path order `_common_metadata` sorts before `_metadata`
      val (summaries, data) = leaves.partition(f =>
        f.getPath.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
          f.getPath.getName == ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.headOption.orElse(data.headOption)
        .map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    } catch { case NonFatal(_) => None }
  }
}
