package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Spark's parquet source, except that without `mergeSchema` the schema
  * comes from one footer read on the driver instead of from a one-task
  * Spark job. The footer is the one Spark's own inference picks from the
  * files sorted by path: `_common_metadata`, else `_metadata`, else the
  * first data file. It is read and converted by Spark's per-file reader
  * (`readParquetFootersInParallel` + `readSchemaFromFooter`) with the same
  * converter flags and the same `ignoreCorruptFiles`, so schemas and
  * errors match. Merging every footer (`mergeSchema`) stays Spark's job.
  * Listing, partition discovery, scans and plans are Spark's own; equality
  * and `toString` are inherited and `hashCode` is the parent's, so plans,
  * explain output and cache lookups cannot tell the two apart. Lives in
  * Spark's package to reach those `private[parquet]` helpers. */
class DriverSchemaParquetFileFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.conf
    if (new ParquetOptions(parameters, conf).mergeSchema)
      super.inferSchema(sparkSession, parameters, files)
    else {
      val sorted = files.sortBy(_.getPath.toString)
      def named(name: String) = sorted.find(_.getPath.getName == name)
      val chosen = named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(sorted.find { f =>
          val n = f.getPath.getName
          n != PARQUET_COMMON_METADATA_FILE && n != PARQUET_METADATA_FILE
        })
      chosen.flatMap { file =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val ignoreCorruptFiles =
          new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles
        ParquetFileFormat.readParquetFootersInParallel(
            sparkSession.sessionState.newHadoopConfWithOptions(parameters), Seq(file),
            ignoreCorruptFiles)
          .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
          .headOption
      }
    }
  }

  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode()
}
