package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverSchemaParquetFileFormat

/** The one batch read path of graft. Parquet goes through
  * [[DriverSchemaParquetFileFormat]]: Spark's own source, except that the
  * schema footer is read on the driver, so opening a dataset launches no
  * Spark job (`mergeSchema` still merges every footer in one). Every other
  * format is Spark's, unchanged. */
object Sources {

  private val DriverSchemaParquet = classOf[DriverSchemaParquetFileFormat].getName

  /** A reader for `format`, with `"parquet"` (any case) mapped to the
    * driver-schema source. Finish it with `load`: its `.parquet(...)`
    * would reset the format to Spark's. */
  def reader(spark: SparkSession, format: String = "parquet"): DataFrameReader =
    spark.read.format(if (format.equalsIgnoreCase("parquet")) DriverSchemaParquet else format)

  /** The parquet dataset at `paths`. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = reader(spark).load(paths: _*)
}
