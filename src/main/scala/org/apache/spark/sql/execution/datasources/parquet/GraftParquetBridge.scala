package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer-to-schema code. Lives in
  * Spark's parquet package purely for access, as
  * [[org.apache.spark.sql.GraftBridge]] does for `sql`. */
object GraftParquetBridge {

  /** The schema `spark.read.parquet` infers from `file`'s footer: the
    * footer read and conversion Spark's schema inference runs in a job,
    * here on the driver. */
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, GraftBridge.hadoopConf(spark)), ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }
}
