package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own footer-to-schema conversion, reached from outside its
  * package: the data schema that `spark.read.parquet` would infer from
  * `file`, read on the driver instead of in a one-task Spark job. */
object FooterSchema {
  def read(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sparkContext.hadoopConfiguration, Seq(file), ignoreCorruptFiles = false),
      spark)
}
