package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own footer-to-schema step of parquet schema inference, on the
  * driver: the two helpers are package-private, so
  * [[graft.operators.Parquet]] reaches them through this object. */
object FooterSchema {
  def read(spark: SparkSession, conf: Configuration, footer: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(footer), spark.sessionState.conf.ignoreCorruptFiles),
      spark)
}
