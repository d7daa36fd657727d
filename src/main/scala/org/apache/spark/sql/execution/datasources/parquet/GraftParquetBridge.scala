package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Visibility bridge in the style of [[org.apache.spark.sql.GraftBridge]]:
  * Spark's footer reader and footer-schema merge are private[parquet]. Reusing
  * them (rather than re-deriving the parquet→Spark conversion) keeps a
  * driver-side merge identical to what the `mergeSchema` read option
  * computes in a Spark job. */
object GraftParquetBridge {
  /** Merged Spark schema of exactly `files`, read from their footers on the
    * driver; None when `files` is empty. */
  def mergedSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.sessionState
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      state.newHadoopConf(), files, state.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
