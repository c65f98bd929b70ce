package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer-to-schema conversion,
  * so a parquet schema can be read on the driver without Spark's
  * inference job. Lives under the `parquet` package for access;
  * contains no logic of its own.
  */
object ParquetBridge {
  def readSchema(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
