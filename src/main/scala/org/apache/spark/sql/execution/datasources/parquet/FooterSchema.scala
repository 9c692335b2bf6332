package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Access bridge for `ParquetFileFormat`'s `private[parquet]` footer
  * readers, the same pattern as `org.apache.spark.sql.graft.Bridge`: the
  * schema of one parquet file, read from its footer on the driver with
  * the session's `SQLConf`. The conversion is Spark's own, so
  * `spark.sql.legacy.parquet.nanosAsLong` and a footer carrying Spark's
  * row-metadata key (`org.apache.spark.sql.parquet.row.metadata`) give
  * the schema inference gives, without inference's Spark job.
  */
object FooterSchema {
  /** The file's schema, or None when `path` is not a single file (a
    * directory, or missing: the caller's own read reports that).
    */
  def ofFile(spark: SparkSession, path: String): Option[StructType] = {
    val hadoopConf = SessionStateHelper.getHadoopConf(spark)
    val p = new Path(path)
    Try(p.getFileSystem(hadoopConf).getFileStatus(p)).toOption.filter(_.isFile)
      .flatMap { file =>
        val footers = ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(file), ignoreCorruptFiles = false)
        ParquetFileFormat.readSchema(footers, spark)
      }
  }
}
