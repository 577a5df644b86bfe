package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's parquet inference returns for a directory, read
  * from one data file's footer on the driver instead of in a one-task
  * job. The footer is read and converted by the same Spark code the
  * inference job runs, with a converter built from the session conf.
  * Some of these helpers are `private[spark]`; this object lives in
  * Spark's package only to reach them.
  */
object FooterSchema {

  /** The data schema in `file`'s footer. */
  def read(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), Seq(file), conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchemaFromFooter(
      footers.head, new ParquetToSparkSchemaConverter(conf))
  }

  /** True for the names Spark's file listing skips (`_SUCCESS`, `.crc`,
    * `_temporary`, …). `_metadata` summaries are kept.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
