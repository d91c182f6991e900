package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's footer → schema conversion (`ParquetFileFormat.readSchema`
  * is private[parquet]): the schema Spark infers from one file, read on the
  * calling thread under the session's parquet confs, without a Spark job.
  */
object FooterBridge {
  def schema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    schema(spark, file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS))
  }

  /** The schema Spark infers from a footer already in hand. */
  def schema(spark: SparkSession, path: Path, footer: ParquetMetadata): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(new Footer(path, footer)), spark)
}
