package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Bridge to Spark's private[parquet] footer-to-schema conversion, so the
  * engine can read a table's schema and row count from its footers on the
  * driver ([[graft.Tables.read]], [[graft.Tables.rowCount]]) exactly as
  * Spark's schema inference would, but without the inference job. Same
  * stance as [[org.apache.spark.sql.graft.DatasetBridge]]: a minimal
  * accessor living in the package that owns the private members. */
object FooterBridge {

  /** The session's Hadoop conf, as Spark's file sources build it. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The footers of `files`, row-group metadata included, read in
    * parallel on the driver (at most 8 threads, as Spark's own footer
    * reader). */
  def footers(conf: Configuration, files: Seq[FileStatus]): Seq[Footer] =
    ThreadUtils.parmap(files, "graft-footers", 8) { f =>
      new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER))
    }

  /** The Spark schema stored in (or converted from) the footers. The
    * converter honours the session's parquet conf (nanosAsLong, binary as
    * string, INT96, NTZ inference) and prefers the Spark schema that
    * Spark writes into its footers, as inference does. */
  def schema(spark: SparkSession, footers: Seq[Footer]): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
