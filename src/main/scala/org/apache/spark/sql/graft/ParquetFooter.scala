package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` parquet schema reader. */
object ParquetFooter {

  /** The schema `spark.read.parquet(path)` infers, read from one footer
    * on the driver instead of by Spark's inference job: the footer Spark
    * would pick (a `_common_metadata`, else a `_metadata` summary, else
    * a data file), read through Spark's own reader, so its row-metadata
    * schema wins when present and the session's parquet confs apply.
    * `None` where Spark would read more than one footer or discover
    * partitions (schema merging on, or a directory below `path`), and
    * where `path` holds no parquet file.
    */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    val files: Seq[FileStatus] = if (top.isDirectory) fs.listStatus(root).toSeq else Seq(top)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => Seq("_", ".").exists(f.getPath.getName.startsWith))
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean ||
        files.exists(_.isDirectory)) None
    else named("_common_metadata").orElse(named("_metadata")).orElse(data.headOption)
      .flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val footer = try reader.getFooter finally reader.close()
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)))
      }
  }
}
