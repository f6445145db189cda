package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the `private[parquet]` footer-to-schema conversion, so
  * graft can compute on the driver the schema `spark.read.parquet`
  * would infer in a Spark job (`GraftSqlShim` is the same idiom for
  * expressions). */
object GraftParquetShim {

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema`
    * off, from the one footer that inference reads: `_common_metadata`,
    * else `_metadata`, else the first data file by path, among the leaf
    * names Spark's listing keeps. `None` where the read should stay on
    * Spark's own inference: schema merging on, a missing path, a
    * directory with subdirectories (partition columns come from their
    * names) or with no data file. */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val sqlConf = state.conf
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val status =
      try Some(fs.getFileStatus(root))
      catch { case _: FileNotFoundException => None }
    val leaves: Seq[FileStatus] = status
      .filterNot(_ => sqlConf.isParquetSchemaMergingEnabled)
      .fold(Seq.empty[FileStatus]) { s =>
        if (s.isFile) Seq(s)
        else fs.listStatus(root).toSeq
          .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      }
      .sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val footerFile =
      if (leaves.exists(_.isDirectory)) None
      else named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summaries(f.getPath.getName)))
    footerFile.map { f =>
      val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
      ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(sqlConf))
    }
  }
}
