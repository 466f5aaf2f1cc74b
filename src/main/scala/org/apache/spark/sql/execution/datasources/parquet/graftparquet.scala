package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Minimal bridge to the `private[parquet]` footer-schema reader, so a
  * parquet table's schema can be resolved on the driver from one footer.
  *
  * `spark.read.parquet(path)` without a schema runs a one-task Spark job
  * only to read that footer (non-merging inference reads a single file).
  * [[footerSchema]] picks the same file inference would pick and reads the
  * same footer with the same converter settings, without a job. */
object graftparquet {

  /** The schema `spark.read.parquet(path)` would infer, or None when it
    * cannot be resolved this way: schema merging on (inference then reads
    * every footer), a missing path, no parquet file under it, or a footer
    * skipped as corrupt. The caller then reads without a schema, so Spark
    * infers it or raises its own error for a bad path. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (session.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val leaves =
      (try leafFiles(root.getFileSystem(conf), root)
       catch { case _: FileNotFoundException => Nil }).sortBy(_.getPath.toString)
    // Spark's non-merging choice (ParquetUtils.inferSchema): a summary
    // file when there is one, else the first data file in path order
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val pick = (summaries.map(n => leaves.find(_.getPath.getName == n)) :+
      leaves.find(f => !summaries.contains(f.getPath.getName))).flatten.headOption
    pick.flatMap { f =>
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), session.sessionState.conf.ignoreCorruptFiles)
      ParquetFileFormat.readSchema(footers, session)
    }
  }

  /** The leaf files Spark's file index lists under `p`, hidden names
    * excepted the same way. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))
}
