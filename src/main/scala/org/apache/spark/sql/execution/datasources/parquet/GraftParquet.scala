package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Access shim for the package-private parquet footer reads (the same
  * pattern as [[org.apache.spark.sql.graftshim.GraftSql]]): a parquet
  * path's schema read from one footer on the driver, instead of by the
  * one-task job that schema inference runs.
  */
object GraftParquet {

  /** The schema `spark.read.parquet(path)` infers, for the case where
    * inference reads one data file: a single file, or a flat directory
    * without `_common_metadata`/`_metadata` summaries, whose first data
    * file in path order it reads. None, so that the caller infers, when
    * the path does not exist, when schema merging is on, and for a
    * directory with summaries, with no data file, or with subdirectories
    * (partition columns only inference discovers).
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled || !fs.exists(p)) return None
    val status = fs.getFileStatus(p)
    val files =
      if (!status.isDirectory) Seq(status)
      else {
        val children = fs.listStatus(p).toSeq
        val names = children.map(_.getPath.getName)
        if (children.exists(_.isDirectory) ||
            names.exists(n => n.startsWith("_common_metadata") || n.startsWith("_metadata")))
          return None
        children.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
          .sortBy(_.getPath.toString).take(1)
      }
    if (files.isEmpty) None
    else ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles = false),
      spark).map(_.asNullable)
  }
}
