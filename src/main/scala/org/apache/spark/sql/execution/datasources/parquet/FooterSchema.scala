package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, read on the driver thread.
  *
  * Inference (`ParquetUtils.inferSchema`) picks one footer —
  * `_common_metadata`, then `_metadata`, then the first data file in path
  * order — and converts it inside a Spark job (`mergeSchemasInParallel`):
  * one job per read. This picks the same footer from the same file
  * listing and runs the same conversion (`readSchema`, which honours the
  * session's binary-as-string, INT96, NTZ and nanos-as-long settings)
  * without a job. Both helpers are package-private, hence this package.
  */
object FooterSchema {

  /** None for a missing path, a partitioned directory, a directory with
    * no parquet file, or an unreadable footer: the caller then infers as
    * before, so Spark raises its own error for each. None too when the
    * session merges parquet schemas, since inference then reads every
    * footer. */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    try {
      if (session.sessionState.conf.isParquetSchemaMergingEnabled ||
          !p.getFileSystem(conf).exists(p)) None
      else {
        val index = new InMemoryFileIndex(session, Seq(p), Map.empty, None)
        if (index.partitionSchema.nonEmpty) None
        else {
          val leaves = index.allFiles().sortBy(_.getPath.toString)
          def named(n: String) = leaves.find(_.getPath.getName == n)
          val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
          named(PARQUET_COMMON_METADATA_FILE)
            .orElse(named(PARQUET_METADATA_FILE))
            .orElse(leaves.find(f => !summaries(f.getPath.getName)))
            .flatMap(f => ParquetFileFormat.readSchema(
              ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f),
                ignoreCorruptFiles = false), session))
        }
      }
    } catch { case NonFatal(_) => None }
  }
}
