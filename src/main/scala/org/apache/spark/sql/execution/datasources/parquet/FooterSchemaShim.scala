package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** The schema Spark's parquet inference would give `path`, read on the
  * driver instead of in a Spark job. Same file choice as
  * `ParquetUtils.inferSchema` without schema merging (`_common_metadata`,
  * else `_metadata`, else the first data file by path) and the same
  * footer-to-schema code under the session conf. `readSchema` and
  * `readParquetFootersInParallel` are private[parquet], hence the package.
  * None when the session merges schemas or the footer is unreadable: the
  * caller then lets Spark infer.
  */
object FooterSchemaShim {
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { f =>
        ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
          spark.sessionState.newHadoopConf(), Seq(f), conf.ignoreCorruptFiles), spark)
      }
  }
}
