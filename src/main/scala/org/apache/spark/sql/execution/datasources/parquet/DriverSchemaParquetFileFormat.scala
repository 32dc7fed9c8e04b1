package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.fs.SourcelessConfiguration

/** Parquet that learns its schema on the driver. Without `mergeSchema`
  * Spark's own inference (`ParquetUtils.inferSchema`) reads exactly ONE
  * footer, yet reads it through a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): a job's scheduling and
  * task-serialization cost on every scan that plans over a single file's
  * metadata. This format reads that same footer in place: the file choice
  * (`_common_metadata`, then `_metadata`, then the first data file by path),
  * the footer read and its `ignoreCorruptFiles` handling, and the
  * footer-to-schema conversion under the session's converter settings are
  * Spark's own, so the inferred schema is the one `spark.read.parquet`
  * infers. A `mergeSchema` read touches every part-file, which is what the
  * job is for, so it goes to the stock inference unchanged.
  *
  * The scan's reader gets its Hadoop configuration as a
  * [[graft.fs.SourcelessConfiguration]]: the stock reader broadcasts the
  * configuration it is handed, and the stock serialization of it gzips
  * every property's source list, about a thousand `Deflater` cycles per
  * scan. The reader's tasks see the same keys and values.
  *
  * Everything else is inherited: listing, globbing, hidden-file filtering,
  * partition discovery and the scan itself. Lives in Spark's parquet package
  * solely for access to the `private[parquet]` footer helpers.
  */
class DriverSchemaParquetFileFormat extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options, new SourcelessConfiguration(hadoopConf))

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    if (new ParquetOptions(parameters, sparkSession.sessionState.conf).mergeSchema) {
      super.inferSchema(sparkSession, parameters, files)
    } else {
      val byPath = files.sortBy(_.getPath.toString)
      def named(name: String) = byPath.find(_.getPath.getName == name)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(byPath.find(f => !summaries(f.getPath.getName)))
        .flatMap { file =>
          val footers = ParquetFileFormat.readParquetFootersInParallel(
            sparkSession.sessionState.newHadoopConfWithOptions(parameters),
            Seq(file),
            new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles)
          ParquetFileFormat.readSchema(footers, sparkSession)
        }
    }
  }
}
