package graft.streaming

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.fs.SourcelessConfiguration
import graft.operators.Segments

/** Writes one micro-batch of one streaming query as parquet under
  * `<outPath>/batch_id=<id>`, in the layout `batch.write.parquet` leaves:
  * `part-<partition>-<token>-c<n><codec>.parquet` files and a `_SUCCESS`
  * marker.
  *
  * The stock write ships the session's whole Hadoop configuration (over a
  * thousand entries) inside every task and commits through
  * `FileOutputCommitter`'s `_temporary` renames. Here the configuration
  * `ParquetFileFormat.prepareWrite` fills in is broadcast once per query
  * and schema, as a [[graft.fs.SourcelessConfiguration]] (no gzipped
  * source list per property); a task reads it from the block manager.
  * Each batch is one job over its rows: each task writes its part files
  * into the hidden stage of a [[graft.operators.Segments.commit]], which
  * the driver ends with `_SUCCESS` and swaps in for an older
  * `batch_id=<id>`. A crash leaves the old output (or none) visible; the
  * re-run batch settles what the dead commit left. The part files' token
  * is new for every write, so a replayed batch's part files get new names.
  *
  * File operations go through the Hadoop `FileSystem` of the output path;
  * for `file:` paths after [[graft.fs.setup]] that is the fork-free
  * [[graft.fs.NioLocalFileSystem]]. [[close]] destroys the broadcast.
  *
  * `beforeCommit` runs on the driver after the part files and `_SUCCESS`
  * are written and before the swap (a seam for crash-injection specs).
  */
private[streaming] final class BatchParquetWriter(outPath: String,
    beforeCommit: Long => Unit = _ => ()) {
  import BatchParquetWriter._

  private var prepared: Option[Prepared] = None

  def write(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val p = prepare(spark, batch.schema)
    val dir = new Path(outPath)
    val rdd = batch.queryExecution.toRdd
    // As FileFormatWriter: a batch without partitions still writes one
    // schema-only file.
    val rows = if (rdd.partitions.isEmpty) {
      spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    } else rdd
    Segments.commit(dir.getFileSystem(p.conf.value.value), dir, s"batch_id=$batchId",
        () => beforeCommit(batchId)) { stage =>
      val task = new WriteTask(p.conf, p.factory, p.schema, stage.toString,
        UUID.randomUUID().toString, spark.sessionState.conf.maxRecordsPerFile)
      spark.sparkContext.runJob(rows, task.run _)
    }
  }

  /** Destroys the broadcast configuration; idempotent. */
  def close(): Unit = synchronized {
    prepared.foreach(_.conf.destroy())
    prepared = None
  }

  private def prepare(spark: SparkSession, schema: StructType): Prepared = synchronized {
    prepared.filter(_.schema == schema).getOrElse {
      close()
      val format = new ParquetFileFormat
      // The stock write's checks: an unsupported type or field name fails here.
      DataSourceUtils.verifySchema(format, schema)
      DataSourceUtils.checkFieldNames(format, schema)
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      val factory = format.prepareWrite(spark, job, Map.empty, schema)
      val p = Prepared(schema, factory,
        spark.sparkContext.broadcast(new SerializableConfiguration(
          new SourcelessConfiguration(job.getConfiguration))))
      prepared = Some(p)
      p
    }
  }
}

private object BatchParquetWriter {

  private final case class Prepared(schema: StructType, factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration])

  /** One task's write: its rows into `part-<partition>-<token>-c<n>` files
    * under `dir`, a new file every `maxRecords` rows when that is positive.
    * Only partition 0 writes a file for no rows. A failed attempt deletes
    * the files it wrote.
    */
  private final class WriteTask(conf: Broadcast[SerializableConfiguration],
      factory: OutputWriterFactory, schema: StructType, dir: String, token: String,
      maxRecords: Long) extends Serializable {

    def run(task: TaskContext, rows: Iterator[InternalRow]): Unit =
      if (task.partitionId == 0 || rows.hasNext) {
        val attempt = new TaskAttemptID(new TaskID(new JobID(token, task.stageId),
          TaskType.MAP, task.partitionId), task.attemptNumber)
        val ctx = new TaskAttemptContextImpl(conf.value.value, attempt)
        val ext = factory.getFileExtension(ctx)
        val files = ArrayBuffer.empty[Path]
        def open(): OutputWriter = {
          files += new Path(dir, f"part-${task.partitionId}%05d-$token-c${files.size}%03d$ext")
          factory.newInstance(files.last.toString, schema, ctx)
        }
        var writer = open()
        try {
          var n = 0L
          rows.foreach { row =>
            if (maxRecords > 0 && n == maxRecords) {
              writer.close()
              writer = open()
              n = 0L
            }
            writer.write(row)
            n += 1
          }
          writer.close()
        } catch {
          case t: Throwable =>
            try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
            val fs = new Path(dir).getFileSystem(ctx.getConfiguration)
            files.foreach(f => fs.delete(f, false))
            throw t
        }
      }
  }
}
