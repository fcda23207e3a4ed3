package graft.ops

import java.util.UUID

import scala.util.control.NonFatal

import graft.ops.Similarity.IndexFile

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStatsTracker, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one writer of IVF index and tombstone files. Each task writes its
  * files where they will live, under the index root, and reports each one
  * as (cell, path, rows, bytes); the caller names them in its manifest
  * commit. There is no commit protocol: no temp directory, no `_SUCCESS`,
  * no rename and no footer read. A file of a failed or superseded task
  * attempt is named by no manifest, so no reader sees it, and the next
  * commit that touches its directory deletes it.
  *
  * The files are Spark's own parquet files (`ParquetFileFormat`'s writer,
  * the session's codec and parquet settings) with each column chunk's
  * dictionary capped at 256 KB instead of Parquet's 1 MB default. A chunk
  * whose values repeat (quantized or binary components, for instance)
  * keeps its dictionary while its distinct values fit: 32768 doubles or
  * 65536 floats. A chunk of unique values (`id`, raw embedding components)
  * falls back to plain encoding after 32768 hash map inserts instead of
  * 131072, into the same plain bytes. Measured on 20k rows x 64 doubles in
  * 8 cells (median of 5, 4-vCPU host): with Gaussian components the
  * build's write takes 419 ms of summed task CPU under the cap and 622 ms
  * under the default, same bytes; quantized components keep the default's
  * bytes (int8 with one scale 1.55 MB, with a scale per dimension 3.09 MB,
  * binary 0.26 MB, where plain encoding would take 3.81, 8.37 and
  * 1.71 MB). Only a chunk of 32768 to 131072 distinct doubles that repeat
  * is written plain where the default kept a dictionary. Readers take
  * either encoding.
  */
private[ops] object IndexWriter {

  private val DictionaryCapBytes = 256L * 1024

  /** Writes `rows` (an int `cell` column and the data columns) under
    * `<root>/<into>cell=<c>/` in one Spark job over `rows`' partitions:
    * each task sorts its partition by cell and writes one file per cell it
    * meets, `part-<write id>-<partition>-<attempt>`. Task output metrics
    * count the rows and bytes written. Returns the files, paths relative to
    * `root`.
    */
  def write(spark: SparkSession, root: Path, rows: DataFrame, into: String): Seq[IndexFile] = {
    val sorted = rows.sortWithinPartitions(col("cell"))
    val cellAt = sorted.schema.fieldIndex("cell")
    val dataSchema = StructType(sorted.schema.filterNot(_.name == "cell"))
    val data = sorted.schema.zipWithIndex.collect { case (f, i) if i != cellAt =>
      BoundReference(i, f.dataType, f.nullable) }
    val options = Map("parquet.dictionary.page.size" -> DictionaryCapBytes.toString)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val task = new WriteTask(factory, conf, dataSchema, data, cellAt, root.toString, into,
      UUID.randomUUID().toString)
    val qe = sorted.queryExecution
    try SQLExecution.withNewExecutionId(qe, Some(s"write IVF files under $root")) {
      spark.sparkContext.runJob(qe.toRdd, task.run _).toSeq.flatten
    } finally conf.destroy()
  }

  private final class WriteTask(factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration], dataSchema: StructType,
      data: Seq[BoundReference], cellAt: Int, root: String, into: String, writeId: String)
      extends Serializable {

    def run(ctx: TaskContext, rows: Iterator[InternalRow]): Array[IndexFile] = {
      val attempt = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID(
        new TaskID(new JobID(writeId, ctx.stageId()), TaskType.MAP, ctx.partitionId()),
        ctx.attemptNumber()))
      val hadoopConf = attempt.getConfiguration
      val stats = new BasicWriteTaskStatsTracker(hadoopConf, None)
      val project = UnsafeProjection.create(data)
      val name = f"part-$writeId-${ctx.partitionId()}%05d-${ctx.attemptNumber()}" +
        factory.getFileExtension(attempt)
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(hadoopConf)
      val written = Array.newBuilder[IndexFile]
      var writer: OutputWriter = null
      var cell = 0
      var rel = ""
      var file = ""
      var count = 0L
      def close(): Unit = {
        val w = writer
        writer = null
        w.close()
        stats.closeFile(file)
        written += IndexFile(cell, rel, count, fs.getFileStatus(new Path(file)).getLen)
      }
      try {
        while (rows.hasNext) {
          val row = rows.next()
          val c = row.getInt(cellAt)
          if (writer == null || c != cell) {
            if (writer != null) close()
            cell = c
            rel = s"${into}cell=$c/$name"
            file = new Path(rootPath, rel).toString
            count = 0
            writer = factory.newInstance(file, dataSchema, attempt)
            stats.newFile(file)
          }
          writer.write(project(row))
          stats.newRow(file, row)
          count += 1
        }
        if (writer != null) close()
      } catch {
        // the partial file stays, named by no manifest
        case t: Throwable =>
          if (writer != null) try writer.close() catch { case NonFatal(e) => t.addSuppressed(e) }
          throw t
      }
      stats.getFinalStats(0L) // sets the task's output metrics (records, bytes written)
      written.result()
    }
  }
}
