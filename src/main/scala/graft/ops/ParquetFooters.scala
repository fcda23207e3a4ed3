package graft.ops

import java.io.IOException

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet METADATA reads for the IVF index lifecycle ops and
  * the checkpointed aggregate: the row count of each newly written file, the
  * (tiny) centroid file and a checkpoint's schema come straight from file
  * footers — a few KB of I/O per file, no Spark job, no
  * scheduling round-trip. At bench scale each avoided job is ~0.1-0.3 s of
  * fixed cost; at production scale these reads are bounded by the files a
  * mutation writes, never by data volume.
  */
private[ops] object ParquetFooters {

  /** Footer record count of `file` — bit-identical to what a Spark
    * `count()` over it resolves from (parquet counts come from footer
    * metadata either way). Reads the footer alone: a full
    * `ParquetFileReader.open` cost ~10x more per file (~10 ms vs ~1 ms on
    * a 4-vCPU host, local disk).
    */
  def recordCount(conf: Configuration, file: FileStatus): Long =
    footer(conf, file).getBlocks.asScala.map(_.getRowCount).sum

  /** The Spark schema that a Spark write stored in `file`'s footer, or None
    * for a file without one. It is the schema `spark.read.parquet` infers
    * from that file, read without the Spark job the inference runs.
    */
  def sparkSchema(conf: Configuration, file: FileStatus): Option[StructType] =
    Option(footer(conf, file).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson).collect { case s: StructType => s }

  private def footer(conf: Configuration, file: FileStatus) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf)
    val stream = in.newStream()
    try org.apache.parquet.hadoop.ParquetFileReader.readFooter(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, file.getPath).build(), stream)
    finally stream.close()
  }

  /** Writes an `(idx int, centroid array<double>)` centroid file at `file`
    * (replacing any file there) in the same standard 3-level list layout
    * Spark writes, so a Spark parquet read consumes it unchanged.
    * [[readCentroids]] is its one reader; the caller verifies the file by
    * reading it back.
    */
  def writeCentroids(conf: Configuration, file: Path,
      centroids: Array[Array[Double]]): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int32 idx;
        |  required group centroid (LIST) {
        |    repeated group list {
        |      required double element;
        |    }
        |  }
        |}""".stripMargin)
    file.getFileSystem(conf).delete(file, true)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .build()
    try {
      val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      centroids.zipWithIndex.foreach { case (c, i) =>
        val g = factory.newGroup()
        g.add("idx", i)
        val lst = g.addGroup("centroid")
        c.foreach(v => lst.addGroup("list").add("element", v))
        writer.write(g)
      }
    } finally writer.close()
  }

  /** The centroids of an `(idx int, centroid array<double>)` file in the
    * [[writeCentroids]] layout, in `idx` order, read via the parquet example
    * Group API. Throws, naming the file, when it cannot be read or its
    * `idx` values are not 0 until its row count.
    */
  def readCentroids(conf: Configuration, file: Path): Array[Array[Double]] = {
    val rows = try {
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), file)
        .withConf(conf)
        .build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        // centroid (LIST) -> repeated group "list" -> "element" double
        val lst = g.getGroup("centroid", 0)
        (g.getInteger("idx", 0),
          Array.tabulate(lst.getFieldRepetitionCount(0))(i => lst.getGroup(0, i).getDouble(0, 0)))
      }.toVector.sortBy(_._1)
      finally reader.close()
    } catch {
      case NonFatal(e) => throw new IOException(s"unreadable IVF centroid file $file: $e", e)
    }
    if (rows.map(_._1) != rows.indices)
      throw new IOException(s"IVF centroid file $file: idx is not 0 until its row count")
    rows.map(_._2).toArray
  }
}
