package graft.ops

import java.io.IOException

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet reads and writes of small files: the IVF index's
  * (tiny) centroid file, and the Spark schema in a file's footer, which
  * the checkpointed aggregate reads from its checkpoint. A few KB of I/O per
  * file, no Spark job, no scheduling round-trip (at bench scale each avoided
  * job is ~0.1-0.3 s of fixed cost). No index mutation reads a footer: the
  * writer reports each new file's row count and length itself.
  */
private[ops] object ParquetFooters {

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
