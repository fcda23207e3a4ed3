package graft

import graft.ops.{CheckpointedAgg, NorthQueries}
import graft.sources.PagesTable

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the north-star jobs and the persisted IVF
  * index lifecycle:
  *
  * {{{
  * spark-submit --class graft.Main <jar> <command> <args...>
  * }}}
  *
  * The commands and their usage lines are the [[commands]] table. No
  * master/parallelism is hard-coded: cluster size, executor counts, AQE and
  * shuffle-partition settings come from spark-submit config, so the same
  * binary runs local[N] here and a 1000-executor cluster in production.
  */
object Main {

  /** command -> (minimum argument count, command included; usage line). */
  private[graft] val commands: Map[String, (Int, String)] = Map(
    "distinct-urls" -> (3, "<pagesPath> <outPath> [p]"),
    "distinct-urls-per-lang" -> (3, "<pagesPath> <outPath> [p] [salts]"),
    "shingles-per-day" -> (3, "<pagesPath> <outPath> [p]"),
    "checkpointed-urls-per-lang" -> (4, "<pagesPath> <ckptDir> <outPath> [p]"),
    "generate-pages" -> (4, "<outPath> <rows> <distinctUrls>"),
    "ivf-build" -> (5, "<corpusParquet> <idCol> <vecCol> <indexPath> [k] [sampleSize] [filesPerCell]"),
    "ivf-append" -> (5, "<corpusParquet> <idCol> <vecCol> <indexPath>"),
    "ivf-remove" -> (4, "<indexPath> <idsParquet> <idCol>"),
    "ivf-remove-vec" -> (5, "<indexPath> <rowsParquet> <idCol> <vecCol>"),
    "ivf-compact" -> (2, "<indexPath> [maxBytes]"),
    "ivf-probe" -> (6, "<indexPath> <queriesParquet> <idCol> <vecCol> <outPath> [k] [nProbe]"))

  /** Rejects an unknown command or a short argument list before any
    * SparkSession starts.
    */
  private[graft] def checkArgs(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: <command> <args...>; commands: " +
      commands.keys.toSeq.sorted.mkString(", "))
    val (n, usage) = commands.getOrElse(args(0),
      throw new IllegalArgumentException(s"unknown command: ${args(0)}"))
    require(args.length >= n, s"usage: ${args(0)} $usage")
  }

  def main(args: Array[String]): Unit = {
    checkArgs(args)
    val spark = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.registerAll(spark)

    args(0) match {
      case "distinct-urls" =>
        val Array(_, in, out) = args.take(3)
        val p = if (args.length > 3) args(3).toInt else 12
        NorthQueries.distinctUrls(PagesTable.readFrom(spark, in), p)
          .write.mode("overwrite").parquet(out)

      case "distinct-urls-per-lang" =>
        val Array(_, in, out) = args.take(3)
        val p = if (args.length > 3) args(3).toInt else 12
        val salts = if (args.length > 4) args(4).toInt else 64
        NorthQueries.distinctUrlsPerLang(PagesTable.readFrom(spark, in), p, salts)
          .write.mode("overwrite").parquet(out)

      case "shingles-per-day" =>
        val Array(_, in, out) = args.take(3)
        val p = if (args.length > 3) args(3).toInt else 12
        NorthQueries.distinctShinglesPerDay(PagesTable.readFrom(spark, in), p)
          .write.mode("overwrite").parquet(out)

      case "checkpointed-urls-per-lang" =>
        val Array(_, in, ckpt, out) = args.take(4)
        val p = if (args.length > 4) args(4).toInt else 12
        CheckpointedAgg.run(spark, in, Seq("lang"), "url", ckpt, p)
          .write.mode("overwrite").parquet(out)

      case "generate-pages" =>
        val Array(_, out, rows, urls) = args.take(4)
        PagesTable.writeTo(
          PagesTable.generate(spark, rows.toLong, urls.toLong,
            partitions = spark.sparkContext.defaultParallelism * 4), out)

      // Production IVF lifecycle: train + build the persisted index once...
      case "ivf-build" =>
        import org.apache.spark.sql.functions.col
        val Array(_, in, idCol, vecCol, idxPath) = args.take(5)
        val k = if (args.length > 5) args(5).toInt else 1024
        val sampleSize = if (args.length > 6) args(6).toInt else 20000
        val filesPerCell = if (args.length > 7) args(7).toInt else 1
        val corpus = spark.read.parquet(in).select(col(idCol), col(vecCol))
        val centroids = graft.ops.Similarity.trainIvfCentroids(
          corpus, vecCol, k, sampleSize)
        graft.ops.Similarity.assignCells(corpus, idCol, vecCol, centroids, idxPath,
          filesPerCell = filesPerCell)

      // ...append new rows against the sidecar centroids (daily ingest), in
      // the build's filesPerCell layout...
      case "ivf-append" =>
        import org.apache.spark.sql.functions.col
        val Array(_, in, idCol, vecCol, idxPath) = args.take(5)
        graft.ops.Similarity.appendToIndex(
          spark.read.parquet(in).select(col(idCol), col(vecCol)),
          idCol, vecCol, idxPath)

      // ...mark rows deleted (dedup losers, quality-filter casualties,
      // takedowns): probes exclude them immediately via the tombstone
      // anti-join, the next compaction reclaims the bytes...
      case "ivf-remove" =>
        val Array(_, idxPath, idsIn, idCol) = args.take(4)
        val n = graft.ops.Similarity.removeFromIndex(
          spark, idxPath, spark.read.parquet(idsIn), idCol)
        println(s"[graft] ivf-remove: tombstoned $n row(s); probes exclude them " +
          s"now, the next ivf-compact drops them physically")

      // ...same, but resolving cells from the vectors via the sidecar
      // centroids — zero index I/O, for frequent small delete batches whose
      // vectors the caller still holds...
      case "ivf-remove-vec" =>
        val Array(_, idxPath, rowsIn, idCol, vecCol) = args.take(5)
        val n = graft.ops.Similarity.removeFromIndexByVector(
          spark, idxPath, spark.read.parquet(rowsIn), idCol, vecCol)
        println(s"[graft] ivf-remove-vec: tombstoned $n row(s) with zero index " +
          s"I/O; probes exclude them now, the next ivf-compact drops them physically")

      // ...periodically re-merge append-fragmented cells (probe cost at
      // corpus scale degrades toward file listing/open overhead otherwise —
      // run after every ~10 appends, or when indexCellStats shows files >>
      // filesPerCell; maxBytes bounds one run for very large indexes)...
      case "ivf-compact" =>
        val idxPath = args(1)
        val maxBytes = if (args.length > 2) args(2).toLong else Long.MaxValue
        val done = graft.ops.Similarity.compactIndex(spark, idxPath, maxBytes)
        println(s"[graft] ivf-compact: rewrote ${done.length} fragmented cell(s)" +
          (if (done.isEmpty) "" else s": ${done.sorted.take(50).mkString(",")}" +
            (if (done.length > 50) ",..." else "")))

      // ...and serve query batches with partition-pruned probes.
      case "ivf-probe" =>
        val Array(_, idxPath, qIn, idCol, vecCol, out) = args.take(6)
        val k = if (args.length > 6) args(6).toInt else 10
        val nProbe = if (args.length > 7) args(7).toInt else 8
        graft.ops.Similarity.ivfTopKFromIndex(
          spark, idxPath, spark.read.parquet(qIn), idCol, vecCol, k, nProbe)
          .write.mode("overwrite").parquet(out)
    }
    spark.stop()
  }
}
