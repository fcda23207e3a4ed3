package graft.ops

import graft.core.CardinalitySketch.{DefaultP, DefaultW}
import graft.functions._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable two-stage distinct-count job with per-partition lineage and
  * row-count metrics (north-rule requirement).
  *
  * Stage 1 aggregates per (input file, group keys) and writes
  * `(split_id, keys..., sketch, rows)` rows into a NEW batch subdirectory of
  * the checkpoint dir — `split_id` is the input file path, i.e. the lineage
  * of that sketch. A batch only counts once Spark's commit protocol has
  * written its `_SUCCESS` marker, so a job killed mid-commit (when only some
  * task files have been renamed into place) leaves an ignored torn batch: the
  * rerun re-processes those splits from scratch rather than trusting partial
  * rows. Re-processing is harmless downstream because finalize first unions
  * per (split, keys) — sketch union is idempotent and the row metric takes
  * max — before rolling up per keys.
  *
  * Correctness rides on merge associativity/commutativity exactly like
  * Spark's own partial aggregation (reference merge matrix,
  * src/estimator.rs:287-333).
  */
object CheckpointedAgg {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Batch subdirectories whose `_SUCCESS` marker exists (fully committed). */
  private def committedBatches(spark: SparkSession, ckptDir: String): Seq[String] = {
    val root = new Path(ckptDir)
    val system = fs(spark, ckptDir)
    if (!system.exists(root)) Seq.empty
    else system.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_"))
      .filter(s => system.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
  }

  /** The committed batches as one frame. Its schema comes from the footer
    * of one committed file, read on the driver: letting the reader infer it
    * would run a Spark job while the frame is only being built.
    */
  private def readCommitted(spark: SparkSession, ckptDir: String): Option[DataFrame] = {
    val batches = committedBatches(spark, ckptDir)
    if (batches.isEmpty) None
    else {
      val system = fs(spark, ckptDir)
      val schema = batches.iterator
        .flatMap(b => system.listStatus(new Path(b)))
        .find(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .flatMap(f => ParquetFooters.sparkSchema(spark.sparkContext.hadoopConfiguration, f))
      Some(schema.fold(spark.read)(s => spark.read.schema(s)).parquet(batches: _*))
    }
  }

  /** Canonical form for split identity comparisons: `input_file_name()`
    * strings and `Dataset.inputFiles` strings can disagree on URI
    * normalization (scheme casing, authority, encoding) on s3a/hdfs even
    * when they name the same file; routing both sides through
    * `Path.toUri.toString` keeps resume working there (a mismatch is not a
    * correctness bug — the idempotent union absorbs reprocessing — but it
    * silently forfeits the resume benefit).
    */
  private[ops] def canonicalSplit(s: String): String = new Path(s).toUri.toString

  /** Splits already committed to the checkpoint (canonicalized). */
  def completedSplits(spark: SparkSession, ckptDir: String): Set[String] =
    readCommitted(spark, ckptDir) match {
      case None => Set.empty
      case Some(df) =>
        df.select("split_id").distinct().collect()
          .map(r => canonicalSplit(r.getString(0))).toSet
    }

  /** Run (or resume) stage 1: checkpoint per-file sketches of `valueCol`
    * grouped by `keys`. Returns the number of input files processed in this
    * invocation (0 = nothing left to do).
    */
  def checkpointStage(
      spark: SparkSession,
      inputPath: String,
      keys: Seq[String],
      valueCol: String,
      ckptDir: String,
      p: Int = DefaultP,
      w: Int = DefaultW): Int = {
    val all = spark.read.parquet(inputPath)
    val done = completedSplits(spark, ckptDir)
    val todo = all.inputFiles.toSeq.filterNot(f => done.contains(canonicalSplit(f)))
    if (todo.nonEmpty) {
      val batchDir = new Path(ckptDir,
        f"batch_${System.currentTimeMillis()}%013d_${todo.size}%d").toString
      val df = spark.read.schema(all.schema).parquet(todo: _*)
      df.groupBy(input_file_name().as("split_id") +: keys.map(col): _*)
        .agg(
          ce_sketch(col(valueCol), p, w).as("sketch"),
          count(lit(1)).as("rows"))
        .write.mode("errorifexists").parquet(batchDir)
    }
    todo.size
  }

  /** Fold the checkpoint into final per-key estimates + scan metrics. */
  def finalizeStage(spark: SparkSession, ckptDir: String, keys: Seq[String]): DataFrame = {
    val ckpt = readCommitted(spark, ckptDir).getOrElse(
      throw new IllegalStateException(s"no committed checkpoint batches under $ckptDir"))
    ckpt
      .groupBy((Seq("split_id") ++ keys).map(col): _*)
      .agg(ce_merge(col("sketch")).as("sketch"), max(col("rows")).as("rows"))
      .groupBy(keys.map(col): _*)
      .agg(
        ce_merge_estimate(col("sketch")).as("distinct_count"),
        sum(col("rows")).as("rows_scanned"),
        countDistinct(col("split_id")).as("splits_merged"),
        sum(length(col("sketch"))).as("sketch_bytes_merged"))
  }

  /** One-call convenience: checkpoint whatever is missing, then finalize. */
  def run(
      spark: SparkSession,
      inputPath: String,
      keys: Seq[String],
      valueCol: String,
      ckptDir: String,
      p: Int = DefaultP,
      w: Int = DefaultW): DataFrame = {
    checkpointStage(spark, inputPath, keys, valueCol, ckptDir, p, w)
    finalizeStage(spark, ckptDir, keys)
  }
}
