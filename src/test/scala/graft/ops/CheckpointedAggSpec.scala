package graft.ops

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SharedSpark
import graft.functions._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CheckpointedAggSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_ckpt_").toString

  private def writeInput(): String = {
    val dir = tmp() + "/input"
    (0 until 20000).map(i => ("lang" + (i % 6), i.toLong % 5000))
      .toDF("lang", "v").repartition(8)
      .write.parquet(dir)
    dir
  }

  test("checkpointed result equals direct aggregation, with correct metrics") {
    val input = writeInput()
    val ckpt = tmp() + "/ckpt"
    val result = CheckpointedAgg.run(spark, input, Seq("lang"), "v", ckpt)
      .orderBy($"lang").collect()
    val direct = spark.read.parquet(input).groupBy($"lang")
      .agg(ce_approx_distinct($"v").as("d"), count(lit(1)).as("n"))
      .orderBy($"lang").collect()
    assert(result.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // rows_scanned metric matches true row counts per key
    assert(result.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(2))).toSeq)
    // lineage: every key merged sketches from all 8 input files
    assert(result.forall(_.getLong(3) == 8L))
  }

  /** Per key, the union of every committed sketch under `ckpt`, sorted by key. */
  private def mergedSketches(ckpt: String): Seq[(String, Seq[Byte])] =
    spark.read.parquet(ckpt + "/batch_*").groupBy($"lang").agg(ce_merge($"sketch").as("sk"))
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toSeq

  /** Runs `body` with every input file not in `keep` moved out of `input`, as
    * a run killed after `keep` would have seen it. Split ids are full paths,
    * so the files read back under the same ids once moved back.
    */
  private def withOnly[T](input: String, keep: Seq[String])(body: => T): T = {
    val aside = Files.createTempDirectory("graft_aside_")
    val moved = spark.read.parquet(input).inputFiles.toSeq.filterNot(keep.contains)
      .map(f => Paths.get(new URI(f)))
    moved.foreach(f => Files.move(f, aside.resolve(f.getFileName)))
    try body finally moved.foreach(f => Files.move(aside.resolve(f.getFileName), f))
  }

  test("resume after partial run: only missing splits processed, same answer") {
    // p14 with ~2500 distinct values per key: HLL mode above p12
    val p = 14
    val input = writeInput()
    val ckpt = tmp() + "/ckpt"
    val files = spark.read.parquet(input).inputFiles.toSeq
    // simulate a job killed after 3 of 8 files
    val n1 = withOnly(input, files.take(3)) {
      CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt, p = p)
    }
    assert(n1 == 3)
    assert(CheckpointedAgg.completedSplits(spark, ckpt).size == 3)
    // a committed batch holds the sketch and the row metric, no stored size
    val batch = new java.io.File(ckpt).listFiles().filter(_.getName.startsWith("batch_")).head
    assert(spark.read.parquet(batch.getPath).schema.fieldNames.toSeq ==
      Seq("split_id", "lang", "sketch", "rows"))
    // resume: processes exactly the remaining 5
    val n2 = CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt, p = p)
    assert(n2 == 5)
    // idempotent: a third run does nothing
    assert(CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt, p = p) == 0)
    val result = CheckpointedAgg.finalizeStage(spark, ckpt, Seq("lang"))
      .orderBy($"lang").collect()
    val direct = spark.read.parquet(input).groupBy($"lang")
      .agg(ce_approx_distinct($"v", p).as("d")).orderBy($"lang").collect()
    assert(result.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // the resumed checkpoint unions to the bytes of an uninterrupted run
    val whole = tmp() + "/ckpt"
    assert(CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", whole, p = p) == 8)
    val (resumed, uninterrupted) = (mergedSketches(ckpt), mergedSketches(whole))
    assert(resumed.map(_._1) == uninterrupted.map(_._1))
    val differ = resumed.zip(uninterrupted).collect { case ((k, a), (_, b)) if a != b => k }
    assert(differ.isEmpty, s"sketch bytes differ after resume for ${differ.mkString(", ")}")
  }

  test("double-committed split is harmless (idempotent union, max-rows metric)") {
    val input = writeInput()
    val ckpt = tmp() + "/ckpt"
    val files = spark.read.parquet(input).inputFiles.toSeq
    CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt)
    // forcibly re-commit one split as its own committed batch (commit race)
    val dup = spark.read.parquet(files.head)
      .groupBy(lit(files.head).as("split_id"), $"lang")
      .agg(graft.functions.ce_sketch($"v").as("sketch"), count(lit(1)).as("rows"))
    dup.write.parquet(ckpt + "/batch_9999999999999_dup")
    val result = CheckpointedAgg.finalizeStage(spark, ckpt, Seq("lang"))
      .orderBy($"lang").collect()
    val direct = spark.read.parquet(input).groupBy($"lang")
      .agg(ce_approx_distinct($"v").as("d"), count(lit(1)).as("n"))
      .orderBy($"lang").collect()
    assert(result.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("torn batch without _SUCCESS is ignored and its splits get reprocessed") {
    val input = writeInput()
    val ckpt = tmp() + "/ckpt"
    val files = spark.read.parquet(input).inputFiles.toSeq
    withOnly(input, files.take(4)) {
      CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt)
    }
    // simulate a kill mid-commitJob: drop the _SUCCESS marker of that batch
    val batchDir = new java.io.File(ckpt).listFiles()
      .filter(_.getName.startsWith("batch_")).head
    assert(new java.io.File(batchDir, "_SUCCESS").delete())
    assert(CheckpointedAgg.completedSplits(spark, ckpt).isEmpty)
    // rerun processes ALL files again (the torn batch is never trusted)
    assert(CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", ckpt) == 8)
    val result = CheckpointedAgg.finalizeStage(spark, ckpt, Seq("lang"))
      .orderBy($"lang").collect()
    val direct = spark.read.parquet(input).groupBy($"lang")
      .agg(graft.functions.ce_approx_distinct($"v").as("d"), count(lit(1)).as("n"))
      .orderBy($"lang").collect()
    assert(result.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }
}
