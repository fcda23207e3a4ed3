package graft.ops

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SharedSpark

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The IVF write path: what the delete batch may hold, the training sample
  * the centroids come from, and the encoding of the files every mutation
  * writes.
  */
class IvfWritePathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SharedSpark.spark
  import spark.implicits._

  private def unitVec(dim: Int, seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    val v = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }

  /** A vector whose components take four values: distinct vectors whose
    * components repeat, so a Parquet writer with a dictionary keeps it.
    */
  private def gridVec(dim: Int, seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(dim)(rnd.nextInt(4) * 0.5f - 0.75f)
  }

  /** `df` written as parquet in `files` files and read back: a file scan. */
  private def parquet(df: DataFrame, files: Int): DataFrame = {
    val dir = Files.createTempDirectory("graft_ivf_write_").toString + "/t"
    (if (files == 1) df.coalesce(1) else df.repartition(files)).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def topK(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("removeFromIndex: repeated, null and absent ids tombstone each indexed row once") {
    val dim = 8
    val base = (0 until 300).map(i => (i.toLong, unitVec(dim, i)))
    // clones of the first vectors under new ids: they rank first for their
    // queries unless the deletion takes
    val clones = (0 until 10).map(i => (5000L + i, unitVec(dim, i)))
    val centroids = Similarity.trainIvfCentroids(base.toDF("id", "vec"), "vec", k = 6,
      sampleSize = 300)
    val idx = Files.createTempDirectory("graft_ivf_dupdel_").toString
    Similarity.assignCells(parquet(base.toDF("id", "vec"), 3), "id", "vec", centroids, idx)
    Similarity.appendToIndex(clones.toDF("id", "vec"), "id", "vec", idx)
    val deleted = (5000L until 5010L) ++ (0L until 5L)
    val batch: Seq[Option[Long]] =
      (5000L until 5010L).flatMap(i => Seq.fill(3)(Some(i))) ++
        (0L until 5L).flatMap(i => Seq(Some(i), Some(i))) ++ Seq(None, Some(999999L), None)
    val removed = Similarity.removeFromIndex(spark, idx, parquet(batch.toDF("id"), 4))
    assert(removed == deleted.length.toLong)
    val tombstoneFiles = parquetFilesUnder(new java.io.File(idx, "_tombstones")).map(_.getPath)
    val tombstoned = spark.read.parquet(tombstoneFiles: _*).select($"id")
      .collect().map(_.getLong(0)).toSeq
    assert(tombstoned.sorted == deleted.sorted, "each deleted row is tombstoned exactly once")
    assert(Similarity.indexCellStats(spark, idx)
      .agg(org.apache.spark.sql.functions.sum($"tombstones")).collect()(0).getLong(0) ==
      deleted.length.toLong)

    val survivors = (base ++ clones).filterNot(r => deleted.contains(r._1))
    val queries = (0 until 8).map(i => (i.toLong, unitVec(dim, i))).toDF("qid", "qvec")
    val brute = topK(Similarity.bruteForceTopK(survivors.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", 3))
    def fullprobe() = topK(Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length))
    assert(fullprobe() == brute, "tombstoned index diverged from brute force")
    assert(Similarity.compactIndex(spark, idx).nonEmpty)
    assert(fullprobe() == brute, "compacted index diverged from brute force")
    assert(spark.read.parquet(idx).select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
      survivors.map(_._1).sorted)
  }

  /** Each element's bits, with its width, so NaN, -0.0 and float/double
    * arrays compare exactly.
    */
  private def bits(r: Row): Option[Seq[Option[String]]] =
    Option(r.getSeq[Any](0)).map(_.map {
      case null => None
      case f: Float => Some("f" + java.lang.Float.floatToRawIntBits(f))
      case d: Double => Some("d" + java.lang.Double.doubleToRawLongBits(d))
    })

  /** A seeded corpus of `n` rows with null vectors, null elements, NaN and
    * exact duplicates among clean vectors of dimension `dim`.
    */
  private def dirtyCorpus(seed: Int, n: Int, dim: Int, asFloat: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val clean = Array.fill(n / 4)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until n).map { i =>
      val v: Seq[Any] = rnd.nextInt(20) match {
        case 0 => null
        case 1 => clean(rnd.nextInt(clean.length)).toSeq.updated(rnd.nextInt(dim), null)
        case 2 => clean(rnd.nextInt(clean.length)).toSeq.updated(rnd.nextInt(dim), Double.NaN)
        case 3 | 4 | 5 | 6 => clean(rnd.nextInt(4)).toSeq
        case _ => clean(rnd.nextInt(clean.length)).toSeq
      }
      Row(i.toLong, if (v == null) null
        else if (asFloat) v.map { case null => null; case d: Double => d.toFloat }
        else v)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(if (asFloat) FloatType else DoubleType, containsNull = true)))))
  }

  test("trainIvfCentroids: same sample and centroids as ordering on the hash expression") {
    // one file per scan partition, however small the files
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", 128L * 1024 * 1024)
    var checked = 0
    try for (seed <- Seq(1, 2); asFloat <- Seq(true, false); files <- Seq(1, 7)) {
      val corpus = parquet(dirtyCorpus(seed, 400, 6, asFloat), files)
      assert(corpus.inputFiles.length == files && corpus.rdd.getNumPartitions == files)
      // one window inside the clean rows, one past every row
      for (sampleSize <- Seq(40, 300)) {
        val what = s"seed $seed, float $asFloat, $files files, sample $sampleSize"
        val reference = corpus.select(col("vec"))
          .filter(col("vec").isNotNull)
          .orderBy(graft.functions.vec_hash64(col("vec")).asc_nulls_last)
          .limit(2 * sampleSize)
          .collect()
        // rows of equal hash tie, and the driver merges the partitions' heaps
        // in task completion order: clean rows tie only with rows of the
        // same bits, so they must match in order; vectors with a null
        // element (all of hash NULL, dropped before training) as a multiset
        def split(rows: Array[Row]) = {
          val (clean, nullElem) = rows.map(bits).toSeq.partition(_.forall(!_.contains(None)))
          (clean, nullElem.map(_.toString).sorted)
        }
        val window = Similarity.sampleWindow(corpus, "vec", sampleSize)
        assert(split(window.collect()) == split(reference), what)
        val want = Similarity.centroidsFromWindow(reference, 5, sampleSize, 10, 42L)
        val got = Similarity.trainIvfCentroids(corpus, "vec", 5, sampleSize)
        assert(got.length == want.length && got.zip(want).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) }, what)
        val topN = collect(window.queryExecution.executedPlan) {
          case t: TakeOrderedAndProjectExec => t }
        assert(topN.length == 1, s"$what: ${window.queryExecution.executedPlan}")
        assert(topN.head.sortOrder.forall(_.child.isInstanceOf[Attribute]),
          s"$what: the sample sorts on ${topN.head.sortOrder}")
        checked += 1
      }
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
    assert(checked == 16)
  }

  private def parquetFilesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFilesUnder)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  /** The column chunks of parquet file `f`, from its footer, as (column
    * path, whether the chunk is dictionary-encoded).
    */
  private def chunkEncodings(f: java.io.File): Seq[(String, Boolean)] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).map { c =>
      (c.getPath.toDotString, c.getEncodings.asScala.exists(e =>
        e == Encoding.PLAIN_DICTIONARY || e == Encoding.RLE_DICTIONARY))
    } finally reader.close()
  }

  /** The data files and the tombstone files of index `idx`. */
  private def indexFiles(idx: String): (Seq[java.io.File], Seq[java.io.File]) = {
    val root = new java.io.File(idx)
    (root.listFiles().filter(_.getName.startsWith("cell=")).toSeq.flatMap(parquetFilesUnder),
      parquetFilesUnder(new java.io.File(root, "_tombstones")))
  }

  test("index files keep a dictionary for repeating components and none for unique ids") {
    val dim = 8
    val base = (0 until 400).map(i => (i.toLong, gridVec(dim, i)))
    val corpus = parquet(base.toDF("id", "vec"), 4)
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 400)
    val idx = Files.createTempDirectory("graft_ivf_dict_").toString
    var tombstonesSeen = false
    def check(step: String): Unit = {
      val (data, tombstones) = indexFiles(idx)
      tombstonesSeen ||= tombstones.nonEmpty
      val chunks = (data ++ tombstones).flatMap(f => chunkEncodings(f).map(f.getPath -> _))
      assert(chunks.exists(_._2._1.startsWith("vec")), s"after $step: no vector chunk")
      for ((path, (column, dictionary)) <- chunks) {
        if (column.startsWith("vec")) assert(dictionary, s"after $step: $path: $column is plain")
        if (column == "id") assert(!dictionary, s"after $step: $path: $column has a dictionary")
      }
    }
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    check("assignCells")
    val batch = parquet((400 until 460).map(i => (i.toLong, gridVec(dim, i))).toDF("id", "vec"), 1)
    Similarity.appendToIndex(batch, "id", "vec", idx)
    check("appendToIndex")
    assert(Similarity.removeFromIndex(spark, idx, batch.select($"id")) == 60L)
    check("removeFromIndex")
    assert(Similarity.removeFromIndexByVector(spark, idx, corpus.filter($"id" < 20)) == 20L)
    check("removeFromIndexByVector")
    assert(tombstonesSeen)

    // dictionary-encoded data and tombstone files probe and compact
    val queries = (0 until 6).map(i => (i.toLong, unitVec(dim, 700 + i))).toDF("qid", "qvec")
    def fullprobe() = topK(Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length))
    val brute = topK(Similarity.bruteForceTopK(base.filterNot(_._1 < 20).toDF("id", "vec"),
      "id", "vec", queries, "qid", "qvec", 3))
    assert(fullprobe() == brute)
    assert(Similarity.compactIndex(spark, idx).nonEmpty)
    check("compactIndex")
    assert(fullprobe() == brute)
  }

  test("a vector column with more distinct components than the dictionary cap is plain") {
    // one cell of 2000 x 64 doubles cycling through 48000 distinct values:
    // every value repeats, and 48000 x 8 B fits Parquet's default 1 MB
    // dictionary but not the index writer's 256 KB cap
    val dim = 64
    val rows = (0 until 2000).map(i =>
      (i.toLong, Seq.tabulate(dim)(j => 1.0 + ((i * dim + j) % 48000) * 1e-6))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(rows, "vec", k = 1, sampleSize = 100)
    val idx = Files.createTempDirectory("graft_ivf_cap_").toString
    Similarity.assignCells(rows, "id", "vec", centroids, idx)
    val data = indexFiles(idx)._1
    assert(data.length == 1)
    val vecChunks = chunkEncodings(data.head).filter(_._1.startsWith("vec"))
    assert(vecChunks.nonEmpty && vecChunks.forall(!_._2), vecChunks)

    // Parquet's default options write the same rows with a dictionary
    val tmp = Files.createTempDirectory("graft_ivf_cap_default_").toString + "/t"
    spark.read.parquet(data.head.getPath).drop("cell").coalesce(1).write.parquet(tmp)
    assert(parquetFilesUnder(new java.io.File(tmp)).flatMap(chunkEncodings)
      .exists { case (column, dictionary) => column.startsWith("vec") && dictionary })
  }
}
