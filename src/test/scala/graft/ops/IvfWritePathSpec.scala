package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SharedSpark

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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
        val referenceFrame = corpus.select(col("vec"))
          .filter(col("vec").isNotNull)
          .orderBy(graft.functions.vec_hash64(col("vec")).asc_nulls_last)
          .limit(2 * sampleSize)
        val reference = referenceFrame.collect()
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
        // the collected reference rows, in their order, as the window
        val want = Similarity.centroidsFromWindow(
          spark.createDataFrame(reference.toSeq.asJava, referenceFrame.schema), 5, sampleSize,
          10, 42L)
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

  /** The (records, bytes) written that each task of `body`'s jobs reports
    * in its output metrics, seen through a listener; a marker job run
    * afterwards fences the events.
    */
  private def writeMetricsOf(body: => Unit): Seq[(Long, Long)] = {
    val sc = spark.sparkContext
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new ConcurrentLinkedQueue[(Int, Long, Long)]()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "measured" => e.stageIds.foreach(stages.add(_))
          case "marker" => marked = true
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics.outputMetrics
        tasks.add((e.stageId, m.recordsWritten, m.bytesWritten))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("measured", "measured call")
      body
      sc.setJobGroup("marker", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val end = System.currentTimeMillis + 20000
      while (!marked && System.currentTimeMillis < end) Thread.sleep(20)
      assert(marked, "marker job never observed")
      tasks.asScala.toSeq.collect { case (stage, rows, bytes) if stages.contains(stage) =>
        (rows, bytes) }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The data and tombstone entries (kind, cell, rows, bytes, path) of the
    * newest manifest of index `idx`.
    */
  private def manifestEntries(idx: String): Set[(String, Int, Long, Long, String)] = {
    val versions = new java.io.File(idx, "_manifest").listFiles().map(_.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
    val text = Files.readString(new java.io.File(idx, s"_manifest/v${versions.max}").toPath)
    text.linesIterator.map(_.split("\t", 5)).collect {
      case Array(kind @ ("data" | "tombstones"), c, n, b, path) =>
        (kind, c.toInt, n.toLong, b.toLong, path)
    }.toSet
  }

  private def footerRows(f: java.io.File): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  test("write tasks report the rows and bytes of the files the manifest names") {
    val dim = 8
    val corpus = parquet((0 until 400).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec"), 4)
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 400)
    val idx = Files.createTempDirectory("graft_ivf_metrics_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    val batch = parquet((400 until 460).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec"), 1)
    def check(step: String)(call: => Unit): Unit = {
      val before = manifestEntries(idx)
      val tasks = writeMetricsOf(call)
      val added = (manifestEntries(idx) -- before).toSeq
      assert(added.nonEmpty, s"$step added no file")
      for ((_, _, rows, bytes, path) <- added) {
        val f = new java.io.File(idx, path)
        assert(f.length == bytes, s"$step: $path")
        assert(footerRows(f) == rows, s"$step: $path")
      }
      assert(tasks.map(_._1).sum == added.map(_._3).sum, s"$step: records written")
      assert(tasks.map(_._2).sum == added.map(_._4).sum, s"$step: bytes written")
    }
    check("appendToIndex")(Similarity.appendToIndex(batch, "id", "vec", idx))
    check("removeFromIndex")(
      assert(Similarity.removeFromIndex(spark, idx, batch.select($"id")) == 60L))
    check("compactIndex")(assert(Similarity.compactIndex(spark, idx).nonEmpty))
  }

  test("index files match what Spark's partitioned parquet write makes of the same rows") {
    val rnd = new scala.util.Random(5)
    // quantized float components that repeat, and unique double components
    val quantized = (0 until 600).map(i => (i.toLong, gridVec(16, i), rnd.nextDouble(), i % 3))
      .toDF("id", "vec", "norm", "cell")
    val unique = (0 until 600).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()), rnd.nextDouble(), i % 2))
      .toDF("id", "vec", "norm", "cell")
    for ((rows, vecDictionary) <- Seq(quantized -> true, unique -> false)) {
      val written = Files.createTempDirectory("graft_ivf_parity_").toString
      val files = IndexWriter.write(spark, new Path(written), rows.coalesce(1), "")
      val viaSpark = Files.createTempDirectory("graft_ivf_parity_viaSpark").toString + "/t"
      rows.coalesce(1).write.option("parquet.dictionary.page.size", 256L * 1024)
        .partitionBy("cell").parquet(viaSpark)
      assert(files.map(_.cell).sorted == rows.select($"cell").distinct().as[Int].collect().sorted.toSeq)
      val conf = spark.sparkContext.hadoopConfiguration
      def status(f: java.io.File) =
        new Path(f.getPath).getFileSystem(conf).getFileStatus(new Path(f.getPath))
      def chunks(f: java.io.File) = {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).map(c =>
          (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet))
        finally reader.close()
      }
      for (f <- files) {
        val mine = new java.io.File(written, f.path)
        val theirs = parquetFilesUnder(new java.io.File(viaSpark, s"cell=${f.cell}"))
        assert(theirs.length == 1)
        assert(ParquetFooters.sparkSchema(conf, status(mine)) ==
          ParquetFooters.sparkSchema(conf, status(theirs.head)), f.path)
        assert(ParquetFooters.sparkSchema(conf, status(mine)).get.fieldNames.toSeq ==
          Seq("id", "vec", "norm"))
        assert(chunks(mine) == chunks(theirs.head), f.path)
        assert(chunkEncodings(mine).collect { case (c, d) if c.startsWith("vec") => d }
          .forall(_ == vecDictionary), s"${f.path}: vec dictionary should be $vecDictionary")
        assert(footerRows(mine) == f.rows && mine.length == f.bytes)
      }
      assert(spark.read.parquet(written).orderBy("id").collect().toSeq ==
        spark.read.parquet(viaSpark).orderBy("id").collect().toSeq)
    }
  }

  test("trainIvfCentroids on primitives: bit-identical to the Row-decoding routine") {
    // vectors with +0.0 / -0.0 twins, exact duplicates, NaN, Inf, a null
    // element, null vectors and wrong lengths, as floats and as doubles
    def window(seed: Int, n: Int, dim: Int, asFloat: Boolean): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val clean = Array.fill(n / 3)(Array.tabulate(dim)(j =>
        if (rnd.nextInt(4) == 0) 0.0 else math.rint(rnd.nextGaussian() * 4) / 4))
      val rows = (0 until n).map { _ =>
        val base = clean(rnd.nextInt(clean.length))
        val v: Seq[Any] = rnd.nextInt(12) match {
          case 0 => null
          case 1 => base.toSeq.updated(rnd.nextInt(dim), null)
          case 2 => base.toSeq.updated(rnd.nextInt(dim), Double.NaN)
          case 3 => base.toSeq.updated(rnd.nextInt(dim), Double.NegativeInfinity)
          case 4 => base.toSeq.take(dim - 1 - rnd.nextInt(2))
          case 5 => base.toSeq.map(x => if (x == 0.0) -0.0 else x)
          case 6 | 7 => clean(rnd.nextInt(3)).toSeq
          case _ => base.toSeq
        }
        Row(if (v == null) null
          else if (asFloat) v.map { case null => null; case d: Double => d.toFloat }
          else v)
      }
      spark.createDataFrame(rows.asJava, StructType(Seq(StructField("vec",
        ArrayType(if (asFloat) FloatType else DoubleType, containsNull = true)))))
    }
    var checked = 0
    for (seed <- 1 to 4; asFloat <- Seq(true, false); (n, sampleSize, k) <-
        Seq((300, 150, 7), (300, 60, 4), (120, 200, 12))) {
      val w = window(seed, n, 5 + seed, asFloat)
      val want = referenceCentroids(w.collect(), k, sampleSize, 10, seed.toLong)
      val got = Similarity.centroidsFromWindow(w, k, sampleSize, 10, seed.toLong)
      assert(got.length == want.length && got.zip(want).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) }, s"seed $seed, float $asFloat, n $n, k $k")
      checked += 1
    }
    assert(checked == 24)
  }

  /** A frozen copy of `Similarity.centroidsFromWindow` as it was when the
    * window was decoded from `Row`s and Lloyd's assignment took one `dotArr`
    * per centroid: the reference the primitive routine must equal bit for
    * bit.
    */
  private def referenceCentroids(windowRows: Array[Row], k: Int, sampleSize: Int,
      iterations: Int, seed: Long): Array[Array[Double]] = {
    val collected: Array[Array[Double]] = windowRows
      .flatMap { r =>
        val seq = r.getSeq[Any](0)
        if (seq == null || seq.contains(null)) None
        else {
          val arr = seq.map {
            case f: Float => f.toDouble
            case d: Double => d
          }.toArray
          if (arr.exists(x => x.isNaN || x.isInfinite)) None else Some(arr)
        }
      }
    val raw = collected
      .distinctBy(a => scala.collection.immutable.ArraySeq.unsafeWrapArray(a))
      .take(sampleSize)
    // full-window test on the PRE-dirty-filter count from the limit: a window
    // crowded by dirty rows plus heavy duplication must also warn (the old
    // post-filter length test went silent exactly then)
    if (windowRows.length >= 2 * sampleSize && raw.length < sampleSize / 2)
      System.err.println(s"[graft] trainIvfCentroids: the sample window " +
        s"collapsed to ${raw.length} distinct usable vectors (of " +
        s"${windowRows.length} collected, ${collected.length} clean) — extreme " +
        s"template duplication or dirty-row crowding; pre-deduplicate/clean the " +
        s"vector column (dropDuplicates(vecCol)) for a representative sample")
    // dim by majority vote over the PRE-dedup window (ties -> smaller dim):
    // neither a single junk-length row that wins the hash order nor many
    // DISTINCT junk-length rows outvoting one heavily-duplicated real
    // dimension may define dim and silently discard the real sample
    val dim = collected.groupBy(_.length).toSeq
      .sortBy { case (len, vs) => (-vs.length, len) }
      .headOption.map(_._1).getOrElse(0)
    val sample = raw.filter(_.length == dim).map(referenceNormalize).filter(_ != null)
    // the sample is already distinct-by-content: fewer distinct directions
    // than k is the documented fewer-centroids case, not an error
    require(sample.nonEmpty, "no usable (finite, non-zero) vectors to train on")
    val kTarget = math.min(k, sample.length)
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding: running min-distance per point, refreshed against
    // only the newest centroid (O(k n dim)), D^2 weighting
    val minD = Array.fill(sample.length)(Double.PositiveInfinity)
    def refresh(c: Array[Double]): Unit = {
      var i = 0
      while (i < sample.length) {
        val d = math.max(1.0 - referenceDot(sample(i), c), 0.0)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    val centroids = scala.collection.mutable.ArrayBuffer[Array[Double]](
      sample(rnd.nextInt(sample.length)).clone())
    refresh(centroids(0))
    var exhausted = false
    while (centroids.length < kTarget && !exhausted) {
      val w = minD.map(d => d * d)
      val total = w.sum
      if (total <= 0) {
        // every remaining point coincides with an existing centroid (fewer
        // than k distinct directions in the sample): another pick could only
        // duplicate a centroid and leave its cell permanently empty — stop
        // seeding and return the distinct centroids found
        exhausted = true
      } else {
        var target = rnd.nextDouble() * total
        var i = 0
        while (i < sample.length - 1 && target > w(i)) { target -= w(i); i += 1 }
        val pick = sample(i)
        centroids += pick.clone()
        refresh(pick)
      }
    }
    val kEff = centroids.length
    // Lloyd iterations (assign by max dot, mean, renormalize)
    var cs = centroids.toArray
    var it = 0
    while (it < iterations) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      sample.foreach { s =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kEff) {
          val d = referenceDot(s, cs(c))
          if (d > bestDot) { best = c; bestDot = d }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += s(j); j += 1 }
        counts(best) += 1
      }
      cs = Array.tabulate(kEff) { c =>
        if (counts(c) == 0) cs(c) // empty cell keeps its centroid
        else {
          val m = sums(c).map(_ / counts(c))
          val n = referenceNormalize(m)
          if (n == null) cs(c) else n
        }
      }
      it += 1
    }
    cs
  }

  private def referenceDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def referenceNormalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(referenceDot(v, v))
    if (n == 0) null else v.map(_ / n)
  }
}
