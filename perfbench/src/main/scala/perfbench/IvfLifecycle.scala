package perfbench

import graft.ops.Similarity

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The persisted IVF index: writes beside reads. One job is the write path
  * train -> assign -> append -> remove (the appended batch) -> compact.
  * The read path probes the index in the tombstoned state (between remove
  * and compact) on odd runs and in the compacted state on even ones: one
  * query batch at full nProbe checks it against brute force, and one at
  * the default nProbe is a latency sample. Only the write path counts in
  * `job_s`.
  */
final class IvfLifecycle(spec: VecSpec) extends Workload {
  val name = "ivf_lifecycle"
  private var corpusPath = ""
  private var appendPath = ""
  private var dir = ""
  private var data: VecData = _
  private var brute: Array[Array[(Long, Double)]] = Array.empty
  private var runs = 0
  private var batches = 0

  def inputRows: Long = spec.n
  def sizes: Seq[(String, Any)] = Seq("vectors" -> spec.n, "dim" -> spec.dim,
    "clusters" -> spec.clusters, "cells" -> spec.cells, "append" -> spec.append,
    "queries" -> spec.queries, "batch" -> spec.batch, "k" -> spec.k)

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    corpusPath = s"$dir/vectors"
    appendPath = s"$dir/append"
    data = Vectors.generate(spec, seed)
    Vectors.write(spark, data.corpus, 0L, spec.files, corpusPath)
    Vectors.write(spark, data.appendBatch, spec.n.toLong, 1, appendPath)
  }

  def prepare(spark: SparkSession, seed: Long): Unit =
    brute = Array.tabulate(spec.queries)(q => data.bruteTopK(q, spec.k))

  def scanFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(corpusPath).select(col("id"), col("vec"))

  private def queryFrame(spark: SparkSession, qs: Seq[Int]): DataFrame =
    spark.createDataFrame(qs.map(q => (q.toLong, data.queries(q)))).toDF("qid", "qvec")

  /** Top-k per query id from the index, as (neighbor id, cosine) by rank,
    * at the library's default nProbe unless one is given.
    */
  private def probe(spark: SparkSession, idx: String, qs: Seq[Int], nProbe: Option[Int])
      : Map[Long, Seq[(Long, Double)]] = {
    val q = queryFrame(spark, qs)
    nProbe.fold(Similarity.ivfTopKFromIndex(spark, idx, q, "qid", "qvec", spec.k))(
      Similarity.ivfTopKFromIndex(spark, idx, q, "qid", "qvec", spec.k, _))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))) }
  }

  /** Full-nProbe results must equal brute force, up to cosine ties. */
  private def exactProblems(got: Map[Long, Seq[(Long, Double)]], qs: Seq[Int]): Seq[String] =
    qs.flatMap { q =>
      val want = brute(q).toSeq
      val have = got.getOrElse(q.toLong, Nil)
      val same = have.length == want.length && have.zip(want).forall { case (h, w) =>
        h._1 == w._1 || math.abs(h._2 - w._2) <= 1e-12 }
      if (same) None else Some(s"query $q at full nProbe: ${have.map(_._1)} != ${want.map(_._1)}")
    }

  private def recall(got: Map[Long, Seq[(Long, Double)]], qs: Seq[Int]): Double =
    qs.map { q =>
      val want = brute(q).map(_._1).toSet
      got.getOrElse(q.toLong, Nil).count(h => want.contains(h._1)).toDouble / spec.k
    }.sum / qs.length

  /** Bytes under `path` and the parquet files there; nothing before the
    * index exists.
    */
  private def listing(spark: SparkSession, path: String): (Long, Set[String]) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0L, Set.empty)
    val files = fs.listFiles(root, true)
    var bytes = 0L
    val names = Set.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      bytes += f.getLen
      if (f.getPath.getName.endsWith(".parquet")) names += f.getPath.toString
    }
    (bytes, names.result())
  }

  def job(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    runs += 1
    val idx = s"$dir/index-$runs"
    val corpus = spark.read.parquet(corpusPath)
    val batch = spark.read.parquet(appendPath)
    val problems = Seq.newBuilder[String]
    val steps = Map.newBuilder[String, Double]
    val filesBefore = scala.collection.mutable.HashSet.empty[String]
    var filesWritten = 0
    def step[A](s: String)(body: => A): A = {
      val (a, t) = Stats.timed(tr.span(s, "ivf")(body))
      steps += s"ivf.${s}_s" -> t
      if (tr.enabled) {
        val now = listing(spark, idx)._2
        filesWritten += (now -- filesBefore).size
        filesBefore.clear(); filesBefore ++= now
      }
      a
    }
    val centroids = step("train")(Similarity.trainIvfCentroids(corpus, "vec", spec.cells))
    step("assign")(Similarity.assignCells(corpus, "id", "vec", centroids, idx))
    step("append")(Similarity.appendToIndex(batch, "id", "vec", idx))
    val removed = step("remove")(Similarity.removeFromIndex(spark, idx, batch.select(col("id"))))
    if (removed != spec.append) problems += s"removeFromIndex tombstoned $removed of ${spec.append}"
    val probeTimes = Seq.newBuilder[Double]
    val recalls = Seq.newBuilder[Double]
    var probeReads = 0L
    // query batches cycle through the query set across runs and states
    def batchQueries(): Seq[Int] = {
      batches += 1
      (0 until spec.batch).map(i => (batches * spec.batch + i) % spec.queries)
    }
    def readPath(state: String): Unit = {
      val check = batchQueries()
      problems ++= exactProblems(probe(spark, idx, check, Some(centroids.length)), check)
        .map(s"$state: " + _)
      val qs = batchQueries()
      val s0 = if (tr.enabled) ctx.listener.snapshot(spark) else EngineCounts()
      val (got, t) = Stats.timed(tr.span("probe", "ivf")(probe(spark, idx, qs, None)))
      if (tr.enabled) probeReads += ctx.listener.snapshot(spark).minus(s0).recordsRead
      probeTimes += t
      recalls += recall(got, qs)
    }
    if (runs % 2 == 1) tr.span("read_tombstoned", "bench")(readPath("tombstoned"))
    val compactStart = if (tr.enabled) ctx.listener.snapshot(spark) else EngineCounts()
    val compacted = step("compact")(Similarity.compactIndex(spark, idx))
    val compactWrote = if (tr.enabled) ctx.listener.snapshot(spark).minus(compactStart).bytesWritten else 0L
    if (compacted.isEmpty) problems += "compactIndex compacted no cell"
    if (runs % 2 == 0) tr.span("read_compacted", "bench")(readPath("compacted"))

    val stepTimes = steps.result()
    val (indexBytes, _) = listing(spark, idx)
    new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration).delete(new Path(idx), true)
    val values = Map.newBuilder[String, Double]
    values ++= stepTimes
    val recallAtK = recalls.result()
    values ++= Seq("recall_at_k" -> recallAtK.sum / recallAtK.length,
      "index_bytes_per_live_row" -> indexBytes.toDouble / spec.n)
    if (tr.enabled) {
      val probes = probeTimes.result()
      values ++= Seq("ivf.files_written" -> filesWritten.toDouble,
        "ivf.bytes_rewritten" -> compactWrote.toDouble,
        "ivf.probe_s" -> Stats.median(probes),
        "ivf.rows_scanned_per_result" ->
          probeReads.toDouble / (probes.length * spec.batch * spec.k))
    }
    Outcome(stepTimes.values.sum, problems.result(), values.result(),
      Map("probe_ms" -> probeTimes.result().map(_ * 1000)))
  }

  def endToEnd(runs: Seq[Outcome]): Seq[Metric] = {
    val probes = runs.flatMap(_.samples.getOrElse("probe_ms", Nil))
    Seq(Metric("probe_ms_p50", Stats.median(probes), "ms", probes.length,
      s"one batch of ${spec.batch} queries, k=${spec.k}, default nProbe")) ++
      Stats.tail(probes).map { case (p, v) => Metric("probe_ms_tail", v, "ms", probes.length,
        s"p$p, the highest percentile with 10 samples beyond it") } ++
      Workload.medianMetric(runs, "recall_at_k", "ratio") ++
      Workload.medianMetric(runs, "index_bytes_per_live_row", "B")
  }

  override def perLayer(ctx: Ctx, runs: Seq[Outcome]): Seq[Metric] =
    Seq("train", "assign", "append", "remove", "compact")
      .flatMap(s => Workload.medianMetric(runs, s"ivf.${s}_s", "s")) ++
      Workload.medianMetric(runs, "ivf.files_written", "count") ++
      Workload.medianMetric(runs, "ivf.bytes_rewritten", "B") ++
      Workload.medianMetric(runs, "ivf.probe_s", "s") ++
      Workload.medianMetric(runs, "ivf.rows_scanned_per_result", "ratio")
}
