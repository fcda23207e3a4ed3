package perfbench

import graft.functions.{minhash_band_key, minhash_signature}
import graft.ops.{Dedup, Spread}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection with no sketch aggregate: MinHash signatures,
  * banding with the bucket cap, the bucket self-join, verification and
  * clustering, then SimHash pairs on the same corpus.
  *
  * The MinHash half runs the two public steps of
  * `Dedup.minHashDedupTransitive` (`minHashNearDupPairs`, then
  * `nearDupClusters`) so that the pair list itself can be checked.
  */
final class NearDup(spec: DocsSpec) extends Workload {
  val name = "near_dup"
  val Threshold = 0.8
  val MaxHamming = 3
  // library defaults, restated so the cap-drop pass bands exactly as the job
  val NumHashes = 128
  val Bands = 16
  val MaxBucketSize = 10000
  private var path = ""
  private var sigStore = ""
  private var truth: DocsTruth = _

  def inputRows: Long = spec.docs
  def sizes: Seq[(String, Any)] = Seq("docs" -> spec.docs, "families" -> spec.families,
    "copies" -> spec.copies, "words" -> spec.words, "vocab" -> spec.vocab)

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    path = s"$dir/docs"
    sigStore = s"$dir/signatures"
    val (docs, t) = Docs.generate(spec, seed, Threshold)
    Docs.write(spark, docs, spec.files, path)
    truth = t
  }

  def prepare(spark: SparkSession, seed: Long): Unit = ()

  def scanFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(path).select(col("id"), col("text"))

  private def pairsOf(rows: Array[Row]): Seq[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq

  def job(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val docs = spark.read.parquet(path)
    val values = Map.newBuilder[String, Double]
    val t0 = System.nanoTime()
    val minPairs =
      if (!tr.enabled) pairsOf(Dedup.minHashNearDupPairs(docs, "id", "text", Threshold)
        .select(col("id_a"), col("id_b")).collect())
      else {
        // Each stage materialized on its own through public entry points.
        // The candidate pass recomputes the signatures, so banding is its
        // time less one signature pass; the pairs pass bands the stored
        // signatures again, so verify is its time less that banding.
        val (_, sig) = Stats.timed(tr.span("signature", "dedup") {
          Dedup.minHashSignatures(docs, "id", "text")
            .write.mode("overwrite").parquet(sigStore)
        })
        val (candidates, cand) = Stats.timed(tr.span("candidates", "dedup") {
          Dedup.minHashCandidatePairs(docs, "id", "text").count()
        })
        val (pairs, verified) = Stats.timed(tr.span("verified_pairs", "dedup") {
          pairsOf(Dedup.minHashNearDupPairsOnSignatures(spark.read.parquet(sigStore),
            "id", "minhash_sig", Threshold).select(col("id_a"), col("id_b")).collect())
        })
        values ++= Seq("dedup.signature_s" -> sig, "dedup.banding_s" -> (cand - sig),
          "dedup.verify_s" -> (verified - (cand - sig)),
          "dedup.candidates" -> candidates.toDouble,
          "dedup.pairs" -> pairs.size.toDouble,
          "dedup.verify_yield" -> pairs.size.toDouble / math.max(candidates, 1L))
        pairs
      }
    val (clusters, cluster) = Stats.timed(tr.span("clusters", "dedup") {
      val pairDf = spark.createDataFrame(minPairs).toDF("id_a", "id_b")
      Dedup.nearDupClusters(docs.select(col("id")), "id", pairDf)
        .select(col("id"), col("cluster_id")).collect().map(r => r.getLong(0) -> r.getLong(1))
    })
    val simPairs = tr.span("simhash_pairs", "dedup") {
      pairsOf(Dedup.simHashNearDupPairs(docs, "id", "text", MaxHamming)
        .select(col("id_a"), col("id_b")).collect())
    }
    val seconds = Stats.seconds(t0)
    if (tr.enabled) values += "dedup.cluster_s" -> cluster

    val problems = Seq.newBuilder[String]
    def allowed(what: String, pairs: Seq[(Long, Long)]): Unit = {
      val bad = pairs.filterNot { case (a, b) => truth.allowed(a, b) }
      if (bad.nonEmpty) problems += s"$what: ${bad.size} pairs outside the planted families, e.g. ${bad.head}"
    }
    allowed("minhash", minPairs)
    allowed("simhash", simPairs)
    val recall = minPairs.count(truth.planted.contains).toDouble / truth.planted.size
    if (recall < 0.5) problems += f"minhash pair recall $recall%.3f below 0.5"
    if (simPairs.isEmpty) problems += "simhash found no pairs"
    if (clusters.length != spec.docs) problems += s"${clusters.length} cluster labels for ${spec.docs} docs"
    val badLabels = clusters.count { case (id, label) =>
      label > id || (label != id && !truth.allowed(label, id)) }
    if (badLabels > 0) problems += s"$badLabels docs labelled outside their family"
    values ++= Seq("pair_recall" -> recall,
      "survivors" -> clusters.count { case (id, label) => id == label }.toDouble,
      "simhash_pairs" -> simPairs.size.toDouble)
    Outcome(seconds, problems.result(), values.result())
  }

  def endToEnd(runs: Seq[Outcome]): Seq[Metric] =
    Seq(Workload.medianMetric(runs, "pair_recall", "ratio"),
      Workload.medianMetric(runs, "survivors", "count"),
      Workload.medianMetric(runs, "simhash_pairs", "count")).flatten :+
      Metric("planted_pairs", truth.planted.size.toDouble, "count", 1,
        f"exact Jaccard >= $Threshold")

  override def perLayer(ctx: Ctx, runs: Seq[Outcome]): Seq[Metric] = {
    val spark = ctx.spark
    val projected = spark.read.parquet(path).select(col("id"), col("text"))
    val spread = Spread.cpuBound(projected)
    val in = Spread.staticPartitionCount(projected).getOrElse(-1)
    val out = if (spread eq projected) in
      else spread.queryExecution.logical match {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
        case _ => -1
      }
    // bucket sizes of the banding, recomputed from the public band-key
    // functions: the share of band rows in buckets over the cap
    val banded = projected
      .select(minhash_signature(col("text"), NumHashes).as("sig"))
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
      .select(explode(array((0 until Bands).map(b =>
        minhash_band_key(col("sig"), b, NumHashes / Bands)): _*)).as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") > MaxBucketSize, col("n")).otherwise(0L)), sum(col("n")))
      .collect().head
    val dropped = banded.getLong(0).toDouble / banded.getLong(1)
    Seq("dedup.signature_s", "dedup.banding_s", "dedup.verify_s", "dedup.cluster_s")
      .flatMap(Workload.medianMetric(runs, _, "s")) ++
      Seq("dedup.candidates", "dedup.pairs").flatMap(Workload.medianMetric(runs, _, "count")) ++
      Workload.medianMetric(runs, "dedup.verify_yield", "ratio") ++ Seq(
      Metric("dedup.cap_dropped_share", dropped, "ratio", 1,
        s"band rows in buckets over $MaxBucketSize"),
      Metric("spread.partitions_in", in.toDouble, "count", 1),
      Metric("spread.partitions_out", out.toDouble, "count", 1,
        if (spread eq projected) "cpuBound did not fire" else "cpuBound repartitioned"))
  }
}
