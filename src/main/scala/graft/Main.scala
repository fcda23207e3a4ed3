package graft

import graft.ops.{CheckpointedAgg, Dedup, NorthQueries}
import graft.sources.PagesTable

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the north-star jobs:
  *
  * {{{
  * spark-submit --class graft.Main <jar> distinct-urls <pagesPath> <outPath> [p]
  * spark-submit --class graft.Main <jar> distinct-urls-per-lang <pagesPath> <outPath> [p] [salts]
  * spark-submit --class graft.Main <jar> shingles-per-day <pagesPath> <outPath> [p]
  * spark-submit --class graft.Main <jar> checkpointed-urls-per-lang <pagesPath> <ckptDir> <outPath> [p]
  * spark-submit --class graft.Main <jar> generate-pages <outPath> <rows> <distinctUrls>
  * spark-submit --class graft.Main <jar> dedup-exact <pagesPath> <outPath>
  * spark-submit --class graft.Main <jar> dedup-minhash <pagesPath> <outPath> [threshold]
  * spark-submit --class graft.Main <jar> dedup-minhash-onsigs <pagesPath> <sigDir> <outPath> [threshold]
  * spark-submit --class graft.Main <jar> dedup-simhash <pagesPath> <outPath> [maxHamming] [maxBucketSize]
  * spark-submit --class graft.Main <jar> dedup-simhash-hashes <rows> <outPath> [maxHamming] [maxBucketSize] [planted]
  * spark-submit --class graft.Main <jar> dedup-embedding <rows> <dim> <cloneRows> <outPath> [threshold] [maxBucketSize] [planes] [tables]
  * spark-submit --class graft.Main <jar> dedup-cluster <pagesPath> <outPath> [threshold]
  * spark-submit --class graft.Main <jar> dedup-transitive <pagesPath> <outPath> [threshold]
  * spark-submit --class graft.Main <jar> family-soak <pagesPath> <outDir> [bloomLang]
  * spark-submit --class graft.Main <jar> stream-soak <pagesPath> <outPath> [ckptDir]
  * spark-submit --class graft.Main <jar> ivf-index-soak <rows> <dim> <indexPath> <outPath> [k] [nProbe] [batches] [filesPerCell]
  * spark-submit --class graft.Main <jar> stream-dedup-soak <pagesPath> <outPath> [watermark] [maxFilesPerTrigger] [rocksdb] [ckptDir]
  * spark-submit --class graft.Main <jar> ivf-build <corpusParquet> <idCol> <vecCol> <indexPath> [k] [sampleSize] [filesPerCell]
  * spark-submit --class graft.Main <jar> ivf-append <corpusParquet> <idCol> <vecCol> <indexPath> [filesPerCell]
  * spark-submit --class graft.Main <jar> ivf-probe <indexPath> <queriesParquet> <idCol> <vecCol> <outPath> [k] [nProbe]
  * spark-submit --class graft.Main <jar> ivf-remove <indexPath> <idsParquet> <idCol>
  * spark-submit --class graft.Main <jar> ivf-remove-vec <indexPath> <rowsParquet> <idCol> <vecCol>
  * spark-submit --class graft.Main <jar> ivf-compact <indexPath> [filesPerCell] [maxCells] [maxBytes]
  * spark-submit --class graft.Main <jar> ivf-compact-soak <rows> <dim> <appendBatches> <indexPath> <outPath> [k] [nProbe]
  * spark-submit --class graft.Main <jar> ivf-delete-soak <rows> <dim> <removeEvery> <indexPath> <outPath> [k] [nProbe]
  * spark-submit --class graft.Main <jar> shard-export-soak <pagesPath> <numShards> <outDir>
  * }}}
  *
  * No master/parallelism is hard-coded: cluster size, executor counts, AQE
  * and shuffle-partition settings come from spark-submit config, so the same
  * binary runs local[N] here and a 1000-executor cluster in production.
  */
object Main {

  private def need(args: Array[String], n: Int, usage: String): Unit =
    require(args.length >= n, s"usage: ${args.headOption.getOrElse("<command>")} $usage")

  /** Pages + a synthesized row id, VERIFIED unique before use: the generator
    * repeats (url, warc_ts) once the row count reaches
    * lcm(86400, distinctUrls), and dedup winner election silently
    * mis-behaves on duplicate ids (exactByHash keeps both copies;
    * near-dup pairs with equal ids are dropped by the id_a < id_b filter).
    * One extra counting pass is cheap insurance for a soak harness.
    */
  private def pagesWithUniqueRid(spark: SparkSession, in: String) = {
    val pages = graft.sources.PagesTable.readFrom(spark, in).withColumn("_rid",
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.col("warc_ts")))
    val counts = pages.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("_rid"))).collect()(0)
    require(counts.getLong(0) == counts.getLong(1),
      s"synthesized row id (url, warc_ts) not unique: ${counts.getLong(0)} rows vs " +
        s"${counts.getLong(1)} distinct — table too large for the generator's " +
        "(url, warc_ts) period; regenerate with fewer rows or more distinct urls")
    pages
  }

  /** One-line bucket-cap drop-share summary for the dedup soak commands —
    * operators of the shipped CLI must see recall loss in the command
    * output, not only in stderr scrollback. The pair pass records its counts
    * before the action returns, so the newest stats are already in place.
    * Returned (not just printed) for the CLI smoke assertion in sbt test.
    */
  private[graft] def capStatsSummary(op: String): String =
    graft.ops.GraftMetrics.lastBucketCapStats(op) match {
      case Some(st) =>
        f"[graft] $op bucket-cap: banded=${st.bandedRows} dropped=${st.droppedRows} " +
          f"(${st.droppedFraction * 100}%.2f%% of banded rows; " +
          f"${st.droppedBuckets} oversized buckets at cap ${st.maxBucketSize}) — " +
          f"pairs entirely inside dropped buckets are not reported"
      case None => s"[graft] $op bucket-cap: no capped run recorded"
    }

  private def printCapStats(op: String): Unit = println(capStatsSummary(op))

  /** Wall-clock a step — shared by every soak command. */
  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Deterministic synthetic embeddings shared by the embedding soaks:
    * component (row, j) is wyhash-derived uniform in [-1, 1) — one
    * definition so cross-soak numbers stay comparable.
    */
  private def syntheticVecs(spark: SparkSession, rows: Long, dim: Int) = {
    import org.apache.spark.sql.functions._
    val randomVec = array((0 until dim).map(j =>
      ((functions.wyhash64(col("id") * dim + j)
        .cast("double") / lit(Long.MaxValue.toDouble))).cast("float")): _*)
    spark.range(rows).select(col("id").as("vec_id"), randomVec.as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <command> <args...> (see scaladoc)")
    args(0) match {
      case "distinct-urls" | "distinct-urls-per-lang" | "shingles-per-day" =>
        need(args, 3, "<pagesPath> <outPath> [p] ...")
      case "checkpointed-urls-per-lang" =>
        need(args, 4, "<pagesPath> <ckptDir> <outPath> [p]")
      case "generate-pages" =>
        need(args, 4, "<outPath> <rows> <distinctUrls>")
      case _ => ()
    }
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

      // Exact dedup soak: one row per identical text. The pages table has no
      // unique row id (urls repeat by design), so this exercises the id-less
      // exactByContent path; the summary aggregate forces the text column
      // through the plan without a corpus-size write.
      case "dedup-exact" =>
        val Array(_, in, out) = args.take(3)
        Dedup.exactByContent(PagesTable.readFrom(spark, in), "text")
          .agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("kept"),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.length(
                org.apache.spark.sql.functions.col("text"))).as("kept_text_chars"))
          .write.mode("overwrite").parquet(out)

      // Same corpus through the unique-id path (exactByHash): a row id is
      // synthesized from (url, warc_ts); the winner election then shuffles
      // ~16 B/row instead of full rows — the measured head-to-head against
      // dedup-exact's id-less aggregation lives in BASELINE.md.
      case "dedup-exact-byid" =>
        val Array(_, in, out) = args.take(3)
        val pages = pagesWithUniqueRid(spark, in)
        Dedup.exactByHash(pages, "_rid", "text").drop("_rid")
          .agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("kept"),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.length(
                org.apache.spark.sql.functions.col("text"))).as("kept_text_chars"))
          .write.mode("overwrite").parquet(out)

      // cacheSignatures=false: the generated pages' texts (~150 B) are far
      // smaller than their 1 KB signatures, so recomputing beats spilling
      // ~1 KB/row of checkpoint blocks to executor disk.
      case "dedup-minhash" =>
        val Array(_, in, out) = args.take(3)
        val threshold = if (args.length > 3) args(3).toDouble else 0.8
        val pages = pagesWithUniqueRid(spark, in)
        Dedup.dedupByPairs(pages, "_rid", Dedup.minHashNearDupPairs(pages, "_rid", "text",
            threshold, cacheSignatures = false))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("kept"))
          .write.mode("overwrite").parquet(out)
        printCapStats("minhash")

      // Stored-signature minhash soak (fingerprint-at-ingest): phase 1
      // writes the per-doc signatures once (timed), phase 2 derives pairs
      // from the STORED column only (timed), and the text path runs on the
      // same corpus for the head-to-head. The output row carries a plan
      // probe counting minhash_signature occurrences in each executed plan —
      // phase 2 must show ZERO (the up-to-3x per-run re-hash disappears).
      case "dedup-minhash-onsigs" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 4, "<pagesPath> <sigDir> <outPath> [threshold]")
        val Array(_, in, sigDir, out) = args.take(4)
        val threshold = if (args.length > 4) args(4).toDouble else 0.8
        val pages = pagesWithUniqueRid(spark, in)
        val (_, ingestSec) = secs(
          Dedup.minHashSignatures(pages, "_rid", "text")
            .write.mode("overwrite").parquet(sigDir))
        val onSigs = Dedup.minHashNearDupPairsOnSignatures(
          spark.read.parquet(sigDir), "_rid", "minhash_sig", threshold)
        def rehashes(df: org.apache.spark.sql.DataFrame): Long =
          "minhash_signature".r.findAllIn(df.queryExecution.executedPlan.toString).size
        val onSigsRehashes = rehashes(onSigs)
        val (onSigsPairs, onSigsSec) = secs(onSigs.count())
        val fromText = Dedup.minHashNearDupPairs(pages, "_rid", "text", threshold,
          cacheSignatures = false)
        val textRehashes = rehashes(fromText)
        val (textPairs, textSec) = secs(fromText.count())
        require(onSigsPairs == textPairs,
          s"stored-signature path diverged: $onSigsPairs vs $textPairs pairs")
        // the soak's headline claim, enforced: the stored-sig plan must not
        // re-hash text AT ALL (pair counts alone would not catch a silent
        // fallback to recomputation)
        require(onSigsRehashes == 0,
          s"stored-signature plan re-hashes text ($onSigsRehashes " +
            s"minhash_signature nodes) — the ingest-once contract is broken")
        Seq((onSigsPairs, textPairs, ingestSec, onSigsSec, textSec,
          onSigsRehashes, textRehashes))
          .toDF("pairs_onsigs", "pairs_text", "ingest_sec", "onsigs_sec",
            "text_sec", "onsigs_plan_rehashes", "text_plan_rehashes")
          .write.mode("overwrite").parquet(out)
        printCapStats("minhash")
        spark.read.parquet(out).show(false)

      // Sketch-family soak: t-digest + KLL quantiles per lang over one
      // aggregation pass; a Bloom filter of one language's urls probed
      // against the whole corpus (broadcast, no shuffle of the probe side);
      // count-min point frequencies of the lang column. Writes three small
      // parquet outputs under <outDir>.
      case "family-soak" =>
        import org.apache.spark.sql.functions._
        val Array(_, in, outDir) = args.take(3)
        val lang = if (args.length > 3) args(3) else "de"
        val pages = PagesTable.readFrom(spark, in)
        pages.groupBy(col("lang"))
          .agg(
            graft.functions.tdigest_agg(length(col("text")).cast("double"), 100)
              .as("td"),
            graft.functions.kll_agg(length(col("text")).cast("double"), 256)
              .as("k"),
            count(lit(1)).as("rows"))
          .select(col("lang"), col("rows"),
            graft.functions.sketch_quantile(col("td"), 0.5).as("td_p50_len"),
            graft.functions.sketch_quantile(col("td"), 0.99).as("td_p99_len"),
            graft.functions.sketch_quantile(col("k"), 0.0).as("kll_min_len"),
            graft.functions.sketch_quantile(col("k"), 1.0).as("kll_max_len"))
          .write.mode("overwrite").parquet(s"$outDir/quantiles")
        val bf = pages.filter(col("lang") === lang)
          .agg(graft.functions.bloom_agg(col("url"), 4000000L, 0.01).as("bf"))
          .collect()(0).getAs[Array[Byte]](0)
        pages
          .agg(
            count(lit(1)).as("rows"),
            sum(when(graft.functions.bloom_might_contain(lit(bf), col("url")), 1L)
              .otherwise(0L)).as("bloom_hits"))
          .write.mode("overwrite").parquet(s"$outDir/bloom")
        val cms = pages.agg(graft.functions.cms_agg(col("lang"), 5, 4096).as("cms"))
        pages.select(col("lang")).distinct().limit(8)
          .crossJoin(broadcast(cms))
          .select(col("lang"),
            graft.functions.cms_estimate(col("cms"), col("lang")).as("cms_count"))
          .write.mode("overwrite").parquet(s"$outDir/cms")

      // Structured-Streaming soak: the SAME sketchPerKey used by the driver
      // gate, run over the pages table as a file stream (availableNow), so
      // the streaming state-store path is measured at corpus scale rather
      // than only at the 4-file gate size. Output: per-lang estimates from
      // the final state.
      case "stream-soak" =>
        import org.apache.spark.sql.streaming.Trigger
        val Array(_, in, out) = args.take(3)
        // checkpoint on the SAME filesystem as the output (CLI-overridable):
        // a driver-local temp dir only works in local mode — on a cluster
        // the state store must live on shared storage. Fresh per soak run;
        // reusing a checkpoint resumes instead of re-reading the input.
        val ckptDir = if (args.length > 3) args(3) else s"$out-ckpt"
        spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
        val schema = PagesTable.readFrom(spark, in).schema
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.SketchStreams
          .sketchPerKey(stream, Seq("lang"), "url")
          .writeStream
          .outputMode("complete")
          .format("memory")
          .queryName("graft_stream_soak")
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_soak")
          .select(org.apache.spark.sql.functions.col("lang"),
            org.apache.spark.sql.functions.col("approx_distinct"))
          .write.mode("overwrite").parquet(out)

      // Transitive near-dup clustering soak: minhash LSH pairs feed the
      // convergence-checked label propagation (eager rounds, fixpoint
      // early-stop). Output: docs, clusters, and the largest cluster size.
      case "dedup-cluster" =>
        import org.apache.spark.sql.functions._
        val Array(_, in, out) = args.take(3)
        val threshold = if (args.length > 3) args(3).toDouble else 0.8
        val pages = pagesWithUniqueRid(spark, in)
        val pairs = Dedup.minHashNearDupPairs(pages, "_rid", "text", threshold,
          cacheSignatures = false)
        val clusters = Dedup.nearDupClusters(
          pages.select(col("_rid")), "_rid", pairs)
        clusters.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("clusters"),
            sum(col("sz")).as("docs"),
            max(col("sz")).as("max_cluster"))
          .write.mode("overwrite").parquet(out)
        printCapStats("minhash")

      // Cluster-aware transitive dedup soak: LSH pairs -> connected
      // components -> keep each component's minimum id. On the generated
      // corpus (each text duplicated rows/distinct times) components are
      // exact-duplicate cliques, so kept must equal the distinct text count
      // exactly — ground truth at corpus scale for the whole composed path.
      case "dedup-transitive" =>
        val Array(_, in, out) = args.take(3)
        val threshold = if (args.length > 3) args(3).toDouble else 0.8
        val pages = pagesWithUniqueRid(spark, in)
        Dedup.dedupTransitiveByPairs(pages, "_rid", Dedup.minHashNearDupPairs(pages, "_rid",
            "text", threshold, cacheSignatures = false))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("kept"))
          .write.mode("overwrite").parquet(out)
        printCapStats("minhash")

      // SimHash near-dup soak with a boilerplate-heavy corpus: the generated
      // pages repeat texts by design (distinctUrls << rows), so giant
      // identical-quarter buckets exist naturally; the maxBucketSize cap is
      // what keeps the bucket self-join linear. Output: candidate pair count.
      case "dedup-simhash" =>
        val Array(_, in, out) = args.take(3)
        val maxHamming = if (args.length > 3) args(3).toInt else 3
        val maxBucketSize = if (args.length > 4) args(4).toInt else 10000
        val pages = pagesWithUniqueRid(spark, in)
        Dedup.simHashNearDupPairs(pages, "_rid", "text", maxHamming, maxBucketSize)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("pairs"))
          .write.mode("overwrite").parquet(out)
        printCapStats("simhash")

      // Web-scale simhash soak over SYNTHETIC hashes: `rows` deterministic
      // wyhash-derived 64-bit simhashes stand in for a corpus whose real
      // texts would not fit this sandbox, driving the block-triple bucketing
      // at the scale where the old 4x16-bit quarter keys saturated (~4M
      // docs). `planted` worst-case near-dup pairs (3 bits flipped across 3
      // DIFFERENT blocks) must be recovered EXACTLY; random 64-bit hashes
      // essentially never sit within Hamming 3 of each other, so
      // planted_found == planted is ground truth. Output: one summary row.
      case "dedup-simhash-hashes" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 3, "<rows> <outPath> [maxHamming] [maxBucketSize] [planted]")
        val Array(_, rowsS, out) = args.take(3)
        val rows = rowsS.toLong
        val maxHamming = if (args.length > 3) args(3).toInt else 3
        val maxBucketSize = if (args.length > 4) args(4).toInt else 10000
        val planted = if (args.length > 5) args(5).toLong else 1000L
        require(planted <= rows, s"planted ($planted) must be <= rows ($rows)")
        // clone ids are base id + 2^41: base ids at or beyond 2^41 would
        // collide with clone ids (duplicate ids break pair election and the
        // planted_found count) in a command explicitly billed as web-scale
        require(rows < (1L << 41), s"rows ($rows) must be < 2^41 " +
          s"(clone ids are id + 2^41 and must not collide with base ids)")
        val hashes = spark.range(rows)
          .select(col("id"), functions.wyhash64(col("id")).as("sh"))
        val mask = (1L << 5) | (1L << 27) | (1L << 60) // blocks 0, 2, 5
        val clones = hashes.filter(col("id") < planted)
          .select((col("id") + lit(1L << 41)).as("id"),
            col("sh").bitwiseXOR(lit(mask)).as("sh"))
        val pairs = Dedup.simHashNearDupPairsOnHashes(
          hashes.union(clones), "id", "sh", maxHamming, maxBucketSize)
        val plantedFound = col("id_b") === col("id_a") + lit(1L << 41)
        pairs.agg(
            count(lit(1)).as("pairs_total"),
            sum(when(plantedFound, 1L).otherwise(0L)).as("planted_found"),
            lit(planted).as("planted_expected"))
          .write.mode("overwrite").parquet(out)
        printCapStats("simhash")
        spark.read.parquet(out).show(false)

      // Embedding near-dup soak over synthesized vectors: `cloneRows` rows
      // share ONE template vector (the hot-direction skew case the bucket
      // cap exists for), the rest are wyhash-derived pseudo-random unit-ish
      // vectors. Vectors synthesize per-row in the scan (no driver loop).
      case "dedup-embedding" =>
        import org.apache.spark.sql.functions._
        val Array(_, rowsS, dimS, cloneS, out) = args.take(5)
        val (rows, dim, cloneRows) = (rowsS.toLong, dimS.toInt, cloneS.toLong)
        val threshold = if (args.length > 5) args(5).toDouble else 0.95
        val maxBucketSize = if (args.length > 6) args(6).toInt else 10000
        // planes sizing rule (see embeddingNearDupPairs scaladoc):
        // log2(rows / ~30-per-bucket), clamped to [10, 20]
        val planes = if (args.length > 7) args(7).toInt
          else math.min(20, math.max(10,
            (math.log(rows / 30.0) / math.log(2)).ceil.toInt))
        val tables = if (args.length > 8) args(8).toInt else 6
        val template = array((0 until dim).map(j =>
          lit(math.sin(j * 0.7).toFloat)): _*)
        val vecs = syntheticVecs(spark, rows, dim).select(col("vec_id"),
          when(col("vec_id") < cloneRows, template).otherwise(col("embedding"))
            .as("embedding"))
        Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", dim,
          threshold, planes = planes, tables = tables, maxBucketSize = maxBucketSize)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("pairs"))
          .write.mode("overwrite").parquet(out)
        printCapStats("embedding")

      // Persisted-IVF soak: train + build the cell-partitioned index ONCE
      // over synthesized vectors, then run repeated query batches through
      // ivfTopKFromIndex (partition-pruned probes), plus one legacy ivfTopK
      // call (retrain-free but full re-assignment scan) for the measured
      // build-once/probe-many contrast. Output: one row of timings + counts.
      case "ivf-index-soak" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 5, "<rows> <dim> <indexPath> <outPath> [k] [nProbe] [batches] [filesPerCell]")
        // indexPath is a CLI arg (not a driver-local temp dir): on a real
        // cluster the index must land on the shared filesystem, and the
        // caller owns its lifecycle
        val Array(_, rowsS, dimS, idxPath, out) = args.take(5)
        val (rows, dim) = (rowsS.toLong, dimS.toInt)
        val kCentroids = if (args.length > 5) args(5).toInt else 256
        val nProbe = if (args.length > 6) args(6).toInt else 8
        val batches = if (args.length > 7) args(7).toInt else 5
        val soakFilesPerCell = if (args.length > 8) args(8).toInt else 1
        val vecs = syntheticVecs(spark, rows, dim)
        val (centroids, trainSec) =
          secs(graft.ops.Similarity.trainIvfCentroids(vecs, "embedding", kCentroids))
        val (_, buildSec) = secs(graft.ops.Similarity.assignCells(
          vecs, "vec_id", "embedding", centroids, idxPath,
          filesPerCell = soakFilesPerCell))
        val stride = math.max(rows / 100, 1L)
        val queries = vecs.filter(pmod(col("vec_id"), lit(stride)) === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        var probeRows = 0L
        val probeSecs = (1 to batches).map { _ =>
          val (n, s) = secs(graft.ops.Similarity.ivfTopKFromIndex(
            spark, idxPath, queries, "qid", "qvec", k = 10, nProbe).count())
          probeRows = n
          s
        }
        val (legacyRows, legacySec) = secs(graft.ops.Similarity.ivfTopK(
          vecs, "vec_id", "embedding", queries, "qid", "qvec",
          k = 10, centroids, nProbe).count())
        Seq((rows, dim, centroids.length, nProbe, trainSec, buildSec,
          probeSecs.min, probeSecs.sum / batches, probeRows, legacySec, legacyRows))
          .toDF("rows", "dim", "centroids", "n_probe", "train_sec", "build_sec",
            "probe_min_sec", "probe_avg_sec", "probe_rows",
            "legacy_scan_sec", "legacy_rows")
          .write.mode("overwrite").parquet(out)

      // Streaming exact-dedup soak: unlike sketchPerKey's tiny per-key state,
      // dropDuplicatesWithinWatermark holds ONE state entry per distinct
      // (hash, length) key inside the horizon — state grows with distinct
      // texts, and this measures that path at corpus scale. Event time is
      // synthesized from warc_ts; output = kept count + distinct check.
      case "stream-dedup-soak" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val Array(_, in, out) = args.take(3)
        // the generator spreads a duplicate pair's warc_ts up to ~20 days
        // apart, so the default watermark must EXCEED that span for the
        // kept == COUNT(DISTINCT) ground truth to hold across micro-batches
        // (a tighter watermark legitimately expires state — that is the
        // state-size dial, but then the exact-count oracle no longer applies)
        val watermark = if (args.length > 3) args(3) else "30 days"
        // multiple micro-batches by default: state must round-trip the state
        // store BETWEEN batches, not just dedup inside one batch
        val maxFiles = if (args.length > 4) args(4).toInt else 16
        // optional 6th arg "rocksdb": the in-box RocksDB provider keeps the
        // big dedup state off-heap with incremental checkpoints — the
        // recommended provider once state stops fitting the HDFS-backed
        // provider's in-memory maps (measured head-to-head in BASELINE.md)
        if (args.length > 5 && args(5) == "rocksdb")
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // checkpoint under the output dir by default (CLI-overridable): the
        // dedup state store must live on the shared filesystem executors can
        // reach — a driver-local temp dir breaks (or silently loses state)
        // on a multi-node cluster. The caller owns the out dir's lifecycle:
        // a fresh soak needs a fresh out (a reused checkpoint resumes).
        val ckptDir = if (args.length > 6) args(6) else s"$out/ckpt"
        spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
        val schema = PagesTable.readFrom(spark, in).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFiles).parquet(in)
        val outDir = s"$out/rows"
        val q = graft.streaming.SketchStreams
          .streamingExactDedup(stream, "text", "warc_ts", watermark)
          .select(col("url"), col("text"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckptDir)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(outDir)
          .agg(count(lit(1)).as("kept"),
            countDistinct(col("text")).as("kept_distinct"))
          .write.mode("overwrite").parquet(s"$out/summary")

      // Production IVF lifecycle: train + build the persisted index once...
      case "ivf-build" =>
        import org.apache.spark.sql.functions.col
        need(args, 5, "<corpusParquet> <idCol> <vecCol> <indexPath> [k] [sampleSize] [filesPerCell]")
        val Array(_, in, idCol, vecCol, idxPath) = args.take(5)
        val k = if (args.length > 5) args(5).toInt else 1024
        val sampleSize = if (args.length > 6) args(6).toInt else 20000
        val filesPerCell = if (args.length > 7) args(7).toInt else 1
        val corpus = spark.read.parquet(in).select(col(idCol), col(vecCol))
        val centroids = graft.ops.Similarity.trainIvfCentroids(
          corpus, vecCol, k, sampleSize)
        graft.ops.Similarity.assignCells(corpus, idCol, vecCol, centroids, idxPath,
          filesPerCell = filesPerCell)

      // ...append new rows against the sidecar centroids (daily ingest)...
      case "ivf-append" =>
        import org.apache.spark.sql.functions.col
        need(args, 5, "<corpusParquet> <idCol> <vecCol> <indexPath> [filesPerCell]")
        val Array(_, in, idCol, vecCol, idxPath) = args.take(5)
        val appendFilesPerCell = if (args.length > 5) args(5).toInt else 1
        graft.ops.Similarity.appendToIndex(
          spark.read.parquet(in).select(col(idCol), col(vecCol)),
          idCol, vecCol, idxPath, filesPerCell = appendFilesPerCell)

      // ...periodically re-merge append-fragmented cells (probe cost at
      // corpus scale degrades toward file listing/open overhead otherwise —
      // run after every ~10 appends, or when indexCellStats shows files >>
      // filesPerCell; maxCells bounds one run for very large indexes)...
      // ...mark rows deleted (dedup losers, quality-filter casualties,
      // takedowns): probes exclude them immediately via the tombstone
      // anti-join, the next compaction reclaims the bytes...
      case "ivf-remove" =>
        need(args, 4, "<indexPath> <idsParquet> <idCol>")
        val Array(_, idxPath, idsIn, idCol) = args.take(4)
        val n = graft.ops.Similarity.removeFromIndex(
          spark, idxPath, spark.read.parquet(idsIn), idCol)
        println(s"[graft] ivf-remove: tombstoned $n row(s); probes exclude them " +
          s"now, the next ivf-compact drops them physically")

      // ...same, but resolving cells from the vectors via the sidecar
      // centroids — zero index I/O, for frequent small delete batches whose
      // vectors the caller still holds...
      case "ivf-remove-vec" =>
        need(args, 5, "<indexPath> <rowsParquet> <idCol> <vecCol>")
        val Array(_, idxPath, rowsIn, idCol, vecCol) = args.take(5)
        val n = graft.ops.Similarity.removeFromIndexByVector(
          spark, idxPath, spark.read.parquet(rowsIn), idCol, vecCol)
        println(s"[graft] ivf-remove-vec: tombstoned $n row(s) with zero index " +
          s"I/O; probes exclude them now, the next ivf-compact drops them physically")

      case "ivf-compact" =>
        need(args, 2, "<indexPath> [filesPerCell] [maxCells] [maxBytes]")
        val idxPath = args(1)
        val fpc = if (args.length > 2) args(2).toInt else 1
        val maxCells = if (args.length > 3) args(3).toInt else Int.MaxValue
        val maxBytes = if (args.length > 4) args(4).toLong else Long.MaxValue
        val done = graft.ops.Similarity.compactIndex(spark, idxPath, fpc, maxCells,
          maxBytes)
        println(s"[graft] ivf-compact: rewrote ${done.length} fragmented cell(s)" +
          (if (done.isEmpty) "" else s": ${done.sorted.take(50).mkString(",")}" +
            (if (done.length > 50) ",..." else "")))

      // Daily-ingest lifecycle soak: build the index once, run `appendBatches`
      // incremental appends (each rows/8 new vectors, disjoint ids), measure
      // probe cost + files-per-cell on the FRAGMENTED index, compact, and
      // measure both again — the compacted index must return the exact same
      // probe rows while files-per-cell returns to ~1. Quantifies the
      // small-file accretion appendToIndex causes and what compaction buys
      // back. Output: one summary row of timings + file counts.
      case "ivf-compact-soak" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 6, "<rows> <dim> <appendBatches> <indexPath> <outPath> [k] [nProbe]")
        val Array(_, rowsS, dimS, batchesS, idxPath, out) = args.take(6)
        val (rows, dim, batches) = (rowsS.toLong, dimS.toInt, batchesS.toInt)
        val kCentroids = if (args.length > 6) args(6).toInt else 256
        val nProbe = if (args.length > 7) args(7).toInt else 8
        val base = syntheticVecs(spark, rows, dim)
        val centroids = graft.ops.Similarity.trainIvfCentroids(base, "embedding", kCentroids)
        val (_, buildSec) = secs(graft.ops.Similarity.assignCells(
          base, "vec_id", "embedding", centroids, idxPath))
        val appendRows = math.max(rows / 8, 1L)
        val (_, appendSec) = secs((1 to batches).foreach { b =>
          val fresh = syntheticVecs(spark, appendRows, dim)
            .select((col("vec_id") + lit(rows * b)).as("vec_id"), col("embedding"))
          graft.ops.Similarity.appendToIndex(fresh, "vec_id", "embedding", idxPath)
        })
        def fileStats(): (Long, Double) = {
          val f = graft.ops.Similarity.indexCellStats(spark, idxPath)
            .agg(max(col("files")), avg(col("files"))).collect()(0)
          (f.getInt(0).toLong, f.getDouble(1))
        }
        val stride = math.max(rows / 100, 1L)
        val queries = base.filter(pmod(col("vec_id"), lit(stride)) === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        def probe() = graft.ops.Similarity.ivfTopKFromIndex(
          spark, idxPath, queries, "qid", "qvec", k = 10, nProbe)
          .agg(count(lit(1)), sum(col("neighbor_id"))).collect()(0)
        val (maxFilesBefore, avgFilesBefore) = fileStats()
        probe() // warm file listing
        val (resBefore, probeBeforeSec) = secs(probe())
        val (compacted, compactSec) = secs(
          graft.ops.Similarity.compactIndex(spark, idxPath))
        val (maxFilesAfter, avgFilesAfter) = fileStats()
        probe() // warm the fresh file listing, like the pre-compact measure
        val (resAfter, probeAfterSec) = secs(probe())
        require(resBefore == resAfter,
          s"compaction changed probe results: $resBefore vs $resAfter")
        Seq((rows, batches, centroids.length, buildSec, appendSec,
          maxFilesBefore, avgFilesBefore, probeBeforeSec,
          compacted.length, compactSec,
          maxFilesAfter, avgFilesAfter, probeAfterSec,
          resBefore.getLong(0)))
          .toDF("rows", "append_batches", "cells", "build_sec", "append_sec",
            "max_files_per_cell_before", "avg_files_before", "probe_sec_fragmented",
            "cells_compacted", "compact_sec",
            "max_files_per_cell_after", "avg_files_after", "probe_sec_compacted",
            "probe_rows")
          .write.mode("overwrite").parquet(out)
        spark.read.parquet(out).show(false)

      // Deletion lifecycle soak: build the index over synthesized vectors,
      // tombstone every `removeEvery`-th id (the dedup-survivor /
      // quality-filter shape: deletions spread over every cell), measure the
      // probe with PENDING tombstones (anti-join active), compact (physical
      // drop), and probe again. Ground truth at scale: both probes must
      // return bit-identical rows, no removed id may ever surface, and the
      // index must shrink by ~the removed fraction in rows AND bytes.
      case "ivf-delete-soak" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 6, "<rows> <dim> <removeEvery> <indexPath> <outPath> [k] [nProbe]")
        val Array(_, rowsS, dimS, removeEveryS, idxPath, out) = args.take(6)
        val (rows, dim, removeEvery) = (rowsS.toLong, dimS.toInt, removeEveryS.toLong)
        require(removeEvery >= 2, "removeEvery must be >= 2 (keep some rows)")
        val kCentroids = if (args.length > 6) args(6).toInt else 256
        val nProbe = if (args.length > 7) args(7).toInt else 8
        val vecs = syntheticVecs(spark, rows, dim)
        val centroids = graft.ops.Similarity.trainIvfCentroids(vecs, "embedding", kCentroids)
        val (_, buildSec) = secs(graft.ops.Similarity.assignCells(
          vecs, "vec_id", "embedding", centroids, idxPath))
        def indexBytes(): Long = graft.ops.Similarity.indexCellStats(spark, idxPath)
          .agg(sum(col("bytes"))).collect()(0).getLong(0)
        val bytesBefore = indexBytes()
        val doomed = spark.range(rows).filter(pmod(col("id"), lit(removeEvery)) === 0)
        val (removed, removeSec) = secs(graft.ops.Similarity.removeFromIndex(
          spark, idxPath, doomed.toDF(), "id"))
        val stride = math.max(rows / 100, 1L)
        // query with vectors of REMOVED ids too: their exact matches must not
        // come back
        val queries = vecs.filter(pmod(col("vec_id"), lit(stride)) === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        def probe() = graft.ops.Similarity.ivfTopKFromIndex(
          spark, idxPath, queries, "qid", "qvec", k = 10, nProbe)
        def probeSummary() = probe()
          .agg(count(lit(1)), sum(col("neighbor_id")),
            sum(when(pmod(col("neighbor_id"), lit(removeEvery)) === 0, 1L)
              .otherwise(0L))).collect()(0)
        probe().count() // warm listing
        val (tombstoned, probeTombSec) = secs(probeSummary())
        require(tombstoned.getLong(2) == 0L,
          s"probe surfaced ${tombstoned.getLong(2)} removed ids (tombstone path)")
        val (compacted, compactSec) = secs(
          graft.ops.Similarity.compactIndex(spark, idxPath))
        probe().count() // warm fresh listing
        val (after, probeCleanSec) = secs(probeSummary())
        require(after == tombstoned,
          s"physical deletion changed probe rows: $tombstoned vs $after")
        val bytesAfter = indexBytes()
        val rowsAfter = spark.read.parquet(idxPath).count()
        require(rowsAfter == rows - removed,
          s"index must shrink by the removed rows: $rowsAfter vs ${rows - removed}")
        Seq((rows, removed, centroids.length, buildSec, removeSec,
          probeTombSec, compacted.length, compactSec, probeCleanSec,
          bytesBefore, bytesAfter, rowsAfter))
          .toDF("rows", "removed", "cells", "build_sec", "remove_sec",
            "probe_sec_tombstoned", "cells_compacted", "compact_sec",
            "probe_sec_clean", "bytes_before", "bytes_after", "rows_after")
          .write.mode("overwrite").parquet(out)
        spark.read.parquet(out).show(false)

      // Training-export soak: shuffleIntoShards over the pages corpus,
      // written with partitionBy(shard) — the deterministic shard +
      // intra-shard-shuffle export at corpus scale. Reports export
      // throughput and shard balance; a rerun must produce bit-identical
      // shard files (determinism is the whole point).
      case "shard-export-soak" =>
        import org.apache.spark.sql.functions._
        import spark.implicits._
        need(args, 4, "<pagesPath> <numShards> <outDir>")
        val Array(_, in, shardsS, outDir) = args.take(4)
        val numShards = shardsS.toInt
        val pages = pagesWithUniqueRid(spark, in)
        val (_, exportSec) = secs(
          graft.ops.Sampling.shuffleIntoShards(pages, col("_rid"), numShards)
            .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/rows"))
        val stats = spark.read.parquet(s"$outDir/rows")
          .groupBy(col("shard")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("shards"), min(col("n")).as("min_rows"),
            max(col("n")).as("max_rows"), sum(col("n")).as("total"))
          .collect()(0)
        require(stats.getLong(0) == numShards.toLong,
          s"expected $numShards shards, got ${stats.getLong(0)}")
        Seq((stats.getLong(3), numShards, exportSec,
          stats.getLong(3) / exportSec, stats.getLong(1), stats.getLong(2)))
          .toDF("rows", "shards", "export_sec", "rows_per_sec",
            "min_shard_rows", "max_shard_rows")
          .write.mode("overwrite").parquet(s"$outDir/summary")
        spark.read.parquet(s"$outDir/summary").show(false)

      // ...and serve query batches with partition-pruned probes.
      case "ivf-probe" =>
        need(args, 6, "<indexPath> <queriesParquet> <idCol> <vecCol> <outPath> [k] [nProbe]")
        val Array(_, idxPath, qIn, idCol, vecCol, out) = args.take(6)
        val k = if (args.length > 6) args(6).toInt else 10
        val nProbe = if (args.length > 7) args(7).toInt else 8
        graft.ops.Similarity.ivfTopKFromIndex(
          spark, idxPath, spark.read.parquet(qIn), idCol, vecCol, k, nProbe)
          .write.mode("overwrite").parquet(out)

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other")
    }
    spark.stop()
  }
}
