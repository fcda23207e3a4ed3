package graft

import graft.functions._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Driver contract — one query per implemented operator (SURVEY.md §2), each
  * with a DuckDB-oracle SQL twin where the semantics are exactly
  * SQL-expressible. Sketch estimates are EXACT (match COUNT(DISTINCT ..)
  * bit-for-bit) whenever every group holds <= 128 distinct values — the
  * reference's Small/Array exact range (src/estimator.rs:189-201) — which is
  * what makes the oracle comparison sound for the _exact-mode queries below.
  * HLL-range queries (groups > 128 distinct) are approximate by design and
  * carry no oracle entry (rows-only check); their error bound is asserted in
  * `sbt test` instead.
  */
object SparkEntry {

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Gates that must mutate session conf (the streaming ones) restore what
    * they touched — queries sharing one driver session must not inherit
    * another gate's settings.
    */
  private def withConf[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** State-store partition count for the streaming gates. Each state
    * partition pays a per-micro-batch delta-file commit + restore, so the
    * right size tracks the keyed-state cardinality and per-batch volume (5
    * aggregate keys / ~10^4 dedup keys here), NOT the batch engine's shuffle
    * default — inheriting local[32]'s 32 partitions made both gates pay 32
    * state-store commits per batch for a handful of keys (measured on this
    * box: 32 -> 4 partitions runs the sketch gate 4.0 -> 2.0 s and the
    * dedup gate 5.3 -> 2.5 s, identical results). The count is fixed into
    * each checkpoint at first start, exactly like any streaming deployment.
    */
  private val StreamStatePartitions = "4"

  /** Restart harness of the streaming gates: writes `firstHalf` as two
    * parquet files, runs the stream that `sink` builds over them to
    * completion (one file per micro-batch, `AvailableNow`), appends
    * `secondHalf` as two more files and runs it again from the same
    * checkpoint, so the state crosses a stop and restart mid-stream. `sink`
    * gets the stream and the run's scratch directory.
    *
    * The state-store maintenance thread outlives these short-lived queries
    * and spams RPC warnings after the session rotates (e.g. in Bench's
    * scaling phase); one idle hour is far beyond a query's life (the
    * already-scheduled maintenance keeps the interval it started with, so
    * restoring after the streaming runs finish is sound).
    */
  private def streamWithRestart(s: SparkSession, firstHalf: DataFrame, secondHalf: DataFrame)(
      sink: (DataFrame, String) => DataStreamWriter[Row]): String =
    withConf(s, "spark.sql.streaming.stateStore.maintenanceInterval", "1h") {
      withConf(s, "spark.sql.shuffle.partitions", StreamStatePartitions) {
        val base = java.nio.file.Files.createTempDirectory("graft_stream_").toString
        val inDir = s"$base/in"
        def runToCompletion(): Unit = {
          val stream = s.readStream.schema(firstHalf.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inDir)
          sink(stream, base)
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
            .awaitTermination()
        }
        firstHalf.repartition(2).write.parquet(inDir)
        runToCompletion()
        secondHalf.repartition(2).write.mode("append").parquet(inDir)
        runToCompletion()
        base
      }
    }

  /** CPU-spread for per-row-expensive projections over narrow inputs — see
    * [[graft.ops.Spread.cpuBound]] (no-op at production input-split counts;
    * results are row-order-insensitive everywhere it is applied).
    */
  private def spread(df: DataFrame): DataFrame = graft.ops.Spread.cpuBound(df)

  /** Flagship query on sf=0.001: approximate distinct doc_ids per language.
    * Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    read(spark, "/root/testdata/sf0.001", "documents")
      .groupBy(col("lang"))
      .agg(ce_approx_distinct(col("doc_id")).as("approx_docs"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- HLL golden anchor: pins the full hash -> register -> LogLog-Beta
    // estimate path to the reference's deterministic golden value
    // (reference src/estimator.rs:228: inserting 0..9999 at p=12,w=6
    // estimates exactly 10068). Fails loudly if hashing, the beta table, or
    // the harmonic sum derived from the register ranks ever regress.
    "q_ce_golden_anchor" -> ((s, _) =>
      s.range(10000).agg(ce_approx_distinct(col("id")).as("golden_estimate"))),

    // the same anchor at the precision extremes the reference publishes
    // goldens for (src/estimator.rs:202-249): p10w5 -> 10417, p18w6 -> 10007
    "q_ce_golden_anchor_p10_p18" -> ((s, _) =>
      s.range(10000).agg(
        ce_approx_distinct(col("id"), 10, 5).as("golden_p10w5"),
        ce_approx_distinct(col("id"), 18, 6).as("golden_p18w6"))),

    // ----- exact-mode sketch queries (oracle: COUNT DISTINCT, bit-exact) -----
    "q_ce_custkey_per_nation" -> ((s, dir) =>
      read(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(ce_approx_distinct(col("c_custkey")).as("distinct_custkeys"))),

    "q_ce_suppkey_per_nation" -> ((s, dir) =>
      read(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(ce_approx_distinct(col("s_suppkey")).as("distinct_suppkeys"))),

    "q_ce_users_per_type_day" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day_ts"))
        .agg(ce_approx_distinct(col("user_id")).as("distinct_users"))),

    "q_ce_docs_per_lang_source" -> ((s, dir) =>
      read(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(ce_approx_distinct(col("doc_id")).as("distinct_docs"))),

    "q_ce_custs_per_orderday" -> ((s, dir) =>
      read(s, dir, "orders")
        .groupBy(date_trunc("DAY", col("o_orderdate")).as("order_day"))
        .agg(ce_approx_distinct(col("o_custkey")).as("distinct_custs"))),

    // string-typed input through the sketch (exact range)
    "q_ce_types_per_user_bucket" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(16)).as("user_bucket"))
        .agg(ce_approx_distinct(col("event_type")).as("distinct_types"))),

    // two-level roll-up: fine-grain sketches unioned to coarse grain —
    // exercises ce_sketch + ce_merge_estimate (reference merge, estimator.rs:59-94)
    "q_ce_reagg_docs_per_source" -> ((s, dir) =>
      read(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(ce_sketch(col("doc_id")).as("sk"))
        .groupBy(col("source"))
        .agg(ce_merge_estimate(col("sk")).as("distinct_docs"))),

    // salted two-phase aggregation (skew pattern from SURVEY.md §3.4):
    // valid because sketch merge is associative/commutative
    "q_ce_salted_custkey_per_nation" -> ((s, dir) =>
      read(s, dir, "customer")
        .groupBy(col("c_nationkey"), pmod(hash(col("c_custkey")), lit(8)).as("salt"))
        .agg(ce_sketch(col("c_custkey")).as("sk"))
        .groupBy(col("c_nationkey"))
        .agg(ce_merge_estimate(col("sk")).as("distinct_custkeys"))),

    // grouping sets drop out of the Catalyst aggregate for free (SURVEY §2.2):
    // CUBE over (event_type, day) with the sketch as the measure — exact mode
    // because <= 16 distinct user buckets exist in EVERY cube group including
    // the grand total; grouping() indicators disambiguate subtotal NULLs
    "q_ce_cube_type_day" -> ((s, dir) =>
      read(s, dir, "events")
        .select(col("event_type"), date_trunc("DAY", col("ts")).as("day_ts"),
          pmod(col("user_id"), lit(16)).as("user_bucket"))
        .cube(col("event_type"), col("day_ts"))
        .agg(ce_approx_distinct(col("user_bucket")).as("distinct_user_buckets"),
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("day_ts")).cast("long").as("g_day"))),

    // ROLLUP flavor on the documents table: per-(lang, source) / per-lang /
    // grand-total distinct sources (<= 128 everywhere -> exact mode)
    "q_ce_rollup_docs" -> ((s, dir) =>
      read(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(ce_approx_distinct(col("source")).as("distinct_sources"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))),

    // ----- HLL-mode queries (approximate; rows-only driver check) -----
    "q_ce_orderkeys_per_flag" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(ce_approx_distinct(col("l_orderkey")).as("approx_orderkeys"))),

    "q_ce_users_per_type" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(ce_approx_distinct(col("user_id")).as("approx_users"))),

    "q_ce_urls_total" -> ((s, dir) =>
      read(s, dir, "documents")
        .agg(ce_approx_distinct(col("text"), 14).as("approx_texts"))),

    // scalar surface: estimate + pairwise union over stored sketches
    "q_ce_scalar_roundtrip" -> ((s, dir) =>
      read(s, dir, "documents")
        .groupBy(col("source"))
        .agg(ce_sketch(col("doc_id")).as("sk"))
        .select(col("source"), ce_estimate(col("sk")).as("distinct_docs"),
          ce_estimate(ce_union(col("sk"), col("sk"))).as("distinct_docs_self_union"))),

    // ----- sketch family: Bloom / count-min / t-digest / KLL -----
    // Bloom semi-join: build the filter on the dim side ONCE, ship it to the
    // probe side as a literal (a column-joined blob would be re-copied out of
    // the UnsafeRow for every probe row — measured 50x slower). Exact here
    // because every o_custkey exists in customer (no false negatives).
    "q_bloom_orders_matching_customers" -> ((s, dir) => {
      val bf = read(s, dir, "customer")
        .agg(bloom_agg(col("c_custkey"), 100000L, 0.001).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      read(s, dir, "orders")
        .filter(bloom_might_contain(lit(bf), col("o_custkey")))
        .agg(count(lit(1)).as("cnt"))
    }),

    // count-min point frequencies: exact because 25 nation keys collide
    // nowhere across 5 rows of width 4096 (deterministic, verified).
    "q_cms_customers_per_nation" -> ((s, dir) => {
      val cms = read(s, dir, "customer")
        .agg(cms_agg(col("c_nationkey"), 5, 4096).as("cms"))
      read(s, dir, "customer").select(col("c_nationkey")).distinct()
        .crossJoin(broadcast(cms))
        .select(col("c_nationkey"), cms_estimate(col("cms"), col("c_nationkey")).as("cnt"))
    }),

    // t-digest: q=0/1 are exact min/max by construction (interior quantiles
    // are bound-checked in sbt test)
    "q_tdigest_qty_bounds_per_flag" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(tdigest_agg(col("l_quantity"), 100).as("td"))
        .select(col("l_returnflag"),
          sketch_quantile(col("td"), 0.0).as("min_qty"),
          sketch_quantile(col("td"), 1.0).as("max_qty"))),

    // KLL: exact min/max; two-level merge roll-up of per-day sketches
    "q_kll_value_bounds_per_type" -> ((s, dir) =>
      read(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day_ts"))
        .agg(kll_agg(col("value"), 256).as("k"))
        .groupBy(col("event_type"))
        .agg(sketch_merge(col("k"), "kll").as("k"))
        .select(col("event_type"),
          sketch_quantile(col("k"), 0.0).as("min_value"),
          sketch_quantile(col("k"), 1.0).as("max_value"))),

    // ----- training-data pipeline ops -----
    // exact dedup on content hash: kept row count == COUNT(DISTINCT text)
    "q_dedup_exact_count" -> ((s, dir) =>
      graft.ops.Dedup.exactByHash(read(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("kept"))),

    // id-less exact dedup (deterministic smallest surviving row): kept count
    // AND the sum of surviving doc_ids are both exactly predictable
    "q_dedup_content_count" -> ((s, dir) =>
      graft.ops.Dedup.exactByContent(read(s, dir, "documents"), "text")
        .agg(count(lit(1)).as("kept"), sum(col("doc_id")).as("kept_id_sum"))),

    // MinHash-LSH near-dup dedup (not SQL-expressible; rows-only check)
    "q_dedup_minhash_count" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.Dedup.dedupByPairs(docs, "doc_id",
        graft.ops.Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.8))
        .agg(count(lit(1)).as("kept"))
    }),

    // stored-signature minhash pairs (fingerprint-at-ingest pattern):
    // signatures computed ONCE and round-tripped through parquet, pairs
    // derived from the STORED column only — and the text path computed on
    // the same corpus in the same row, so the oracle pins both to the same
    // constant (a divergence between the paths fails the gate even if one
    // of them drifts to a different-but-stable value)
    "q_dedup_minhash_pairs_onsigs" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val sigDir = java.nio.file.Files.createTempDirectory("graft_sigs_").toString
      graft.ops.Dedup.minHashSignatures(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(sigDir)
      graft.ops.Dedup.minHashNearDupPairsOnSignatures(
          s.read.parquet(sigDir), "doc_id", "minhash_sig", threshold = 0.8)
        .agg(count(lit(1)).as("pairs_onsigs"))
        .crossJoin(
          graft.ops.Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
            .agg(count(lit(1)).as("pairs_text")))
    }),

    // SimHash near-dup pairs (rows-only check)
    "q_dedup_simhash_pairs" -> ((s, dir) =>
      graft.ops.Dedup.simHashNearDupPairs(
        read(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .agg(count(lit(1)).as("pairs"))),

    // one-pass simhash dedup (rows-only pin, like the pairs gate)
    "q_dedup_simhash_count" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.Dedup.dedupByPairs(docs, "doc_id",
        graft.ops.Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3))
        .agg(count(lit(1)).as("kept"))
    }),

    // one-pass embedding dedup with planted exact clones under ids 2^40+i:
    // every clone loses to its (smaller-id) original, so the kept count is
    // EXACTLY the original corpus size — an independent SQL oracle, and a
    // silent return-everything regression cannot pass
    "q_dedup_embedding_count" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + lit(1L << 40)).as("vec_id"), col("embedding"))
      val all = emb.union(planted)
      graft.ops.Dedup.dedupByPairs(all, "vec_id",
        graft.ops.Dedup.embeddingNearDupPairs(all, "vec_id", "embedding", dim = 64,
          threshold = 0.9))
        .agg(count(lit(1)).as("kept"))
    }),

    // exact word-5-gram Jaccard between the first docs — DuckDB twin builds
    // the same shingle sets from raw strings (hashed vs raw sets have equal
    // sizes modulo 2^-64 collisions)
    "q_ngram_jaccard_pairs" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(col("doc_id") < 8)
        .filter(size(filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
          w => length(w) > 0)) >= 5)
        .select(col("doc_id"), col("text"))
      docs.as("a").crossJoin(docs.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          graft.ops.Dedup.ngramJaccard(col("a.text"), col("b.text"), 5).as("jaccard"))
    }),

    // transitive near-dup clustering: exact n-gram-Jaccard pairs over a
    // bounded probe (so the all-pairs edge list is oracle-expressible), then
    // min-label propagation with pointer jumping; the DuckDB twin computes
    // connected components via a recursive CTE
    "q_dedup_clusters" -> ((s, dir) => {
      // spread the 500-doc probe across cores BEFORE the shingle/word-count
      // projections and the pair crossJoin: the single-file source would
      // otherwise run the whole O(n^2) jaccard verify on one task
      val docs = spread(read(s, dir, "documents")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 500))
        .filter(size(filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
          w => length(w) > 0)) >= 5)
      val sh = docs.select(col("doc_id"), shingle_set(col("text"), 5).as("s"))
      val pairs = sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .filter((size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_union(col("a.s"), col("b.s"))).cast("double")) >= 0.7)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // contraction rounds until the crossing edges fit the driver cap,
      // then driver union-find — no round budget bounds the chain length
      graft.ops.Dedup.nearDupClusters(docs.select(col("doc_id")), "doc_id", pairs)
    }),

    // embedding-cosine near-dup pairs via hyperplane LSH. The raw embeddings
    // are random (zero true pairs at 0.9 — a vacuous gate), so 5 exact
    // copies of the first vectors are planted under ids 2^40+i (an offset
    // no testdata regeneration can collide with): the gate
    // value 5 proves banding, capping, candidate rejoin, and the cosine
    // verify all still find precisely the planted structure — a silent
    // return-nothing regression can no longer pass
    "q_dedup_embedding_pairs" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + lit(1L << 40)).as("vec_id"), col("embedding"))
      graft.ops.Dedup.embeddingNearDupPairs(
        emb.union(planted), "vec_id", "embedding", dim = 64, threshold = 0.9)
        .agg(count(lit(1)).as("pairs"))
    }),

    // text statistics with exact SQL twins
    "q_text_stats" -> ((s, dir) =>
      spread(read(s, dir, "documents").select(col("doc_id"), col("text"))).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.ops.TextOps.tokenCountWhitespace(col("text")).cast("long").as("tok_ws"))),

    // language-ID + quality + BPE-ish tokens: deterministic regexp/length
    // arithmetic with an exact DuckDB twin (stopword-profile argmax included)
    "q_text_quality" -> ((s, dir) =>
      spread(read(s, dir, "documents").select(col("doc_id"), col("text"))).select(
        col("doc_id"),
        graft.ops.TextOps.langId(col("text")).as("lang_pred"),
        graft.ops.TextOps.qualityScore(col("text")).as("quality"),
        graft.ops.TextOps.tokenCountBpeish(col("text")).cast("long").as("tok_bpeish"))),

    // wyhash-based fingerprints (not SQL-expressible; rows-only check —
    // the hash itself is pinned by WyHashVectorsSpec)
    "q_text_fingerprint" -> ((s, dir) =>
      spread(read(s, dir, "documents").select(col("doc_id"), col("text"))).select(
        col("doc_id"),
        graft.ops.TextOps.docFingerprint(col("text")).as("fingerprint"),
        simhash64(col("text")).as("simhash"))),

    // collective pin over the 500 per-row fingerprints (q_text_fingerprint
    // itself stays rows-only: its values are wyhash-valued and the driver
    // compare needs an expression DuckDB can't compute) — xor + distinct
    // checksums make any single changed fingerprint fail the gate
    "q_text_fingerprint_checksum" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(graft.ops.TextOps.docFingerprint(col("text")).as("f"),
          simhash64(col("text")).as("sh"))
        .agg(expr("bit_xor(f)").as("fp_xor"),
          countDistinct(col("f")).as("fp_distinct"),
          expr("bit_xor(sh)").as("sh_xor"),
          countDistinct(col("sh")).as("sh_distinct"))),

    // brute-force cosine top-3 ANN (exact; DuckDB twin via list_cosine_similarity)
    "q_ann_topk_bruteforce" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // hyperplane-LSH ANN (approximate; rows-only check)
    "q_ann_topk_lsh" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3, dim = 64, planes = 8, tables = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // end-to-end training-data pipeline composition: quality filter -> exact
    // dedup -> deterministic split, all in one lazily-planned DataFrame; the
    // oracle reproduces the quality arithmetic + dedup exactly and checks the
    // split partitions the survivors completely
    "q_pipeline_e2e" -> ((s, dir) => {
      val quality = read(s, dir, "documents")
        .filter(graft.ops.TextOps.qualityScore(col("text")) >= 0.85)
      val deduped = graft.ops.Dedup.exactByHash(quality, "doc_id", "text")
      graft.ops.Sampling.deterministicSplit(deduped, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .agg(
          count(lit(1)).as("kept"),
          countDistinct(col("split")).as("n_splits"),
          sum(length(col("text"))).as("kept_chars"))
    }),

    // deterministic train/val/test split: the oracle checks the partition is
    // complete and disjoint (total preserved, every doc in exactly one of the
    // 3 splits); WHICH split a key lands in is wyhash-determined, sbt-tested
    "q_sampling_split" -> ((s, dir) =>
      graft.ops.Sampling.deterministicSplit(
        read(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .agg(
          count(lit(1)).as("total_rows"),
          countDistinct(col("split")).as("n_splits"),
          countDistinct(col("doc_id")).as("n_docs"))),

    // deterministic shard + intra-shard shuffle (training export): the
    // oracle checks completeness (every doc in exactly one of the 8 shards,
    // all shards used) and that the order column is collision-free; the
    // order's determinism across partitionings is sbt-asserted
    "q_sampling_shards" -> ((s, dir) =>
      graft.ops.Sampling.shuffleIntoShards(
        read(s, dir, "documents"), col("doc_id"), 8)
        .agg(
          count(lit(1)).as("total_rows"),
          countDistinct(col("shard")).as("n_shards"),
          min(col("shard")).cast("long").as("min_shard"),
          max(col("shard")).cast("long").as("max_shard"),
          countDistinct(col("shuffle_order")).as("n_positions"))),

    // resumable checkpointed aggregation: per-file sketch checkpoint then
    // merge roll-up; exact for these groups (<=128 distinct per group)
    "q_checkpointed_agg" -> ((s, dir) => {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
      graft.ops.CheckpointedAgg.run(
        s, s"$dir/documents.parquet", Seq("lang", "source"), "doc_id", ckpt)
        .select(col("lang"), col("source"), col("distinct_count"), col("rows_scanned"))
    }),

    // IVF ANN (approximate; rows-only check): deterministic k-means coarse
    // quantizer trained on a corpus sample, cell-bucketed search with
    // exact-cosine re-rank — the second scale path next to LSH
    "q_ann_topk_ivf" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        emb, "embedding", k = 16, sampleSize = 2000)
      graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3, centroids, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // IVF in its EXACT configuration: probing every cell (nProbe = #centroids)
    // searches the whole corpus, so the result must equal brute force row for
    // row — which gives this approximate-family operator an INDEPENDENT
    // DuckDB oracle (same list_cosine_similarity twin as the brute-force
    // baseline), not just a rows-only check
    "q_ann_topk_ivf_fullprobe" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        emb, "embedding", k = 16, sampleSize = 2000)
      graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3, centroids, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // IVF against a PERSISTED index: assignCells writes (id, vec, norm)
    // partitioned by cell + a centroid file; ivfTopKFromIndex reads only the
    // probed cells' files, listed by the index manifest (poison-asserted in
    // sbt test). Fullprobe config here, so the
    // result must equal brute force row for row -> independent DuckDB oracle
    "q_ann_topk_ivf_indexed" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        emb, "embedding", k = 16, sampleSize = 2000)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx_").toString
      graft.ops.Similarity.assignCells(emb, "vec_id", "embedding", centroids, idx)
      graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, "qid", "qvec",
        k = 3, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // the INCREMENTAL index lifecycle through the driver gate: build on the
    // even half, appendToIndex the odd half, fullprobe — must still equal
    // brute force over the whole corpus row for row (same independent oracle)
    "q_ann_topk_ivf_appended" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        even, "embedding", k = 16, sampleSize = 2000)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app_").toString
      graft.ops.Similarity.assignCells(even, "vec_id", "embedding", centroids, idx)
      graft.ops.Similarity.appendToIndex(odd, "vec_id", "embedding", idx)
      graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, "qid", "qvec",
        k = 3, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // the FULL index lifecycle including compaction: build on one third,
    // append the other two thirds (fragmenting every touched cell), compact
    // back to ~1 file/cell, fullprobe — must STILL equal brute force over
    // the whole corpus row for row (same independent oracle). A compaction
    // that lost, duplicated, or cross-wired rows cannot pass.
    "q_ann_topk_ivf_compacted" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val parts = (0 until 3).map(t => emb.filter(pmod(col("vec_id"), lit(3)) === t))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        parts(0), "embedding", k = 16, sampleSize = 2000)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_cmp_").toString
      graft.ops.Similarity.assignCells(parts(0), "vec_id", "embedding", centroids, idx)
      graft.ops.Similarity.appendToIndex(parts(1), "vec_id", "embedding", idx)
      graft.ops.Similarity.appendToIndex(parts(2), "vec_id", "embedding", idx)
      graft.ops.Similarity.compactIndex(s, idx)
      graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, "qid", "qvec",
        k = 3, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // index DELETION, tombstone-probe path: exact clones of the first 5
    // vectors are planted under ids 2^40+i and then removed — if the
    // tombstone anti-join failed, every planted clone would outrank its
    // original at cosine 1.0 and the hash comparison against the
    // brute-force-over-the-ORIGINAL-corpus oracle must fail
    "q_ann_topk_ivf_deleted" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + lit(1L << 40)).as("vec_id"), col("embedding"))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        emb, "embedding", k = 16, sampleSize = 2000)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_del_").toString
      graft.ops.Similarity.assignCells(emb.union(planted), "vec_id", "embedding",
        centroids, idx)
      graft.ops.Similarity.removeFromIndex(s, idx,
        planted.select(col("vec_id").as("id")))
      graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, "qid", "qvec",
        k = 3, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // index DELETION applied PHYSICALLY: same planted clones, but compaction
    // runs between the removal and the probe — tombstoned rows must be
    // dropped from the data files (the tombstone store is gone, so only a
    // correct physical rewrite can keep the clones out of the top-k)
    "q_ann_topk_ivf_deleted_compacted" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + lit(1L << 40)).as("vec_id"), col("embedding"))
      val centroids = graft.ops.Similarity.trainIvfCentroids(
        emb, "embedding", k = 16, sampleSize = 2000)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_delc_").toString
      graft.ops.Similarity.assignCells(emb, "vec_id", "embedding", centroids, idx)
      graft.ops.Similarity.appendToIndex(planted, "vec_id", "embedding", idx)
      graft.ops.Similarity.removeFromIndex(s, idx,
        planted.select(col("vec_id").as("id")))
      graft.ops.Similarity.compactIndex(s, idx)
      graft.ops.Similarity.ivfTopKFromIndex(s, idx, queries, "qid", "qvec",
        k = 3, nProbe = centroids.length)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // cluster-aware near-dup dedup: transitive closure of the minhash pairs,
    // keep the minimum id per connected component (chains A~B~C with A!~C
    // now keep exactly one doc, unlike the one-pass dedupByPairs contract)
    "q_dedup_minhash_transitive" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.Dedup.dedupTransitiveByPairs(docs, "doc_id",
        graft.ops.Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.8))
        .agg(count(lit(1)).as("kept"))
    }),

    // multimodal REAL audio decode, driven end-to-end: deterministic PCM WAV
    // test cards are encoded per doc_id (real javax.sound write), decoded by
    // the real javax.sound reader in a per-row column function, and
    // every decoded field — including the RMS — is exactly predicted by the
    // oracle (see Multimodal.renderAudioTestCard for the exactness argument)
    "q_multimodal_audio" -> ((s, dir) => {
      val ids = read(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 200)
      graft.ops.Multimodal.decodeAudios(
        graft.ops.Multimodal.renderAudioTestCards(ids, "doc_id"), "blob")
        .select(col("doc_id"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").cast("long").as("channels"),
          col("audio_meta.bits_per_sample").cast("long").as("bits"),
          col("audio_meta.duration_sec").as("duration_sec"),
          col("audio_meta.rms").as("rms"))
    }),

    // multimodal REAL image decode, driven end-to-end: deterministic
    // solid-gray PNG test cards are rendered per doc_id (real ImageIO
    // encode), decoded by the real javax.imageio reader in a per-row
    // column function, and the resulting metadata is exactly predicted
    // by the oracle (PNG is lossless)
    "q_multimodal_decode" -> ((s, dir) => {
      val ids = read(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 200)
      graft.ops.Multimodal.decodeImages(
        graft.ops.Multimodal.renderTestCards(ids, "doc_id"), "blob")
        .select(col("doc_id"),
          col("image_meta.width").cast("long").as("width"),
          col("image_meta.height").cast("long").as("height"),
          col("image_meta.channels").cast("long").as("channels"),
          col("image_meta.mean_intensity").as("mean_intensity"))
    }),

    // Structured Streaming through the driver gate: sketchPerKey over a file
    // stream, ONE FILE PER MICRO-BATCH, with the streaming query STOPPED and
    // RESTARTED from its checkpoint halfway through the input. The sketch
    // state round-trips the state store between every batch and survives the
    // restart through the checkpoint — both via the same serialized sketch
    // wire format as batch shuffles — and the final estimates still match
    // the exact COUNT(DISTINCT) oracle (exact mode: <= 16 buckets/key).
    "q_stream_sketch_restore" -> ((s, dir) => {
      val events = read(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          pmod(col("user_id"), lit(16)).as("user_bucket"))
      // disjoint halves: the second streams in after the restart
      def half(parity: Int) = events.filter(pmod(col("event_id"), lit(2)) === parity)
        .select(col("event_type"), col("user_bucket"))
      streamWithRestart(s, half(0), half(1)) { (stream, _) =>
        graft.streaming.SketchStreams.sketchPerKey(stream, Seq("event_type"), "user_bucket")
          .writeStream
          .outputMode("complete")
          .format("memory")
          .queryName("graft_stream_restore")
      }
      s.table("graft_stream_restore")
        .select(col("event_type"),
          col("approx_distinct").as("distinct_user_buckets"),
          ce_estimate(col("sketch")).as("distinct_from_sketch"))
    }),

    // REAL resize driven end-to-end: test card -> area-averaging thumbnail
    // (real java.awt scaling + PNG re-encode) -> REAL decode of the
    // thumbnail. A solid-gray card stays solid gray under area averaging
    // and PNG is lossless, so the decoded thumbnail metadata is exactly
    // predictable: target dims and the source card's intensity
    "q_multimodal_resize" -> ((s, dir) => {
      val ids = read(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 200)
      val thumbs = graft.ops.Multimodal.resizeImages(
        graft.ops.Multimodal.renderTestCards(ids, "doc_id"), "blob", 4, 4)
      graft.ops.Multimodal.decodeImages(thumbs.select(col("doc_id"), col("thumbnail")),
        "thumbnail")
        .select(col("doc_id"),
          col("image_meta.width").cast("long").as("width"),
          col("image_meta.height").cast("long").as("height"),
          col("image_meta.mean_intensity").as("mean_intensity"))
    }),

    // Streaming exact dedup through the driver gate: streamingExactDedup
    // over a file stream (one file per micro-batch), with the query STOPPED
    // and RESTARTED from its checkpoint between the two input halves. The
    // (hash, length) dedup state crosses the restart through the state
    // store, so a text whose first copy streamed before the restart still
    // suppresses its duplicates after it — the final kept count must equal
    // the exact COUNT(DISTINCT text) (all events share one event time far
    // inside the watermark horizon). The parquet sink (not memory) is what
    // makes the gate restart-sound: a memory sink would be wiped when the
    // query restarts.
    "q_stream_dedup_restore" -> ((s, dir) => {
      // PLANT restart-crossing duplicates: the sf0.01 documents table has no
      // duplicate texts at all, so without planting, kept == COUNT(DISTINCT)
      // would hold even if the restart dropped ALL dedup state (a vacuous
      // gate). Each planted copy flips parity (2^40 + 1 is odd), so the
      // copy always streams in the OTHER half than its original — every
      // planted duplicate crosses the checkpoint restart, and a lost state
      // store would let all 20 copies through (kept > distinct -> gate fails).
      val rawDocs = read(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = rawDocs.filter(col("doc_id") < 20)
        .select((col("doc_id") + lit((1L << 40) + 1L)).as("doc_id"), col("text"))
      val docs = rawDocs.union(planted)
        .select(col("doc_id"), col("text"),
          to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
      def half(parity: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === parity)
      val base = streamWithRestart(s, half(0), half(1)) { (stream, base) =>
        graft.streaming.SketchStreams.streamingExactDedup(stream, "text", "ts", "1 hour")
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$base/out")
      }
      s.read.parquet(s"$base/out").agg(
        count(lit(1)).as("kept"),
        countDistinct(col("text")).as("kept_distinct"))
    }),

    // multimodal: binary blob features (decode stubs are exercised in sbt test)
    "q_multimodal_features" -> ((s, dir) =>
      graft.ops.Multimodal.binaryFeatures(
        read(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("blob")),
        "blob")
        .select(col("doc_id"), col("blob_bytes").cast("long").as("blob_bytes")))
  )

  /** DuckDB twin of TextOps.langId's stopword-profile argmax: one
    * (score, lang) struct per language; list_max picks max score with
    * max-lang tie-break — the same lexicographic order as Spark's
    * greatest(struct(...)).
    */
  private def langIdStructsSql: String =
    graft.ops.TextOps.stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      "struct_pack(score := len(list_intersect(words, [" +
        ws.map(w => s"'$w'").mkString(",") + s"])), lang := '$lang')"
    }.mkString(", ")

  /** DuckDB oracle SQL — ONLY for queries whose groups stay in the exact
    * (<=128 distinct) range. Column names match the Spark side exactly.
    */
  def oracleSql: Map[String, String] = Map(
    "q_ce_golden_anchor" ->
      "SELECT CAST(10068 AS BIGINT) AS golden_estimate",
    "q_ce_golden_anchor_p10_p18" ->
      "SELECT CAST(10417 AS BIGINT) AS golden_p10w5, CAST(10007 AS BIGINT) AS golden_p18w6",
    "q_ce_custkey_per_nation" ->
      "SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS distinct_custkeys FROM customer GROUP BY c_nationkey",
    "q_ce_suppkey_per_nation" ->
      "SELECT s_nationkey, COUNT(DISTINCT s_suppkey) AS distinct_suppkeys FROM supplier GROUP BY s_nationkey",
    "q_ce_users_per_type_day" ->
      "SELECT event_type, date_trunc('day', ts) AS day_ts, COUNT(DISTINCT user_id) AS distinct_users FROM events GROUP BY 1, 2",
    "q_ce_docs_per_lang_source" ->
      "SELECT lang, source, COUNT(DISTINCT doc_id) AS distinct_docs FROM documents GROUP BY 1, 2",
    "q_ce_custs_per_orderday" ->
      "SELECT date_trunc('day', o_orderdate) AS order_day, COUNT(DISTINCT o_custkey) AS distinct_custs FROM orders GROUP BY 1",
    // ((x % 16) + 16) % 16 == Spark's pmod for any sign — aligns the contract
    // with the Spark side even though user_id is non-negative in this data
    "q_ce_types_per_user_bucket" ->
      "SELECT ((user_id % 16) + 16) % 16 AS user_bucket, COUNT(DISTINCT event_type) AS distinct_types FROM events GROUP BY 1",
    "q_ce_reagg_docs_per_source" ->
      "SELECT source, COUNT(DISTINCT doc_id) AS distinct_docs FROM documents GROUP BY source",
    // DuckDB's CUBE/ROLLUP produce the same grouping sets and GROUPING()
    // indicators; subtotal keys are NULL on both sides
    "q_ce_cube_type_day" ->
      ("SELECT event_type, date_trunc('day', ts) AS day_ts, " +
        "COUNT(DISTINCT ((user_id % 16) + 16) % 16) AS distinct_user_buckets, " +
        "CAST(GROUPING(event_type) AS BIGINT) AS g_type, " +
        "CAST(GROUPING(date_trunc('day', ts)) AS BIGINT) AS g_day " +
        "FROM events GROUP BY CUBE (event_type, date_trunc('day', ts))"),
    "q_ce_rollup_docs" ->
      ("SELECT lang, source, COUNT(DISTINCT source) AS distinct_sources, " +
        "CAST(GROUPING(lang) AS BIGINT) AS g_lang, " +
        "CAST(GROUPING(source) AS BIGINT) AS g_source " +
        "FROM documents GROUP BY ROLLUP (lang, source)"),
    "q_stream_sketch_restore" ->
      ("SELECT event_type, " +
        "COUNT(DISTINCT ((user_id % 16) + 16) % 16) AS distinct_user_buckets, " +
        "COUNT(DISTINCT ((user_id % 16) + 16) % 16) AS distinct_from_sketch " +
        "FROM events GROUP BY event_type"),
    "q_ce_salted_custkey_per_nation" ->
      "SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS distinct_custkeys FROM customer GROUP BY c_nationkey",
    "q_ce_scalar_roundtrip" ->
      "SELECT source, COUNT(DISTINCT doc_id) AS distinct_docs, COUNT(DISTINCT doc_id) AS distinct_docs_self_union FROM documents GROUP BY source",
    "q_bloom_orders_matching_customers" ->
      "SELECT COUNT(*) AS cnt FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)",
    "q_cms_customers_per_nation" ->
      "SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey",
    "q_tdigest_qty_bounds_per_flag" ->
      "SELECT l_returnflag, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty FROM lineitem GROUP BY l_returnflag",
    "q_kll_value_bounds_per_type" ->
      "SELECT event_type, MIN(value) AS min_value, MAX(value) AS max_value FROM events GROUP BY event_type",
    "q_dedup_exact_count" ->
      "SELECT COUNT(DISTINCT text) AS kept FROM documents",
    // exactByContent keeps the lexicographically smallest row struct, whose
    // leading field is doc_id -> the survivor per text group is its min id
    "q_dedup_content_count" ->
      ("SELECT COUNT(*) AS kept, CAST(SUM(min_id) AS BIGINT) AS kept_id_sum " +
        "FROM (SELECT MIN(doc_id) AS min_id FROM documents GROUP BY text)"),
    "q_dedup_clusters" ->
      ("WITH RECURSIVE docs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS words " +
        "FROM documents WHERE doc_id < 500), " +
        "sh AS (SELECT doc_id, list_distinct([array_to_string(words[i:i+4], ' ') for i in range(1, len(words) - 3)]) AS s " +
        "FROM docs WHERE len(words) >= 5), " +
        "pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a, sh b WHERE a.doc_id < b.doc_id " +
        "AND len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) >= 0.7), " +
        "edges AS (SELECT ia, ib FROM pairs UNION ALL SELECT ib, ia FROM pairs), " +
        "reach(id, r) AS (SELECT doc_id, doc_id FROM sh " +
        "UNION SELECT reach.id, e.ib FROM reach JOIN edges e ON reach.r = e.ia) " +
        "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id"),
    "q_sampling_split" ->
      "SELECT COUNT(*) AS total_rows, CAST(3 AS BIGINT) AS n_splits, COUNT(DISTINCT doc_id) AS n_docs FROM documents",
    // all 8 shards used (500 docs: an empty shard has probability ~8*(7/8)^500),
    // and the order hash is collision-free on this corpus (deterministic fact)
    "q_sampling_shards" ->
      ("SELECT COUNT(*) AS total_rows, CAST(8 AS BIGINT) AS n_shards, " +
        "CAST(0 AS BIGINT) AS min_shard, CAST(7 AS BIGINT) AS max_shard, " +
        "COUNT(*) AS n_positions FROM documents"),
    // same quality arithmetic as q_text_quality's twin, then exact dedup on
    // text and completeness of the split over the survivors
    "q_pipeline_e2e" ->
      ("WITH base AS (SELECT doc_id, text, " +
        "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS words, " +
        "length(text) AS n_chars FROM documents), " +
        "feat AS (SELECT doc_id, text, len(words) AS n_words, " +
        "length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS alpha_ratio, " +
        "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS digit_ratio, " +
        "length(regexp_replace(text, '[\\p{L}\\p{N}\\t\\n\\x0b\\f\\r ]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS punct_ratio, " +
        "len(list_distinct(words))::DOUBLE / greatest(len(words)::DOUBLE, 1.0) AS uniq_ratio FROM base), " +
        "scored AS (SELECT doc_id, text, " +
        "round(least(n_words::DOUBLE / 20.0, 1.0) * 0.25 + alpha_ratio * 0.25 + " +
        "(1.0 - least(digit_ratio * 4.0, 1.0)) * 0.15 + " +
        "(1.0 - least(punct_ratio * 4.0, 1.0)) * 0.15 + " +
        "uniq_ratio * 0.20, 4) AS quality FROM feat), " +
        "survivors AS (SELECT DISTINCT text FROM scored WHERE quality >= 0.85) " +
        "SELECT COUNT(*) AS kept, CAST(3 AS BIGINT) AS n_splits, " +
        "CAST(SUM(length(text)) AS BIGINT) AS kept_chars FROM survivors"),
    "q_checkpointed_agg" ->
      "SELECT lang, source, COUNT(DISTINCT doc_id) AS distinct_count, COUNT(*) AS rows_scanned FROM documents GROUP BY 1, 2",
    "q_ngram_jaccard_pairs" ->
      ("WITH docs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS words " +
        "FROM documents WHERE doc_id < 8), " +
        "sh AS (SELECT doc_id, list_distinct([array_to_string(words[i:i+4], ' ') for i in range(1, len(words) - 3)]) AS s " +
        "FROM docs WHERE len(words) >= 5) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(list_concat(a.s, b.s))) AS jaccard " +
        "FROM sh a, sh b WHERE a.doc_id < b.doc_id"),
    "q_text_stats" ->
      "SELECT doc_id, LENGTH(text) AS n_chars, len(list_filter(regexp_split_to_array(text, '[\\t\\n\\x0b\\f\\r ]+'), x -> len(x) > 0)) AS tok_ws FROM documents",
    // exact twin of langId + qualityScore + tokenCountBpeish: identical
    // regexp classes (RE2's \p{L} == Java's), identical double-arithmetic
    // order pre-round, BPE-ish tokens re-expressed as maximal letter-runs +
    // maximal non-letter-non-space runs (lookaround splits aren't RE2-able)
    "q_text_quality" ->
      ("WITH base AS (SELECT doc_id, text, " +
        "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS words, " +
        "length(text) AS n_chars FROM documents), " +
        "feat AS (SELECT doc_id, text, n_chars, words, len(words) AS n_words, " +
        s"list_max([$langIdStructsSql]) AS best, " +
        "length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS alpha_ratio, " +
        "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS digit_ratio, " +
        "length(regexp_replace(text, '[\\p{L}\\p{N}\\t\\n\\x0b\\f\\r ]', '', 'g'))::DOUBLE / greatest(n_chars::DOUBLE, 1.0) AS punct_ratio, " +
        "len(list_distinct(words))::DOUBLE / greatest(len(words)::DOUBLE, 1.0) AS uniq_ratio FROM base) " +
        "SELECT doc_id, " +
        "CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred, " +
        "round(least(n_words::DOUBLE / 20.0, 1.0) * 0.25 + alpha_ratio * 0.25 + " +
        "(1.0 - least(digit_ratio * 4.0, 1.0)) * 0.15 + " +
        "(1.0 - least(punct_ratio * 4.0, 1.0)) * 0.15 + " +
        "uniq_ratio * 0.20, 4) AS quality, " +
        "(len(regexp_extract_all(text, '\\p{L}+')) + len(regexp_extract_all(text, '[^\\p{L}\\t\\n\\x0b\\f\\r ]+')) " +
        "+ length(regexp_replace(text, '[^\\p{L}]', '', 'g')) // 8)::BIGINT AS tok_bpeish " +
        "FROM feat"),
    "q_ann_topk_bruteforce" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    // independent oracle: probing ALL cells makes IVF exactly brute force
    "q_ann_topk_ivf_fullprobe" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    // same independence for the PERSISTED index path: fullprobe-from-index
    // must equal brute force row for row
    "q_ann_topk_ivf_appended" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    "q_ann_topk_ivf_indexed" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    // build + 2 appends + compaction must preserve the corpus exactly
    "q_ann_topk_ivf_compacted" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    // deletion gates: planted cosine-1.0 clones are removed, so the result
    // must equal brute force over the ORIGINAL corpus — a failed tombstone
    // anti-join (or a compaction that kept tombstoned rows) puts the clones
    // at the top and fails the hash
    "q_ann_topk_ivf_deleted" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    "q_ann_topk_ivf_deleted_compacted" ->
      "WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 5) SELECT qid AS query_id, vec_id AS neighbor_id, rank FROM (SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) rank FROM embeddings e, q) t WHERE rank <= 3",
    // streaming dedup keyed on (wyhash64(text), length): kept count equals
    // exact COUNT(DISTINCT text) (collision odds ~n^2/2^65 per length class),
    // and kept_distinct == kept proves no duplicate text survived the
    // restart. The Spark side PLANTS 20 copies that each stream in the
    // opposite half from their original, so a restart that lost the dedup
    // state would emit them and fail this count (non-vacuous even though
    // the raw sf0.01 table has no duplicate texts).
    "q_stream_dedup_restore" ->
      "SELECT COUNT(DISTINCT text) AS kept, COUNT(DISTINCT text) AS kept_distinct FROM documents",
    // audio test cards decode to exactly-predictable metadata; the RMS is
    // bit-exact because every sample magnitude is the (dyadic) amplitude —
    // see Multimodal.renderAudioTestCard
    "q_multimodal_audio" ->
      ("SELECT doc_id, CAST(8000 AS DOUBLE) AS sample_rate, " +
        "CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits, " +
        "CAST(800 + (doc_id % 5) * 80 AS DOUBLE) / 8000.0 AS duration_sec, " +
        "CAST(1000 + doc_id % 8000 AS DOUBLE) / 32768.0 AS rms " +
        "FROM documents WHERE doc_id < 200"),
    // ------------------------------------------------------------------
    // DETERMINISM PINS — the queries below are approximate (HLL range) or
    // LSH/IVF-recall operators whose results have no SQL-expressible
    // independent oracle, but every one is a PURE FUNCTION of the input
    // data (fixed hashes, fixed plans, deterministic tie-breaks, data-only
    // IVF sampling). The constants were computed by THIS library at sf0.01
    // and are pinned so any regression in hashing, LSH banding, estimate
    // math, or plan determinism fails the gate loudly — the same idea as
    // the reference-derived q_ce_golden_anchor, with self-derived values.
    // Accuracy itself is bounded against exact counts in `sbt test`
    // (StatisticalErrorSpec, recall suites), not here.
    // ------------------------------------------------------------------
    "q_ce_urls_total" ->
      "SELECT CAST(498 AS BIGINT) AS approx_texts",
    "q_ce_users_per_type" ->
      ("SELECT * FROM (VALUES ('click', CAST(151 AS BIGINT)), ('error', 151), " +
        "('purchase', 151), ('signup', 151), ('view', 151)) AS t(event_type, approx_users)"),
    "q_ce_orderkeys_per_flag" ->
      ("SELECT * FROM (VALUES ('A', CAST(11011 AS BIGINT)), ('N', 11010), " +
        "('R', 11173)) AS t(l_returnflag, approx_orderkeys)"),
    "q_dedup_minhash_count" ->
      "SELECT CAST(476 AS BIGINT) AS kept",
    // both paths over the same corpus MUST land on the same count (pinned
    // from this library at sf0.01, like the pins above)
    "q_dedup_minhash_pairs_onsigs" ->
      "SELECT CAST(25 AS BIGINT) AS pairs_onsigs, CAST(25 AS BIGINT) AS pairs_text",
    // transitive closure keeps <= the one-pass count (chains collapse to one
    // survivor); pinned from this library at sf0.01 like the pin above
    "q_dedup_minhash_transitive" ->
      "SELECT CAST(476 AS BIGINT) AS kept",
    "q_dedup_simhash_pairs" ->
      "SELECT CAST(20 AS BIGINT) AS pairs",
    // the 20 pinned pairs dominate 19 distinct losers
    "q_dedup_simhash_count" ->
      "SELECT CAST(481 AS BIGINT) AS kept",
    // the 5 planted exact copies (and nothing else: random 64-d vectors
    // essentially never reach cosine 0.9)
    "q_dedup_embedding_pairs" ->
      "SELECT CAST(5 AS BIGINT) AS pairs",
    // every planted clone loses to its smaller-id original, nothing else
    // pairs at 0.9 — the kept count is EXACTLY the original corpus size
    // (independent SQL oracle, not a pin)
    "q_dedup_embedding_count" ->
      "SELECT COUNT(*) AS kept FROM embeddings",
    "q_text_fingerprint_checksum" ->
      ("SELECT CAST(-473146569777551628 AS BIGINT) AS fp_xor, " +
        "CAST(500 AS BIGINT) AS fp_distinct, " +
        "CAST(6371330342564224236 AS BIGINT) AS sh_xor, " +
        "CAST(499 AS BIGINT) AS sh_distinct"),
    "q_ann_topk_lsh" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)), " +
        "(0, 73, 2), (0, 51, 3), (1, 1, 1), (1, 441, 2), (1, 284, 3), " +
        "(2, 2, 1), (2, 97, 2), (2, 474, 3), (3, 3, 1), (3, 201, 2), (3, 85, 3), " +
        "(4, 4, 1), (4, 19, 2), (4, 337, 3)) AS t(query_id, neighbor_id, rank)"),
    // (re-pinned when the IVF training key moved from the string cast to
    // vec_hash64 — a different, equally-valid deterministic sample)
    "q_ann_topk_ivf" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)), " +
        "(0, 334, 2), (0, 423, 3), (1, 1, 1), (1, 407, 2), (1, 195, 3), " +
        "(2, 2, 1), (2, 450, 2), (2, 145, 3), (3, 3, 1), (3, 130, 2), (3, 149, 3), " +
        "(4, 4, 1), (4, 408, 2), (4, 257, 3)) AS t(query_id, neighbor_id, rank)"),
    "q_multimodal_features" ->
      "SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS blob_bytes FROM documents",
    "q_multimodal_decode" ->
      ("SELECT doc_id, 8 + doc_id % 5 AS width, CAST(8 AS BIGINT) AS height, " +
        "CAST(3 AS BIGINT) AS channels, CAST(doc_id % 256 AS DOUBLE) AS mean_intensity " +
        "FROM documents WHERE doc_id < 200"),
    // a solid card stays its own gray through area-averaging + lossless PNG
    "q_multimodal_resize" ->
      ("SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height, " +
        "CAST(doc_id % 256 AS DOUBLE) AS mean_intensity " +
        "FROM documents WHERE doc_id < 200")
  )
}
