package graft.ops

import scala.annotation.tailrec
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import graft.functions._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CheckpointShim
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}

/** Document deduplication for training-data pipelines, at three exactness
  * levels. All plans are shuffle-minimal: per-row fingerprints (no explode of
  * shingles across the cluster), band-key shuffles carry only (key, id)
  * pairs, and pair verification joins only candidate buckets.
  */
object Dedup {

  /** Exact dedup on content hash. Keeps the smallest `idCol` per identical
    * `textCol` (null texts form one group, like a hash-partitioned window
    * would).
    *
    * CONTRACT: `idCol` must uniquely identify rows. Rows that share BOTH the
    * id and the text (true duplicate records) all match the winner pair and
    * all survive — a semi join cannot tell identical rows apart. For corpora
    * without a unique id use [[exactByContent]] instead (found the hard way:
    * a 192M-row soak where the "id" url column repeated kept everything).
    *
    * Scale shape: the winner election aggregates a PROJECTED `(hash, id)`
    * frame — only ~16 bytes/row cross that exchange, never the text — and the
    * survivors are restored with a left-semi join on `(id, hash)`. When the
    * winner set fits in memory AQE broadcasts it and the corpus side never
    * shuffles at all; otherwise Catalyst falls back to a shuffled semi join
    * whose build side is still only the 16-byte winner pairs. The previous
    * window-function shape unconditionally shipped every column of every row
    * through a full-corpus exchange plus a per-partition sort.
    *
    * Measured guidance (192M-row head-to-head, BASELINE.md): when the winner
    * set is NOT broadcastable, the join back shuffles the full corpus anyway
    * and [[exactByContent]] (one aggregation, one scan) is ~1.6x faster —
    * prefer this shape when winners broadcast (modest distinct counts) or
    * when only the surviving ids are needed (use the election alone).
    *
    * "Exact" bound: texts are equated by (64-bit wyhash, length), never by
    * full content — the whole point is that the text itself never shuffles.
    * Two DIFFERENT texts of the same length colliding in wyhash64 would
    * merge (expected collisions ~ n^2 / 2^65 per length class: ~0.03 across
    * 10^9 same-length docs — negligible below ~10^10 rows of one length;
    * compare-by-content at that scale means [[exactByContent]], whose
    * hash-grouped struct-min carries the text inside one aggregation).
    */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = df
      .select(wyhash64(col(textCol)).as("__g_h"), length(col(textCol)).as("__g_l"),
        col(idCol).as("__g_id"))
      .groupBy(col("__g_h"), col("__g_l"))
      .agg(min(col("__g_id")).as("__g_id"))
    // Null-safe id equality: a text group whose ids are ALL null elects a
    // null winner, and plain === would match nothing — silently losing the
    // text from the output. With <=> such rows all survive instead (null ids
    // already violate the uniqueness contract; keeping duplicates is the
    // safe failure mode, losing data is not). Null texts likewise group
    // under (null, null) via <=>. The length in the key costs 4 bytes/row
    // and removes every cross-length hash collision.
    df.join(
      winners,
      (df(idCol) <=> winners("__g_id")) && (wyhash64(df(textCol)) <=> winners("__g_h")) &&
        (length(df(textCol)) <=> winners("__g_l")),
      "left_semi")
  }

  /** Exact content dedup for corpora WITHOUT a unique row id: keeps the
    * lexicographically smallest full row per identical `textCol`
    * (deterministic across retries and partitionings, unlike
    * dropDuplicates/first which keep an arbitrary row).
    *
    * Scale shape: one aggregation on the 8-byte content hash — the partial
    * (map-side) `min(struct(*))` collapses same-split duplicates BEFORE the
    * exchange, and only one candidate struct per (hash, map partition)
    * shuffles. Catalyst plans struct-min as a SortAggregate (struct buffers
    * aren't hash-aggregable — Spark's own dropDuplicates over string columns
    * sorts the same way), so each partition sorts by the 8-byte hash; unlike
    * the window shape there is no second full-corpus pass and the reduce
    * side only sees collapsed candidates. With a unique id
    * [[exactByHash]] ships only 16 bytes/row instead.
    *
    * "Exact" bound: rows are grouped by (64-bit wyhash, length) of the text;
    * two DIFFERENT same-length texts colliding in wyhash64 would keep only
    * one survivor (~n^2 / 2^65 expected collisions per length class —
    * negligible below ~10^10 same-length rows; see [[exactByHash]]).
    */
  def exactByContent(df: DataFrame, textCol: String): DataFrame = {
    val rowStruct = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(wyhash64(col(textCol)).as("__g_h"), length(col(textCol)).as("__g_l"))
      .agg(min(rowStruct).as("__g_row"))
      .select(col("__g_row.*"))
  }

  /** The bucket self-join of every LSH family, as ONE pass: a single hash
    * exchange on `bucketCol`, a sort within partitions on (bucket, `_id`),
    * then a walk over each bucket's run that emits every pair of its rows.
    * Every column of `banded` other than the bucket rides along, suffixed
    * `_a` / `_b` (minhash and embedding carry only `_id`, simhash also
    * `_sh`). Runs are id-sorted, so each unordered pair comes out once with
    * `_id_a < _id_b`; equal or null ids never pair, and null buckets never
    * pair (the semantics of an equi-join on the bucket).
    *
    * Degenerate-bucket guard: a bucket key shared by a huge number of docs
    * (boilerplate corpora) would make the walk quadratic IN THAT BUCKET, so a
    * run longer than `maxBucketSize` emits nothing (and is never buffered
    * past the cap). The semantic trade is explicit and the same one minhash
    * has always documented: pairs entirely inside an over-cap bucket are not
    * reported — at the thresholds these operators serve, such buckets are
    * boilerplate, and boilerplate belongs to exact dedup, not near-dup LSH.
    *
    * The truncation is LOUD: the same walk counts banded rows, dropped rows
    * and dropped buckets per partition into the plan's
    * [[GraftMetrics.CapCounts]] accumulator (no extra aggregate, join or
    * job), which warns on stderr past [[GraftMetrics.WarnDropFraction]] and
    * feeds [[GraftMetrics.lastBucketCapStats]](opName) — a saturated-bucket
    * corpus cannot silently read as "no near-duplicates".
    *
    * The exchange has an explicit width, one partition per core (the
    * `defaultParallelism` that [[Spread.cpuBound]] also spreads to): the
    * walk's cost is its pair emission, quadratic per bucket, not the bytes
    * of the ~16-byte band rows. AQE sizes a plain repartition by bytes, and
    * it coalesced a ~2 MB band exchange onto ONE task, so the walk and the
    * `distinct` above it ran serially. AQE never coalesces a repartition to
    * a given number of partitions. `spark.sql.shuffle.partitions` is the
    * wrong width: at Spark's default of 200 on 4 cores, a 6000-doc minhash
    * pair pass ran 200 tiny sort-and-walk tasks and took 3x as long as on
    * the one coalesced task (3.8 vs 1.3 s; 1.0 s at one task per core).
    */
  private def bucketPairs(banded: DataFrame, bucketCol: String,
      maxBucketSize: Int, opName: String): DataFrame = {
    val counts = GraftMetrics.capCounts(banded.sparkSession, opName, maxBucketSize)
    val key = banded.schema.fieldIndex(bucketCol)
    val carried = banded.schema.fields.indices.filter(_ != key).toArray
    def side(suffix: String) = carried.map(i =>
      banded.schema(i).copy(name = banded.schema(i).name + suffix))
    banded.repartition(banded.sparkSession.sparkContext.defaultParallelism, col(bucketCol))
      .sortWithinPartitions(col(bucketCol), col("_id"))
      .mapPartitions { (rows: Iterator[Row]) =>
        val it = rows.buffered
        var bandedRows, droppedRows, droppedBuckets = 0L
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          val bucket = it.head.get(key)
          val run = ArrayBuffer.empty[Array[Any]]
          var n = 0L
          while (it.hasNext && it.head.get(key) == bucket) {
            val r = it.next()
            n += 1
            if (n <= maxBucketSize) run += carried.map(r.get)
          }
          bandedRows += n
          if (n > maxBucketSize) { droppedRows += n; droppedBuckets += 1; run.clear() }
          if (bucket == null) run.clear()
          for (i <- run.indices.iterator; j <- (i + 1 until run.length).iterator)
            yield Row.fromSeq(ArraySeq.unsafeWrapArray(run(i) ++ run(j)))
        } ++ {
          counts.record(bandedRows, droppedRows, droppedBuckets)
          Iterator.empty
        }
      }(Encoders.row(StructType(side("_a") ++ side("_b"))))
      .filter(col("_id_a") < col("_id_b"))
  }

  /** Distinct `(id_a, id_b)` candidates of an `(_id, bucketCol)` banded frame
    * (a pair meeting in several buckets comes out once).
    */
  private def candidatePairs(banded: DataFrame, bucketCol: String, maxBucketSize: Int,
      opName: String): DataFrame =
    bucketPairs(banded, bucketCol, maxBucketSize, opName)
      .select(col("_id_a").as("id_a"), col("_id_b").as("id_b"))
      .distinct()

  /** The verify step of the families whose payload rejoins the candidates
    * (minhash, embedding): `payload` is `(_id, <payload columns>)`, joined
    * onto the distinct `(id_a, id_b)` candidates once per side with its
    * columns suffixed `_a` / `_b`; `score` (over those suffixed columns,
    * named) is computed once per pair and kept where >= `threshold`, as
    * `(id_a, id_b, <score>)`.
    *
    * Whether a payload rides the bucket walk or rejoins here is decided by
    * its width. A minhash signature is ~1 KB (128 x 8 B), so minhash drops
    * it before the band exchange, which then carries ~16 B rows, and brings
    * it back only for the far smaller candidate set; an embedding does the
    * same with its vector. Simhash's 8-byte hash is as narrow as an id, so
    * it rides the walk and the verify needs no join at all.
    */
  private def verifiedPairs(candidates: DataFrame, payload: DataFrame, score: Column,
      threshold: Double): DataFrame = {
    def side(suffix: String) = payload.select(payload.columns.toSeq.map(c =>
      col(c).as(if (c == "_id") s"id$suffix" else s"$c$suffix")): _*)
    val pairs = candidates.join(side("_a"), Seq("id_a")).join(side("_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), score)
    pairs.filter(col(pairs.columns(2)) >= threshold)
  }

  /** MinHash band keys as narrow `(_band, _id)` rows — the signature is
    * dropped BEFORE anything shuffles, so the band exchange carries ~16
    * bytes/row — paired by [[bucketPairs]] into distinct `(id_a, id_b)`
    * candidates.
    *
    * Documents with no shingles at all (empty/whitespace/punct-only text)
    * share the sentinel all-Long.MaxValue signature and would pair
    * everything with everything; they belong to exact dedup, not LSH. They
    * (and null signatures) emit no band rows, so they are never candidates.
    * The check sits inside the explode, not in a Filter: in
    * [[minHashCandidatePairs]] nothing stops Catalyst from pushing a Filter
    * on a computed signature under the spread onto the scan, which hashes
    * every text twice (see [[Spread.cpuBound]]).
    */
  private def minHashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int): DataFrame = {
    val real = element_at(col("_sig"), 1) =!= Long.MaxValue
    val banded = sigs.select(
      col("_id"),
      explode(when(real, array((0 until bands).map(b =>
        minhash_band_key(col("_sig"), b, rowsPerBand)): _*))).as("_band"))
    candidatePairs(banded, "_band", maxBucketSize, "minhash")
  }

  /** MinHash-LSH candidate pairs: documents sharing >= 1 of `bands` band
    * keys, as (idA < idB) distinct pairs. Signatures are computed per-row
    * and never shuffle — the band exchange carries only `(band, id)`.
    */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 5,
      maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    minHashCandidates(minHashSignatures(df, idCol, textCol, numHashes, shingleSize)
      .toDF("_id", "_sig"), bands, numHashes / bands, maxBucketSize)
  }

  /** MinHash-LSH near-duplicate pairs with estimated similarity >= threshold.
    *
    * Scale shape: the band exchange and the bucket pass carry only
    * `(band, id)` rows, and the signatures are re-joined only for the (far
    * smaller) candidate-pair set to compute the estimated Jaccard.
    *
    * The signature frame ([[minHashSignatures]], hashed once per row above
    * its spread) has three consumers (banding and the two candidate
    * rejoins), so it is lazily localCheckpointed: every text is hashed once
    * and ~(numHashes x 8)B/row are materialized to the block managers
    * (memory, spilling to local disk). That is right when documents are
    * larger than their signatures (real web pages). For corpora of documents
    * SMALLER than their 1 KB signatures, or tight executor disk (found the
    * hard way: a 64M-row short-doc soak spilled ~70 GB of checkpointed
    * signatures and filled the disk), store the signatures at ingest with
    * [[minHashSignatures]] and pair them with
    * [[minHashNearDupPairsOnSignatures]].
    */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 5,
      maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    pairsFromSigFrame(minHashSignatures(df, idCol, textCol, numHashes, shingleSize)
      .toDF("_id", "_sig").localCheckpoint(eager = false),
      threshold, bands, numHashes / bands, maxBucketSize)
  }

  /** Banding + candidate generation + estimated-Jaccard verify over an
    * `(_id, _sig)` signature frame — the pipeline shared by the from-text
    * and from-stored-signatures entry points. It holds their one sentinel
    * rule: null signatures and the shingle-less sentinel (all
    * Long.MaxValue, which would pair every shingle-less document with every
    * other) are filtered out before banding and before both rejoins. A
    * Filter is safe here: the text path's `sigs` is a lazy local checkpoint,
    * which Catalyst cannot push it under, so the signatures are still
    * computed once and above the spread; on the stored path it reaches the
    * scan, where nothing is hashed. The estimate is the fraction of equal
    * slots (codegen'd VecEqFraction kernel, once per candidate pair).
    */
  private def pairsFromSigFrame(sigs: DataFrame, threshold: Double, bands: Int,
      rowsPerBand: Int, maxBucketSize: Int): DataFrame = {
    val real = sigs.filter(col("_sig").isNotNull && element_at(col("_sig"), 1) =!= Long.MaxValue)
    verifiedPairs(minHashCandidates(real, bands, rowsPerBand, maxBucketSize), real,
      vec_eq_fraction(col("_sig_a"), col("_sig_b")).as("est_jaccard"), threshold)
  }

  /** `(idCol, minhash_sig array<long>)` minhash signatures of `textCol` for
    * every row: the one signature step of every minhash path. Ingest runs
    * it for [[minHashNearDupPairsOnSignatures]], and [[minHashCandidatePairs]]
    * and [[minHashNearDupPairs]] run it on the text. Shingle-less docs keep
    * their all-Long.MaxValue sentinel signature and null texts a null one;
    * every pair path excludes both. Persist this once when documents land;
    * every later dedup run then reads ~numHashes x 8 B/row instead of
    * re-hashing the text.
    *
    * Signature hashing is the CPU wall of a minhash pass, so the projected
    * (id, text) frame is spread over the cores first ([[Spread.cpuBound]], a
    * no-op at production input-split counts) and each signature is computed
    * once, above the spread: a narrow input such as a one-file table cannot
    * serialize the hashing onto one task. Written as it is, a spread frame
    * makes one file per core.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 5): DataFrame =
    Spread.cpuBound(df.select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id").as(idCol),
        minhash_signature(col("_t"), numHashes, shingleSize).as("minhash_sig"))

  /** [[minHashNearDupPairs]] over PRE-COMPUTED signatures (`sigCol`, as
    * written by [[minHashSignatures]] at ingest) — the same
    * fingerprint-at-ingest pattern as [[simHashNearDupPairsOnHashes]].
    *
    * Scale rationale (measured, BASELINE.md round 2): the text path hashes
    * the corpus on every run and localCheckpoints the signatures for its
    * three consumers (banding + two candidate rejoins), which spilled
    * ~70 GB at 64M short docs. Stored signatures avoid both: each consumer
    * re-READS a column-pruned ~(numHashes x 8)B/row parquet projection
    * instead of re-hashing text, nothing is checkpointed, and the shingling
    * CPU is paid exactly once at ingest for the corpus's lifetime.
    *
    * `numHashes`/`bands` must match the ingest-time parameters (signatures
    * of a different width would band on wrong slots); null signatures and
    * the shingle-less sentinel are excluded like the text path. Identical
    * results to [[minHashNearDupPairs]] on the same corpus by construction
    * — both run [[pairsFromSigFrame]] on the same signature values.
    */
  def minHashNearDupPairsOnSignatures(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 16,
      maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    // in-plan width guard (no extra pass): a stored signature narrower than
    // numHashes would make every high band key a CONSTANT (all slots out of
    // range), banding the whole corpus into one bucket per band — either a
    // quadratic self-join or a silently-capped empty result. Fail fast with
    // the actual widths instead. Null signatures pass (size(null) is null
    // and would take the raise_error branch); pairsFromSigFrame drops them.
    val checkedSig = when(col(sigCol).isNull || size(col(sigCol)) === numHashes, col(sigCol))
      .otherwise(raise_error(format_string(
        s"stored minhash signature has %s slots but numHashes=$numHashes was " +
          s"requested — pass the ingest-time numHashes", size(col(sigCol))))
        .cast("array<bigint>"))
    pairsFromSigFrame(df.select(col(idCol).as("_id"), checkedSig.as("_sig")),
      threshold, bands, numHashes / bands, maxBucketSize)
  }

  /** One-pass near-dup dedup over a pair list from any of the pair
    * functions above: drops every `df` row whose id has a more-senior
    * (smaller-id) near-duplicate, i.e. every id that appears on the `id_b`
    * side of `pairs`. One LSH pass is the standard training-data practice;
    * it is not transitive — a chain A~B~C with A!~C keeps both A and C
    * (use [[dedupTransitiveByPairs]] to keep one doc per chain). Rows whose
    * id appears in no pair survive: isolated docs, null ids, and `df` rows
    * missing from the table the pairs came from (e.g. docs without a stored
    * fingerprint — the pair table's ids must align with `df`'s `idCol`
    * values). The loser list is small next to the corpus, so AQE
    * broadcasts the anti-join build side.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dropIds(df, idCol, pairs.select(col("id_b")))

  /** Cluster-aware near-dup dedup over a pair list from any of the pair
    * functions above: keeps exactly ONE row id (the minimum) per TRANSITIVE
    * near-duplicate cluster. The pair list is closed into connected
    * components by [[nearDupClusters]] (contracted on the cluster until it
    * fits under the driver's edge cap, then union-find on the driver), and
    * every row whose component minimum is not its own id drops. Costs the
    * clustering on top of the LSH pass — the pair list, not the corpus,
    * drives that cost. Pair endpoints absent from `df` bridge no
    * components; rows whose id appears in no pair (null ids included)
    * survive, as with [[dedupByPairs]].
    */
  def dedupTransitiveByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dedupTransitiveByPairs(df, idCol, pairs, DriverMaxEdges)

  /** [[dedupTransitiveByPairs]] with [[nearDupClusters]]' driver edge cap given. */
  private[ops] def dedupTransitiveByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      driverMaxEdges: Int): DataFrame =
    dropIds(df, idCol,
      nearDupClusters(df.select(col(idCol)), idCol, pairs.select(col("id_a"), col("id_b")),
        driverMaxEdges)
        // cluster labels ARE component minima: a row loses iff its label is
        // not its own id
        .filter(col(idCol) =!= col("cluster_id"))
        .select(col(idCol)))

  /** Left-anti join of `df` against the one-column id list `ids`. */
  private def dropIds(df: DataFrame, idCol: String, ids: DataFrame): DataFrame = {
    val losers = ids.toDF("_loser").distinct()
    df.join(losers, df(idCol) === col("_loser"), "left_anti")
  }

  /** Frees a localCheckpoint's blocks NOW instead of waiting for GC-driven
    * cleanup. ONLY for checkpoints that nothing can reference again — a
    * freed local checkpoint cannot be recomputed (its lineage is severed).
    * Same lesson as [[Similarity.compactIndex]]: resident blocks from a
    * finished step tax everything that runs after.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Edge-count ceiling for [[nearDupClusters]]' driver union-find. Near-dup
    * pair lists are tiny next to their corpus — when the whole list fits
    * comfortably on the driver, one collect replaces every contraction
    * round's join/checkpoint/probe jobs (measured: ~1.3 s of fixed cost per
    * clustering at bench scale); a longer list is contracted on the cluster
    * until it fits, so corpus-scale pair lists never reach the driver.
    */
  private val DriverMaxEdges = 1000000

  /** Transitive near-duplicate clusters from a pair list: the connected
    * components of the pairs whose endpoints are both ids of `df`, each
    * labeled by its minimum id. Returns (id, cluster_id); docs without any
    * pair map to themselves, null ids to null.
    *
    * One algorithm: contraction on the cluster, then a driver finish (the
    * shape of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014). Each round does one hop of min-label propagation
    * over the edges PLUS a pointer-jumping step (label := label(label)), so
    * round r covers chains of length ~2^r. After each round the contracted
    * list is every edge whose endpoints still carry different labels, as
    * (label_a, label_b); as soon as it fits under the driver's edge cap
    * (1M edges), union-find on the driver maps every surviving label to its
    * component minimum. Labels only decrease and stay inside their
    * component, so the finish is exact whatever the round count, and the
    * rounds end: a converged labeling leaves no contracted edge. Ids that
    * are not long get cap 0 — their rounds run until no edge crosses two
    * labels.
    *
    * Zero rounds: a pair list with integral ids that already fits goes to
    * the driver as it is. Its job shape: reading the pair list (none when it
    * is already a driver-side LocalRelation, else the pair list's own jobs,
    * run once into a lazy local checkpoint), one job that probes `df`'s id
    * column for the edge endpoints, and at the caller's action a single
    * scan of `df` that looks each id up in a broadcast label table — no join
    * and no exchange. A LocalRelation pair list skips the checkpoint because
    * its rows already sit in the plan: collecting it runs no job, while
    * checkpointing it would cost three.
    */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame // (id_a, id_b) with id_a < id_b
  ): DataFrame =
    nearDupClusters(df, idCol, pairs, DriverMaxEdges)

  /** [[nearDupClusters]] with the driver's edge cap given (0 contracts until
    * no edge crosses two labels): tests force the rounds through it.
    */
  private[ops] def nearDupClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      driverMaxEdges: Int): DataFrame = {
    // The pair list is typically itself an LSH pipeline, so it is evaluated
    // ONCE: a lazy local checkpoint, materialized by its first reader (the
    // zero-round head(), or the first round), feeds every later reader. A
    // pair list that optimizes to a LocalRelation is read as it is.
    val projected = pairs.select(col("id_a"), col("id_b"))
    val pairList = projected.queryExecution.optimizedPlan match {
      case _: LocalRelation => projected
      case _ => projected.localCheckpoint(eager = false)
    }
    // the driver unions long labels only (the min-label order of other
    // types belongs to Catalyst)
    val cap = if (df.schema(idCol).dataType == LongType) driverMaxEdges else 0
    // Zero rounds: collect the pair list once and run union-find on the
    // driver. Only for integral pair ids: the cast to df's longs must not
    // merge ids that Catalyst's comparison keeps apart.
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    if (cap > 0 && Seq("id_a", "id_b").forall(f => integral(pairs.schema(f).dataType))) {
      val collected = pairList
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        // null-endpoint edges are inert in the rounds (equi-joins skip null
        // keys) — dropping them here is the identical semantics
        .filter(col("id_a").isNotNull && col("id_b").isNotNull)
        .head(cap + 1)
      if (collected.length <= cap) {
        freeCheckpoint(pairList)
        return driverClusters(df, idCol, collected)
      }
    }
    // every round joins both directions of the pair list
    val edges = pairList
      .union(pairList.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // `labels` is (_id, cluster_id) in df's id type. Round 0 labels every
    // distinct id of `df` by itself; the distinct keeps one label per id (an
    // id that `df` repeats would otherwise multiply its edges), and the
    // inner joins keep pair endpoints outside `df` from receiving labels or
    // bridging components. From round 1 on only ids with an edge carry a
    // label: an isolated doc's label never changes, and isolated docs rejoin
    // once in the finish. Later labels are a plan over the previous round's
    // checkpoint, so one job cascade per round runs the hop, the jump and
    // the next edge labeling.
    @tailrec def contract(labels: DataFrame, round: Int): DataFrame = {
      // every directed edge between two labeled ids, with both labels (both
      // joins read one exchange of `labels`: renaming its columns would
      // shuffle it twice). The checkpoint truncates the lineage (the plan
      // would double per round) and drops the origin's size estimate (a
      // join's estimate is the product of its children's, so it would
      // compound per round).
      val labeled = CheckpointShim.localCheckpoint(edges
        .join(labels.as("b"), col("id_b") === col("b._id"))
        .join(labels.as("a"), col("id_a") === col("a._id"))
        .select(col("a._id").as("_ida"), col("a.cluster_id").as("_la"),
          col("b.cluster_id").as("_lb")))
      // round 0's labels are df's own plan, which may hold the caller's
      // checkpoints
      if (round > 0) freeCheckpoint(labels)
      val byId = labeled.groupBy(col("_ida").as("_id"))
      // the contracted list, one row per crossing edge: of its two
      // directions only one has _la < _lb
      lazy val contracted = labeled.filter(col("_la") < col("_lb"))
        .select(col("_la"), col("_lb")).head(cap + 1)
      if (round > 0 && contracted.length <= cap) {
        freeCheckpoint(pairList)
        driverClusters(df, idCol, contracted, Some(byId.agg(min(col("_la")).as("cluster_id"))))
      } else {
        // hop: min of own and neighbors' labels
        val hopped = byId.agg(least(min(col("_la")), min(col("_lb"))).as("cluster_id"))
        // pointer jump: adopt the label of the current label (path halving)
        val parents = hopped.toDF("_pid", "_plabel")
        contract(hopped
          .join(parents, col("cluster_id") === col("_pid"), "left")
          .select(col("_id"),
            least(col("cluster_id"), coalesce(col("_plabel"), col("cluster_id")))
              .as("cluster_id")), round + 1)
      }
    }
    contract(df.select(col(idCol).as("_id")).distinct()
      .select(col("_id"), col("_id").as("cluster_id")), 0)
  }

  /** Driver-side exact connected components for [[nearDupClusters]]:
    * union-find with path compression over the collected edge list, roots
    * resolved to component minima.
    *
    * Without `roundLabels` (zero rounds) the edges are pairs of ids. Edges
    * touching an id absent from `df` are dropped BEFORE any union,
    * preserving the contract that outside endpoints neither receive labels
    * nor bridge components. Membership is one job: the sorted distinct
    * endpoints (at most 2x the edge cap) go to the tasks as a broadcast, and
    * each task of a scan of `df`'s id column returns the set of endpoints it
    * saw as a bit set over their indices. The labels return as a broadcast
    * table that each row of `df` looks its id up in; ids outside it label to
    * themselves, null ids to null.
    *
    * With `roundLabels` (the finish after contraction rounds) the edges are
    * the contracted list, pairs of labels, which are ids of `df` already.
    * Each row of `df` takes its round label (its own id when it has none)
    * and looks that up in the same broadcast table.
    */
  private def driverClusters(df: DataFrame, idCol: String, edgeRows: Array[Row],
      roundLabels: Option[DataFrame] = None): DataFrame = {
    import java.util.{Arrays, BitSet}
    val sc = df.sparkSession.sparkContext
    val endpoints: Array[Long] = {
      val all = edgeRows.flatMap(r => Array(r.getLong(0), r.getLong(1)))
      Arrays.sort(all)
      var n = 0
      all.indices.foreach { i => if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 } }
      Arrays.copyOf(all, n)
    }
    val present = new BitSet(endpoints.length)
    if (roundLabels.nonEmpty) present.set(0, endpoints.length)
    else if (endpoints.nonEmpty) {
      val probe = sc.broadcast(endpoints)
      try df.select(col(idCol)).queryExecution.toRdd.mapPartitions { rows =>
        val keys = probe.value
        val seen = new BitSet(keys.length)
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val i = Arrays.binarySearch(keys, r.getLong(0))
            if (i >= 0) seen.set(i)
          }
        }
        Iterator.single(seen.toLongArray)
      }.collect().foreach(words => present.or(BitSet.valueOf(words)))
      finally probe.destroy()
    }
    // union-find over endpoint indices: the endpoints are sorted, so the
    // smaller root index is the smaller id
    val parent = Array.tabulate(endpoints.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { e =>
      val a = Arrays.binarySearch(endpoints, e.getLong(0))
      val b = Arrays.binarySearch(endpoints, e.getLong(1))
      if (present.get(a) && present.get(b)) {
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    lazy val label = {
      val table = sc.broadcast((endpoints, endpoints.indices.map(i => endpoints(find(i))).toArray))
      udf { (id: Long) =>
        val (ids, labels) = table.value
        val i = Arrays.binarySearch(ids, id)
        if (i >= 0) labels(i) else id
      }
    }
    roundLabels match {
      case None => df.select(col(idCol).as(idCol), label(col(idCol)).as("cluster_id"))
      case Some(labels) =>
        val own = coalesce(col("cluster_id"), col("_id"))
        // non-long ids finish with no edge left, so they need no lookup
        df.select(col(idCol).as("_id")).join(labels, Seq("_id"), "left")
          .select(col("_id").as(idCol),
            (if (edgeRows.isEmpty) own else label(own)).as("cluster_id"))
    }
  }

  // --- SimHash multi-piece bucketing --------------------------------------
  // The 64-bit simhash is split into `maxHamming + 3` near-equal blocks and
  // bucketed on every block TRIPLE. A pair within Hamming <= m corrupts at
  // most m blocks, so at least (m + 3) - m = 3 blocks agree BIT-FOR-BIT —
  // the pair shares at least one of the C(m+3, 3) triple keys (pigeonhole;
  // the guarantee needs blocks - tripleSize >= maxHamming). At the default
  // m = 3 that is 6 blocks (11,11,11,11,10,10 bits) and 20 keys of ~32 bits
  // — vs 16 bits for the retired 4-quarter scheme, whose every bucket
  // passed any sane cap by a few million docs (and, measured, saturated on
  // TEMPLATED text at only 2M): random-corpus occupancy drops from
  // corpus/2^16 per quarter to corpus/2^32 per triple, sparse into the
  // billions. Larger m trades both fan-out and key width: m = 6 buckets on
  // C(9,3) = 84 keys of ~21 bits (occupancy corpus/2M per key). Cost at
  // m = 3: 20 (key, id, hash) rows per doc instead of 4 — ~5x the (still
  // tiny, ~24 B/row) band traffic.
  val SimHashMaxHammingLimit = 6

  /** Near-even 64-bit split into `blocks` pieces: the first (64 mod blocks)
    * blocks take the extra bit. blocks = 6 yields 11,11,11,11,10,10 —
    * bit-identical to the fixed layout the 20-triple scheme shipped with.
    */
  private[ops] def simHashBlockBits(blocks: Int): Array[Int] =
    Array.tabulate(blocks)(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))

  private[ops] def simHashTriples(blocks: Int): IndexedSeq[(Int, Int, Int)] =
    for {
      i <- 0 until blocks
      j <- i + 1 until blocks
      k <- j + 1 until blocks
    } yield (i, j, k)

  /** All C(blocks,3) block-triple bucket keys of one 64-bit simhash column,
    * each ONE long: the triple index in the top bits tags the triple's three
    * blocks concatenated — `t << 48 | blocks`, collision-free across triples
    * by construction (the widest supported triple is 3 x 16 = 48 bits at 4
    * blocks, and the largest tag, C(9,3) - 1 = 83, fits bits 48..55). A
    * flat 8-byte key shuffles, hashes, and aggregates cheaper than a struct
    * key. Pure column algebra over one projected hash value — the hash is
    * computed once per row, never per key.
    */
  private def simHashTripleKeys(sh: Column, blocks: Int): Column = {
    val bits = simHashBlockBits(blocks)
    val offset = bits.scanLeft(0)(_ + _).init
    def block(b: Int): Column =
      shiftrightunsigned(sh, offset(b)).bitwiseAND(lit((1L << bits(b)) - 1))
    array(simHashTriples(blocks).zipWithIndex.map { case ((i, j, k), t) =>
      shiftleft(block(i), bits(j) + bits(k)) +
        shiftleft(block(j), bits(k)) + block(k) +
        lit(t.toLong << 48)
    }: _*)
  }

  /** SimHash near-duplicate pairs: same 64-bit simhash up to `maxHamming`
    * differing bits (0..[[SimHashMaxHammingLimit]]; 0 = identical hashes
    * only, bucketed like maxHamming = 1). Buckets by the
    * C(maxHamming+3, 3) block-triple keys (any pair within the Hamming bound
    * must fully agree on at least one triple — see [[simHashBlockBits]]),
    * verifies exact Hamming distance inside buckets only. Completeness
    * therefore never depends on luck: bucketing is a covering code for the
    * requested bound, and the verify filter makes false bucket collisions
    * harmless. Fan-out and key width both scale with the bound (m = 3: 20
    * keys of ~32 bits; m = 6: 84 keys of ~21 bits) — prefer the smallest
    * maxHamming the task tolerates.
    *
    * `maxBucketSize` caps triple buckets exactly like minhash's band cap: a
    * boilerplate-heavy corpus where thousands of near-identical docs share
    * all blocks would otherwise go quadratic in those buckets. Pairs
    * entirely inside an oversized bucket are not reported (see
    * [[bucketPairs]]); with ~32-bit keys a RANDOM corpus never
    * approaches the cap below billions of docs — oversized buckets now
    * always mean true boilerplate, which belongs to exact dedup.
    */
  def simHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    simHashPairs(
      // simhash64 tokenizes + hashes every word: spread the projected
      // (id, text) frame so a narrow input cannot serialize the hash pass
      Spread.cpuBound(df.select(col(idCol).as("_id"), col(textCol).as("_t")))
        .select(col("_id"), simhash64(col("_t")).as("_sh")),
      // hash 0 is the zero-FEATURE case (empty/whitespace/punct-only text:
      // no word hashes, all counters 0) — the simhash analogue of minhash's
      // shingle-less sentinel. Such docs carry no content signal, yet all
      // share hash 0 and would pair with each other at "hamming 0" despite
      // different raw bytes; they belong to exact dedup, not LSH. A REAL
      // text hashing to exactly 0 needs all 64 counters balanced-or-
      // negative simultaneously (~2^-64 for non-degenerate inputs). Null
      // (null text) fails the check too.
      col("_sh") =!= 0L, maxHamming, maxBucketSize)

  /** [[simHashNearDupPairs]] over PRE-COMPUTED 64-bit simhashes (`hashCol`):
    * corpora that store fingerprints (e.g. via `simhash64` at ingest) skip
    * re-hashing the text, and synthetic-hash soaks can exercise the
    * bucketing at web scale without materializing web-scale text. Only
    * null hashes drop; a stored 0 is a hash like any other and pairs.
    */
  def simHashNearDupPairsOnHashes(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    // null hashes (null text upstream, or nulls in a stored fingerprint
    // column) can never pair — a null key matches nothing in the bucket
    // equi-join — but WOULD band into one shared null bucket first, where a
    // null-heavy corpus pollutes the drop-share metric (and pays 20
    // exchange rows per null). They belong out of LSH entirely, like
    // minhash's shingle-less docs.
    simHashPairs(df.select(col(idCol).as("_id"), col(hashCol).as("_sh")),
      col("_sh").isNotNull, maxHamming, maxBucketSize)

  /** The simhash pair pipeline over an `(_id, _sh)` frame: rows failing
    * `keep` emit no bucket rows. The check sits inside the explode, not in
    * a Filter, so that a hash computed after [[Spread.cpuBound]] is not
    * pushed back onto the scan and computed twice.
    */
  private def simHashPairs(hashed: DataFrame, keep: Column, maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= SimHashMaxHammingLimit,
      s"block-triple bucketing supports maxHamming <= $SimHashMaxHammingLimit " +
        s"(maxHamming + 3 blocks keyed on triples; got $maxHamming — beyond " +
        s"$SimHashMaxHammingLimit the ~${64 / (SimHashMaxHammingLimit + 3)}-bit " +
        s"blocks stop discriminating and the fan-out grows combinatorially)")
    val blocks = math.max(maxHamming, 1) + 3
    bucketPairs(
      hashed.select(col("_id"), col("_sh"),
        explode(when(keep, simHashTripleKeys(col("_sh"), blocks))).as("_bucket")),
      "_bucket", maxBucketSize, "simhash")
      .select(col("_id_a").as("id_a"), col("_id_b").as("id_b"),
        bit_count(col("_sh_a").bitwiseXOR(col("_sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a pair can share several agreeing triples; min() is pure dedup (the
      // hamming of a pair is the same in every bucket it meets in)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Exact n-gram Jaccard similarity of two text columns (built-in set
    * algebra over shingle hash sets). Two shingle-less texts have no defined
    * similarity and yield NULL — without the guard Spark 4's default ANSI
    * mode would throw DIVIDE_BY_ZERO on the empty union.
    */
  def ngramJaccard(textA: Column, textB: Column, shingleSize: Int = 5): Column = {
    val sa = shingle_set(textA, shingleSize)
    val sb = shingle_set(textB, shingleSize)
    val union = size(array_union(sa, sb))
    when(union > 0,
      size(array_intersect(sa, sb)).cast("double") / union.cast("double"))
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH buckets prune the
    * candidate space, exact cosine verifies inside buckets. Pairs with
    * cosine >= threshold, (idA < idB) distinct.
    *
    * Scale shape — the same one minhash earned the hard way: the bucket
    * exchange and the bucket pass carry ONLY `(bucket, id)` (~20
    * bytes/row); the vectors are re-joined by id for the far smaller
    * distinct candidate-pair set, so each pair's cosine is computed exactly
    * once (the previous shape shuffled `tables` copies of every vector
    * through the self-join and scored a pair once per shared bucket).
    *
    * Dirty vectors (wrong length, null elements, non-finite, all-zero) get
    * no buckets from the kernel and drop out of LSH entirely. `maxBucketSize`
    * caps the remaining buckets like minhash's band cap — a direction shared
    * by a huge number of embeddings (e.g. a template cluster) would
    * otherwise go quadratic in its bucket; pairs entirely inside an
    * oversized bucket are not reported (see [[bucketPairs]]).
    *
    * Nothing is materialized: the one fingerprint, `hyperplane_buckets`, is
    * computed once, in the banding branch, and the two candidate rejoins
    * re-read the column-pruned (id, vec) input with its norm, the way
    * [[minHashNearDupPairsOnSignatures]] re-reads stored signatures.
    *
    * SIZING `planes`: each table has 2^planes buckets and candidate work is
    * sum(bucketSize^2) per table, so aim for
    * `planes >= log2(corpus / desired_bucket_size)` — e.g. 2M vectors at
    * ~30/bucket needs 16 planes; the old default of 10 (1024 buckets/table)
    * put ~2000 random vectors in every bucket at 2M corpus and made the
    * self-join a 10^10-pair explosion (measured, BASELINE.md). More planes =
    * fewer false candidates but lower recall per table; add tables to buy
    * recall back.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      planes: Int = 16,
      tables: Int = 6,
      maxBucketSize: Int = 10000): DataFrame = {
    // norms once per row of each rejoin side, never per candidate pair (the
    // banding branch prunes them)
    val vecs = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      vec_norm(col(vecCol)).as("_n"))
    val candidates = candidatePairs(
      Similarity.tableBuckets(vecs, "_v", dim, planes, tables).select(col("_id"), col("_bucket")),
      "_bucket", maxBucketSize, "embedding")
    verifiedPairs(candidates, vecs,
      Similarity.cosineOf(col("_v_a"), col("_n_a"), col("_v_b"), col("_n_b")).as("cosine"),
      threshold)
  }
}
