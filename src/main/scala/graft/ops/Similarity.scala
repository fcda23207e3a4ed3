package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Two paths:
  *   - brute force: broadcast the (small) query set, score every corpus row,
  *     window top-k — the exact baseline;
  *   - hyperplane LSH: deterministic random-hyperplane sign buckets; the join
  *     touches only matching buckets, the standard recall/cost dial at
  *     corpus scale (multi-probe via several independent tables).
  * All vector math runs through the codegen'd VecDot/VecNorm kernels (the
  * built-in zip_with/aggregate higher-order functions are CodegenFallback —
  * interpreted lambda dispatch per element); norms are computed once per
  * row, never per candidate pair. No UDFs, no RDDs.
  */
object Similarity {

  /** Dot product of two array<float>/array<double> columns — the codegen'd
    * VecDot kernel (bit-identical to the zip_with+aggregate formulation it
    * replaced, which was CodegenFallback and paid interpreted lambda
    * dispatch per element).
    */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  /** L2 norm (codegen'd VecNorm kernel). */
  def norm(a: Column): Column = graft.functions.vec_norm(a)

  /** Cosine similarity in [-1, 1]; 0 when either vector is zero. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** Exact brute-force top-k: for each query row, the k nearest corpus rows
    * by cosine. The query side is broadcast — corpus scans once, no shuffle
    * of the corpus itself.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    // norms once per side, not per (corpus x query) pair
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"),
      norm(col(queryVec)).as("_qn"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"),
      norm(col(corpusVec)).as("_cn"))
    val denom = col("_qn") * col("_cn")
    val scored = c.crossJoin(broadcast(q))
      .select(
        col("query_id"),
        col("neighbor_id"),
        when(denom > 0, dot(col("_qv"), col("_cv")) / denom)
          .otherwise(lit(0.0)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-bucket key: `planes`-bit integer of dot-product signs for one LSH
    * table (offset selects independent plane sets). Deterministic
    * wyhash-derived planes — THE definition lives in
    * graft.sql.HyperplaneBuckets.plane; this column-algebra form is kept for
    * single-table use and as the independent formulation the kernel is
    * property-tested against.
    */
  def hyperplaneBucket(vec: Column, dim: Int, planes: Int, tableOffset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val plane = typedLit(
        graft.sql.HyperplaneBuckets.plane(tableOffset * planes + p, dim).toSeq)
      when(dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic IVF coarse quantizer: k-means (k-means++ init, Lloyd
    * iterations, cosine geometry — all vectors and centroids L2-normalized)
    * trained on a driver-collected sample, exactly the standard IVF train
    * step.
    *
    * The sample is a deterministic HASH-SPREAD sample: rows are ranked by
    * the wyhash of their vector content, the smallest hashes win, and exact
    * duplicate vectors collapse to ONE sample slot (driver-side dedup over a
    * 2x-oversampled window). Because the rank is a pure function of each
    * row's VALUE, the sample (and therefore the centroids) is reproducible
    * across runs, partitionings, and row orders, AND it draws from the
    * whole corpus — a plain `limit(n)` would pull from whichever partitions
    * scan first, so a corpus clustered by topic/source would train the
    * quantizer on one unrepresentative slice and silently cost recall. The
    * quantizer is thus trained over distinct vector VALUES, not row
    * frequencies. The plan is a TakeOrderedAndProject: one scan,
    * per-partition top-n heaps, no shuffle of the corpus.
    *
    * BOUND of the dedup window: a single vector duplicated beyond
    * ~2x`sampleSize` whose hash ranks inside the window still crowds out
    * later distinct hashes (the window fills before they are seen; a loud
    * warning is printed when most of the window collapses). For corpora
    * with such extreme template skew, pre-deduplicate the vector column
    * first — `Dedup.exactByColumns(corpus, Seq(vecCol))` — and train on the
    * result; that pays one distinct-shuffle but only for corpora that need
    * it.
    *
    * Dirty rows (null vectors, null elements, NaN/Inf components, lengths
    * differing from the majority length of the window — frequency-weighted
    * BEFORE dedup, so diverse junk lengths cannot outvote a duplicated real
    * dimension) are excluded from the sample — the serving-side kernels
    * tolerate the same shapes, so train and serve agree on what counts as
    * data.
    *
    * Returns normalized centroids for [[ivfTopK]] / `nearest_centroids`.
    * If the usable sample holds fewer than k DISTINCT directions, fewer
    * than k centroids are returned (duplicate centroids would only create
    * permanently-empty IVF cells); callers should size cells from
    * `centroids.length`, as [[ivfTopK]] does.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      vecCol: String,
      k: Int,
      sampleSize: Int = 10000,
      iterations: Int = 10,
      seed: Long = 42L): Array[Array[Double]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    // content-hash spread: deterministic in the data multiset, covers every
    // partition; vec_hash64 hashes the element BIT PATTERNS in one codegen'd
    // pass (the previous `wyhash64(cast(vec as string))` key stringified
    // every vector in the corpus to decimal text just to rank the sample).
    // Null-element vectors hash NULL and sort last — out of the window, like
    // every other dirty shape. 2x oversample, then collapse exact duplicates
    // (equal content = equal hash = adjacent in this order) so a hot
    // duplicated vector takes one slot instead of the whole window.
    val windowRows = corpus.select(col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(graft.functions.vec_hash64(col(vecCol)).asc_nulls_last)
      .limit(2 * sampleSize)
      .collect()
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
        s"vector column (Dedup.exactByColumns) for a representative sample")
    // dim by majority vote over the PRE-dedup window (ties -> smaller dim):
    // neither a single junk-length row that wins the hash order nor many
    // DISTINCT junk-length rows outvoting one heavily-duplicated real
    // dimension may define dim and silently discard the real sample
    val dim = collected.groupBy(_.length).toSeq
      .sortBy { case (len, vs) => (-vs.length, len) }
      .headOption.map(_._1).getOrElse(0)
    val sample = raw.filter(_.length == dim).map(normalize).filter(_ != null)
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
        val d = math.max(1.0 - dotArr(sample(i), c), 0.0)
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
          val d = dotArr(s, cs(c))
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
          val n = normalize(m)
          if (n == null) cs(c) else n
        }
      }
      it += 1
    }
    cs
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotArr(v, v))
    if (n == 0) null else v.map(_ / n)
  }

  /** ANN top-k via IVF: corpus rows live in their nearest-centroid cell
    * (one kernel pass, one int per row); each query probes its `nProbe`
    * nearest cells and re-ranks candidates by exact cosine. The standard
    * recall/cost dial at corpus scale: recall rises with nProbe, cost with
    * cell size (corpus/k rows per cell on average). Query side broadcasts;
    * the corpus scans once and shuffles only (cell, id, vec, norm).
    *
    * `nProbe` is clamped to `centroids.length` — [[trainIvfCentroids]] may
    * return fewer than the requested k centroids on low-diversity corpora,
    * and a fixed caller-side nProbe must keep working. Dirty QUERY vectors
    * (wrong length, null/non-finite elements, all-zero) land in no cell and
    * therefore return NO rows for that query_id — cosine against a
    * direction-less vector is undefined; filter or repair such queries
    * upstream if their absence must be surfaced.
    */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      centroids: Array[Array[Double]],
      nProbe: Int = 4): DataFrame = {
    val probe = math.min(nProbe, centroids.length)
    val corpusCells = corpus.select(
      col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"),
      norm(col(corpusVec)).as("_cn"),
      // get() is 0-based and null-safe: a bad vector's empty cell array
      // becomes a null cell (row dropped), not an ANSI array-index error
      get(graft.functions.nearest_centroids(col(corpusVec), centroids, 1), lit(0))
        .as("_cell"))
      .filter(col("_cell").isNotNull)
    val queryCells = queries.select(
      col(queryId).as("query_id"), col(queryVec).as("_qv"),
      norm(col(queryVec)).as("_qn"),
      explode(graft.functions.nearest_centroids(col(queryVec), centroids, probe))
        .as("_cell"))
    val denom = col("_qn") * col("_cn")
    // no (query, neighbor) dedup needed: each corpus row lives in exactly
    // ONE cell and a query's probed cells are distinct, so a pair can join
    // at most once — unlike lshTopK's multi-table collisions
    val candidates = corpusCells.join(broadcast(queryCells), Seq("_cell"))
      .select(col("query_id"), col("neighbor_id"),
        when(denom > 0, dot(col("_qv"), col("_cv")) / denom)
          .otherwise(lit(0.0)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Persisted IVF index: build once, probe many. [[ivfTopK]] re-assigns
  // every corpus row's cell on every call — correct, but at corpus scale the
  // usage is one build and thousands of query batches. [[assignCells]]
  // materializes (id, vec, norm, cell) PARTITIONED BY cell (plus a centroid
  // sidecar), and [[ivfTopKFromIndex]] probes with a literal partition
  // filter so the scan reads ONLY the nProbe probed cell partitions —
  // partition pruning does the work, no corpus pass at query time.
  // ------------------------------------------------------------------

  /** Relative sidecar directory holding the centroids. The underscore prefix
    * makes Spark's file listing ignore it when reading the index data (the
    * same convention as _SUCCESS/_metadata), so the sidecar can live INSIDE
    * the index path and travel with it.
    */
  private val CentroidsDir = "_centroids"

  /** Builds the persisted IVF index at `indexPath`: every corpus row is
    * assigned its nearest-centroid cell in one codegen'd kernel pass and
    * written as (id, vec, norm) PARTITIONED BY cell; the centroids land in a
    * `_centroids` parquet sidecar inside the index. Dirty vectors (wrong
    * length, null/non-finite elements, all-zero) have no cell and are not
    * indexed — the same policy as [[ivfTopK]]'s per-call assignment.
    *
    * ONE build-time shuffle keyed on the cell makes each cell written by
    * `filesPerCell` tasks — without it, partitionBy would make every task
    * write a file into every cell it sees (tasks x cells small files at
    * 100 TB). `filesPerCell` (default 1) salts the shuffle key so huge
    * cells are written in parallel instead of by a single straggler task:
    * size it so each file lands near ~1 GB (filesPerCell ~ cellBytes / 1 GB
    * at the target corpus). Build cost is one scan + one shuffle, paid once;
    * probes then prune to their cells.
    */
  private def assignedFrame(corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: Array[Array[Double]], filesPerCell: Int): DataFrame = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    val assigned = corpus.select(
      col(corpusId).as("id"), col(corpusVec).as("vec"),
      norm(col(corpusVec)).as("norm"),
      get(graft.functions.nearest_centroids(col(corpusVec), centroids, 1), lit(0))
        .as("cell"))
      .filter(col("cell").isNotNull)
    // keyed on cell alone, ONE task writes each whole cell — at corpus scale
    // that is a corpus/cells-sized straggler (e.g. ~100 GB/cell at 100 TB
    // over 1024 cells). filesPerCell > 1 salts the shuffle key with a
    // deterministic id-hash bucket so each cell is written by filesPerCell
    // parallel tasks into filesPerCell files; size it so each file lands
    // near ~1 GB (filesPerCell ~ cellBytes / 1 GB). Readers are unaffected:
    // the salt never leaves the shuffle key.
    // A SINGLE-partition input already yields the identical one-file-per-cell
    // layout from partitionBy alone — the cell shuffle would only add an
    // exchange (the tiny-batch append case; any multi-partition or
    // adaptive-planned input keeps the shuffle, so the anti-fan-out
    // guarantee is unchanged at scale and the probe itself is always free —
    // see Spread.staticPartitionCount).
    if (filesPerCell == 1) {
      if (Spread.staticPartitionCount(assigned).exists(_ <= 1)) assigned
      else assigned.repartition(col("cell"))
    }
    // explicit partition count (one per composite key, +-hash collisions):
    // without it AQE's advisory-size coalescing would merge the salted
    // partitions right back into one writer task per cell on modest data —
    // the explicit count is also the honest statement of intended fan-out
    else assigned.repartition(centroids.length * filesPerCell, col("cell"),
      pmod(graft.functions.wyhash64(col("id")), lit(filesPerCell)))
  }

  def assignCells(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: Array[Array[Double]],
      indexPath: String,
      filesPerCell: Int = 1): Unit = {
    // STATIC overwrite forced per-write: under the session-level
    // partitionOverwriteMode=dynamic a REBUILD with retrained centroids
    // would only replace cells present in the new assignment — stale cell
    // directories from the old centroid map would survive next to the new
    // sidecar and serve wrong neighbors with no error
    assignedFrame(corpus, corpusId, corpusVec, centroids, filesPerCell)
      .write.partitionBy("cell")
      .option("partitionOverwriteMode", "static")
      .mode("overwrite").parquet(indexPath)
    // sidecar AFTER the data write: overwrite of the index dir must not wipe
    // a fresh sidecar. Written driver-side (the sidecar is a few KB — a
    // Spark write job is pure scheduling overhead) and VERIFIED by bit-exact
    // read-back; any surprise falls back to the Spark write, so a wrong
    // sidecar can never be left behind silently.
    val spark = corpus.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val sidecarDir = new org.apache.hadoop.fs.Path(s"$indexPath/$CentroidsDir")
    val wroteDirect = centroids.nonEmpty && scala.util.Try {
      val file = ParquetFooters.writeCentroids(conf, sidecarDir, centroids)
      val back = ParquetFooters.readCentroids(conf, file).sortBy(_._1)
      back.map(_._1) == centroids.indices.toSeq &&
        back.map(_._2).zip(centroids.toSeq)
          .forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }.getOrElse(false)
    if (!wroteDirect) {
      scala.util.Try(
        sidecarDir.getFileSystem(conf).delete(sidecarDir, true))
      val rows = centroids.toSeq.zipWithIndex.map { case (c, i) =>
        (i, c.toSeq)
      }
      spark.createDataFrame(rows).toDF("idx", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(sidecarDir.toString)
    }
    warnCellSkew(spark, indexPath, "assignCells")
  }

  /** Incrementally appends new corpus rows to an EXISTING index built by
    * [[assignCells]] — the daily-ingest lifecycle op at corpus scale: one
    * scan + one cell-keyed shuffle over the NEW rows only, nothing existing
    * is rewritten. Rows are assigned with the index's OWN sidecar centroids
    * (never retrained here: probe-time cell math must keep matching every
    * row already in the layout; retrain + [[assignCells]] rebuild when the
    * data distribution drifts far enough to matter). The caller owns id
    * uniqueness across the build and all appends — the index is a bag of
    * (id, vec, norm) rows and duplicate ids would both surface as
    * candidates.
    */
  def appendToIndex(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      indexPath: String,
      filesPerCell: Int = 1): Unit = {
    // refuse to append into a torn post-crash index: writing into a cell
    // whose pre-crash rows sit in the trash is exactly the interleaving the
    // recovery merge exists for — better to not create it
    val apRoot = new org.apache.hadoop.fs.Path(indexPath)
    checkIndexHealth(
      apRoot.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration),
      apRoot, "appendToIndex", requireCells = false)
    val centroids = loadCentroids(corpus.sparkSession, indexPath)
    assignedFrame(corpus, corpusId, corpusVec, centroids, filesPerCell)
      .write.partitionBy("cell")
      .mode("append").parquet(indexPath)
    // appends under distribution drift are exactly where hot cells grow —
    // the operator should hear about skew per append, not only at rebuild
    warnCellSkew(corpus.sparkSession, indexPath, "appendToIndex")
  }

  /** Driver-side (file count, byte size) per cell partition of a persisted
    * index: the fragmentation dashboard [[compactIndex]] acts on. One FS
    * listing per cell directory — cells are bounded by the centroid count
    * (~1k), so this is tiny even when the index itself is 100 TB.
    */
  private def cellFileStats(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Map[Int, (Int, Long)] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix("cell=").toInt).toOption
          .map { cell =>
            val data = fs.listStatus(s.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            cell -> (data.length, data.map(_.getLen).sum)
          }
      }.toMap
  }

  /** Per-cell (rows, files, bytes, tombstones) of a persisted index — the
    * skew AND fragmentation dashboard for probe cost: a probe that hits a
    * cell pays that cell's size in bytes and its file count in listing/open
    * overhead, and `tombstones` counts rows [[removeFromIndex]] has marked
    * but [[compactIndex]] has not yet physically dropped (probes anti-join
    * them out, at a per-probe cost proportional to this count). COUNT(*)
    * grouped by the partition column resolves from parquet footer metadata
    * (no data pages are read) and files/bytes come from one driver-side
    * listing, so this is cheap even on a 100 TB index.
    */
  def indexCellStats(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    // the dashboard stays usable on a TORN index (it is how an operator
    // diagnoses one) but must not silently under-report it
    val statsRoot = new org.apache.hadoop.fs.Path(indexPath)
    val statsFs = statsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (statsFs.exists(new org.apache.hadoop.fs.Path(statsRoot, CompactTrashDir)) ||
        statsFs.exists(new org.apache.hadoop.fs.Path(statsRoot, s"$TombstonesDir.tmp")))
      System.err.println(s"[graft] indexCellStats: $indexPath has " +
        s"interrupted-compaction leftovers — rows still in $CompactTrashDir " +
        s"are NOT counted below; run compactIndex to heal")
    val perCell = cellFileStats(spark, indexPath)
    // a legitimately emptied index (every row deleted and compacted away)
    // has no data files to infer a schema from — the dashboard must report
    // "no cells", not die in parquet schema inference
    if (perCell.isEmpty)
      return spark.createDataFrame(Seq.empty[(Int, Long, Int, Long, Long)])
        .toDF("cell", "rows", "files", "bytes", "tombstones")
    val files = spark.createDataFrame(
      perCell.toSeq.map { case (c, (f, b)) => (c, f, b) })
      .toDF("cell", "files", "bytes")
    val ts = loadTombstones(spark, indexPath) match {
      case Some(t) => t.groupBy(col("cell")).agg(count(lit(1)).as("tombstones"))
      case None => spark.createDataFrame(Seq.empty[(Int, Long)])
        .toDF("cell", "tombstones")
    }
    spark.read.parquet(indexPath)
      .groupBy(col("cell")).agg(count(lit(1)).as("rows"))
      .join(files, Seq("cell"), "left")
      .join(ts, Seq("cell"), "left")
      .na.fill(0L, Seq("tombstones"))
  }

  /** Relative sidecar directory holding (cell, id) deletion tombstones
    * written by [[removeFromIndex]]. Underscore-prefixed like `_centroids`,
    * so index data reads ignore it.
    */
  private val TombstonesDir = "_tombstones"

  /** The tombstone store as a (cell, id) frame, or None when nothing is
    * tombstoned.
    */
  private def loadTombstones(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$TombstonesDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Marks index rows for deletion — the lifecycle op a training-data
    * pipeline hits constantly (dedup survivors, quality filters, takedowns).
    * The ids are resolved to their cells with one COLUMN-PRUNED scan of the
    * index's (id, cell) projection and appended to a `_tombstones` sidecar
    * as (cell, id) rows; nothing in the data layout is rewritten. From this
    * call on:
    *   - [[ivfTopKFromIndex]] anti-joins tombstoned ids out of its probed
    *     cells (the tombstone side is filtered to the probed cells first, so
    *     the per-probe cost is proportional to the tombstones in those cells
    *     — small between compactions);
    *   - the next [[compactIndex]] physically drops the rows (and the
    *     applied tombstones), reclaiming the bytes.
    * Returns the number of rows tombstoned by THIS call (ids not present in
    * the index resolve to nothing and are ignored).
    *
    * CONTRACT: tombstones are by (cell, id) against CURRENT index content.
    * Re-adding a removed id via [[appendToIndex]] before the next compaction
    * is unsupported — if the new vector lands in the same cell, the pending
    * tombstone suppresses it too; compact first, then re-add. Single
    * writer, like all index mutations.
    */
  def removeFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      ids: DataFrame,
      idCol: String = "id"): Long = {
    // health BEFORE the index read: a torn/empty index would otherwise die
    // inside parquet schema inference with an unrelated-looking error
    val rmRoot = new org.apache.hadoop.fs.Path(indexPath)
    checkIndexHealth(
      rmRoot.getFileSystem(spark.sparkContext.hadoopConfiguration),
      rmRoot, "removeFromIndex", requireCells = true)
    val index = spark.read.parquet(indexPath).select(col("id"), col("cell"))
    val resolved = index
      .join(ids.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi")
      .select(col("cell"), col("id"))
    appendTombstones(spark, indexPath, resolved)
  }

  /** [[removeFromIndex]] with ZERO index I/O, for the common case where the
    * caller still holds the vectors being deleted (dedup losers, rows a
    * quality filter just scored): the cell is re-derived from the index's
    * own `_centroids` sidecar with the same kernel the build used, so
    * resolution reads a few KB of sidecar instead of scanning the index's
    * (id, cell) projection — the difference between O(delete batch) and
    * O(index) per call, which matters when deletes are frequent and the
    * index is 100 TB.
    *
    * CONTRACT: `vecCol` must hold the vector AS INDEXED for that id — a
    * different vector can resolve to a different cell, and a tombstone in
    * the wrong cell masks nothing (the stored row lives elsewhere). Dirty
    * vectors (no cell) resolve to nothing, exactly like ids absent from the
    * index in [[removeFromIndex]]. Unlike the id-based variant, membership
    * is NOT checked (that is the scan being avoided): an id that was never
    * indexed yields an inert tombstone — it masks nothing, costs one
    * otherwise-unneeded rewrite of its cell at the next compaction, and is
    * cleared there. When in doubt, use the id-based variant.
    */
  def removeFromIndexByVector(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      df: DataFrame,
      idCol: String = "id",
      vecCol: String = "vec"): Long = {
    val rmvRoot = new org.apache.hadoop.fs.Path(indexPath)
    checkIndexHealth(
      rmvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration),
      rmvRoot, "removeFromIndexByVector", requireCells = false)
    val centroids = loadCentroids(spark, indexPath)
    val resolved = df.select(
        get(graft.functions.nearest_centroids(col(vecCol), centroids, 1), lit(0))
          .as("cell"),
        col(idCol).as("id"))
      .filter(col("cell").isNotNull)
      .distinct()
    appendTombstones(spark, indexPath, resolved)
  }

  /** Pending-tombstone backlog past this size stops broadcasting into the
    * probes' anti-join (Spark's default autoBroadcastJoinThreshold is
    * 10 MB) — the probe then shuffles its own pruned scan. Measured
    * (BASELINE.md round 6): 8M pending tombstones (~100 MB) made a 32M-row
    * fullprobe pay +94% vs clean; compacting restores it.
    */
  private val TombstoneBacklogWarnBytes = 8L * 1024 * 1024

  private[ops] def tombstoneBacklogWarning(storeBytes: Long): Option[String] =
    if (storeBytes <= TombstoneBacklogWarnBytes) None
    else Some(f"[graft] removeFromIndex: the pending tombstone store is " +
      f"${storeBytes / 1024.0 / 1024}%.1f MB — past broadcast size, so every " +
      f"probe's tombstone anti-join will SHUFFLE its pruned index scan " +
      f"(measured +94%% probe cost at ~100 MB pending); run compactIndex to " +
      f"apply the deletions and clear the store")

  /** Appends resolved (cell, id) tombstones; returns how many rows this
    * call added. Warns loudly when the pending backlog grows past broadcast
    * size — the probe-cost cliff the compaction cadence exists for.
    */
  private def appendTombstones(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, resolved: DataFrame): Long = {
    val dir = s"$indexPath/$TombstonesDir"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] =
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSet
    val before = files()
    // one file per remove call: the store stays a handful of small files
    // between compactions (which clear it); tombstone sets are tiny next to
    // the index, so a single writer task is the right shape
    resolved.repartition(1).write.mode("append").parquet(dir)
    // count ONLY the files this call wrote, straight from their parquet
    // footers on the driver (identical to what a Spark count() would resolve
    // from, minus the job): the return value stays O(delete batch) even when
    // the pending backlog is large — two full-store scans here would make
    // every small remove pay the whole backlog
    val fresh = files() -- before
    val added =
      if (fresh.isEmpty) 0L
      else ParquetFooters.recordCount(
        spark.sparkContext.hadoopConfiguration,
        fresh.toSeq.map(new org.apache.hadoop.fs.Path(_)))
    val bytes = scala.util.Try(fs.getContentSummary(p).getLength).getOrElse(0L)
    tombstoneBacklogWarning(bytes).foreach(System.err.println)
    added
  }

  /** Probe-side tombstone application: anti-join pending deletions out of a
    * pruned index scan, touching only the probed cells' tombstones. Keyed on
    * (cell, id), not id alone: a tombstone only ever masks the row in ITS
    * cell — a wrong-cell tombstone (a drifted vector through
    * [[removeFromIndexByVector]]) masks nothing, exactly as documented.
    */
  private def applyTombstones(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, pruned: DataFrame, probedCells: Array[Int]): DataFrame =
    if (probedCells.isEmpty) pruned // already filter(false); nothing to mask
    else loadTombstones(spark, indexPath) match {
      case Some(ts) =>
        val relevant = ts
          .filter(col("cell").isin(probedCells.map(c => c: Any): _*))
          .select(col("cell"), col("id"))
        pruned.join(relevant, Seq("cell", "id"), "left_anti")
      case None => pruned
    }

  /** One-RPC health check shared by probes and mutations: the root listing
    * yields both "does the index hold data cells" and "are there
    * interrupted-compaction leftovers". Leftover work dirs mean the index
    * is serving a torn state (a probed cell's rows may sit in the trash, or
    * cleared tombstones may be mid-rewrite) — refuse loudly instead of
    * returning silently wrong answers; [[compactIndex]] heals on its next
    * call.
    */
  private def checkIndexHealth(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, op: String, requireCells: Boolean): Unit = {
    require(fs.exists(root),
      s"$op: no IVF index at $root — build one with assignCells first")
    val names = fs.listStatus(root).map(_.getPath.getName)
    require(!names.contains(CompactTrashDir) && !names.contains(s"$TombstonesDir.tmp"),
      s"$op: IVF index at $root has interrupted-compaction leftovers " +
        s"($CompactTrashDir / $TombstonesDir.tmp) — run compactIndex " +
        s"(CLI: ivf-compact) to heal before touching the index; probing or " +
        s"mutating a torn index would silently lose rows")
    if (requireCells)
      require(names.exists(_.startsWith("cell=")),
        s"$op: IVF index at $root has no data cells (every row deleted, or " +
          s"never built) — append or rebuild before probing")
  }

  /** Crash recovery for [[compactIndex]]'s swap: restore any cell moved to
    * the trash dir whose replacement never landed, then clear the work dirs.
    * A no-op in the common case (both dirs absent).
    */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(root, CompactTrashDir)
    val tmp = new org.apache.hadoop.fs.Path(root, CompactTmpDir)
    if (fs.exists(trash)) {
      fs.listStatus(trash).filter(_.getPath.getName.startsWith("cell=")).foreach { s =>
        val dest = new org.apache.hadoop.fs.Path(root, s.getPath.getName)
        val fresh = new org.apache.hadoop.fs.Path(tmp, s.getPath.getName)
        if (!fs.exists(dest)) {
          require(fs.rename(s.getPath, dest),
            s"compaction recovery: could not restore ${s.getPath} to $dest — " +
              s"resolve manually before compacting")
          System.err.println(s"[graft] compactIndex: restored ${s.getPath.getName} " +
            s"from an interrupted prior compaction")
        } else if (fs.exists(fresh)) {
          // this cell's replacement still sits in tmp, so its swap never
          // completed — the existing live dir must have been recreated by an
          // out-of-band write between the crash and now. MERGE the
          // moved-aside originals back in (part file names are job-unique,
          // so renames cannot collide); refuse loudly rather than lose data
          // if one somehow does. The un-swapped tmp replacement is discarded
          // below — its deletions re-apply from the still-pending tombstones.
          fs.listStatus(s.getPath).filter(_.isFile).foreach { f =>
            val target = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
            require(fs.rename(f.getPath, target),
              s"compaction recovery could not merge ${f.getPath} into $dest " +
                s"(name collision?) — resolve manually before compacting")
          }
          System.err.println(s"[graft] compactIndex: merged ${s.getPath.getName}'s " +
            s"moved-aside rows back into a live dir recreated out-of-band " +
            s"during an interrupted compaction")
        }
        // else: the swap completed (replacement landed, tmp gone) — the
        // trash entry is the superseded copy and drops with the trash dir
      }
      fs.delete(trash, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // tombstone-store rewrite interrupted between its delete and rename: the
    // remaining PENDING entries live only in the tmp dir — losing them would
    // silently keep tombstoned rows forever, so finish the swap here
    val tsDir = new org.apache.hadoop.fs.Path(root, TombstonesDir)
    val tsTmp = new org.apache.hadoop.fs.Path(root, s"$TombstonesDir.tmp")
    if (fs.exists(tsTmp)) {
      if (!fs.exists(tsDir)) {
        require(fs.rename(tsTmp, tsDir),
          s"compaction recovery: could not finish the tombstone-store swap " +
            s"($tsTmp -> $tsDir) — resolve manually before compacting")
        System.err.println("[graft] compactIndex: completed an interrupted " +
          "tombstone-store rewrite (pending deletions preserved)")
      } else fs.delete(tsTmp, true)
    }
  }

  private val CompactTmpDir = "_compact_tmp"
  private val CompactTrashDir = "_compact_trash"

  /** Rewrites cell partitions of a persisted index in place, for two
    * reasons at once:
    *   - FRAGMENTATION: [[appendToIndex]] adds >= 1 new file per touched
    *     cell per append and nothing else ever merges them, so a
    *     daily-ingest index accretes small files and probe cost degrades
    *     toward file listing/open overhead;
    *   - PENDING DELETIONS: [[removeFromIndex]] tombstones are applied
    *     physically here — tombstoned rows are dropped during the rewrite
    *     (a cell whose rows are ALL tombstoned is removed outright) and the
    *     applied tombstones are cleared from the store, reclaiming bytes
    *     and the probes' anti-join cost.
    * Selection: cells with more than `filesPerCell` parquet files OR
    * pending tombstones, most-fragmented first, bounded per run by
    * `maxCells` AND a cumulative `maxBytes` byte budget (driver-side
    * listing; at least one cell always makes progress). Only the selected
    * cell partitions are read (static partition pruning on the literal cell
    * list); each rewrites as ~`filesPerCell` files in the build's salted
    * layout. Untouched cells are never listed, read, or rewritten, and the
    * `_centroids` sidecar is untouched. Returns the compacted cell ids
    * (empty = nothing fragmented or tombstoned).
    *
    * Scale shape: the rewrite STREAMS — rows go scan -> (salted) shuffle ->
    * parquet writer in `_compact_tmp`, never materializing in block-manager
    * storage (the previous localCheckpoint shape held the whole batch
    * resident; measured: a post-compact probe on an 8M-row index read 27 s
    * with those blocks still held vs ~2 s freed — now there are no blocks
    * at all). A single cell larger than `maxBytes` therefore still
    * compacts safely: `filesPerCell` salting splits its rewrite across
    * parallel streaming tasks, and the budget only bounds one run's total
    * rewrite I/O. Once the tmp write commits, each selected cell directory
    * is swapped via two renames (old -> trash, tmp -> live) and the trash
    * is dropped; an interrupted run is healed by [[recoverCompaction]] at
    * the next call (a moved-aside cell whose replacement never landed is
    * restored, and not-yet-cleared tombstones simply re-apply —
    * idempotent).
    *
    * CONCURRENCY: single-writer, and the rename swap is NOT atomic for
    * concurrent readers — a probe listing a cell directory mid-swap can
    * miss rows with no error. Run compaction in a maintenance window (or
    * behind whatever external coordination serializes index mutations);
    * probes are safe again the moment the call returns.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      filesPerCell: Int = 1,
      maxCells: Int = Int.MaxValue,
      maxBytes: Long = Long.MaxValue): Seq[Int] = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    require(maxBytes >= 1, s"maxBytes must be >= 1, got $maxBytes")
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, root)
    // ONE tombstone-store load serves both the cell-selection set here and
    // the anti-join / store-rewrite below (it was loaded twice before)
    val pending = loadTombstones(spark, indexPath)
    val tombstoneCells: Set[Int] = pending match {
      case Some(ts) => ts.select(col("cell")).distinct().collect()
        .map(_.getInt(0)).toSet
      case None => Set.empty
    }
    val liveStats = cellFileStats(spark, indexPath)
    // tombstone-pending cells sort FIRST (then by fragmentation): under a
    // bounded maxCells with ongoing appends, pure files-order could starve a
    // low-file-count tombstoned cell indefinitely — its deleted rows would
    // stay on disk and every probe would keep paying the anti-join for them
    val candidates = liveStats.toSeq
      .filter { case (cell, (files, _)) =>
        files > filesPerCell || tombstoneCells.contains(cell) }
      .sortBy { case (cell, (files, _)) =>
        (if (tombstoneCells.contains(cell)) 0 else 1, -files, cell) }
      .take(maxCells)
    // cumulative byte budget, most-fragmented first; the head cell is always
    // taken (progress guarantee — and safe: the rewrite streams, so a single
    // over-budget cell costs I/O, not memory)
    val selected = {
      var budget = maxBytes
      val picked = scala.collection.mutable.ArrayBuffer[Int]()
      candidates.foreach { case (cell, (_, bytes)) =>
        if (picked.isEmpty || bytes <= budget) { picked += cell; budget -= bytes }
      }
      picked.toSeq
    }
    if (selected.isEmpty) {
      // nothing to rewrite — and since any LIVE tombstoned cell is always a
      // candidate (and the head candidate is always picked), an empty
      // selection means every remaining store entry is an ORPHAN (its cell
      // vanished in a prior crash window between swap and store rewrite):
      // drop the store outright, or it sits there forever
      if (tombstoneCells.nonEmpty) {
        fs.delete(new org.apache.hadoop.fs.Path(root, TombstonesDir), true)
        System.err.println(s"[graft] compactIndex: dropped " +
          s"${tombstoneCells.size} orphaned tombstone cell group(s) whose " +
          s"cells no longer exist")
      }
      return Seq.empty
    }
    val rows0 = spark.read.parquet(indexPath)
      .filter(col("cell").isin(selected.map(c => c: Any): _*))
    // anti-join on (cell, id), like the probe path: a wrong-cell tombstone
    // must not delete a live same-id row in another selected cell
    val rows = pending match {
      case Some(ts) => rows0.join(
        ts.filter(col("cell").isin(selected.map(c => c: Any): _*))
          .select(col("cell"), col("id")),
        Seq("cell", "id"), "left_anti")
      case None => rows0
    }
    val relaid =
      // single-partition input: partitionBy alone already writes one file per
      // cell — the cell shuffle would only add an exchange (same reasoning,
      // and the same layout guarantee, as assignedFrame's skip). Probed on
      // the PRUNED SCAN (rows0), never on the tombstone anti-join: probing
      // an adaptive plan would pre-execute its stages (see
      // Spread.staticPartitionCount), and a broadcast anti-join preserves
      // the probe side's partitioning anyway — with pending tombstones the
      // shuffle is simply kept.
      if (filesPerCell == 1 && pending.isEmpty &&
          Spread.staticPartitionCount(rows0).exists(_ <= 1)) rows
      else if (filesPerCell == 1) rows.repartition(selected.length, col("cell"))
      // same salted fan-out as the build (assignedFrame): huge cells rewrite
      // in parallel instead of through one straggler task
      else rows.repartition(selected.length * filesPerCell, col("cell"),
        pmod(graft.functions.wyhash64(col("id")), lit(filesPerCell)))
    val tmp = new org.apache.hadoop.fs.Path(root, CompactTmpDir)
    relaid.write.partitionBy("cell").mode("overwrite").parquet(tmp.toString)
    // swap: old cell dirs move aside first (recoverable), replacements move
    // in, trash dropped last. A cell emptied by tombstones has no tmp dir
    // and simply disappears from the index.
    val trash = new org.apache.hadoop.fs.Path(root, CompactTrashDir)
    // every FS mutation result is CHECKED: HadoopFileSystem.rename/mkdirs
    // report many failure modes by returning false, not throwing — ignoring
    // one would continue into the tmp delete + tombstone clear and silently
    // resurrect tombstoned rows forever. Failing here instead leaves a torn
    // state that probes/mutations refuse and the next compactIndex heals.
    require(fs.mkdirs(trash), s"compactIndex: could not create $trash")
    selected.foreach { cell =>
      val live = new org.apache.hadoop.fs.Path(root, s"cell=$cell")
      val fresh = new org.apache.hadoop.fs.Path(tmp, s"cell=$cell")
      if (fs.exists(live)) {
        val aside = new org.apache.hadoop.fs.Path(trash, s"cell=$cell")
        require(fs.rename(live, aside),
          s"compactIndex: rename $live -> $aside failed; the index is left " +
            s"recoverable (next compactIndex heals) and nothing was deleted")
      }
      if (fs.exists(fresh))
        require(fs.rename(fresh, live),
          s"compactIndex: rename $fresh -> $live failed; the index is left " +
            s"recoverable (next compactIndex heals) and nothing was deleted")
    }
    fs.delete(trash, true)
    fs.delete(tmp, true)
    // clear the APPLIED tombstones (entries in compacted cells); entries in
    // unselected cells stay pending for a later run. Entries whose cell no
    // longer exists at all are dropped too — a crash between a prior run's
    // swap and ITS store rewrite can orphan them (harmless to probes, but
    // they would otherwise sit in the store forever, since a vanished cell
    // can never be selected again). The store rewrite uses the same
    // tmp-then-swap shape.
    pending.foreach { ts =>
      // only cells that still exist AND were not compacted this run can
      // legitimately hold pending entries
      rewriteTombstoneStore(spark, fs, root, ts,
        cellFileStats(spark, indexPath).keySet -- selected)
    }
    selected
  }

  /** Rewrites the tombstone store to only the entries in `keepCells`
    * (deleting it outright when nothing remains), via the same
    * tmp-then-swap shape the data cells use.
    */
  private def rewriteTombstoneStore(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      ts: DataFrame, keepCells: Set[Int]): Unit = {
    val remaining =
      if (keepCells.isEmpty) ts.filter(lit(false))
      else ts.filter(col("cell").isin(keepCells.toSeq.map(c => c: Any): _*))
    val tsDir = new org.apache.hadoop.fs.Path(root, TombstonesDir)
    if (remaining.isEmpty) fs.delete(tsDir, true)
    else {
      val tsTmp = new org.apache.hadoop.fs.Path(root, s"$TombstonesDir.tmp")
      remaining.repartition(1).write.mode("overwrite").parquet(tsTmp.toString)
      fs.delete(tsDir, true)
      require(fs.rename(tsTmp, tsDir),
        s"tombstone-store rewrite: rename $tsTmp -> $tsDir failed; the " +
          s"pending entries are safe in the tmp dir (next compactIndex heals)")
    }
  }

  /** Skew check shared by [[assignCells]] and [[appendToIndex]]: warn when the hottest
    * cell is far above the mean — probes of that cell pay its whole size,
    * and the fix (more centroids, or retrain after drift) is a build-time
    * decision the operator should hear about at build time.
    */
  private def warnCellSkew(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, caller: String): Unit = {
    // per-cell row counts come from parquet FOOTERS on the driver — the
    // warning needs rows-per-cell only, and the previous indexCellStats call
    // (index read + groupBy + two joins + collect) cost ~0.3-0.5 s of pure
    // observability per build/append. Footer reads are bounded by file
    // count, so this stays trivial on a 100 TB index. An empty index (all
    // rows dirty, or an empty daily input) is a legitimate build, not a
    // reason to throw AFTER every write already succeeded — hence the Try.
    val rows = scala.util.Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(indexPath)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) Array.empty[Long]
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map { s =>
          ParquetFooters.recordCount(conf,
            fs.listStatus(s.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map(_.getPath).toSeq)
        }.toArray
    }.getOrElse(Array.empty[Long])
    if (rows.length > 1) {
      val mean = rows.sum.toDouble / rows.length
      val max = rows.max
      if (mean > 0 && max > 8 * mean)
        System.err.println(f"[graft] $caller: hottest IVF cell holds " +
          f"$max rows vs a $mean%.0f mean across ${rows.length} cells " +
          f"(${max / mean}%.1fx) — probes hitting it pay that size; consider " +
          f"more centroids, or pre-deduplicating a template-heavy corpus " +
          f"before training")
    }
  }

  /** Reads the centroid sidecar of a persisted IVF index. The sidecar is a
    * single tiny parquet file, so it is read driver-side from the file
    * directly (no Spark job — probes and appends each load it, and the
    * scheduling round-trip cost ~0.15 s per call at bench scale); any
    * unexpected file shape falls back to the Spark read.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Array[Array[Double]] = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/$CentroidsDir")
    val conf = spark.sparkContext.hadoopConfiguration
    scala.util.Try {
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .flatMap(f => ParquetFooters.readCentroids(conf, f.getPath))
        .sortBy(_._1)
        .map(_._2)
        .toArray
    }.filter(_.nonEmpty).getOrElse {
      spark.read.parquet(dir.toString)
        .orderBy(col("idx"))
        .select(col("centroid"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
    }
  }

  /** ANN top-k against a persisted IVF index ([[assignCells]]): each query
    * probes its `nProbe` nearest cells, and the probed cell set — collected
    * from the (small, broadcast-bound) query side — is pushed into the index
    * scan as a LITERAL partition filter, so only the probed cell partitions
    * are listed and read. With nProbe=4 of 1024 cells, the scan touches
    * ~0.4% of the index regardless of corpus size; norms were computed at
    * build time and never recomputed. Semantics match [[ivfTopK]] with the
    * same centroids exactly (same kernel, same tie-breaks); dirty query
    * vectors probe no cells and return no rows. Rows tombstoned by
    * [[removeFromIndex]] but not yet compacted away are anti-joined out —
    * only the probed cells' tombstones join, so the cost tracks the
    * pending-delete count in those cells, not the store size.
    */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    // health FIRST (before the sidecar read): refuse torn post-crash state
    // (rows may sit in the trash, tombstones mid-rewrite), the degenerate
    // zero-cell index, and a missing index path — each would otherwise die
    // with an unrelated-looking parquet error
    val healthRoot = new org.apache.hadoop.fs.Path(indexPath)
    checkIndexHealth(
      healthRoot.getFileSystem(spark.sparkContext.hadoopConfiguration),
      healthRoot, "ivfTopKFromIndex", requireCells = true)
    val centroids = loadCentroids(spark, indexPath)
    val probe = math.min(nProbe, centroids.length)
    // the query side is COLLECTED once (small by contract — it broadcasts
    // into the join anyway): one job yields both the distinct probed-cell
    // set (a literal IN over the partition column — static partition
    // pruning, the strongest pruning Spark has) and the join side itself as
    // a local relation, whose broadcast costs no further job. This replaces
    // the previous eager-localCheckpoint + distinct-collect pair (two jobs)
    // and pins one evaluation even harder: a nondeterministic query source
    // cannot probe cells the scan was not pruned to.
    val prep = queries.select(
      col(queryId).as("query_id"), col(queryVec).as("_qv"),
      norm(col(queryVec)).as("_qn"),
      graft.functions.nearest_centroids(col(queryVec), centroids, probe)
        .as("_cells"))
    val qRows = prep.collect()
    val cellType = prep.schema.fields(3).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val cellSchema = org.apache.spark.sql.types.StructType(
      prep.schema.fields.take(3).toSeq :+
        org.apache.spark.sql.types.StructField("_cell", cellType))
    val explodedRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    qRows.foreach { r =>
      val cells = r.getSeq[Int](3)
      // dirty query vector -> empty/null cell list -> no rows, like explode
      if (cells != null)
        cells.foreach(c => explodedRows.add(
          org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), c)))
    }
    val queryCells = spark.createDataFrame(explodedRows, cellSchema)
    val probedCells: Array[Int] = {
      val s = scala.collection.mutable.SortedSet[Int]()
      qRows.foreach { r =>
        val cells = r.getSeq[Int](3)
        if (cells != null) cells.foreach(s += _)
      }
      s.toArray
    }
    val index = spark.read.parquet(indexPath)
    val prunedRaw =
      if (probedCells.isEmpty) index.filter(lit(false)) // all queries dirty
      else index.filter(col("cell").isin(probedCells.map(c => c: Any): _*))
    val pruned = applyTombstones(spark, indexPath, prunedRaw, probedCells)
    val denom = col("_qn") * col("norm")
    val candidates = pruned
      .join(broadcast(queryCells), pruned("cell") === queryCells("_cell"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        when(denom > 0, dot(col("_qv"), col("vec")) / denom)
          .otherwise(lit(0.0)).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** ANN top-k via hyperplane LSH: `tables` independent sign-bucket tables
    * (multi-probe by union), exact cosine re-ranking within candidate
    * buckets. Recall rises with `tables`, cost with bucket size
    * (2^planes buckets).
    *
    * Dirty QUERY vectors (wrong length, null/non-finite elements, all-zero)
    * get no buckets and return NO rows for that query_id (see [[ivfTopK]]
    * for the rationale); dirty corpus vectors likewise drop from the index.
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      dim: Int,
      planes: Int = 12,
      tables: Int = 4): DataFrame = {
    // all table buckets in one kernel pass per row (posexplode: pos = table)
    val corpusBuckets = corpus.select(
      col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"),
      norm(col(corpusVec)).as("_cn"),
      posexplode(graft.functions.hyperplane_buckets(col(corpusVec), dim, planes, tables)))
      .select(col("neighbor_id"), col("_cv"), col("_cn"),
        struct(col("pos").as("t"), col("col").as("b")).as("_bucket"))
    val queryBuckets = queries.select(
      col(queryId).as("query_id"), col(queryVec).as("_qv"),
      norm(col(queryVec)).as("_qn"),
      posexplode(graft.functions.hyperplane_buckets(col(queryVec), dim, planes, tables)))
      .select(col("query_id"), col("_qv"), col("_qn"),
        struct(col("pos").as("t"), col("col").as("b")).as("_bucket"))
    val denom = col("_qn") * col("_cn")
    val candidates = corpusBuckets.join(broadcast(queryBuckets), Seq("_bucket"))
      .select(col("query_id"), col("neighbor_id"),
        when(denom > 0, dot(col("_qv"), col("_cv")) / denom)
          .otherwise(lit(0.0)).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
