package graft.ops

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{vec_dot, vec_norm}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Four top-k paths, one skeleton: each builds candidate
  * (query, corpus row) pairs its own way, then all of them score with
  * [[scored]] and keep each query's k best with [[rankTopK]]:
  *   - [[bruteForceTopK]]: broadcast the (small) query set against every
  *     corpus row — the exact baseline;
  *   - [[ivfTopK]]: corpus rows in their nearest-centroid cell, each query
  *     probing its nearest cells;
  *   - [[ivfTopKFromIndex]]: the same probe against a persisted IVF index,
  *     reading only the probed cells' files;
  *   - [[lshTopK]]: deterministic random-hyperplane sign buckets over several
  *     independent tables (multi-probe by union).
  * All vector math runs through the codegen'd VecDot/VecNorm kernels (the
  * built-in zip_with/aggregate higher-order functions are CodegenFallback —
  * interpreted lambda dispatch per element); norms are computed once per
  * row, never per candidate pair. No UDFs, no RDDs.
  */
object Similarity {

  /** Cosine similarity in [-1, 1]; 0 when either vector is zero. */
  def cosine(a: Column, b: Column): Column = cosineOf(a, vec_norm(a), b, vec_norm(b))

  /** [[cosine]] from norms computed in advance, once per row. */
  private[ops] def cosineOf(a: Column, normA: Column, b: Column, normB: Column): Column =
    when(normA * normB > 0, vec_dot(a, b) / (normA * normB)).otherwise(lit(0.0))

  /** `(query_id, _qv, _qn)` (id, vector, norm) of the query side, plus `extra`. */
  private def querySide(queries: DataFrame, queryId: String, queryVec: String,
      extra: Column*): DataFrame =
    queries.select(Seq(col(queryId).as("query_id"), col(queryVec).as("_qv"),
      vec_norm(col(queryVec)).as("_qn")) ++ extra: _*)

  /** `(id, vec, norm)` of the corpus side, the row shape of a persisted IVF
    * index, plus `extra`.
    */
  private def indexRows(corpus: DataFrame, corpusId: String, corpusVec: String,
      extra: Column*): DataFrame =
    corpus.select(Seq(col(corpusId).as("id"), col(corpusVec).as("vec"),
      vec_norm(col(corpusVec)).as("norm")) ++ extra: _*)

  /** `(query_id, neighbor_id, cosine)` of candidate rows that carry both sides. */
  private def scored(candidates: DataFrame): DataFrame =
    candidates.select(col("query_id"), col("id").as("neighbor_id"),
      cosineOf(col("_qv"), col("_qn"), col("vec"), col("norm")).as("cosine"))

  /** The `k` best-scored neighbors of each query, ties broken by the smaller
    * `neighbor_id`, with their `rank`. Spark plans the rank-filtered
    * row_number as WindowGroupLimit: each map task keeps a k-heap per query
    * before the exchange, so only O(queries x k) rows shuffle.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)

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
      k: Int): DataFrame =
    rankTopK(scored(indexRows(corpus, corpusId, corpusVec)
      .crossJoin(broadcast(querySide(queries, queryId, queryVec)))), k)

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
    * per-partition top-n heaps, no shuffle of the corpus. The hash is taken
    * ONCE per row, as a projected column the sort orders by: an order on
    * the `vec_hash64(vec)` expression would re-hash both vectors at every
    * heap comparison, on the executors and again in the driver merge.
    *
    * BOUND of the dedup window: a single vector duplicated beyond
    * ~2x`sampleSize` whose hash ranks inside the window still crowds out
    * later distinct hashes (the window fills before they are seen; a loud
    * warning is printed when most of the window collapses). For corpora
    * with such extreme template skew, pre-deduplicate the vector column
    * first — `corpus.dropDuplicates(vecCol)` — and train on the result;
    * that pays one distinct-shuffle but only for corpora that need it.
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
    centroidsFromWindow(sampleWindow(corpus, vecCol, sampleSize), k, sampleSize, iterations,
      seed)
  }

  /** The `2 * sampleSize` non-null vectors of `corpus` with the smallest
    * content hashes, in hash order, as a one-column frame: the training
    * window of [[trainIvfCentroids]].
    */
  private[ops] def sampleWindow(corpus: DataFrame, vecCol: String,
      sampleSize: Int): DataFrame =
    // content-hash spread: deterministic in the data multiset, covers every
    // partition; vec_hash64 hashes the element BIT PATTERNS in one codegen'd
    // pass (the previous `wyhash64(cast(vec as string))` key stringified
    // every vector in the corpus to decimal text just to rank the sample).
    // Null-element vectors hash NULL and sort last — out of the window, like
    // every other dirty shape. 2x oversample, then collapse exact duplicates
    // (equal content = equal hash = adjacent in this order) so a hot
    // duplicated vector takes one slot instead of the whole window.
    corpus.select(col(vecCol).as("vec"), graft.functions.vec_hash64(col(vecCol)).as("_h"))
      .filter(col("vec").isNotNull)
      .orderBy(col("_h").asc_nulls_last)
      .limit(2 * sampleSize)
      .drop("_h")

  /** The centroids [[trainIvfCentroids]] trains on `window`
    * ([[sampleWindow]]), a one-column frame of float or double vectors.
    */
  private[ops] def centroidsFromWindow(window: DataFrame, k: Int, sampleSize: Int,
      iterations: Int, seed: Long): Array[Array[Double]] = {
    // collected as array<double> rows (the float -> double cast is exact)
    // and decoded from them directly: no Row, no boxed element
    val qe = window.select(col(window.columns.head).cast(ArrayType(DoubleType))).queryExecution
    val windowRows = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    val collected: Array[Array[Double]] = windowRows.flatMap { r =>
      val a = if (r.isNullAt(0)) null else r.getArray(0)
      var clean = a != null
      var i = 0
      while (clean && i < a.numElements()) {
        clean = !a.isNullAt(i) && java.lang.Double.isFinite(a.getDouble(i))
        i += 1
      }
      if (clean) Some(a.toDoubleArray()) else None
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
    val byComponent = new Array[Double](dim * kEff)
    val dots = new Array[Double](kEff)
    var it = 0
    while (it < iterations) {
      for (c <- 0 until kEff; j <- 0 until dim) byComponent(j * kEff + c) = cs(c)(j)
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Int](kEff)
      sample.foreach { s =>
        dotsInto(s, byComponent, dots)
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kEff) {
          if (dots(c) > bestDot) { best = c; bestDot = dots(c) }
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

  /** `dots(c)` = the dot of `s` with centroid `c` of `byComponent` (the
    * `dots.length` centroids component-major) in one pass over `s`, each
    * summed in ascending component order like [[dotArr]], so bit for bit
    * its value.
    */
  private def dotsInto(s: Array[Double], byComponent: Array[Double],
      dots: Array[Double]): Unit = {
    val k = dots.length
    java.util.Arrays.fill(dots, 0.0)
    var j = 0
    while (j < s.length) {
      val x = s(j)
      val row = j * k
      var c = 0
      while (c < k) { dots(c) += x * byComponent(row + c); c += 1 }
      j += 1
    }
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
      nProbe: Int = 4): DataFrame =
    probeCells(assigned(corpus, corpusId, corpusVec, centroids),
      queryCells(queries, queryId, queryVec, centroids, nProbe), k)

  /** [[querySide]] with one row per probed `cell`: the `nProbe` (clamped to
    * the centroid count) nearest cells of each query. A dirty query vector
    * probes no cell and has no row.
    */
  private def queryCells(queries: DataFrame, queryId: String, queryVec: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame =
    querySide(queries, queryId, queryVec, explode(graft.functions.nearest_centroids(
      col(queryVec), centroids, math.min(nProbe, centroids.length))).as("cell"))

  /** IVF top-k of `queryCells` against `(id, vec, norm, cell)` index rows,
    * assigned in memory ([[ivfTopK]]) or read from a persisted index
    * ([[ivfTopKFromIndex]]): every row of every cell a query probes is a
    * candidate, the query cells broadcast. No (query, neighbor) dedup is
    * needed: each row lives in exactly ONE cell and a query's probed cells
    * are distinct, so a pair joins at most once — unlike lshTopK's
    * multi-table collisions.
    */
  private def probeCells(index: DataFrame, queryCells: DataFrame, k: Int): DataFrame =
    rankTopK(scored(index.join(broadcast(queryCells), Seq("cell"))), k)

  /** The nearest-centroid cell of `vec`; null for a dirty vector. get() is
    * 0-based and null-safe: a bad vector's empty cell array becomes a null
    * cell, not an ANSI array-index error.
    */
  private def cellOf(vec: Column, centroids: Array[Array[Double]]): Column =
    get(graft.functions.nearest_centroids(vec, centroids, 1), lit(0))

  /** `(id, vec, norm, cell)` index rows of `corpus`: each row in its
    * nearest-centroid cell, dirty vectors (no cell) dropped.
    */
  private def assigned(corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: Array[Array[Double]]): DataFrame =
    indexRows(corpus, corpusId, corpusVec, cellOf(col(corpusVec), centroids).as("cell"))
      .filter(col("cell").isNotNull)

  // ------------------------------------------------------------------
  // Persisted IVF index: build once, probe many. [[ivfTopK]] re-assigns
  // every corpus row's cell on every call — correct, but at corpus scale the
  // usage is one build and thousands of query batches. [[assignCells]]
  // materializes (id, vec, norm) files under `cell=<c>/` directories plus a
  // centroid file, and [[ivfTopKFromIndex]] reads ONLY the probed cells'
  // files — no corpus pass at query time.
  //
  // The index's whole state is its newest manifest, `_manifest/v<N>`: every
  // live data file with its cell, row count and bytes, every pending
  // tombstone file with its cell, the centroid file and the data schema
  // (Iceberg's snapshot model, written by hand). A mutation's tasks write
  // its new files in place, next to the live ones ([[IndexWriter]]:
  // part-file names are unique per write job, task and attempt, so nothing
  // collides and nothing moves). The mutation then commits version N+1 with
  // ONE atomic rename of a fully written temp file, and only then deletes
  // what N+1 no longer names in the directories it touched. Readers never list a data
  // directory. A crash at any point leaves version N whole. Its leftovers,
  // like the file of a failed task attempt or of an aborted write, are
  // files no manifest names: no reader sees them, and the next commit that
  // touches their directory deletes them. Single writer: index mutations
  // must not run concurrently with each other.
  // ------------------------------------------------------------------

  private val CentroidsDir = "_centroids"
  private val TombstonesDir = "_tombstones"
  private val ManifestDir = "_manifest"
  private val ManifestName = "v(\\d+)".r

  /** One live file of an index, `path` relative to the index root: a data
    * file under `cell=<c>/` or a tombstone file under `_tombstones/cell=<c>/`.
    */
  private[ops] final case class IndexFile(cell: Int, path: String, rows: Long, bytes: Long)

  /** One committed version of an index: everything a reader may touch.
    * `filesPerCell` is the write layout [[assignCells]] chose: appends and
    * compactions write each cell as at most that many files.
    */
  private final case class Manifest(version: Long, schema: StructType, centroids: String,
      filesPerCell: Int, data: Seq[IndexFile], tombstones: Seq[IndexFile]) {
    /** (id, cell): what a tombstone file holds, typed like the data. */
    def tombstoneSchema: StructType = StructType(Seq(schema("id"), schema("cell")))
    def next(data: Seq[IndexFile] = data, tombstones: Seq[IndexFile] = tombstones): Manifest =
      copy(version = version + 1, data = data, tombstones = tombstones)
    def text: String = {
      def lines(kind: String, files: Seq[IndexFile]) =
        files.map(f => s"$kind\t${f.cell}\t${f.rows}\t${f.bytes}\t${f.path}")
      (Seq(s"schema\t${schema.json}", s"centroids\t$centroids",
        s"filesPerCell\t$filesPerCell") ++ lines("data", data) ++
        lines("tombstones", tombstones)).mkString("", "\n", "\n")
    }
  }

  /** A manifest without a `filesPerCell` line (written before the layout
    * was recorded) reads as one file per cell.
    */
  private def parseManifest(version: Long, text: String): Manifest = {
    val lines = text.linesIterator.map(_.split("\t", 5)).toSeq
    def value(kind: String) = lines.collectFirst { case Array(`kind`, v) => v }
    def files(kind: String) = lines.collect { case Array(`kind`, c, n, b, p) =>
      IndexFile(c.toInt, p, n.toLong, b.toLong) }
    Manifest(version, DataType.fromJson(value("schema").get).asInstanceOf[StructType],
      value("centroids").get, value("filesPerCell").fold(1)(_.toInt), files("data"),
      files("tombstones"))
  }

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest committed version at `root`, if any; temp files and other
    * names in `_manifest` are not versions.
    */
  private def latestManifest(fs: FileSystem, root: Path): Option[Manifest] = {
    val dir = new Path(root, ManifestDir)
    val versions = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
        case ManifestName(v) => v.toLong }
    if (versions.isEmpty) None
    else try {
      val in = fs.open(new Path(dir, s"v${versions.max}"))
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      Some(parseManifest(versions.max, text))
    } catch {
      // a commit since the listing swept that version: a newer one is live
      case _: FileNotFoundException => latestManifest(fs, root)
    }
  }

  /** The live version of the index at `root` for operation `op`; refuses
    * loudly when there is none, or (`requireCells`) when it holds no data.
    */
  private def liveManifest(spark: SparkSession, root: Path, op: String,
      requireCells: Boolean): Manifest = {
    val m = latestManifest(fsOf(spark, root), root)
    require(m.isDefined, s"$op: no IVF index at $root — build one with assignCells first")
    require(!requireCells || m.get.data.nonEmpty,
      s"$op: IVF index at $root has no data cells (every row deleted, or " +
        s"never built) — append or rebuild before probing")
    m.get
  }

  /** `files` as one frame with `schema`: an explicit file list under the
    * index root (`cell` comes from each file's `cell=<c>` directory), so no
    * directory is listed and no footer is read to infer a schema. A file a
    * later commit has deleted fails loudly with a FileNotFoundException.
    */
  private def readFiles(spark: SparkSession, root: Path, schema: StructType,
      files: Seq[IndexFile]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val df = try spark.read.schema(schema).option("basePath", root.toString)
      .parquet(files.map(f => new Path(root, f.path).toString): _*)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        throw new FileNotFoundException(e.getMessage).initCause(e)
    }
    // Spark's listing skips an explicit path deleted after its existence
    // check; that would be a silently smaller answer
    if (df.inputFiles.length != files.length)
      throw new FileNotFoundException(s"IVF index at $root: a file of the " +
        s"version being read was deleted by a later commit")
    df
  }

  /** Anti-joins the pending tombstones of `cells` out of `rows` (index rows
    * of those cells). Keyed on (cell, id), not id alone: a tombstone only
    * ever masks the row in ITS cell — a wrong-cell tombstone (a drifted
    * vector through [[removeFromIndexByVector]]) masks nothing, exactly as
    * documented.
    */
  private def dropTombstoned(spark: SparkSession, root: Path, m: Manifest,
      rows: DataFrame, cells: Set[Int]): DataFrame = {
    val ts = m.tombstones.filter(f => cells(f.cell))
    if (ts.isEmpty) rows
    else rows.join(readFiles(spark, root, m.tombstoneSchema, ts), Seq("cell", "id"), "left_anti")
  }

  /** Commits `next` as the newest version with one atomic rename of a fully
    * written temp file, so a reader sees all of it or none of it. Then
    * deletes every file under the `touched` directories (relative to the
    * root; "" is the whole index) and in `_manifest` that `next` does not
    * name, every directory left empty, and every top-level entry of the
    * root that `next` does not name or hold files under (a legacy
    * `_staging` dir, a cell all of whose files are unnamed).
    */
  private def commit(spark: SparkSession, root: Path, next: Manifest,
      touched: Seq[String]): Unit = {
    val fs = fsOf(spark, root)
    val live = s"$ManifestDir/v${next.version}"
    val tmp = new Path(root, s"$ManifestDir/_v${next.version}.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.text.getBytes(UTF_8)) finally out.close()
    require(fs.rename(tmp, new Path(root, live)), s"could not commit $root/$live")
    val keep = (next.data ++ next.tombstones).map(_.path).toSet + next.centroids + live
    def ancestors(rel: String) = rel.split('/').inits.drop(1).map(_.mkString("/")).toSeq
    val keepDirs = keep.flatMap(ancestors)
    def path(rel: String) = if (rel.isEmpty) root else new Path(root, rel)
    def dropIfEmpty(rel: String): Unit =
      if (rel.nonEmpty && fs.exists(path(rel)) && fs.listStatus(path(rel)).isEmpty)
        fs.delete(path(rel), true)
    def sweep(rel: String): Unit = if (fs.exists(path(rel))) {
      fs.listStatus(path(rel)).foreach { s =>
        val child = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        if (keepDirs(child)) sweep(child) else if (!keep(child)) fs.delete(s.getPath, true)
      }
      dropIfEmpty(rel)
    }
    (touched :+ ManifestDir).foreach { rel => sweep(rel); ancestors(rel).foreach(dropIfEmpty) }
    fs.listStatus(root).foreach { s =>
      val name = s.getPath.getName
      if (!keep(name) && !keepDirs(name)) fs.delete(s.getPath, true)
    }
  }

  /** The index rows of `corpus` ([[assigned]]) laid out for the write of
    * [[assignCells]] or [[appendToIndex]]: each cell in at most
    * `filesPerCell` writer tasks.
    */
  private def assignedFrame(corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: Array[Array[Double]], filesPerCell: Int): DataFrame = {
    require(filesPerCell >= 1, s"filesPerCell must be >= 1, got $filesPerCell")
    val rows = assigned(corpus, corpusId, corpusVec, centroids)
    // keyed on cell alone, ONE task writes each whole cell — at corpus scale
    // that is a corpus/cells-sized straggler (e.g. ~100 GB/cell at 100 TB
    // over 1024 cells), which filesPerCell > 1 spreads over that many tasks
    // (`salted`). Readers are unaffected: the salt never leaves the shuffle key.
    // A SINGLE-partition input already yields the identical one-file-per-cell
    // layout from the cell writer alone — the cell shuffle would only add an
    // exchange (the tiny-batch append case; any multi-partition or
    // adaptive-planned input keeps the shuffle, so the anti-fan-out
    // guarantee is unchanged at scale and the probe itself is always free —
    // see Spread.staticPartitionCount). Spreading that append over the
    // cells does not pay: a 2k-row, 64-dim, 8-cell append wrote in 263 ms
    // on its one task and in 290 ms through an 8-way cell exchange (median
    // of 5, 4-vCPU host), the extra job and 8 write-task start-ups costing
    // more than the nearest-centroid work they would share out.
    if (filesPerCell == 1) {
      if (Spread.staticPartitionCount(rows).exists(_ <= 1)) rows
      else rows.repartition(col("cell"))
    }
    else salted(rows, centroids.length, filesPerCell)
  }

  /** `rows` of `cells` cells shuffled on the cell and a deterministic
    * id-hash salt below `filesPerCell`: each cell is written by up to
    * `filesPerCell` parallel tasks, as at most that many files. The explicit
    * partition count (one per composite key, +-hash collisions) keeps AQE's
    * advisory-size coalescing from merging the salted partitions right back
    * into one writer task per cell on modest data.
    */
  private def salted(rows: DataFrame, cells: Int, filesPerCell: Int): DataFrame =
    rows.repartition(cells * filesPerCell, col("cell"),
      pmod(graft.functions.wyhash64(col("id")), lit(filesPerCell)))

  /** Builds the persisted IVF index at `indexPath`: every corpus row is
    * assigned its nearest-centroid cell in one codegen'd kernel pass and
    * written as (id, vec, norm) files under `cell=<c>/`; the centroids land
    * in a `_centroids` parquet file inside the index. Dirty vectors (wrong
    * length, null/non-finite elements, all-zero) have no cell and are not
    * indexed — the same policy as [[ivfTopK]]'s per-call assignment. A
    * build over an existing index replaces all of it in one commit.
    *
    * ONE build-time shuffle keyed on the cell makes each cell written by
    * `filesPerCell` tasks — without it, the cell writer would make every task
    * write a file into every cell it sees (tasks x cells small files at
    * 100 TB). `filesPerCell` (default 1) salts the shuffle key so huge
    * cells are written in parallel instead of by a single straggler task:
    * size it so each file lands near ~1 GB (filesPerCell ~ cellBytes / 1 GB
    * at the target corpus). The build records it in the manifest, and every
    * later [[appendToIndex]] and [[compactIndex]] writes in that layout; a
    * rebuild is the only way to change it. Build cost is one scan + one
    * shuffle, paid once; probes then read only their cells.
    */
  def assignCells(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroids: Array[Array[Double]],
      indexPath: String,
      filesPerCell: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val root = new Path(indexPath)
    val version = latestManifest(fsOf(spark, root), root).fold(1L)(_.version + 1)
    val frame = assignedFrame(corpus, corpusId, corpusVec, centroids, filesPerCell)
    val data = IndexWriter.write(spark, root, frame, "")
    val m = Manifest(version, frame.schema,
      writeCentroidFile(spark, root, centroids, version), filesPerCell, data, Nil)
    // a build replaces the whole index: everything else under the root goes
    commit(spark, root, m, Seq(""))
    warnCellSkew(m, "assignCells")
  }

  /** Writes the centroid file of index version `version` and returns its
    * path relative to the root. Written driver-side (a few KB — a Spark
    * write job is pure scheduling overhead) and VERIFIED by bit-exact
    * read-back: a file that does not read back as written throws, naming
    * it, so a wrong centroid file can never be committed. A rebuild writes
    * a new name, never over the file the live version names.
    */
  private def writeCentroidFile(spark: SparkSession, root: Path,
      centroids: Array[Array[Double]], version: Long): String = {
    val rel = s"$CentroidsDir/part-00000-centroids" +
      (if (version == 1) "" else s"-v$version") + ".parquet"
    val file = new Path(root, rel)
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetFooters.writeCentroids(conf, file, centroids)
    if (!ParquetFooters.readCentroids(conf, file)
        .corresponds(centroids)((a, b) => java.util.Arrays.equals(a, b)))
      throw new IllegalStateException(s"centroid file $file does not read back as written")
    rel
  }

  /** Incrementally appends new corpus rows to an EXISTING index built by
    * [[assignCells]] — the daily-ingest lifecycle op at corpus scale: one
    * scan + one cell-keyed shuffle over the NEW rows only, nothing existing
    * is rewritten. Rows are assigned with the index's OWN centroids (never
    * retrained here: probe-time cell math must keep matching every row
    * already in the layout; retrain + [[assignCells]] rebuild when the data
    * distribution drifts far enough to matter). Each touched cell gains at
    * most the index's `filesPerCell` (set at build) new files. The caller
    * owns id uniqueness across the build and all appends — the index is a
    * bag of (id, vec, norm) rows and duplicate ids would both surface as
    * candidates. A batch with no clean row commits nothing.
    */
  def appendToIndex(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      indexPath: String): Unit = {
    val spark = corpus.sparkSession
    val root = new Path(indexPath)
    val m = liveManifest(spark, root, "appendToIndex", requireCells = false)
    val added = IndexWriter.write(spark, root, assignedFrame(corpus, corpusId, corpusVec,
      centroidsOf(spark, root, m), m.filesPerCell), "")
    if (added.nonEmpty) {
      val next = m.next(data = m.data ++ added)
      commit(spark, root, next, added.map(f => s"cell=${f.cell}").distinct)
      // appends under distribution drift are exactly where hot cells grow —
      // the operator should hear about skew per append, not only at rebuild
      warnCellSkew(next, "appendToIndex")
    }
  }

  /** Per-cell (rows, files, bytes, tombstones) of a persisted index — the
    * skew AND fragmentation dashboard for probe cost: a probe that hits a
    * cell pays that cell's size in bytes and its file count in open
    * overhead, and `tombstones` counts rows [[removeFromIndex]] has marked
    * but [[compactIndex]] has not yet physically dropped (probes anti-join
    * them out, at a per-probe cost proportional to this count). Every number
    * comes from the manifest: no Spark job and no file read, so this is
    * free even on a 100 TB index.
    */
  def indexCellStats(spark: SparkSession, indexPath: String): DataFrame = {
    val m = liveManifest(spark, new Path(indexPath), "indexCellStats", requireCells = false)
    val tombstones = m.tombstones.groupMapReduce(_.cell)(_.rows)(_ + _)
    spark.createDataFrame(m.data.groupBy(_.cell).toSeq.sortBy(_._1).map { case (cell, files) =>
      (cell, files.map(_.rows).sum, files.length, files.map(_.bytes).sum,
        tombstones.getOrElse(cell, 0L))
    }).toDF("cell", "rows", "files", "bytes", "tombstones")
  }

  /** Marks index rows for deletion — the lifecycle op a training-data
    * pipeline hits constantly (dedup survivors, quality filters, takedowns).
    * The ids are resolved to their cells with one COLUMN-PRUNED scan of the
    * index's (id, cell) projection and written as tombstone files under
    * `_tombstones/cell=<c>/`; nothing in the data layout is rewritten. From
    * this call on:
    *   - [[ivfTopKFromIndex]] anti-joins tombstoned ids out of its probed
    *     cells (only the probed cells' tombstone files are read, so the
    *     per-probe cost is proportional to the tombstones in those cells —
    *     small between compactions);
    *   - the next [[compactIndex]] of a cell physically drops its rows (and
    *     its tombstone files), reclaiming the bytes.
    * Returns the number of rows tombstoned by THIS call (ids not present in
    * the index resolve to nothing and are ignored; when nothing resolves,
    * nothing is committed).
    *
    * CONTRACT: tombstones are by (cell, id) against CURRENT index content.
    * Re-adding a removed id via [[appendToIndex]] before the next compaction
    * is unsupported — if the new vector lands in the same cell, the pending
    * tombstone suppresses it too; compact first, then re-add. Single
    * writer, like all index mutations.
    */
  def removeFromIndex(
      spark: SparkSession,
      indexPath: String,
      ids: DataFrame,
      idCol: String = "id"): Long = {
    val root = new Path(indexPath)
    val m = liveManifest(spark, root, "removeFromIndex", requireCells = true)
    val resolved = readFiles(spark, root, m.schema, m.data)
      .select(col("id"), col("cell"))
      // a semi join emits each index row at most once, however often its
      // id repeats in `ids`: no distinct needed on the delete batch
      .join(ids.select(col(idCol).as("id")), Seq("id"), "left_semi")
    appendTombstones(spark, root, m, resolved.repartition(1))
  }

  /** [[removeFromIndex]] with ZERO index I/O, for the common case where the
    * caller still holds the vectors being deleted (dedup losers, rows a
    * quality filter just scored): the cell is re-derived from the index's
    * own centroids with the same kernel the build used, so resolution reads
    * a few KB of centroid file instead of scanning the index's (id, cell)
    * projection — the difference between O(delete batch) and O(index) per
    * call, which matters when deletes are frequent and the index is 100 TB.
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
      spark: SparkSession,
      indexPath: String,
      df: DataFrame,
      idCol: String = "id",
      vecCol: String = "vec"): Long = {
    val root = new Path(indexPath)
    val m = liveManifest(spark, root, "removeFromIndexByVector", requireCells = false)
    val resolved = df.select(cellOf(col(vecCol), centroidsOf(spark, root, m)).as("cell"),
        // typed like the index ids: tombstone files are read with its schema
        col(idCol).cast(m.schema("id").dataType).as("id"))
      .filter(col("cell").isNotNull)
      // deduped after the one-partition exchange, whose SinglePartition
      // already satisfies the aggregate: one shuffle, not two
      .repartition(1)
      .distinct()
    appendTombstones(spark, root, m, resolved)
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

  /** Commits resolved (cell, id) tombstones; returns how many rows this call
    * added. `resolved` is one partition, so one writer task writes it:
    * tombstone sets are tiny next to the index, so each call adds one small
    * file per cell it touches. Warns loudly when the pending backlog grows
    * past broadcast size — the probe-cost cliff the compaction cadence
    * exists for.
    */
  private def appendTombstones(spark: SparkSession, root: Path, m: Manifest,
      resolved: DataFrame): Long = {
    val added = IndexWriter.write(spark, root, resolved, s"$TombstonesDir/")
    if (added.nonEmpty) {
      val next = m.next(tombstones = m.tombstones ++ added)
      commit(spark, root, next, added.map(f => s"$TombstonesDir/cell=${f.cell}").distinct)
      tombstoneBacklogWarning(next.tombstones.map(_.bytes).sum).foreach(System.err.println)
    }
    added.map(_.rows).sum
  }

  /** Rewrites cell partitions of a persisted index, for two reasons at once:
    *   - FRAGMENTATION: [[appendToIndex]] adds >= 1 new file per touched
    *     cell per append and nothing else ever merges them, so a
    *     daily-ingest index accretes small files and probe cost degrades
    *     toward file open overhead;
    *   - PENDING DELETIONS: [[removeFromIndex]] tombstones are applied
    *     physically here — tombstoned rows are dropped during the rewrite
    *     (a cell whose rows are ALL tombstoned is removed outright) and the
    *     compacted cells' tombstone files leave the index in the same
    *     commit, reclaiming bytes and the probes' anti-join cost.
    * Selection, from the manifest alone: cells with more data files than
    * the index's `filesPerCell` (set at build, see [[assignCells]]) OR with
    * pending tombstones, tombstoned cells first, then most fragmented,
    * bounded per run by a cumulative `maxBytes` budget of the bytes the
    * rewrites read (each cell's data and tombstone files). The head cell
    * always goes ahead, so at least one cell makes progress and
    * `maxBytes = 1` compacts exactly one cell per run. Only the selected
    * cells' files are read; each cell rewrites as at most `filesPerCell`
    * files in the build's salted layout. Untouched cells are never read or
    * rewritten, and the centroid file is untouched. Returns the compacted
    * cell ids (empty = nothing fragmented or tombstoned, and nothing
    * committed).
    *
    * Scale shape: the rewrite STREAMS — rows go scan -> (salted) shuffle ->
    * parquet writer, never materializing in block-manager storage (the
    * previous localCheckpoint shape held the whole batch resident;
    * measured: a post-compact probe on an 8M-row index read 27 s with those
    * blocks still held vs ~2 s freed — now there are no blocks at all). A
    * single cell larger than `maxBytes` therefore still compacts safely:
    * the build's salting splits its rewrite across parallel streaming
    * tasks, and the budget only bounds one run's total rewrite I/O.
    *
    * CONCURRENCY: single writer. Concurrent probes are safe: the new files
    * become live in one manifest commit, so a probe sees the cells before
    * or after the compaction, never a mix. The superseded files are deleted
    * right after that commit, so a probe built before it that has not yet
    * read them fails loudly with a FileNotFoundException — re-run it. A
    * crash leaves the previous version live; the next commit touching the
    * cells sweeps the orphaned new files.
    */
  def compactIndex(
      spark: SparkSession,
      indexPath: String,
      maxBytes: Long = Long.MaxValue): Seq[Int] = {
    require(maxBytes >= 1, s"maxBytes must be >= 1, got $maxBytes")
    val root = new Path(indexPath)
    val m = liveManifest(spark, root, "compactIndex", requireCells = false)
    val filesPerCell = m.filesPerCell
    val files = m.data.groupBy(_.cell)
    val tombstoneBytes = m.tombstones.groupMapReduce(_.cell)(_.bytes)(_ + _)
    def tombstoned(cell: Int) = tombstoneBytes.contains(cell)
    // tombstone-pending cells sort FIRST (then by fragmentation): under a
    // small budget with ongoing appends, pure files-order could starve a
    // low-file-count tombstoned cell indefinitely — its deleted rows would
    // stay on disk and every probe would keep paying the anti-join for them
    val candidates = (files.keySet ++ tombstoneBytes.keySet).toSeq
      .map(cell => (cell, files.getOrElse(cell, Nil)))
      .filter { case (cell, cf) => cf.length > filesPerCell || tombstoned(cell) }
      .sortBy { case (cell, cf) => (if (tombstoned(cell)) 0 else 1, -cf.length, cell) }
    // cumulative budget of the bytes each rewrite reads (a cell's data and
    // tombstone files, so never 0) in that order; the head cell is always
    // taken (progress guarantee — and safe: the rewrite streams, so a single
    // over-budget cell costs I/O, not memory)
    val selected = {
      var budget = maxBytes
      val picked = scala.collection.mutable.ArrayBuffer[Int]()
      candidates.foreach { case (cell, cf) =>
        val bytes = cf.map(_.bytes).sum + tombstoneBytes.getOrElse(cell, 0L)
        if (picked.isEmpty || bytes <= budget) { picked += cell; budget -= bytes }
      }
      picked.toSeq
    }
    if (selected.nonEmpty) {
      val cells = selected.toSet
      val rows0 = readFiles(spark, root, m.schema, m.data.filter(f => cells(f.cell)))
      val rows = dropTombstoned(spark, root, m, rows0, cells)
      val relaid =
        // single-partition input: the cell writer alone writes one file
        // per cell — the cell shuffle would only add an exchange (same
        // reasoning, and the same layout guarantee, as assignedFrame's skip).
        // Probed on the PRUNED SCAN (rows0), never on the tombstone
        // anti-join: probing an adaptive plan would pre-execute its stages
        // (see Spread.staticPartitionCount), and a broadcast anti-join
        // preserves the probe side's partitioning anyway — with pending
        // tombstones the shuffle is simply kept.
        if (filesPerCell == 1 && !selected.exists(tombstoned) &&
            Spread.staticPartitionCount(rows0).exists(_ <= 1)) rows
        else if (filesPerCell == 1) rows.repartition(selected.length, col("cell"))
        // same salted fan-out as the build: huge cells rewrite in parallel
        // instead of through one straggler task
        else salted(rows, selected.length, filesPerCell)
      val fresh = IndexWriter.write(spark, root, relaid, "")
      commit(spark, root,
        m.next(data = m.data.filterNot(f => cells(f.cell)) ++ fresh,
          tombstones = m.tombstones.filterNot(f => cells(f.cell))),
        selected.flatMap(c => Seq(s"cell=$c", s"$TombstonesDir/cell=$c")))
    }
    selected
  }

  /** Skew check shared by [[assignCells]] and [[appendToIndex]]: warn when
    * the hottest cell is far above the mean — probes of that cell pay its
    * whole size, and the fix (more centroids, or retrain after drift) is a
    * build-time decision the operator should hear about at build time.
    * Per-cell rows come from the committed manifest: no file is read.
    */
  private def warnCellSkew(m: Manifest, caller: String): Unit = {
    val rows = m.data.groupMapReduce(_.cell)(_.rows)(_ + _).values
    if (rows.size > 1) {
      val mean = rows.sum.toDouble / rows.size
      val max = rows.max
      if (mean > 0 && max > 8 * mean)
        System.err.println(f"[graft] $caller: hottest IVF cell holds " +
          f"$max rows vs a $mean%.0f mean across ${rows.size} cells " +
          f"(${max / mean}%.1fx) — probes hitting it pay that size; consider " +
          f"more centroids, or pre-deduplicating a template-heavy corpus " +
          f"before training")
    }
  }

  /** Reads the centroid file of a persisted IVF index's live version. The
    * file is a single tiny parquet file, so it is read driver-side from the
    * file directly (no Spark job — probes and appends each load it, and the
    * scheduling round-trip cost ~0.15 s per call at bench scale); a file
    * that cannot be read throws, naming it.
    */
  def loadCentroids(spark: SparkSession, indexPath: String): Array[Array[Double]] = {
    val root = new Path(indexPath)
    centroidsOf(spark, root, liveManifest(spark, root, "loadCentroids", requireCells = false))
  }

  private def centroidsOf(spark: SparkSession, root: Path,
      m: Manifest): Array[Array[Double]] =
    ParquetFooters.readCentroids(spark.sparkContext.hadoopConfiguration,
      new Path(root, m.centroids))

  /** ANN top-k against a persisted IVF index ([[assignCells]]): each query
    * probes its `nProbe` nearest cells, and the probed cell set — collected
    * from the (small, broadcast-bound) query side — selects the files to
    * read from the live manifest, so only the probed cells' files are
    * opened and no directory is listed. With nProbe=4 of 1024 cells, the
    * scan touches ~0.4% of the index regardless of corpus size; norms were
    * computed at build time and never recomputed. Semantics match
    * [[ivfTopK]] with the same centroids exactly (same kernel, same
    * tie-breaks); dirty query vectors probe no cells and return no rows.
    * Rows tombstoned by [[removeFromIndex]] but not yet compacted away are
    * anti-joined out — only the probed cells' tombstone files are read, so
    * the cost tracks the pending-delete count in those cells.
    *
    * The returned frame is pinned to the version live when it was built: it
    * returns that version's answer even while mutations commit newer ones,
    * or fails loudly with a FileNotFoundException once a later commit
    * (a compaction or a rebuild) has deleted a file it reads. It never
    * returns a mix of versions.
    */
  def ivfTopKFromIndex(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    // the manifest FIRST (before the centroid read): a missing index and the
    // degenerate zero-cell index each refuse with a clear message
    val root = new Path(indexPath)
    val m = liveManifest(spark, root, "ivfTopKFromIndex", requireCells = true)
    // the query cells are COLLECTED once (small by contract — they broadcast
    // into the join anyway): one job yields both the distinct probed-cell
    // set (which picks the files to read) and the join side itself as a
    // local relation, whose broadcast costs no further job. It also pins
    // one evaluation: a nondeterministic query source cannot probe cells
    // the scan was not pruned to.
    val cells = queryCells(queries, queryId, queryVec, centroidsOf(spark, root, m), nProbe)
    val rows = cells.collect()
    val probedCells = rows.map(_.getInt(3)).toSet
    val pruned = dropTombstoned(spark, root, m,
      readFiles(spark, root, m.schema, m.data.filter(f => probedCells(f.cell))), probedCells)
    probeCells(pruned, spark.createDataFrame(java.util.Arrays.asList(rows: _*), cells.schema), k)
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
    val candidates =
      tableBuckets(indexRows(corpus, corpusId, corpusVec), "vec", dim, planes, tables)
        .join(broadcast(tableBuckets(querySide(queries, queryId, queryVec), "_qv", dim,
          planes, tables)), Seq("_bucket"))
    // a pair meeting in several tables scores the same in each
    rankTopK(scored(candidates).dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** `df` with one row per hyperplane table of `vec` and its `_bucket` =
    * (table `t`, sign bucket `b`): all tables in one kernel pass per row
    * (posexplode: pos = table). Dirty vectors get no rows.
    */
  private[ops] def tableBuckets(df: DataFrame, vec: String, dim: Int, planes: Int,
      tables: Int): DataFrame =
    df.select(col("*"),
        posexplode(graft.functions.hyperplane_buckets(col(vec), dim, planes, tables)))
      .withColumn("_bucket", struct(col("pos").as("t"), col("col").as("b")))
      .drop("pos", "col")
}
