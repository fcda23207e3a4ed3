package graft

import graft.core.CardinalitySketch.{DefaultP, DefaultW}
import graft.sql._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnShim

/** Public Column API of the sketch library — the Spark-native equivalent of
  * the reference crate's user contract (README.md:22-30: new / insert /
  * estimate / merge / serde), lifted to DataFrame aggregation:
  *
  * {{{
  * import graft.functions._
  * pages.groupBy($"lang").agg(ce_approx_distinct($"url") as "distinct_urls")
  * pages.groupBy($"lang", $"day").agg(ce_sketch($"url") as "sk")   // store
  *      .groupBy($"lang").agg(ce_merge_estimate($"sk"))            // roll up
  * }}}
  */
object functions {

  private def toCol(e: Expression): Column = ColumnShim.column(e)
  private def ex(c: Column): Expression = ColumnShim.expression(c)

  /** Aggregate: approximate COUNT(DISTINCT col) as a Long. Exact for groups
    * with <= 128 distinct values (Small/Array representations); HLL with
    * LogLog-Beta above, error ~1.04/sqrt(2^p).
    */
  def ce_approx_distinct(col: Column, p: Int = DefaultP, w: Int = DefaultW): Column =
    toCol(CardinalitySketchAgg(ex(col), p, w, emitEstimate = true).toAggregateExpression())

  /** Aggregate: build a mergeable serialized sketch (BinaryType) of the
    * distinct values of col. Store it, re-aggregate it with ce_merge /
    * ce_merge_estimate, or read it with ce_estimate.
    */
  def ce_sketch(col: Column, p: Int = DefaultP, w: Int = DefaultW): Column =
    toCol(CardinalitySketchAgg(ex(col), p, w, emitEstimate = false).toAggregateExpression())

  /** Aggregate: union a column of serialized sketches into one sketch. */
  def ce_merge(col: Column): Column =
    toCol(SketchUnionAgg(ex(col), "ce").toAggregateExpression())

  /** Aggregate: union a column of serialized sketches and return the estimate. */
  def ce_merge_estimate(col: Column): Column =
    toCol(SketchUnionAgg(ex(col), "ce", emitEstimate = true).toAggregateExpression())

  /** Scalar: estimate of a serialized sketch. */
  def ce_estimate(col: Column): Column = toCol(CeEstimate(ex(col)))

  /** Scalar: pairwise union of two serialized sketches. */
  def ce_union(a: Column, b: Column): Column = toCol(CeUnion(ex(a), ex(b)))

  /** Scalar: the engine's canonical wyhash-v1 64-bit hash of a column. */
  def wyhash64(col: Column): Column = toCol(WyHash64Expr(ex(col)))

  // ---------------------------------------------------------------------
  // Sketch family: Bloom, count-min, t-digest, KLL (all mergeable UDAFs)
  // ---------------------------------------------------------------------

  /** Aggregate: mergeable Bloom filter of the values of col (BinaryType). */
  def bloom_agg(col: Column, expectedItems: Long = 1000000L, fpp: Double = 0.01): Column =
    toCol(BloomFilterAgg(ex(col), expectedItems, fpp).toAggregateExpression())

  /** Scalar: membership probe against a serialized Bloom filter. */
  def bloom_might_contain(sketch: Column, value: Column): Column =
    toCol(BloomMightContain(ex(sketch), ex(value)))

  /** Aggregate: mergeable count-min frequency sketch of col (BinaryType). */
  def cms_agg(col: Column, depth: Int = 5, width: Int = 4096): Column =
    toCol(CountMinAgg(ex(col), depth, width).toAggregateExpression())

  /** Scalar: point-frequency upper bound from a serialized count-min sketch. */
  def cms_estimate(sketch: Column, value: Column): Column =
    toCol(CmsEstimate(ex(sketch), ex(value)))

  /** Aggregate: mergeable t-digest quantile sketch of a numeric col. */
  def tdigest_agg(col: Column, compression: Double = 100.0): Column =
    toCol(TDigestAgg(ex(col), compression).toAggregateExpression())

  /** Aggregate: mergeable KLL rank/quantile sketch of a numeric col. */
  def kll_agg(col: Column, k: Int = 200): Column =
    toCol(KllAgg(ex(col), k).toAggregateExpression())

  /** Scalar: quantile from a serialized t-digest or KLL sketch (q in [0,1]). */
  def sketch_quantile(sketch: Column, q: Double): Column =
    toCol(SketchQuantile(ex(sketch), org.apache.spark.sql.catalyst.expressions.Literal(q)))

  /** Aggregate: union a column of serialized sketches of the given family
    * ("bloom", "cms", "tdigest", "kll"; "ce" is [[ce_merge]]).
    */
  def sketch_merge(col: Column, kind: String): Column =
    toCol(SketchUnionAgg(ex(col), kind).toAggregateExpression())

  // ---------------------------------------------------------------------
  // Dedup / fingerprint expressions (per-row, shuffle-free)
  // ---------------------------------------------------------------------

  /** Scalar: MinHash signature (array<bigint>) of a text column. */
  def minhash_signature(col: Column, numHashes: Int = 128, shingleSize: Int = 5): Column =
    toCol(MinHashSignature(ex(col), numHashes, shingleSize))

  /** Scalar: LSH band key of a MinHash signature. */
  def minhash_band_key(sig: Column, band: Int, rowsPerBand: Int): Column =
    toCol(MinHashBandKey(ex(sig), band, rowsPerBand))

  /** Scalar: 64-bit SimHash fingerprint of a text column. */
  def simhash64(col: Column): Column = toCol(SimHash64(ex(col)))

  /** Scalar: distinct sorted word-k-gram hash set of a text column. */
  def shingle_set(col: Column, shingleSize: Int = 5): Column =
    toCol(ShingleSet(ex(col), shingleSize))

  /** Scalar: single-pass char-class statistics struct (letters, digits,
    * symbols, upper, letter_runs, other_runs) — replaces a stack of
    * regexp_replace+length passes with one codepoint walk.
    */
  def char_class_counts(col: Column): Column = toCol(CharClassCounts(ex(col)))

  /** Scalar: codegen'd dot product of two array<float|double> columns (same
    * numeric semantics as aggregate(zip_with(a,b,_*_),0.0,_+_), ~one
    * primitive loop instead of interpreted lambdas per element).
    */
  def vec_dot(a: Column, b: Column): Column = toCol(VecDot(ex(a), ex(b)))

  /** Scalar: codegen'd L2 norm of an array<float|double> column. */
  def vec_norm(a: Column): Column = toCol(VecNorm(ex(a)))

  /** Scalar: codegen'd fraction of positionally-equal slots of two
    * array<bigint> columns (MinHash signature similarity).
    */
  def vec_eq_fraction(a: Column, b: Column): Column = toCol(VecEqFraction(ex(a), ex(b)))

  /** Scalar: codegen'd wyhash64 of a vector's element bit patterns — a
    * content hash that never stringifies the vector (NULL on null elements;
    * order with nulls last).
    */
  def vec_hash64(a: Column): Column = toCol(VecHash64(ex(a)))

  /** Scalar: all `tables` hyperplane-LSH bucket keys of a vector in one
    * codegen'd pass (array<bigint> of length `tables`).
    */
  def hyperplane_buckets(vec: Column, dim: Int, planes: Int, tables: Int): Column =
    toCol(HyperplaneBuckets(ex(vec), dim, planes, tables))

  /** Scalar: the nProbe nearest centroid indices by dot product (IVF coarse
    * quantization; pass normalized centroids for cosine ranking).
    */
  def nearest_centroids(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    toCol(NearestCentroids(ex(vec), centroids, nProbe))

  // ---------------------------------------------------------------------
  // SQL registration
  // ---------------------------------------------------------------------

  /** HLL error model: p = ceil(log2((1.04/sd)^2)), clamped to [4..18]. */
  private[graft] def precisionForRelativeSD(sd: Double): Int = {
    val p = math.ceil(2.0 * math.log(1.04 / sd) / math.log(2.0)).toInt
    math.max(4, math.min(18, p))
  }

  private def foldArg(e: Expression, what: String): Any = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a constant, got $e")
    e.eval()
  }

  private def intArg(e: Expression, what: String): Int = foldArg(e, what) match {
    case v: Int => v
    case v: Long => v.toInt
    case v: Short => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = foldArg(e, what) match {
    case v: Int => v.toLong
    case v: Long => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleArg(e: Expression, what: String): Double = foldArg(e, what) match {
    case v: Double => v
    case v: Float => v.toDouble
    case v: Int => v.toDouble
    case v: Long => v.toDouble
    case v: org.apache.spark.sql.types.Decimal => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  /** A SQL builder that takes exactly the arguments named in `params`; any
    * other count fails with the signature, like the multi-arity builders.
    */
  private def fixed(name: String, params: String*)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { args =>
      if (args.size != params.size) throw new IllegalArgumentException(
        s"$name expects (${params.mkString(", ")}), got ${args.size} args")
      build(args)
    }

  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, Seq[Expression] => Expression)](
    "ce_approx_distinct" -> {
      case Seq(c) => CardinalitySketchAgg(c).toAggregateExpression()
      case Seq(c, p) =>
        // drop-in parity with approx_count_distinct(col, relativeSD): a
        // fractional second argument is interpreted as the target relative
        // standard deviation and mapped to a precision
        foldArg(p, "p") match {
          case sd: Double if sd > 0 && sd < 1 =>
            CardinalitySketchAgg(c, precisionForRelativeSD(sd)).toAggregateExpression()
          case d: org.apache.spark.sql.types.Decimal if d.toDouble > 0 && d.toDouble < 1 =>
            CardinalitySketchAgg(c, precisionForRelativeSD(d.toDouble))
              .toAggregateExpression()
          case _ => CardinalitySketchAgg(c, intArg(p, "p")).toAggregateExpression()
        }
      case Seq(c, p, w) =>
        CardinalitySketchAgg(c, intArg(p, "p"), intArg(w, "w")).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"ce_approx_distinct expects (col[, p_or_relativeSD[, w]]), got ${args.size} args")
    },
    "ce_sketch" -> {
      case Seq(c) => CardinalitySketchAgg(c, emitEstimate = false).toAggregateExpression()
      case Seq(c, p) =>
        CardinalitySketchAgg(c, intArg(p, "p"), emitEstimate = false).toAggregateExpression()
      case Seq(c, p, w) =>
        CardinalitySketchAgg(c, intArg(p, "p"), intArg(w, "w"), emitEstimate = false)
          .toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"ce_sketch expects (col[, p[, w]]), got ${args.size} args")
    },
    fixed("ce_merge", "sketch") { a => SketchUnionAgg(a(0), "ce").toAggregateExpression() },
    fixed("ce_merge_estimate", "sketch") { a =>
      SketchUnionAgg(a(0), "ce", emitEstimate = true).toAggregateExpression()
    },
    fixed("ce_estimate", "sketch") { a => CeEstimate(a(0)) },
    fixed("ce_union", "sketchA", "sketchB") { a => CeUnion(a(0), a(1)) },
    fixed("wyhash64", "col") { a => WyHash64Expr(a(0)) },
    "bloom_agg" -> {
      case Seq(c) => BloomFilterAgg(c).toAggregateExpression()
      case Seq(c, n) => BloomFilterAgg(c, longArg(n, "expectedItems")).toAggregateExpression()
      case Seq(c, n, p) =>
        BloomFilterAgg(c, longArg(n, "expectedItems"), doubleArg(p, "fpp"))
          .toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"bloom_agg expects (col[, expectedItems[, fpp]]), got ${args.size} args")
    },
    fixed("bloom_might_contain", "bloom", "value") { a => BloomMightContain(a(0), a(1)) },
    "cms_agg" -> {
      case Seq(c) => CountMinAgg(c).toAggregateExpression()
      case Seq(c, d, wd) =>
        CountMinAgg(c, intArg(d, "depth"), intArg(wd, "width")).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"cms_agg expects (col[, depth, width]), got ${args.size} args")
    },
    fixed("cms_estimate", "cms", "value") { a => CmsEstimate(a(0), a(1)) },
    "tdigest_agg" -> {
      case Seq(c) => TDigestAgg(c).toAggregateExpression()
      case Seq(c, d) => TDigestAgg(c, doubleArg(d, "compression")).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"tdigest_agg expects (col[, compression]), got ${args.size} args")
    },
    "kll_agg" -> {
      case Seq(c) => KllAgg(c).toAggregateExpression()
      case Seq(c, kk) => KllAgg(c, intArg(kk, "k")).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"kll_agg expects (col[, k]), got ${args.size} args")
    },
    fixed("sketch_quantile", "sketch", "q") { a =>
      // SQL parses 0.5 as DECIMAL(1,1); coerce any numeric literal to double
      SketchQuantile(a(0),
        org.apache.spark.sql.catalyst.expressions.Cast(a(1), org.apache.spark.sql.types.DoubleType))
    },
    fixed("char_class_counts", "text") { a => CharClassCounts(a(0)) },
    fixed("vec_dot", "a", "b") { a => VecDot(a(0), a(1)) },
    fixed("vec_norm", "vec") { a => VecNorm(a(0)) },
    fixed("vec_eq_fraction", "a", "b") { a => VecEqFraction(a(0), a(1)) },
    fixed("vec_hash64", "vec") { a => VecHash64(a(0)) },
    fixed("hyperplane_buckets", "vec", "dim", "planes", "tables") { a =>
      HyperplaneBuckets(a(0), intArg(a(1), "dim"), intArg(a(2), "planes"), intArg(a(3), "tables"))
    }
  ) ++ Seq("bloom", "cms", "tdigest", "kll").map(kind =>
    fixed(s"${kind}_merge", "sketch") { a => SketchUnionAgg(a(0), kind).toAggregateExpression() })

  /** Register the sketch functions for SQL use in an existing session:
    * `graft.functions.registerAll(spark)` then
    * `spark.sql("SELECT lang, ce_approx_distinct(url) FROM pages GROUP BY lang")`.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** SparkSessionExtensions hook:
  * `--conf spark.sql.extensions=graft.GraftExtensions` makes every sketch
  * function available in all sessions, and (optionally, behind
  * `spark.graft.rewriteApproxCountDistinct=true`) rewrites Spark's built-in
  * `approx_count_distinct` to this library's sketch aggregate.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    functions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (args: Seq[Expression]) => builder(args)))
    }
    ext.injectResolutionRule(graft.plans.RewriteApproxCountDistinct.apply)
  }
}
