package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.AccumulatorV2

/** Runtime observability for the LSH bucket caps: dropping oversized buckets
  * (the run walk of [[Dedup]]'s `bucketPairs`) is the right quadratic-blowup
  * trade, but silent truncation reads as "no near-dups found" when the real
  * story is "the corpus saturated the buckets" (simhash's retired 4x16-bit
  * quarter keys did exactly that: template-heavy text concentrated one
  * quarter bucket to 75k rows at only 2M docs and the then-silent cap ate 21%
  * of the true pairs — measured, BASELINE.md round 5). The dropped-row share
  * is therefore measured ON EVERY RUN and surfaced two ways:
  *   - a loud stderr warning when the share exceeds [[WarnDropFraction]],
  *     naming the operator and the fraction lost;
  *   - programmatically via [[lastBucketCapStats]] for pipelines that must
  *     gate on recall loss.
  *
  * One delivery path, and it is free: the pair pass that walks the buckets
  * counts banded rows, dropped rows and dropped buckets per partition into
  * the [[CapCounts]] accumulator its plan was built with — no aggregate, no
  * extra job, no plan node that AQE's empty-relation propagation or a lazy
  * `localCheckpoint` could lose. The counts reach the driver with the tasks
  * that walked the buckets, so they are in place when the action returns.
  * Entries are keyed by partition id: a retried, speculative or re-run task
  * (or a second action on the same frame) replaces its entry instead of
  * adding to it.
  */
object GraftMetrics {

  /** Dropped-row share of one capped LSH run. `bandedRows` counts (bucket,
    * id) rows BEFORE the cap; `droppedRows` of them sat in buckets larger
    * than `maxBucketSize` and were cut.
    */
  final case class BucketCapStats(
      bandedRows: Long, droppedRows: Long, droppedBuckets: Long, maxBucketSize: Int) {
    def droppedFraction: Double =
      if (bandedRows <= 0) 0.0 else droppedRows.toDouble / bandedRows
  }

  /** Warn on stderr past this dropped-row share. */
  val WarnDropFraction = 0.05

  /** Cap counts of one capped plan: partition id -> (partition count,
    * banded rows, dropped rows, dropped buckets). An entry with a different
    * partition count (a re-run whose partitions AQE coalesced differently)
    * starts the map over, so stale partitions never add up with new ones.
    * The driver warns when a merge completes the plan's partitions.
    */
  private[ops] final class CapCounts(val op: String, val maxBucketSize: Int)
      extends AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]] {
    @volatile private var parts = Map.empty[Int, Array[Long]]
    override def isZero: Boolean = parts.isEmpty
    override def copy(): CapCounts = {
      val c = new CapCounts(op, maxBucketSize)
      c.parts = parts
      c
    }
    override def reset(): Unit = parts = Map.empty
    override def add(v: (Int, Array[Long])): Unit = synchronized {
      if (parts.valuesIterator.exists(_(0) != v._2(0))) parts = Map.empty
      parts += v
    }
    override def merge(other: AccumulatorV2[(Int, Array[Long]), Map[Int, Array[Long]]]): Unit =
      other.value.foreach { v => // driver side, on the one scheduler thread
        val missing = parts.size < v._2(0)
        add(v)
        if (missing && parts.size == v._2(0)) stats.foreach(warn(op, _))
      }
    override def value: Map[Int, Array[Long]] = parts

    /** Task side: the walk of this task's partition is complete. */
    def record(banded: Long, dropped: Long, droppedBuckets: Long): Unit = {
      val tc = TaskContext.get()
      add(tc.partitionId() -> Array(tc.numPartitions().toLong, banded, dropped, droppedBuckets))
    }

    /** None until some partition of the plan has been walked. */
    def stats: Option[BucketCapStats] = {
      val p = parts.values
      if (p.isEmpty) None
      else Some(BucketCapStats(p.map(_(1)).sum, p.map(_(2)).sum, p.map(_(3)).sum, maxBucketSize))
    }
  }

  // per-op ring of capped plans in creation order (what "newest" means in
  // lastBucketCapStats), bounded so a long-running pipeline can't
  // accumulate entries forever
  private val MaxStatsPerOp = 64
  private val plans = new ConcurrentHashMap[String, Vector[CapCounts]]()

  /** Cap stats of the NEWEST capped plan built for an operator ("minhash",
    * "simhash", "embedding") that has run — "newest" by plan-creation order,
    * so two capped runs of the same operator cannot clobber each other into
    * reading the wrong run's drop share. A plan whose banded frame is empty
    * walks no bucket and reports nothing.
    *
    * SCOPE: the stats registry is process-global and keyed by operator name
    * only. In a multi-tenant JVM (concurrent pipelines, several
    * SparkSessions) "newest" is newest ACROSS tenants — a pipeline that must
    * gate on the recall loss of ITS OWN run should read
    * [[allBucketCapStats]] before and after acting its query and diff them.
    */
  def lastBucketCapStats(opName: String): Option[BucketCapStats] =
    allBucketCapStats(opName).lastOption

  /** All recorded cap stats for an operator, oldest plan first (bounded to
    * the most recent [[MaxStatsPerOp]] plans) — for pipelines gating on the
    * recall loss of a SPECIFIC run among several.
    */
  def allBucketCapStats(opName: String): Seq[BucketCapStats] =
    Option(plans.get(opName)).toSeq.flatMap(_.flatMap(_.stats))

  private[graft] def resetBucketCapStats(): Unit = plans.clear()

  /** A registered [[CapCounts]] for one capped plan of `opName`. */
  private[ops] def capCounts(spark: SparkSession, opName: String,
      maxBucketSize: Int): CapCounts = {
    val counts = new CapCounts(opName, maxBucketSize)
    spark.sparkContext.register(counts)
    plans.merge(opName, Vector(counts), (old, c) => (old ++ c).takeRight(MaxStatsPerOp))
    counts
  }

  private def warn(op: String, s: BucketCapStats): Unit =
    if (s.droppedFraction > WarnDropFraction)
      System.err.println(
        f"[graft] $op: bucket cap (maxBucketSize=${s.maxBucketSize}) " +
        f"dropped ${s.droppedRows} of ${s.bandedRows} banded rows " +
        f"(${s.droppedFraction * 100}%.1f%%) across ${s.droppedBuckets} " +
        f"oversized buckets — pairs inside those buckets are NOT " +
        f"reported; raise maxBucketSize, add planes/bands, or route " +
        f"boilerplate through exact dedup first")
}
