package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scale-adaptive parallelism repair for per-row-expensive projections
  * (guide §2.5 "input skew": one huge unsplittable file — or here, a small
  * table written as a single row group — serializes a CPU-heavy stage onto
  * one task while the rest of the machine idles).
  */
object Spread {

  /** Repartitions `df` to the session's default parallelism when its scan
    * would otherwise run on fewer partitions than that. The minhash/simhash
    * signature passes, regex quality scoring, and vector kernels are pure
    * per-row CPU: their wall time is input-partition-bound, and a
    * single-row-group parquet table runs them on ONE core (measured on this
    * box: the sf0.1 documents table is one 584 KB file -> one task computes
    * all 5000 minhash signatures while 31 cores idle).
    *
    * Scale shape: at production volume the source carries thousands of
    * input splits, `current >= target` always holds, and this is a NO-OP —
    * no shuffle is ever added for data that already spreads. When it does
    * fire, the exchange carries exactly the projected columns the caller is
    * about to burn CPU on (callers pass a pre-projected frame), i.e. the
    * same bytes the scan read.
    *
    * Determinism: round-robin repartition with Spark's default
    * sort-before-repartition keeps row placement reproducible under task
    * retries; every consumer in this codebase is row-order-insensitive
    * (per-row projections, set-semantics joins, order-independent
    * aggregates).
    *
    * Filters undo the spread: Catalyst pushes any deterministic Filter over
    * a column computed after the spread through the repartition, onto the
    * scan task, where it computes the column a second time, serially. The
    * optimized plan then shows e.g. `Filter NOT (simhash64(text) = 0)`
    * directly over the relation. Keep such checks out of Filters: put them
    * inside a generator (`explode(when(keep, keys))`), which nothing pushes
    * down.
    */
  def cpuBound(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    staticPartitionCount(df) match {
      case Some(current) if current < target => df.repartition(target)
      case _ => df
    }
  }

  /** Partition count of `df`'s physical plan, ONLY when probing it is free:
    * a plan without exchanges or subqueries builds its RDD lazily, so
    * `execute().getNumPartitions` runs no job. An AQE-wrapped plan would
    * MATERIALIZE its intermediate query stages on `execute()`, and with AQE
    * off a broadcast exchange or a subquery runs its job while the plan is
    * prepared — real jobs, re-run again by the caller's own action — so such
    * plans return None and callers keep their default behavior.
    */
  def staticPartitionCount(df: DataFrame): Option[Int] =
    df.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => None
      case p if p.exists(n => n.isInstanceOf[Exchange] || n.subqueries.nonEmpty) => None
      case p => Some(p.execute().getNumPartitions)
    }
}
