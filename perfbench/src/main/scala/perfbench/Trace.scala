package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial, PartialMerge}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `trace` groups the spans of one job run;
  * `parent` is the id of the enclosing span, -1 for a root.
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"trace":$trace,"id":$id,"parent":$parent,"name":"$name","layer":"$layer",""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Records spans around the benchmark's own calls into the library. When
  * disabled, `span` only runs its body. Spans stay in memory until the run
  * ends; one thread makes all the calls.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var trace = 0

  def newTrace(): Int = { trace += 1; trace }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        done += Span(trace, id, parent, name, layer, t0, System.nanoTime())
      }
    }

  /** Span seconds minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** Self seconds per layer over the spans of one trace. */
  def selfByLayer(trace: Int): Map[String, Double] =
    done.filter(_.trace == trace).groupBy(_.layer)
      .map { case (layer, ss) => layer -> ss.map(selfSeconds).sum }

  /** Seconds of the blocking path of one trace: the top-level layer calls
    * under its root span. Spans in the "bench" layer are harness work (such
    * as a read path timed apart from the job) and are left out.
    */
  def blockingSeconds(trace: Int): Double = {
    val ofTrace = done.filter(_.trace == trace)
    val roots = ofTrace.filter(_.parent == -1).map(_.id).toSet
    ofTrace.filter(s => roots.contains(s.parent) && s.layer != "bench").map(_.seconds).sum
  }

  def writeJsonLines(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try done.sortBy(_.startNs).foreach(s => w.println(s.json)) finally w.close()
  }
}

/** Engine counters accumulated by [[BenchListener]]; `minus` gives the
  * counts of the work between two snapshots.
  */
final case class EngineCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    recordsRead: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    bytesWritten: Long = 0, partialAggMs: Long = 0, finalAggMs: Long = 0, sortFallbackTasks: Long = 0,
    aggSpillBytes: Long = 0, partialBuffersOut: Long = 0) {
  def minus(o: EngineCounts): EngineCounts = EngineCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    recordsRead - o.recordsRead, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, bytesWritten - o.bytesWritten, partialAggMs - o.partialAggMs,
    finalAggMs - o.finalAggMs, sortFallbackTasks - o.sortFallbackTasks,
    aggSpillBytes - o.aggSpillBytes, partialBuffersOut - o.partialBuffersOut)
}

/** The benchmark's own engine listener: job, stage and task counts, shuffle,
  * spill, bytes written and peak execution memory from task metrics, and,
  * per finished SQL execution, the metrics of the sketch aggregate operators
  * (those whose aggregate function is a `graft` class).
  */
final class BenchListener extends SparkListener with QueryExecutionListener {
  @volatile private var c = EngineCounts()
  @volatile private var peakExecBytes = 0L

  def snapshot(spark: SparkSession): EngineCounts = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    c
  }

  def resetPeak(spark: SparkSession): Unit = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    peakExecBytes = 0L
  }

  def peakExecMb(spark: SparkSession): Double = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    peakExecBytes / (1024.0 * 1024.0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = if (e.reason == org.apache.spark.Success) 0 else 1
    c = c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + failed)
    if (m != null) {
      c = c.copy(
        recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten)
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { addPlan(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { addPlan(qe.executedPlan) }

  private def addPlan(plan: SparkPlan): Unit =
    BenchListener.nodes(plan).foreach {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
          _.aggregateFunction.getClass.getName.startsWith("graft.")) =>
        def metric(n: String): Long = a.metrics.get(n).map(_.value).getOrElse(0L)
        val modes = a.aggregateExpressions.map(_.mode).toSet
        val partial = modes.contains(Partial) || modes.contains(PartialMerge)
        val aggMs = metric("aggTime")
        c = c.copy(
          partialAggMs = c.partialAggMs + (if (partial) aggMs else 0L),
          finalAggMs = c.finalAggMs + (if (modes.contains(Final)) aggMs else 0L),
          sortFallbackTasks = c.sortFallbackTasks + metric("numTasksFallBacked"),
          aggSpillBytes = c.aggSpillBytes + metric("spillSize"),
          partialBuffersOut = c.partialBuffersOut +
            (if (partial) metric("numOutputRows") else 0L))
      case _ => ()
    }
}

object BenchListener {
  def install(spark: SparkSession): BenchListener = {
    val l = new BenchListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Every physical operator of a finished plan, looking through adaptive
    * wrappers, query stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
