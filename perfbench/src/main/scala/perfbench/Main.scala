package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints its metrics, then one JSON
  * result line (the last line of standard output).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work-dir <dir> [--size full|smoke] [--trace-out <file>]
  *
  * The session is local[nproc].
  *
  * With --trace 0 the result carries the end-to-end metrics; with --trace 1
  * it carries the per-layer metrics of a traced run. The exit code is 0 only
  * when every operation succeeded and every output check passed.
  */
object Main {
  /** End-to-end metrics of the result line, with their units: those every
    * workload has. Metrics of one workload only are printed above it.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "rows_per_s" -> "rows/s")
  /** Per-layer metrics of the traced result line: the layers every workload
    * exercises. Layer metrics of one workload only are printed above it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan.rows_per_s" -> "rows/s",
    "core.insert_hll_ns" -> "ns", "core.wyhash_url_ns" -> "ns",
    "core.insert_sparse_ns" -> "ns", "core.merge_hll_us" -> "us",
    "core.serialize_us" -> "us", "core.deserialize_us" -> "us",
    "core.anchor_inserts_per_s" -> "1/s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.failed_tasks" -> "count",
    "trace_overhead_s" -> "s")

  /** Input generation rounds; `setup_s` takes the median. */
  val SetupRounds = 3
  /** Checked job runs before measuring: at least WarmupRuns, and more
    * until WarmupSeconds have passed. The first runs of a JVM are slow and
    * get faster run by run while the JIT compiles Spark's and the library's
    * code; measuring them would mostly measure that.
    */
  val WarmupRuns = 2
  val WarmupSeconds = 5.0
  /** Fewest measured job runs, whatever the time budget: a median of
    * three still drops one job slowed by the host.
    */
  val MinRuns = 3
  /** A traced run alternates untraced and traced job runs, at least this
    * many of each, so both sides see the same warm-up state.
    */
  val MinTracedRuns = 2
  /** Measurement stops after this many seconds even below MinRuns. */
  val HardStopSeconds = 60.0
  val ScanRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, smoke: Boolean, cores: Int, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      workDir = need("work-dir"),
      smoke = kv.getOrElse("size", "full") match {
        case "full" => false
        case "smoke" => true
        case s => throw new IllegalArgumentException(s"--size must be full or smoke, got $s")
      },
      cores = Runtime.getRuntime.availableProcessors,
      traceOut = kv.get("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}")
          2
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  private def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()

  /** One measured job run: its outcome and the engine work it caused. */
  final case class Run(outcome: Outcome, engine: EngineCounts, trace: Int)

  final class Harness(wl: Workload, spark: SparkSession, listener: BenchListener) {
    var attempted = 0
    var failed = 0

    /** Runs the job once; a throw or a failed check counts as a failed
      * operation and yields no run, so it is never recorded as a time.
      */
    def attempt(ctx: Ctx): Option[Run] = {
      attempted += 1
      val trace = ctx.tracer.newTrace()
      val before = listener.snapshot(spark)
      try {
        val o = ctx.tracer.span("job", "bench")(wl.job(ctx))
        val engine = listener.snapshot(spark).minus(before).minus(o.excluded)
        if (o.problems.isEmpty) Some(Run(o, engine, trace))
        else {
          failed += 1
          o.problems.take(20).foreach(p => System.err.println(s"perfbench: wrong output: $p"))
          None
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: job failed: $e")
          e.printStackTrace()
          None
      }
    }

    /** Runs the job once under each context in turn, round after round,
      * until `budget` seconds have passed and at least `minRounds` rounds
      * were made; returns the checked runs of each context. Every other
      * round goes in reverse order, so no context always runs first.
      */
    def loop(ctxs: Seq[Ctx], budget: Double, minRounds: Int): Seq[Seq[Run]] = {
      val t0 = System.nanoTime()
      val runs = ctxs.map(_ => ArrayBuffer.empty[Run])
      var rounds = 0
      while ((rounds < minRounds || Stats.seconds(t0) < budget) &&
          Stats.seconds(t0) < HardStopSeconds) {
        rounds += 1
        val order = ctxs.zip(runs)
        (if (rounds % 2 == 0) order.reverse else order).foreach { case (ctx, done) =>
          done ++= attempt(ctx) }
      }
      runs.map(_.toSeq)
    }
  }

  private def line(m: Metric): String = {
    val note = if (m.note.isEmpty) "" else s"  (${m.note})"
    f"metric ${m.name}%-28s ${m.value}%.6g ${m.unit} n=${m.n}$note"
  }

  def run(a: Args): Int = {
    val wl = Workload(a.workload, a.smoke, a.cores)
    new java.io.File(a.workDir).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(a)
    val startS = Stats.seconds(t0)
    val listener = BenchListener.install(spark)
    val h = new Harness(wl, spark, listener)
    val plain = Ctx(spark, new Tracer(false), listener)

    val genS = (1 to SetupRounds).map(_ => Stats.timed(wl.generate(spark, a.seed, a.workDir))._2)
    val (_, prepS) = Stats.timed(wl.prepare(spark, a.seed))
    val (warmups, warmS) = Stats.timed(h.loop(Seq(plain), WarmupSeconds, WarmupRuns).head.length)
    val setupS = startS + Stats.median(genS) + prepS + warmS

    println(s"perfbench workload=${wl.name} seed=${a.seed} master=local[${a.cores}] " +
      s"nproc=${Runtime.getRuntime.availableProcessors} size=${if (a.smoke) "smoke" else "full"} " +
      s"trace=${if (a.trace) 1 else 0} spark=${spark.version} " +
      s"scala=${scala.util.Properties.versionNumberString} jvm=${System.getProperty("java.version")}")
    println("input " + wl.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    val tracer = new Tracer(a.trace)
    val traced = Ctx(spark, tracer, listener)
    listener.resetPeak(spark)
    val (runs, tracedRuns) =
      if (a.trace) {
        val Seq(p, t) = h.loop(Seq(plain, traced), a.seconds, MinTracedRuns)
        (p, t)
      } else (h.loop(Seq(plain), a.seconds, MinRuns).head, Nil)
    val peakMb = listener.peakExecMb(spark)
    val outcomes = runs.map(_.outcome)
    val jobS = if (runs.isEmpty) Double.NaN else Stats.median(outcomes.map(_.jobSeconds))

    val printed: Seq[Metric] =
      if (!a.trace) {
        val anchor = CoreProbe.anchorInsertsPerSecond()
        Seq(
          Metric("setup_s", setupS, "s", SetupRounds,
            f"session start $startS%.3f + median generation ${Stats.median(genS)}%.3f + " +
              f"exact answers $prepS%.3f + $warmups warm-up jobs $warmS%.3f"),
          Metric("job_s", jobS, "s", runs.length,
            "median of " + outcomes.map(o => f"${o.jobSeconds}%.3f").mkString(" ")),
          Metric("rows_per_s", wl.inputRows / jobS, "rows/s", runs.length,
            s"${wl.inputRows} input rows / job_s"),
          Metric("peak_exec_mem_mb", peakMb, "MB", runs.length,
            "max task peakExecutionMemory")) ++
          Stats.tail(outcomes.map(_.jobSeconds)).map { case (p, v) =>
            Metric("job_s_tail", v, "s", runs.length, s"p$p") } ++
          (if (runs.isEmpty) Nil else wl.endToEnd(outcomes)) ++ Seq(
          Metric("ops_failed_share", h.failed.toDouble / h.attempted, "ratio", h.attempted,
            s"${h.failed} of ${h.attempted} operations failed or were wrong"),
          Metric("core.anchor_inserts_per_s", anchor, "1/s", 7, "host anchor"))
      } else perLayer(a, wl, traced, runs, tracedRuns, jobS)
    printed.foreach(m => println(line(m)))

    val result = (if (a.trace) PerLayer else EndToEnd).flatMap { case (name, unit) =>
      printed.find(m => m.name == name && m.unit == unit && m.value.isFinite) }
    val correct = h.failed == 0 && runs.nonEmpty &&
      result.length == (if (a.trace) PerLayer else EndToEnd).length
    val metrics = result.map(m =>
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${h.attempted}, "failed": ${h.failed}, """ +
      s""""metrics": {$metrics}}""")
    spark.stop()
    if (correct) 0 else 1
  }

  private def perLayer(a: Args, wl: Workload, ctx: Ctx, plainRuns: Seq[Run],
      tracedRuns: Seq[Run], plainJobS: Double): Seq[Metric] = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val tracedJobS =
      if (tracedRuns.isEmpty) Double.NaN else Stats.median(tracedRuns.map(_.outcome.jobSeconds))
    a.traceOut.foreach(tracer.writeJsonLines)

    val scanS = Stats.median((1 to ScanRounds).map(_ => Stats.timed(
      wl.scanFrame(spark).write.format("noop").mode("overwrite").save())._2))
    def engineMedian(f: EngineCounts => Long): Double =
      if (plainRuns.isEmpty) Double.NaN else Stats.median(plainRuns.map(r => f(r.engine).toDouble))
    val n = plainRuns.length
    val common = Seq(
      Metric("scan.s", scanS, "s", ScanRounds, "noop-sink read of the job's projection"),
      Metric("scan.rows_per_s", wl.inputRows / scanS, "rows/s", ScanRounds)) ++
      CoreProbe.metrics() ++ Seq(
      Metric("spark.jobs", engineMedian(_.jobs), "count", n, "per job run"),
      Metric("spark.stages", engineMedian(_.stages), "count", n, "per job run"),
      Metric("spark.tasks", engineMedian(_.tasks), "count", n, "per job run"),
      Metric("spark.shuffle_bytes", engineMedian(_.shuffleWriteBytes), "B", n, "per job run"),
      Metric("spark.spill_bytes", engineMedian(_.spillBytes), "B", n, "per job run"),
      Metric("spark.failed_tasks", engineMedian(_.failedTasks), "count", n, "per job run"),
      Metric("trace_overhead_s", tracedJobS - plainJobS, "s", tracedRuns.length,
        "traced job_s - untraced job_s"))
    // only where the job ran sketch aggregates
    val functions =
      if (!(engineMedian(_.partialBuffersOut) > 0)) Nil
      else Seq(
        Metric("functions.partial_agg_ms", engineMedian(_.partialAggMs), "ms", n,
          "sketch aggregate aggTime, partial mode, summed over tasks"),
        Metric("functions.final_agg_ms", engineMedian(_.finalAggMs), "ms", n,
          "sketch aggregate aggTime, final mode, summed over tasks"),
        Metric("functions.sort_fallback_tasks", engineMedian(_.sortFallbackTasks), "count", n),
        Metric("functions.spill_bytes", engineMedian(_.aggSpillBytes), "B", n),
        Metric("functions.partial_buffers_out", engineMedian(_.partialBuffersOut), "count", n),
        Metric("functions.shuffle_bytes_per_row",
          engineMedian(_.shuffleWriteBytes) / wl.inputRows, "B", n))
    val selfTimes = tracedRuns.map(r => tracer.selfByLayer(r.trace))
    val layerSelf = selfTimes.flatMap(_.keySet).distinct.sorted.map { layer =>
      Metric(s"self_s.$layer", Stats.median(selfTimes.map(_.getOrElse(layer, 0.0))), "s",
        selfTimes.length, "median self time per traced job run")
    }
    val specific = wl.perLayer(ctx, tracedRuns.map(_.outcome))

    val blocking =
      if (tracedRuns.isEmpty) Double.NaN
      else Stats.median(tracedRuns.map(r => tracer.blockingSeconds(r.trace)))
    println(f"accounting: blocking-path layer spans of a traced run $blocking%.4f s, " +
      f"traced job_s $tracedJobS%.4f = untraced job_s $plainJobS%.4f + trace_overhead_s " +
      f"${tracedJobS - plainJobS}%.4f")
    common ++ functions ++ specific ++ layerSelf
  }
}
