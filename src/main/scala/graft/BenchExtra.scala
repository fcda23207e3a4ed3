package graft

import org.apache.spark.sql.SparkSession

/** Per-query measurement harness: isolation timing and plan capture.
  * SEPARATE from the frozen [[Bench]] — nothing here feeds the driver's
  * metric; numbers are cited in OPTIMIZATION_r07.md.
  *
  * Usage:
  *   runMain graft.BenchExtra time [reps] [query...]   — per-query seconds (min of reps)
  *   runMain graft.BenchExtra plans <outdir> <suffix> [query...] — write explain("formatted")
  *   runMain graft.BenchExtra jobs [query...]          — per-query Spark job timeline
  */
object BenchExtra {

  private def quietLogs(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One Spark job of a timed call: offsets from the call's start, and the
    * stages and tasks it actually ran (skipped stages are never submitted).
    */
  private final case class JobSpan(id: Int, startMs: Long, var endMs: Long = -1,
      var stages: Int = 0, var tasks: Int = 0)

  /** Runs `body` and returns the jobs it started, in start order, whatever
    * their job group (a stream's micro-batch jobs run in the stream's own).
    * A marker job run afterwards fences the listener events: they arrive in
    * order, so every job of `body` is counted once the marker's start is.
    */
  private def jobTimeline(spark: SparkSession)(body: => Unit): (Long, Seq[JobSpan]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "fence")) {
          fenced = true
        } else {
          jobs.put(e.jobId, JobSpan(e.jobId, e.time))
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))).foreach { j =>
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis
      body
      val wall = System.currentTimeMillis - t0
      sc.setJobGroup("fence", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val end = System.currentTimeMillis + 20000
      while (!fenced && System.currentTimeMillis < end) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      (wall, jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        j.copy(startMs = j.startMs - t0, endMs = if (j.endMs < 0) -1 else j.endMs - t0)))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    quietLogs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = newSession(cpus)
    val mode = args.headOption.getOrElse("time")
    mode match {
      case "time" =>
        val (reps, names0) = args.drop(1).toSeq match {
          case r +: rest if r.forall(_.isDigit) => (r.toInt, rest)
          case rest => (2, rest)
        }
        val names = if (names0.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names0
        // JIT/listing warm-up like Bench
        names.foreach { n =>
          try SparkEntry.queries(n)(spark, sfDir).collect()
          catch { case e: Throwable => System.err.println(s"WARMUP FAIL $n: $e") }
        }
        val results = names.map { n =>
          val secs = (1 to reps).map { _ =>
            spark.sparkContext.setJobDescription(n)
            val (_, s) = time(SparkEntry.queries(n)(spark, sfDir).collect())
            s
          }
          n -> secs
        }
        results.foreach { case (n, ss) =>
          println(f"TIME $n%-36s min=${ss.min}%8.3f all=${ss.map(s => f"$s%.3f").mkString(",")}")
        }
        println("TOTALMIN " + results.map(_._2.min).sum)
      case "plans" =>
        val outDir = args(1)
        val suffix = args(2)
        val names = if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { n =>
          try {
            val df = SparkEntry.queries(n)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            println(s"PLAN $n -> $outDir/${n}_$suffix.txt")
          } catch { case e: Throwable => System.err.println(s"PLAN FAIL $n: $e") }
        }
      case "jobs" =>
        val names = if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { n =>
          // two warm-up runs take the JIT and the file listing out of the timeline
          (1 to 2).foreach(_ => SparkEntry.queries(n)(spark, sfDir).collect())
          val (wall, jobs) = jobTimeline(spark)(SparkEntry.queries(n)(spark, sfDir).collect())
          println(f"JOBS $n%-36s wall=${wall / 1e3}%.3f jobs=${jobs.size} " +
            s"stages=${jobs.map(_.stages).sum} tasks=${jobs.map(_.tasks).sum}")
          jobs.foreach { j =>
            println(f"  job ${j.id}%5d start=+${j.startMs / 1e3}%.3f end=+${j.endMs / 1e3}%.3f " +
              f"stages=${j.stages}%d tasks=${j.tasks}%d")
          }
        }
      case other =>
        System.err.println(s"unknown mode $other")
    }
    spark.stop()
  }
}
