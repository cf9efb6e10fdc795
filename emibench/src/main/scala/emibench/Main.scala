package emibench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One measured run:
  * `Main --workload <name> --seed <n> --trace <0|1> --dir <tmp>`.
  * Prints one JSON object as the last line of standard output; exits
  * non-zero when any operation fails or any check disagrees.
  */
object Main {
  final case class Opts(workload: String, seed: Long, trace: Boolean, dir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("trace") == "1", Paths.get(need("dir")))
  }

  /** The benchmark's session: `local[k]` with k <= 2, so the task
    * schedule does not depend on the machine's core count.
    */
  def session(dir: Path, trace: Boolean): SparkSession = {
    val k = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
    val b = SparkSession.builder()
      .master(s"local[$k]")
      .appName("emibench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      // the status store keeps finished jobs for the UI; cap it so the
      // heap at the end of a run does not depend on the run's length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fixed warm-up in plain Spark (no program code): one small
    * aggregate with a shuffle, so the first timed operation does not
    * pay for starting the scheduler.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000).selectExpr("id % 7 AS g").groupBy("g").count().collect()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val MB = 1e6

  private def heapAfterGc(): Double = (1 to 4).map { _ =>
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }.min / MB

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try measure(o)
      catch {
        case e: Throwable =>
          System.err.println(s"emibench: ${o.workload}: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace(System.err)
          2
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    Runtime.getRuntime.halt(code)
  }

  /** One run; `limit` cuts the schedule short (class-archive training only). */
  def measure(o: Opts, limit: Int = Int.MaxValue): Int = {
    val mk = Workload.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; have " +
        Workload.all.keys.toSeq.sorted.mkString(", ")))
    val w = mk()
    Files.createDirectories(o.dir)
    val started = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"emibench: $what at ${(System.currentTimeMillis() - started) / 1e3}%.3f s wall, " +
        f"${Snap.processCpuNs() / 1e9}%.3f s cpu")
    phase("main")
    w.prepare(o.seed, Files.createDirectories(o.dir.resolve("inputs")))
    phase("inputs ready")
    val spark = session(o.dir, o.trace)
    phase("session ready")
    warmUp(spark)
    phase("warm-up done")
    val counters = new Counters(spark)
    val tracer = new Tracer(counters, o.trace)
    val run = new Run(spark, counters, tracer)
    val setupS = Snap.processCpuNs() / 1e9
    val setupWall = (System.currentTimeMillis() - started) / 1e3
    val gc0 = Run.gcMillis
    val data = o.dir.resolve("data")

    var failure: Option[String] = None
    var c = 0
    while (failure.isEmpty && c < math.min(w.cycles, limit)) {
      try run.cycle(w.cycle(run, c, data))
      catch {
        case e: CheckFailed => failure = Some(e.getMessage)
        case e: Exception =>
          e.printStackTrace(System.err)
          failure = Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
      c += 1
    }
    val storeBytes = Workload.du(data)
    val gcS = (Run.gcMillis - gc0) / 1e3 - run.forcedGcS
    // a frame the program left persisted is state that outlives its
    // operation: its cached bytes count in heap_mb
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val persistedBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    // the session's thread pools keep per-thread buffers alive for a
    // while after their last task; stop the session first, so what is
    // left is state that outlives it (static memos, the benchmark's
    // model), then take the least heap over four full collections
    spark.stop()
    val heapNow = heapAfterGc()
    System.err.println(f"emibench: heap after gc with the session stopped ${heapNow}%.1f MB; " +
      f"$persisted persisted frames left, ${persistedBytes / MB}%.3f MB")

    val like = run.cycles.drop(1).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("write_cpu_s", median(like.map(_.writeCpu)), "s"),
      ("read_cpu_s", median(like.map(_.readCpu)), "s"),
      ("rows_per_cpu_s", run.rowsOffered / run.writeCpu, "rows/s"),
      ("jobs", run.timed.jobs.toDouble, "count"),
      ("store_mb", storeBytes / MB, "MB"),
      ("heap_mb", heapNow + persistedBytes / MB, "MB"))
    System.err.println(f"emibench: ${o.workload} seed=${o.seed} cycles=${run.cycles.size} " +
      s"ops=${run.attempted} " + e2e.map { case (n, v, _) => f"$n=$v%.4f" }.mkString(" "))
    System.err.println(f"emibench: timed cpu s ${run.timed.seconds}%.3f (all operations)")
    System.err.println(f"emibench: wall seconds: setup $setupWall%.3f, write median " +
      f"${median(like.map(_.writeWall))}%.3f, read median ${median(like.map(_.readWall))}%.3f")
    System.err.println("emibench: cycles (write cpu s, read cpu s / write wall s, read wall s): " +
      run.cycles.map(x => f"(${x.writeCpu}%.2f,${x.readCpu}%.2f / ${x.writeWall}%.2f,${x.readWall}%.2f)")
        .mkString(" "))
    System.err.println("emibench: jobs per operation: " + run.opJobs.mkString(" "))
    failure.foreach(f => System.err.println(s"emibench: CHECK FAILED: $f"))

    val metrics =
      if (!o.trace) e2e
      else {
        val layers = tracer.layers.flatMap { case (l, a) =>
          val s = a.self
          Seq((s"$l.s", s.seconds, "s"), (s"$l.calls", a.calls.toDouble, "count"),
            (s"$l.jobs", s.jobs.toDouble, "count"), (s"$l.tasks", s.tasks.toDouble, "count"),
            (s"$l.read_mb", s.readBytes / MB, "MB"),
            (s"$l.shuffle_mb", s.shuffleBytes / MB, "MB"),
            (s"$l.write_mb", s.writeBytes / MB, "MB"),
            (s"$l.fs_ops", s.fsOps.toDouble, "count"))
        }
        val ratios = Tracer.RatioLayers.map { l =>
          val a = tracer.layers.toMap.apply(l)
          (s"$l.useful_ratio",
            if (a.self.readRecords == 0) 0.0 else a.usefulRows.toDouble / a.self.readRecords,
            "ratio")
        }
        // the traced run's own end-to-end figures and its CPU seconds
        // in timed operations, for the tracing overhead (not part of
        // the result)
        println("emibench-traced-e2e " + json(e2e :+
          (("timed_cpu_s", run.timed.seconds, "s"))))
        layers ++ ratios ++ Seq(
          ("jvm.gc_s", gcS, "s"),
          ("jvm.heap_peak_mb", run.liveHeapPeak / MB, "MB"),
          ("spark.cpu_s", run.timed.cpuNs / 1e9, "s"))
      }
    val ok = failure.isEmpty
    println(s"""{"correct": $ok, "attempted": ${run.attempted}, "failed": ${if (ok) 0 else 1}, "metrics": ${json(metrics)}}""")
    if (ok) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
}
