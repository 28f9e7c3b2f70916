package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side. One run = one set-up (session and seeded
  * inputs), the workload's operations, then the correctness check. The
  * result record goes to `--result`; `run.py` prints it. */
object Main {

  val Workloads: Seq[String] =
    Seq("indexer", "corpus_silvers")

  /** The per-layer metrics of every workload, with their units: a traced
    * run reports all of them on its last line, 0 for a layer its
    * workload does not call. */
  val PerLayer: Seq[(String, String)] = {
    def four(p: String) = Seq(s"${p}_s" -> "s", s"${p}_cpu_s" -> "s",
      s"${p}_gc_s" -> "s", s"${p}_shuffle_mb" -> "MB")
    four("ingest.simulate") ++ four("ingest.assemble") ++
      Seq("ingest.assemble_jobs" -> "count", "ingest.traces" -> "count") ++
      four("ingest.classify") ++ Seq("ingest.actions" -> "count",
        "ingest.silver_mb" -> "MB") ++
      ApiReads.Types.map(t => s"api.$t.p50_ms" -> "ms") ++
      Seq("api.jobs_per_req" -> "count", "api.tasks_per_req" -> "count",
        "api.cpu_ms_per_req" -> "ms", "api.rows_read_per_row_returned" -> "ratio") ++
      CorpusSilvers.Parts.map(p => s"corpus.${p}_s" -> "s") ++
      Seq("corpus.cpu_s" -> "s", "corpus.gc_s" -> "s", "corpus.shuffle_mb" -> "MB",
        "corpus.spill_mb" -> "MB", "corpus.ann_recall_at5" -> "ratio") ++
      Seq("stream.batch_p50_s" -> "s", "stream.batch_growth" -> "ratio",
        "stream.state_mb" -> "MB", "stream.cpu_s" -> "s", "stream.gc_s" -> "s",
        "stream.shuffle_mb" -> "MB") ++
      Seq("core_idle_ratio" -> "ratio", "gc_s" -> "s",
        "trace_overhead_ratio" -> "ratio")
  }

  /** The end-to-end metrics on a run's last line. `peak_rss_mb` and
    * `fail_ratio` are printed with the workload's own metrics instead: the
    * first moves 20% between runs of one input with the JVM's heap growth,
    * and the second is 0 on a healthy run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "indexer" => new Indexer(ctx)
    case "corpus_silvers" => new CorpusSilvers(ctx)
    case other => sys.error(s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.silver.dir", s"$work/silver/base")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, result: String, scale: Scale,
      cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"), Scale.bench,
      Runtime.getRuntime.availableProcessors)
  }

  def main(argv: Array[String]): Unit = {
    val jvmBootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = parse(argv)
    val r = run(a, jvmBootS)
    Files.writeString(Paths.get(a.result), Json(r.record))
    // non-daemon Spark threads must not outlive the run
    System.exit(0)
  }

  final case class Result(mismatches: Seq[String], canaryMismatches: Seq[String],
      attempted: Int, failed: Int, endToEnd: Seq[Metric], named: Seq[Metric],
      perLayer: Seq[Metric], record: Seq[(String, Any)])

  /** One whole benchmark run. With `canary`, the check runs a second
    * time on a corrupted output, to prove it can fail. */
  def run(a: Args, jvmBootS: Double, canary: Boolean = false): Result = {
    val loadStart = Sys.loadavg()
    @volatile var loadMax = loadStart
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        loadMax = math.max(loadMax, Sys.loadavg())
        Thread.sleep(500)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // set-up: a new session and the seeded inputs
    val t0s = System.nanoTime()
    val spark = session(a.cores, a.work)
    val t1s = System.nanoTime()
    val wl = make(a.workload, new Ctx(spark, a.work, a.seed, a.scale))
    wl.prepare()
    val setupS = (System.nanoTime() - t0s) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.2f s " +
      f"(session ${(t1s - t0s) / 1e9}%.2f)")

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val ticks0 = Sys.cpuTicks()
    val t0 = System.nanoTime()
    wl.run(a.seconds, tracer)
    val loopS = (System.nanoTime() - t0) / 1e9
    val ticks1 = Sys.cpuTicks()
    val stealRatio = (ticks1._1 - ticks0._1).toDouble / math.max(ticks1._2 - ticks0._2, 1L)
    val spans = tracer.map(_.finish()).getOrElse(Nil)
    System.err.println(f"[perfbench] ${wl.attempted} operations in $loopS%.2f s, " +
      s"${wl.failed} failed")

    val mismatches =
      try wl.check(corrupt = false)
      catch { case t: Throwable => Seq(s"check threw: $t") }
    val canaryMismatches = if (!canary) Nil else wl.check(corrupt = true)
    mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))

    val (thr, p50, tail) =
      if (!wl.complete) (Double.NaN, Double.NaN, Double.NaN) else wl.headline()
    val endToEnd = Seq(
      Metric("setup_s", jvmBootS + setupS, "s"),
      Metric("throughput_per_s", thr, "1/s"),
      Metric("latency_p50_ms", p50, "ms"),
      Metric("latency_tail_ms", tail, "ms"))
    val named = (if (!wl.complete) Nil else wl.endToEnd()) ++ Seq(
      Metric("peak_rss_mb", Sys.peakRssMb(), "MB"),
      Metric("fail_ratio", wl.failed.toDouble / math.max(wl.attempted, 1), "ratio"))

    val perLayer: Seq[Metric] = if (!a.trace) Nil else {
      val own = if (!wl.complete) Nil else wl.perLayer(spans)
      val tracedWall = wl.tracedSeconds
      val tracedRun = tracer.get.tracedRunSeconds
      val general = Seq(
        Metric("core_idle_ratio",
          if (tracedWall > 0) 1 - tracedRun / (tracedWall * a.cores) else 0.0, "ratio"),
        Metric("gc_s", spans.map(_.sums.gcS).sum, "s"),
        Metric("trace_overhead_ratio", wl.traceOverhead, "ratio"))
      own ++ general
    }
    val byName = perLayer.map(m => m.name -> m).toMap
    val lastLine = if (!a.trace) Nil else PerLayer.map { case (n, u) =>
      byName.get(n).map { m =>
        require(m.unit == u, s"$n: unit ${m.unit} != $u"); m
      }.getOrElse(Metric(n, 0.0, u))
    }
    perLayer.filterNot(m => PerLayer.exists(_._1 == m.name)).foreach(m =>
      sys.error(s"per-layer metric ${m.name} is not in Main.PerLayer"))
    sampling = false
    stop(spark)

    def ms(xs: Seq[Metric]) = xs.map(m => m.name -> Seq("value" -> m.value, "unit" -> m.unit))
    val record = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "scale" -> a.scale.name, "cpus" -> a.cores,
      "driver_mem" -> sys.props.getOrElse("perfbench.driver_mem", ""),
      "load_start" -> loadStart, "load_max" -> loadMax, "steal_ratio" -> stealRatio,
      "jvm_boot_s" -> jvmBootS, "setup_s" -> setupS,
      "loop_s" -> loopS,
      "ops" -> wl.ops.map(o => Seq("kind" -> o.kind, "seconds" -> o.seconds,
        "traced" -> o.traced, "warm" -> o.warm)).toSeq,
      "attempted" -> wl.attempted, "failed" -> wl.failed,
      "correct" -> mismatches.isEmpty, "mismatches" -> mismatches,
      "end_to_end" -> ms(endToEnd), "named" -> ms(named),
      "per_layer" -> ms(lastLine))
    Result(mismatches, canaryMismatches, wl.attempted, wl.failed, endToEnd,
      named, lastLine, record)
  }
}
