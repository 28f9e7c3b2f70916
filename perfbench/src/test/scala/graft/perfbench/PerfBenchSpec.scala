package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload once at the tiny scale, traced, in this JVM, and
  * checks that the run is correct, that every metric is reported with its
  * unit, and that the correctness check catches one corrupted output. */
class PerfBenchSpec extends AnyFunSuite {

  private val named: Map[String, Seq[(String, String)]] = Map(
    "indexer" -> Seq("ingest.tx_per_s" -> "1/s", "ingest.batch_p50_s" -> "s",
      "stream.fresh_s" -> "s", "stream.fresh_blocks" -> "count",
      "stream.tx_per_s" -> "1/s", "api.p50_ms" -> "ms", "api.p75_ms" -> "ms",
      "api.req_per_s" -> "1/s", "api.requests" -> "count"),
    "corpus_silvers" -> Seq("corpus.docs_per_s" -> "1/s", "corpus.pass_p50_s" -> "s",
      "corpus.ann_recall_at5" -> "ratio"))

  /** Layer metrics that must be measured (non-zero) on each workload. */
  private val moved: Map[String, Seq[String]] = Map(
    "indexer" -> Seq("ingest.simulate_s", "ingest.assemble_s",
      "ingest.classify_s", "ingest.assemble_jobs", "ingest.traces",
      "ingest.actions", "ingest.silver_mb", "stream.batch_p50_s", "stream.cpu_s",
      "stream.state_mb", "api.tx_by_account.p50_ms", "api.jobs_per_req",
      "api.tasks_per_req"),
    "corpus_silvers" -> Seq("corpus.ann_semdedup_s", "corpus.jacc_pairs_s",
      "corpus.ann_recall_at5"))

  private def units(ms: Seq[Metric]): Map[String, String] =
    ms.map(m => m.name -> m.unit).toMap

  Main.Workloads.foreach { w =>
    test(s"$w: correct at tiny scale, every metric with its unit, canary caught") {
      val work = java.nio.file.Files.createTempDirectory(s"perfbench-$w").toString
      val args = Main.Args(w, seed = 7, seconds = 0.5, trace = true, work = work,
        result = s"$work/result.json", scale = Scale.tiny, cores = 2)
      val r = Main.run(args, jvmBootS = 0.0, canary = true)
      Sys.rm(new java.io.File(work))
      assert(r.mismatches.isEmpty, r.mismatches.mkString("\n"))
      assert(r.attempted >= 2 && r.failed == 0)
      assert(r.canaryMismatches.nonEmpty, "the check passed a corrupted output")
      assert(units(r.endToEnd) == Main.EndToEnd.toMap)
      assert(units(r.perLayer) == Main.PerLayer.toMap)
      named(w).foreach { case (n, u) => assert(units(r.named).get(n).contains(u), n) }
      val (fail, others) = r.named.partition(_.name == "fail_ratio")
      assert(fail.map(_.value) == Seq(0.0))
      (r.endToEnd ++ others).foreach(m =>
        assert(!m.value.isNaN && m.value > 0, s"${m.name} = ${m.value}"))
      val all = r.perLayer.map(m => m.name -> m.value).toMap
      moved(w).foreach(n => assert(all(n) > 0, s"$n not measured"))
    }
  }
}
