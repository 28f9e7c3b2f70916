package graft.perfbench

import graft.classifier.Classifier
import graft.plans.ChainSim
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The actions the engine must derive from a chain of events, stated by
  * construction (the b02 oracle's rule): each account's events form one
  * trace rooted at its first event; the root is a contract call, a later
  * purchase/signup a TON transfer, any other event a contract call, and
  * every signup also deploys. A trace of more than
  * `Classifier.BigTraceCutoff` transactions is not classified: it gets
  * one failed `unknown` action, as in the reference. */
object ChainOracle {
  /** (trace_id, type, start_lt, success, source, destination) rows. */
  def actions(evs: Seq[Event]): Seq[String] = {
    val byUser = evs.groupBy(_.user)
    val first = byUser.map { case (u, es) => u -> es.map(_.id).min }
    val big = byUser.collect {
      case (u, es) if es.size > Classifier.BigTraceCutoff => u }.toSet
    big.toSeq.map(u => s"T${first(u)}|unknown|${first(u)}|false|null|null") ++
    evs.filterNot(e => big(e.user)).flatMap { e =>
      val fid = first(e.user)
      val trace = s"T$fid"
      val dest = s"0:${e.user}"
      val main =
        if (e.id == fid) "call_contract"
        else if (e.kind == "purchase" || e.kind == "signup") "ton_transfer"
        else "call_contract"
      val src = if (e.id == fid) "null" else dest
      Seq(s"$trace|$main|${e.id}|true|$src|$dest") ++
        (if (e.kind == "signup")
          Seq(s"$trace|contract_deploy|${e.id}|true|null|$dest") else Nil)
    }
  }

  def engineRows(acts: DataFrame): Seq[String] =
    acts.select("trace_id", "type", "start_lt", "success", "source", "destination")
      .collect().toSeq.map(_.toSeq.map(v => String.valueOf(v)).mkString("|"))

  /** Mismatches between two row multisets, at most a few named. */
  def diff(what: String, got: Seq[String], want: Seq[String]): Seq[String] = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    val missing = w.keys.filter(k => g.getOrElse(k, 0) < w(k)).toSeq.sorted
    val extra = g.keys.filter(k => w.getOrElse(k, 0) < g(k)).toSeq.sorted
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"$what: ${got.size} rows vs ${want.size} expected; " +
      s"missing ${missing.size} (e.g. ${missing.take(2).mkString(", ")}), " +
      s"unexpected ${extra.size} (e.g. ${extra.take(2).mkString(", ")})")
  }

  /** txs, msgs, traces and actions counts implied by the events. */
  def counts(evs: Seq[Event]): Map[String, Long] = {
    val users = evs.map(_.user).distinct.size.toLong
    Map("txs" -> evs.size.toLong, "msgs" -> (2L * evs.size - users),
      "traces" -> users, "actions" -> actions(evs).size.toLong)
  }

  def checkCounts(got: Map[String, Long], evs: Seq[Event]): Seq[String] = {
    val want = counts(evs)
    want.toSeq.sortBy(_._1).collect {
      case (k, v) if got.get(k) != Some(v) => s"$k count ${got.get(k)} != $v"
    }
  }

  /** Change one row: the canary every check must catch. */
  def corruptOne(rows: Seq[String]): Seq[String] =
    if (rows.isEmpty) Seq("corrupt") else rows.updated(0, rows.head + "#corrupt")
}

/** The chain side of the indexer, end to end, over one generated chain:
  *
  *  1. Batch ingest: `plans.ChainSim.simulate` → `assembled` →
  *     `classified`; one operation is one whole batch in a fresh session,
  *     each call building only its own silver.
  *  2. Streaming ingest: the same chain less its hot accounts, cut by lt
  *     into block files and fed to `streaming.StreamPipeline.runAvailable`,
  *     which runs one micro-batch per file. (A hot account is one trace of
  *     10^4 transactions here, which the classifier skips and the
  *     streaming assembler would hold open through the whole stream.) The
  *     first `WarmBlocks` go untimed, one call each. The others arrive
  *     together, as after a pause of the worker, and one call catches up
  *     on them: their freshness, from arrival until that call returns, is
  *     the catch-up time.
  *  3. REST reads (`ApiReads`) over the silvers of the last batch.
  */
final class Indexer(ctx: Ctx) extends Workload(ctx) {
  /** Block files the stream is cut into. */
  private val StreamFiles = 3
  /** Blocks streamed untimed, one call each: the first call of a JVM pays
    * the streaming start-up. */
  private val WarmBlocks = 1
  private val src = ctx.path("chain", "src")
  private var evs: Vector[Event] = Vector.empty
  private var lastOk: Option[SparkSession] = None
  private var counts: Map[String, Long] = Map.empty
  private var blocks: Seq[String] = Nil
  /** Transactions in the timed blocks. */
  private var streamTxs = 0L
  /** Freshness of the timed blocks: they arrive together, so one call
    * consumes them all and they share it. */
  private var catchUp: Option[Double] = None
  private var streamOut: Option[String] = None
  private var stateDir: Option[String] = None
  private var tracer: Option[Tracer] = None
  private var api: Option[ApiReads] = None

  /** Set-up: the events. */
  def prepare(): Unit = {
    val sc = ctx.scale
    evs = Inputs.events(ctx.seed, sc.chainEvents, sc.chainUsers, sc.chainHot,
      sc.chainPerHot)
    Inputs.writeEvents(ctx.spark, ctx.seed, evs, src)
  }

  private def hotAccounts: Seq[Long] =
    (0 until ctx.scale.chainHot).map(h => ctx.scale.chainUsers + h.toLong)

  /** Untraced, the run times one batch, the first of the JVM, as a batch
    * ingest job runs once per process. Traced, an untimed batch comes
    * first, then untraced, traced and untraced ones: the traced batch is
    * compared with the two around it, so a JVM still warming up does not
    * read as negative tracing overhead. The stream and the reads follow,
    * over that chain. */
  def run(seconds: Double, tr: Option[Tracer]): Unit = {
    tracer = tr
    loop("batch", warm = tr.fold(0)(_ => 1), min = tr.fold(1)(_ => 3), seconds / 2,
      tr) { (tag, t) => batch(ctx.freshSession(s"chain$tag"), t) }
    lastOk.foreach { s =>
      cutBlocks(s)
      stream(tr)
      val reads = new ApiReads(s, evs, src, ctx.path("chain", "action_accounts"),
        ctx.seed)
      api = Some(reads)
      // the first round holds every request type once: its plans compile
      loop("request", warm = ApiReads.Types.size, min = 40, seconds / 2, tr)(
        reads.request)
    }
  }

  /** The worker's parse output for the ordinary accounts, one parquet
    * file per block of lts. */
  private def cutBlocks(s: SparkSession): Unit = {
    val (txs, msgs) = ChainSim.simulate(s, src)
    val rows = StreamPipeline.toInputRows(txs, msgs)
      .filter(!col("account").isin(hotAccounts.map(u => s"0:$u"): _*)).cache()
    val n = evs.size.toLong
    blocks = (0 until StreamFiles).map { k =>
      val (lo, hi) = (k * n / StreamFiles, (k + 1) * n / StreamFiles)
      val dir = ctx.path("chain", "blocks", s"b$k")
      rows.filter(col("lt") >= lo && col("lt") < hi).coalesce(1)
        .write.parquet(dir)
      new File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.getPath
    }
    streamTxs = rows.filter(col("lt") >= WarmBlocks * n / StreamFiles)
      .select("hash").distinct().count()
    rows.unpersist()
    ()
  }

  private def batch(s: SparkSession, tr: Option[Tracer]): Unit = {
    def sp[T](name: String)(f: => T): T = tr.fold(f)(_.span(name)(f))
    sp("ingest.simulate") { ChainSim.simulate(s, src) }
    sp("ingest.assemble") { ChainSim.assembled(s, src) }
    sp("ingest.classify") { ChainSim.classified(s, src) }
    lastOk = Some(s)
  }

  private def stream(tr: Option[Tracer]): Unit = {
    val s = ctx.freshSession("stream")
    val base = ctx.path("chain", "stream")
    val (in, ck, out) = (s"$base/in", s"$base/ck", s"$base/out")
    def drop(k: Int): Unit =
      Files.copy(Paths.get(blocks(k)), Paths.get(s"$in/block$k.parquet"))
    Files.createDirectories(Paths.get(in))
    (0 until WarmBlocks).foreach { k =>
      timed("stream", None, warm = true) { _ =>
        drop(k)
        StreamPipeline.runAvailable(s, in, ck, out)
      }
    }
    timed("stream", tr) { _ =>
      tr.foreach(_.watchStreams(s))
      val due = System.nanoTime()
      (WarmBlocks until blocks.size).foreach(drop)
      def call(): Unit = StreamPipeline.runAvailable(s, in, ck, out)
      tr.fold(call())(_.span("stream.run_available")(call()))
      catchUp = Some((System.nanoTime() - due) / 1e9)
    }
    streamOut = Some(out)
    stateDir = Some(s"$ck/tastate")
  }

  override def failedOp(o: Op): Boolean =
    super.failedOp(o) || (o.kind == "request" && o.seconds.exists(_ > ApiReads.LimitS))

  /** Latency of each timed request; a failed one never meets the limit. */
  private def latencies: Seq[Double] = ops.toSeq.filter(o => o.kind == "request" && !o.warm)
    .map(o => if (failedOp(o)) Double.PositiveInfinity else o.seconds.get)

  def complete: Boolean = okSeconds("batch").nonEmpty && catchUp.nonEmpty &&
    okSeconds("request").nonEmpty

  /** Batch transactions per second, the p50 request latency, and the
    * stream's catch-up time (the freshness of its timed blocks). */
  def headline(): (Double, Double, Double) =
    (evs.size / Stats.median(okSeconds("batch")),
      Stats.quantile(latencies, 0.5) * 1e3, catchUp.get * 1e3)

  def endToEnd(): Seq[Metric] = Seq(
    Metric("ingest.tx_per_s", evs.size / Stats.median(okSeconds("batch")), "1/s"),
    Metric("ingest.batch_p50_s", Stats.median(okSeconds("batch")), "s"),
    Metric("stream.fresh_s", catchUp.get, "s"),
    Metric("stream.fresh_blocks", blocks.size - WarmBlocks.toDouble, "count"),
    Metric("stream.tx_per_s", streamTxs / catchUp.get, "1/s")) ++
    ApiReads.endToEnd(latencies)

  def perLayer(spans: Seq[Span]): Seq[Metric] = {
    val asm = spans.filter(s => s.name == "ingest.assemble" && s.seconds.isDefined)
    // silver bytes written per traced batch, over its three calls
    val perBatch = spans.filter(_.name.startsWith("ingest.")).groupBy(_.op)
      .values.map(_.map(_.sums.writtenMb).sum).toSeq
    val streamed = spans.filter(s => s.name == "stream.run_available" && s.seconds.isDefined)
    def streamSum(f: Span => Double): Double = streamed.map(f).sum
    val batches = tracer.map(_.streamBatches.map(_._2)).getOrElse(Nil)
    spanMetrics(spans, "ingest.simulate", "ingest.simulate") ++
      spanMetrics(spans, "ingest.assemble", "ingest.assemble") ++
      spanMetrics(spans, "ingest.classify", "ingest.classify") ++ Seq(
      Metric("ingest.assemble_jobs",
        if (asm.isEmpty) 0.0 else Stats.median(asm.map(_.sums.jobs.toDouble)), "count"),
      Metric("ingest.traces", counts.getOrElse("traces", 0L).toDouble, "count"),
      Metric("ingest.actions", counts.getOrElse("actions", 0L).toDouble, "count"),
      Metric("ingest.silver_mb",
        if (perBatch.isEmpty) 0.0 else Stats.median(perBatch), "MB"),
      Metric("stream.batch_p50_s",
        if (batches.isEmpty) 0.0 else Stats.median(batches), "s"),
      // the timed loop's last micro-batch against its first
      Metric("stream.batch_growth",
        if (batches.size < 2) 0.0 else batches.last / batches.head, "ratio"),
      Metric("stream.state_mb",
        stateDir.map(p => Sys.dirBytes(new File(p)) / 1e6).getOrElse(0.0), "MB"),
      Metric("stream.cpu_s", streamSum(_.sums.cpuS), "s"),
      Metric("stream.gc_s", streamSum(_.sums.gcS), "s"),
      Metric("stream.shuffle_mb", streamSum(_.sums.shuffleMb), "MB")) ++
      api.map(_.perLayer(spans)).getOrElse(Nil)
  }

  /** The batch outputs against the by-construction rule and the counts
    * the events imply; the streamed action set against the batch one;
    * the sampled API responses against plain Scala. */
  def check(corrupt: Boolean): Seq[String] = lastOk match {
    case None => Seq("indexer: no successful batch to check")
    case Some(s) =>
      val (txs, msgs) = ChainSim.simulate(s, src)
      val (traces, _, _) = ChainSim.assembled(s, src)
      val acts = ChainSim.classified(s, src)
      counts = Map("txs" -> txs.count(), "msgs" -> msgs.count(),
        "traces" -> traces.count(), "actions" -> acts.count())
      val rows = ChainOracle.engineRows(acts)
      val cols = Seq("trace_id", "action_id", "type", "start_lt")
      def keyed(df: DataFrame): Seq[String] =
        df.select(cols.map(col): _*).collect().toSeq
          .map(_.toSeq.map(String.valueOf).mkString("|"))
      val streamed = streamOut match {
        case None => Seq("indexer: the stream did not complete")
        case Some(out) =>
          val got = keyed(s.read.parquet(s"$out/actions"))
          val hotTraces = evs.filter(e => hotAccounts.contains(e.user))
            .groupBy(_.user).values.map(es => s"T${es.map(_.id).min}").toSeq
          ChainOracle.diff("streamed vs batch actions",
            if (corrupt) ChainOracle.corruptOne(got) else got,
            keyed(acts.filter(!col("trace_id").isin(hotTraces: _*))))
      }
      ChainOracle.checkCounts(counts, evs) ++ ChainOracle.diff("actions",
        if (corrupt) ChainOracle.corruptOne(rows) else rows,
        ChainOracle.actions(evs)) ++ streamed ++
        api.fold(Seq("indexer: no API reads to check"))(_.check(corrupt))
  }
}
