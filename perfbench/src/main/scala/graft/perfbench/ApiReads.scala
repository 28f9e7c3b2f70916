package graft.perfbench

import graft.classifier.ClassifyJob
import graft.operators.QueryLayer
import graft.plans.ChainSim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.util.SplittableRandom
import scala.collection.mutable

object ApiReads {
  val Types: Seq[String] = Seq("tx_by_account", "tx_by_lt_range",
    "traces_by_account", "actions_by_account", "adjacent_tx")
  /** The reference API's `--query-timeout`: a slower request counts as failed. */
  val LimitS = 3.0

  /** End-to-end metrics of the timed request latencies (a failed request
    * never meets the limit): p50 and p75 (the highest percentile with ten
    * requests beyond it at 40 requests), requests per second, and the
    * sample counts. */
  def endToEnd(latencies: Seq[Double]): Seq[Metric] = {
    val l = latencies
    val p75 = Stats.quantile(l, 0.75) * 1e3
    Seq(Metric("api.p50_ms", Stats.quantile(l, 0.5) * 1e3, "ms"),
      Metric("api.p75_ms", p75, "ms"),
      Metric("api.req_per_s", l.count(_.isFinite) / l.filter(_.isFinite).sum, "1/s"),
      Metric("api.requests", l.size.toDouble, "count"),
      Metric("api.beyond_p75", l.count(_ * 1e3 > p75).toDouble, "count"))
  }
}

final case class Request(kind: String, account: String, lo: Long, hi: Long,
    hash: String)

/** The read path over one ingested chain: a closed-loop client sends a
  * seeded stream of REST requests through `operators.QueryLayer` over the
  * chain silvers of session `s`. The chain has a few hot accounts
  * (`Inputs.events`), and an account request names the account of a
  * transaction, so hot accounts are asked for in proportion to their
  * traffic. */
final class ApiReads(s: SparkSession, evs: Vector[Event], src: String,
    bridgeDir: String, seed: Long) {
  import ApiReads._
  private val (txs, msgs) = ChainSim.simulate(s, src)
  private val (traces, _, txw) = ChainSim.assembled(s, src)
  private val acts = ChainSim.classified(s, src)
  // the action-account bridge the reference keeps next to the actions
  ClassifyJob.actionAccounts(s, acts).write.parquet(bridgeDir)
  private val bridge = s.read.parquet(bridgeDir)
  private val samples = mutable.ArrayBuffer.empty[(Request, Seq[String])]
  private val rowsOut = mutable.Map.empty[Int, Long]
  private val reqs = new Requests(seed)
  private val sampler = new SplittableRandom(seed * 31 + 8)

  /** Seeded request stream: each round of five requests holds every
    * type once, in seeded order (no source gives the mix of the
    * reference's traffic, so the types are equally likely). An account
    * request names the account of a transaction, so accounts are asked
    * for in proportion to their traffic; the transactions are taken in
    * account order at golden-ratio steps from a seeded start, so every
    * run asks for the hot accounts in the same share. Hashes and lt
    * windows are uniform. */
  private final class Requests(seed: Long) {
    private val rnd = new SplittableRandom(seed * 31 + 7)
    private val byAccount = evs.map(_.user).sorted
    private var u = rnd.nextDouble()
    private var round: Seq[String] = Nil
    private def shuffled(xs: Seq[String]): Seq[String] = {
      val a = xs.toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    private def account(): String = {
      u = (u + 0.6180339887498949) % 1.0
      s"0:${byAccount((u * byAccount.size).toInt)}"
    }
    def next(): Request = {
      if (round.isEmpty) round = shuffled(Types)
      val kind = round.head
      round = round.tail
      val id = rnd.nextInt(evs.size).toLong
      kind match {
        case "tx_by_lt_range" => Request(kind, "", id, id + 200, "")
        case "adjacent_tx" => Request(kind, "", 0, 0, s"T$id")
        case _ => Request(kind, account(), 0, 0, "")
      }
    }
  }

  /** One request, answered in full as the API would (all columns
    * collected); returns each row's key for the check. */
  private def execute(r: Request): Seq[String] = {
    def keys(df: DataFrame, cols: String*): Seq[String] =
      df.collect().toSeq.map(row => cols.map(c => String.valueOf(row.getAs[Any](c))).mkString("|"))
    r.kind match {
      case "tx_by_account" => keys(QueryLayer.transactions(txs,
        QueryLayer.TxRequest(account = Some(r.account), limit = 20)), "hash")
      case "tx_by_lt_range" => keys(QueryLayer.transactions(txs,
        QueryLayer.TxRequest(ltMin = Some(r.lo), ltMax = Some(r.hi), limit = 50)), "hash")
      case "traces_by_account" =>
        keys(QueryLayer.tracesByAccount(traces, txw, r.account, 20), "trace_id")
      case "actions_by_account" => keys(QueryLayer.actionsByRequest(acts, bridge,
        QueryLayer.ActionsRequest(account = Some(r.account), limit = 20)), "action_id")
      case "adjacent_tx" => keys(QueryLayer.adjacentTransactions(msgs, r.hash),
        "tx_hash", "msg_hash", "direction")
    }
  }

  /** One request of the run; about one response in five, chosen by the
    * seed, is kept for the check. */
  def request(tag: Int, tr: Option[Tracer]): Unit = {
    val r = reqs.next()
    val rows = tr.fold(execute(r))(_.span(s"api.${r.kind}")(execute(r)))
    rowsOut(tag) = rows.size.toLong
    if (sampler.nextInt(5) == 0) samples += r -> rows
  }

  def perLayer(spans: Seq[Span]): Seq[Metric] = {
    val ok = spans.filter(s => s.name.startsWith("api.") && s.seconds.isDefined)
    def per(f: Span => Double): Double =
      if (ok.isEmpty) 0.0 else ok.map(f).sum / ok.size
    val returned = ok.map(s => rowsOut.getOrElse(s.op, 0L)).sum
    Types.map { t =>
      val mine = ok.filter(_.name == s"api.$t")
      Metric(s"api.$t.p50_ms",
        if (mine.isEmpty) 0.0 else Stats.median(mine.map(_.seconds.get)) * 1e3, "ms")
    } ++ Seq(
      Metric("api.jobs_per_req", per(_.sums.jobs.toDouble), "count"),
      Metric("api.tasks_per_req", per(_.sums.tasks.toDouble), "count"),
      Metric("api.cpu_ms_per_req", per(_.sums.cpuS * 1e3), "ms"),
      Metric("api.rows_read_per_row_returned",
        ok.map(_.sums.recordsRead).sum.toDouble / math.max(returned, 1L), "ratio"))
  }

  // ------------------------------------------------------------ check

  /** Each sampled response against the same request answered in plain
    * Scala over the collected serving tables. */
  def check(corrupt: Boolean): Seq[String] = {
    def rows(df: DataFrame, cols: String*): Seq[Row] = df.select(cols.map(col): _*).collect().toSeq
    val txRows = rows(txs, "hash", "account", "lt")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val msgRows = rows(msgs, "msg_hash", "tx_hash", "direction")
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val traceEnd = rows(traces, "trace_id", "end_lt")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val traceOfTx = rows(txw, "hash", "account", "trace_id")
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val actEnd = rows(acts, "trace_id", "action_id", "end_lt")
      .map(r => (r.getString(0), r.getString(1)) -> Option(r.get(2))).toMap
    val bridgeRows = rows(bridge, "account", "trace_id", "action_id",
      "trace_end_lt", "action_end_lt")
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val desc: Ordering[(Long, String)] = Ordering.Tuple2[Long, String].reverse

    def expected(r: Request): Seq[String] = r.kind match {
      case "tx_by_account" => txRows.filter(_._2 == r.account)
        .map(t => (t._3, t._1)).sorted(desc).take(20).map(_._2)
      case "tx_by_lt_range" => txRows.filter(t => t._3 >= r.lo && t._3 <= r.hi)
        .map(t => (t._3, t._1)).sorted(desc).take(50).map(_._2)
      case "traces_by_account" =>
        traceOfTx.filter(_._2 == r.account).map(_._3).distinct
          .sortBy(id => (-traceEnd(id), id)).take(20)
      case "actions_by_account" =>
        bridgeRows.filter(b => b._1 == r.account &&
            actEnd.get((b._2, b._3)).exists(_.isDefined))
          .sortBy(b => (b._4, b._2, b._5, b._3))(
            Ordering.Tuple4[Long, String, Long, String].reverse)
          .take(20).map(_._3)
      case "adjacent_tx" =>
        val mine = msgRows.filter(_._2 == r.hash)
        mine.flatMap { case (h, _, d1) =>
          msgRows.filter(m => m._1 == h && m._3 != d1 && m._2 != r.hash)
        }.distinct.sortBy(m => (m._2, m._1)).map(m => s"${m._2}|${m._1}|${m._3}")
    }
    val checked = if (corrupt && samples.nonEmpty)
      samples.updated(0, samples(0)._1 -> ChainOracle.corruptOne(samples(0)._2))
      else samples
    val bad = checked.toSeq.flatMap { case (r, got) =>
      val want = expected(r)
      if (got == want) None
      else Some(s"$r: got ${got.take(3).mkString(",")}… (${got.size}), " +
        s"expected ${want.take(3).mkString(",")}… (${want.size})")
    }
    (if (samples.isEmpty) Seq("api: no sampled responses") else Nil) ++
      bad.take(5) ++ (if (bad.size > 5) Seq(s"… ${bad.size - 5} more") else Nil)
  }
}
