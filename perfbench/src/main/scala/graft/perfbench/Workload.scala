package graft.perfbench

import scala.collection.mutable

/** One operation of a run: its tag (unique within the run), what kind it
  * is, its duration (None when it failed), whether it ran traced and
  * whether it was an untimed warm-up. */
final case class Op(tag: Int, kind: String, seconds: Option[Double],
    traced: Boolean, warm: Boolean)

/** A benchmark workload. `prepare` is set-up (inputs and anything the
  * timed phases read); `run` runs the warm-up and timed operations through
  * `timed`; `check` compares the engine's outputs with an independent
  * computation and returns the mismatches, run outside the timed region.
  * With `corrupt` set, the check first damages one output row: the canary
  * that proves the check can fail. */
abstract class Workload(val ctx: Ctx) {
  /** Every operation of the run, warm-ups included, in order. */
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty[Op]
  def prepare(): Unit
  /** Warm-up and timed operations; the timed loops run for at least
    * `seconds` between them. */
  def run(seconds: Double, tracer: Option[Tracer]): Unit
  def check(corrupt: Boolean): Seq[String]
  /** End-to-end metrics under the names users of the engine know. */
  def endToEnd(): Seq[Metric]
  /** The throughput, p50 and tail every workload reports under the same
    * names, as (work units per second, p50 ms, tail ms). */
  def headline(): (Double, Double, Double)
  /** Per-layer metrics from the traced spans. */
  def perLayer(spans: Seq[Span]): Seq[Metric]
  /** Whether enough succeeded for the headline metrics. */
  def complete: Boolean
  /** Whether an operation failed: it threw, or took too long for its kind. */
  def failedOp(o: Op): Boolean = o.seconds.isEmpty

  def attempted: Int = ops.size
  def failed: Int = ops.count(failedOp)
  /** Times of the timed operations of one kind that succeeded. */
  def okSeconds(kind: String, traced: Option[Boolean] = None): Seq[Double] =
    ops.filter(o => !o.warm && o.kind == kind && traced.forall(_ == o.traced))
      .flatMap(_.seconds).toSeq
  /** Wall time of every traced operation that succeeded. */
  def tracedSeconds: Double = ops.filter(_.traced).flatMap(_.seconds).sum
  /** Median traced time over median untraced time, minus 1, summed over
    * the kinds timed both ways. */
  def traceOverhead: Double = {
    val both = ops.map(_.kind).distinct.map(k =>
      (okSeconds(k, Some(true)), okSeconds(k, Some(false))))
      .filter { case (t, u) => t.nonEmpty && u.nonEmpty }
    if (both.isEmpty) 0.0
    else both.map(p => Stats.median(p._1)).sum / both.map(p => Stats.median(p._2)).sum - 1
  }

  private var tags = 0

  /** Run and record one operation; `f` gets a tag unique within the run.
    * A throwing operation is counted and logged, never timed. */
  protected def timed(kind: String, tr: Option[Tracer], warm: Boolean = false)(
      f: Int => Unit): Unit = {
    val tag = tags
    tags += 1
    tr.foreach { t => t.op = tag; t.attach() }
    val t0 = System.nanoTime()
    val secs =
      try { f(tag); Some((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable =>
        System.err.println(s"[perfbench] $kind operation $tag FAILED: $t")
        None
      }
    tr.foreach(_.detach())
    ops += Op(tag, kind, secs, tr.isDefined, warm)
  }

  /** `warm` untimed operations, then timed ones for `seconds` and at
    * least `min` of them. In a traced run the timed ones alternate
    * untraced / traced, so the run measures its own tracing overhead. */
  protected def loop(kind: String, warm: Int, min: Int, seconds: Double,
      tracer: Option[Tracer])(f: (Int, Option[Tracer]) => Unit): Unit = {
    (0 until warm).foreach(_ => timed(kind, None, warm = true)(f(_, None)))
    val deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadlineNs) {
      val tr = tracer.filter(_ => i % 2 == 1)
      timed(kind, tr)(f(_, tr))
      i += 1
    }
  }

  /** Per-span metrics named `<prefix>_s`, `_cpu_s`, `_gc_s`,
    * `_shuffle_mb` (medians over the traced calls of one span name). */
  protected def spanMetrics(spans: Seq[Span], span: String,
      prefix: String): Seq[Metric] = {
    val mine = spans.filter(s => s.name == span && s.seconds.isDefined)
    def med(f: Span => Double): Double =
      if (mine.isEmpty) 0.0 else Stats.median(mine.map(f))
    Seq(Metric(s"${prefix}_s", med(_.seconds.get), "s"),
      Metric(s"${prefix}_cpu_s", med(_.sums.cpuS), "s"),
      Metric(s"${prefix}_gc_s", med(_.sums.gcS), "s"),
      Metric(s"${prefix}_shuffle_mb", med(_.sums.shuffleMb), "MB"))
  }
}
