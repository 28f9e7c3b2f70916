package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Spark task sums for one job group. */
final case class TaskSums(
    jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    recordsRead: Long = 0, bytesWritten: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
  def shuffleMb: Double = shuffleBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
  def writtenMb: Double = bytesWritten / 1e6
}

/** One traced call into a layer: its wall time (None when the call
  * failed) and the Spark work of its job group. */
final case class Span(name: String, group: String, seconds: Option[Double],
    op: Int) {
  var sums: TaskSums = TaskSums()
}

/** Records spans around calls into the engine's layers. Each span sets
  * its own job group before the call; a `SparkListener` sums the task
  * metrics of every job by group, and a `StreamingQueryListener` maps a
  * streaming query's run id (the job group Spark gives its micro-batch
  * jobs) back to the span that started it. Spans are kept in memory and
  * their sums read once, after the listener bus has drained.
  *
  * The listeners are attached only while tracing is on, so untraced
  * iterations of a traced run pay none of the tracing cost. */
final class Tracer(sc: SparkContext) {
  private val byGroup = mutable.Map.empty[String, TaskSums]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val alias = mutable.Map.empty[String, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val progress = mutable.ArrayBuffer.empty[(String, Double, Long)]
  private var seq = 0
  @volatile private var currentGroup: String = null
  private var attached = false
  /** Index of the workload operation the next spans belong to. */
  var op: Int = 0

  private def add(group: String, s: TaskSums): Unit = synchronized {
    byGroup(group) = byGroup.getOrElse(group, TaskSums()) + s
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      Tracer.this.synchronized {
        e.stageIds.foreach(id => stageGroup(id) = g)
      }
      add(g, TaskSums(jobs = 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val g = Tracer.this.synchronized(stageGroup.getOrElse(e.stageId, ""))
        add(g, TaskSums(tasks = 1, runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          shuffleBytes = m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          recordsRead = m.inputMetrics.recordsRead,
          bytesWritten = m.outputMetrics.bytesWritten))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val g = currentGroup
      if (g != null) Tracer.this.synchronized { alias(e.runId.toString) = g }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += ((e.progress.runId.toString, e.progress.batchDuration / 1e3,
          e.progress.numInputRows))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val watched = mutable.ArrayBuffer.empty[SparkSession]

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  /** Follow the streaming queries `session` starts while attached. */
  def watchStreams(session: SparkSession): Unit = if (attached) {
    session.streams.addListener(streamListener)
    watched += session
  }

  /** Detach after every event of the traced work has been delivered. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfBenchBus.drain(sc)
    sc.removeSparkListener(listener)
    watched.foreach(_.streams.removeListener(streamListener))
    watched.clear()
    attached = false
  }

  /** Time `f` under a fresh job group named after `name`; a throwing
    * call is recorded with no time and rethrown. */
  def span[T](name: String)(f: => T): T = {
    seq += 1
    val group = s"perfbench:$name:$seq"
    sc.setJobGroup(group, name)
    currentGroup = group
    val t0 = System.nanoTime()
    try {
      val out = f
      spans += Span(name, group, Some((System.nanoTime() - t0) / 1e9), op)
      out
    } catch { case t: Throwable =>
      spans += Span(name, group, None, op)
      throw t
    } finally {
      currentGroup = null
      sc.clearJobGroup()
    }
  }

  /** All recorded spans with their task sums (streaming runs included). */
  def finish(): Seq[Span] = {
    detach()
    synchronized {
      val viaAlias = alias.toSeq.groupBy(_._2).map { case (g, rs) =>
        g -> rs.map(r => byGroup.getOrElse(r._1, TaskSums()))
          .foldLeft(TaskSums())(_ + _)
      }
      spans.foreach { s =>
        s.sums = byGroup.getOrElse(s.group, TaskSums()) +
          viaAlias.getOrElse(s.group, TaskSums())
      }
      spans.toSeq
    }
  }

  /** Micro-batches that read input, as (span, seconds), in order. */
  def streamBatches: Seq[(Span, Double)] = synchronized {
    val spanOf = spans.map(s => s.group -> s).toMap
    progress.toSeq.collect { case (run, secs, rows) if rows > 0 &&
        alias.get(run).exists(spanOf.contains) =>
      spanOf(alias(run)) -> secs
    }
  }

  /** Executor run time summed over every traced group. */
  def tracedRunSeconds: Double = synchronized {
    val groups = spans.map(_.group).toSet
    val direct = byGroup.collect { case (g, s) if groups(g) => s.runMs }.sum
    val streamed = alias.collect { case (r, g) if groups(g) =>
      byGroup.get(r).map(_.runMs).getOrElse(0L) }.sum
    (direct + streamed) / 1e3
  }
}
