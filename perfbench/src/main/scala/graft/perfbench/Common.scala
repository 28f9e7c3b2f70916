package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload needs from the run: the session of its set-up, its own
  * scratch directory, the seed and the input sizes. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val scale: Scale) {
  def path(parts: String*): String = (work +: parts).mkString("/")

  /** A session sharing the context but with its own silver directory, so
    * every silver the engine builds in it is built anew. */
  def freshSession(tag: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("graft.silver.dir", path("silver", tag))
    s
  }
}

/** Input sizes. `bench` is what every run uses; `tiny` is for the
  * benchmark's own tests. */
final case class Scale(
    name: String,
    chainEvents: Int, chainUsers: Int, chainHot: Int, chainPerHot: Int,
    docs: Int, vectors: Int)

object Scale {
  val bench: Scale = Scale("bench",
    chainEvents = 4000, chainUsers = 4000, chainHot = 2, chainPerHot = 10000,
    docs = 300, vectors = 300)
  val tiny: Scale = Scale("tiny",
    chainEvents = 300, chainUsers = 300, chainHot = 2, chainPerHot = 300,
    docs = 60, vectors = 60)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Sys {
  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat: the
    * share stolen by other guests of the host during a run. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Peak resident set size of this process, from /proc. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length else 0L

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case m: Seq[_] if m.nonEmpty && m.forall(_.isInstanceOf[(_, _)]) =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
