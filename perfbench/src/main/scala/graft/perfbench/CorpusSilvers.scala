package graft.perfbench

import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object CorpusSilvers {
  private val others: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "shingles" -> ((s, d) => { Dedup.shingled(s, d).count(); () }),
    "jacc_pairs" -> ((s, d) => {
      Dedup.repJaccardPairsSilver(s, d, Dedup.RepPairThreshold).count(); () }),
    "phash" -> ((s, d) => { Multimodal.phashSilver(s, d).count(); () }),
    "audio" -> ((s, d) => { Multimodal.audioFpSilver(s, d).count(); () }),
    "video" -> ((s, d) => { Multimodal.videoFpSilver(s, d).count(); () }))

  /** Every silver part of the corpus layers, in build order. */
  val Steps: Seq[(String, (SparkSession, String) => Unit)] =
    Similarity.sharedSilverParts ++ others
  val Parts: Seq[String] = Steps.map(_._1)

  /** Pooled top-5 recall of the four approximate indexes may not fall
    * below this. Measured at the bench scale: 0.675-0.762 on seeds
    * 301-310; the floor leaves room for seed variation only. */
  val RecallFloor = 0.6
  /** Pairs this close to the exact-pair cosine threshold are left out of
    * the comparison: the two sides may round them differently. */
  val Eps = 1e-9
}

/** The LLM-corpus silvers: the ANN indexes and semantic dedup
  * (`operators.Similarity`), shingles and the rep-pair Jaccard relation
  * (`operators.Dedup`) and the media fingerprints
  * (`operators.Multimodal`), over generated documents and embeddings. No
  * chain work at all. */
final class CorpusSilvers(ctx: Ctx) extends Workload(ctx) {
  import CorpusSilvers._
  private val src = ctx.path("corpus", "src")
  private var vecs: Vector[Array[Float]] = Vector.empty
  private var lastOk: Option[SparkSession] = None
  private var recall = 0.0

  def prepare(): Unit = {
    vecs = Inputs.embeddings(ctx.seed, ctx.scale.vectors)
    Inputs.writeDocuments(ctx.spark, ctx.seed, ctx.scale.docs, src)
    Inputs.writeEmbeddings(ctx.spark, ctx.seed, vecs, src)
    // media payloads are input data in production; the engine caches
    // their synthesis per corpus, so it belongs to set-up
    val s = ctx.spark
    Multimodal.imagesFromDocuments(s, src).count()
    Multimodal.audioGroupsFromDocuments(s, src).count()
    Multimodal.videoGroupsFromDocuments(s, src).count()
    ()
  }

  /** Untraced, the run times one pass over every part, the first of the
    * JVM, as a corpus build runs once per process. Traced, an untimed pass
    * comes first, then untraced, traced and untraced ones (see
    * `Indexer.run`). */
  def run(seconds: Double, tr: Option[Tracer]): Unit =
    loop("pass", warm = tr.fold(0)(_ => 1), min = tr.fold(1)(_ => 3), seconds, tr)(pass)

  /** Wall time of each part of each untraced pass, by pass tag. */
  private val partSeconds = mutable.ArrayBuffer.empty[(Int, String, Double)]

  private def pass(tag: Int, tr: Option[Tracer]): Unit = {
    val s = ctx.freshSession(s"corpus$tag")
    Steps.foreach { case (name, f) =>
      val t0 = System.nanoTime()
      tr.fold(f(s, src))(_.span(s"corpus.$name")(f(s, src)))
      if (tr.isEmpty) partSeconds += ((tag, name, (System.nanoTime() - t0) / 1e9))
    }
    lastOk = Some(s)
  }

  def complete: Boolean = okSeconds("pass", Some(false)).nonEmpty

  /** Median time of each part over the timed untraced passes. */
  private def parts: Seq[Double] = {
    val timed = ops.filter(o => !o.warm && !o.traced && o.seconds.isDefined)
      .map(_.tag).toSet
    partSeconds.filter(p => timed(p._1)).groupBy(_._2).values
      .map(ps => Stats.median(ps.map(_._3).toSeq)).toSeq
  }

  /** Documents per second of a whole pass, the p50 of the part times, and
    * the pass time: the corpus is complete when its last part is. (The
    * slowest single part moved by a third between runs of one input.) */
  def headline(): (Double, Double, Double) = {
    val pass = Stats.median(okSeconds("pass", Some(false)))
    (ctx.scale.docs / pass, Stats.median(parts) * 1e3, pass * 1e3)
  }

  def endToEnd(): Seq[Metric] = Seq(
    Metric("corpus.docs_per_s", headline()._1, "1/s"),
    Metric("corpus.pass_p50_s", Stats.median(okSeconds("pass", Some(false))), "s"),
    Metric("corpus.ann_recall_at5", recall, "ratio"))

  def perLayer(spans: Seq[Span]): Seq[Metric] = {
    val ok = spans.filter(_.seconds.isDefined)
    def perPass(f: Span => Double): Double = {
      val passes = ok.groupBy(_.op).values.map(_.map(f).sum).toSeq
      if (passes.isEmpty) 0.0 else Stats.median(passes)
    }
    Parts.map { p =>
      val mine = ok.filter(_.name == s"corpus.$p")
      Metric(s"corpus.${p}_s",
        if (mine.isEmpty) 0.0 else Stats.median(mine.map(_.seconds.get)), "s")
    } ++ Seq(
      Metric("corpus.cpu_s", perPass(_.sums.cpuS), "s"),
      Metric("corpus.gc_s", perPass(_.sums.gcS), "s"),
      Metric("corpus.shuffle_mb", perPass(_.sums.shuffleMb), "MB"),
      Metric("corpus.spill_mb", perPass(_.sums.spillMb), "MB"),
      Metric("corpus.ann_recall_at5", recall, "ratio"))
  }

  // ------------------------------------------------------------ check

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The exact top-5 and the exact near-duplicate pairs computed by brute
    * force over the generated vectors; the recall of the approximate
    * indexes against the engine's own truth table. */
  def check(corrupt: Boolean): Seq[String] = lastOk match {
    case None => Seq("corpus_silvers: no successful pass to check")
    case Some(s) =>
      def triples(q: graft.Q): Seq[String] = q.fn(s, src)
        .select("query_id", "n_rank", "neighbor_id").collect().toSeq
        .map(r => s"${r.getLong(0)}|${r.get(1)}|${r.getLong(2)}")
      val truth = triples(Similarity.e01)
      val wantTruth = (0 until math.min(8, vecs.size)).flatMap { q =>
        vecs.indices.filter(_ != q)
          .sortBy(n => (-cosine(vecs(q), vecs(n)), n)).take(5)
          .zipWithIndex.map { case (n, r) => s"$q|${r + 1}|$n" }
      }
      val pairs = Similarity.e05.fn(s, src).collect().toSeq
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
      val slice = math.min(2000, vecs.size)
      val near = for (a <- 0 until slice; b <- a + 1 until slice) yield
        (a, b, cosine(vecs(a), vecs(b)))
      val want = near.filter(_._3 >= 0.45 + Eps).map(p => s"${p._1}|${p._2}")
      val edge = near.filter(p => math.abs(p._3 - 0.45) < Eps).map(p => (p._1, p._2)).toSet
      val got = pairs.filterNot(edge).map(p => s"${p._1}|${p._2}")
      val tkeys = truth.map(_.split('|')).map(t => (t(0), t(2))).toSet
      val hits = Seq(Similarity.e02, Similarity.e03, Similarity.e07, Similarity.e06)
        .map(q => triples(q).map(_.split('|')).count(t => tkeys((t(0), t(2)))))
      recall = hits.sum.toDouble / (4 * math.max(tkeys.size, 1))
      ChainOracle.diff("ann_truth", if (corrupt) ChainOracle.corruptOne(truth) else truth,
          wantTruth) ++
        ChainOracle.diff("exact_pairs", got, want) ++
        (if (recall >= RecallFloor) Nil
         else Seq(f"ann_recall_at5 $recall%.3f below floor $RecallFloor"))
  }
}
