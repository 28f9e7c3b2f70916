package graft

import org.apache.spark.sql.functions._

/** T1/T5 at bench scale: the full streaming pipeline (file stream →
  * incremental assembly → classify-on-complete) over the sf0.1 fixture,
  * shipped as four micro-batches with a simulated crash/restart between
  * them, must emit EXACTLY the batch pipeline's actions. The spec-scale
  * twin lives in StreamingSpec; this run is the evidence that the
  * incremental path's per-batch closed-universe re-assembly holds at
  * 100k-event scale, not just on toy fixtures. */
class StreamingScaleSpec extends SparkSpec {

  private val benchSf = "/root/testdata/sf0.1"

  test("streaming classify-on-complete equals batch classify at sf0.1 " +
      "across a crash/restart") {
    import graft.plans.ChainSim
    import graft.streaming.StreamPipeline
    import graft.classifier.ClassifyJob

    val tmp = java.nio.file.Files.createTempDirectory("graft-e2e-sf01").toString
    val inDir = s"$tmp/in"; val ckDir = s"$tmp/ck"; val outDir = s"$tmp/out"
    new java.io.File(inDir).mkdirs()

    val (txs, msgs) = ChainSim.simulate(spark, benchSf)
    val rows = StreamPipeline.toInputRows(txs, msgs).localCheckpoint()
    // quartile cuts over the real lt range → four balanced micro-batches
    val qs = rows.stat.approxQuantile("lt", Array(0.25, 0.5, 0.75), 0.01)
    val cuts = 0L +: qs.map(_.toLong).toSeq :+ Long.MaxValue
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      rows.filter(col("lt") >= lo && col("lt") < hi)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage$i")
    }
    def shipChunk(i: Int): Unit = {
      val src = new java.io.File(s"$tmp/stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      src.zipWithIndex.foreach { case (f, j) =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$inDir/chunk$i-$j.parquet"))
      }
    }

    // one chunk per micro-batch (1-byte budget), so the open set is
    // carried in memory within a run and through the snapshot across runs
    def run(): Unit = {
      val q = StreamPipeline.runAvailable(spark, inDir, ckDir, outDir, 1L)
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    }
    // phase 1: two chunks, then "crash" (the run loop exits)
    shipChunk(0); shipChunk(1)
    run()
    // phase 2: restart from the checkpoint with the rest
    shipChunk(2); shipChunk(3)
    run()

    val key = Seq("trace_id", "action_id", "type", "start_lt")
    val streamed = spark.read.parquet(s"$outDir/actions")
      .select(key.head, key.tail: _*).collect().map(_.toSeq).toSet

    val (_, _, txsWithTrace) = ChainSim.assembled(spark, benchSf)
    val batch = ClassifyJob.run(spark, txsWithTrace, msgs).toDF()
      .select(key.head, key.tail: _*).collect().map(_.toSeq).toSet

    assert(streamed.size == batch.size && streamed == batch,
      s"streamed ${streamed.size} actions != batch ${batch.size}; " +
        s"missing=${(batch -- streamed).take(3)} " +
        s"extra=${(streamed -- batch).take(3)}")
  }
}
