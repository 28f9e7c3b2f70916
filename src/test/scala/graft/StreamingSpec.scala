package graft

import graft.plans.TraceAssembly
import graft.streaming.{IncrementalTraceAssembly, StreamOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {

  private val txSchema = StructType(Seq(
    StructField("hash", StringType), StructField("lt", LongType),
    StructField("now", IntegerType), StructField("mc_block_seqno", IntegerType),
    StructField("account", StringType)))
  private val msgSchema = StructType(Seq(
    StructField("msg_hash", StringType), StructField("tx_hash", StringType),
    StructField("direction", StringType), StructField("source", StringType),
    StructField("destination", StringType)))

  private def txDf(rows: (String, Long)*) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (h, lt) =>
      Row(h, lt, lt.toInt, 100, s"0:$h") }: _*), txSchema)
  private def msgDf(rows: (String, String, String, String, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (m, t, d, s0, d0) =>
        Row(m, t, d, s0, d0) }: _*), msgSchema)

  test("incremental assembly across micro-batches equals batch assembly") {
    // trace: ext -> T1 -> m2 -> T2 -> m3 -> T3, arriving in 3 batches
    val inc = new IncrementalTraceAssembly(spark)
    val b1 = inc.processBatch(
      txDf("T1" -> 10L),
      msgDf(("m1", "T1", "in", null, "0:T1"), ("m2", "T1", "out", "0:T1", "0:T2")))
    assert(b1.count() == 0, "trace must stay open while m2 is unconsumed")
    assert(inc.openTraces().filter(col("state") === "pending").count() == 1)

    val b2 = inc.processBatch(
      txDf("T2" -> 20L),
      msgDf(("m2", "T2", "in", "0:T1", "0:T2"), ("m3", "T2", "out", "0:T2", "0:T3")))
    assert(b2.count() == 0)

    val b3 = inc.processBatch(
      txDf("T3" -> 30L),
      msgDf(("m3", "T3", "in", "0:T2", "0:T3")))
    val done = b3.collect()
    assert(done.length == 1)
    val t = done.head
    assert(t.getAs[String]("trace_id") == "T1"
      && t.getAs[Long]("nodes_") == 3
      && t.getAs[Long]("start_lt") == 10 && t.getAs[Long]("end_lt") == 30)

    // batch equivalence (T5)
    val (batchTraces, _, _) = TraceAssembly.assemble(
      txDf("T1" -> 10L, "T2" -> 20L, "T3" -> 30L),
      msgDf(("m1", "T1", "in", null, "0:T1"), ("m2", "T1", "out", "0:T1", "0:T2"),
        ("m2", "T2", "in", "0:T1", "0:T2"), ("m3", "T2", "out", "0:T2", "0:T3"),
        ("m3", "T3", "in", "0:T2", "0:T3")))
    val b = batchTraces.filter(col("trace_id") === "T1").collect().head
    assert(b.getAs[Long]("nodes_") == 3 && b.getAs[String]("state") == "complete")
  }

  test("returned frames from batch N stay readable after batch N+1 runs") {
    // lifetime contract: processBatchFull's results read only batch N's
    // own checkpoints, which outlive batch N+1, so a caller that
    // holds batch N's frames and only reads them after submitting batch
    // N+1 (e.g. a sink that flushes one batch behind) must not hit
    // unpersisted-checkpoint block-fetch failures.
    val inc = new IncrementalTraceAssembly(spark)
    val (done1, doneTxs1, doneMsgs1) = inc.processBatchFull(
      txDf("T1" -> 10L, "T2" -> 20L),
      msgDf(("m1", "T1", "in", null, "0:T1"),
        ("m2", "T1", "out", "0:T1", "0:T2"),
        ("m2", "T2", "in", "0:T1", "0:T2"),
        ("m3", "T2", "out", "0:T2", "0:T3")))
    // batch 2 completes the T1 trace and rotates batch 1's working set
    val (done2, _, _) = inc.processBatchFull(
      txDf("T3" -> 30L), msgDf(("m3", "T3", "in", "0:T2", "0:T3")))
    assert(done2.collect().map(_.getAs[String]("trace_id")).toSeq == Seq("T1"))
    // batch 1's returned frames are still fully readable NOW
    assert(done1.count() == 0)
    assert(doneTxs1.count() == 0 && doneMsgs1.count() == 0)
    val (done3, doneTxs3, doneMsgs3) = inc.processBatchFull(
      txDf("T4" -> 40L),
      msgDf(("m4", "T4", "in", null, "0:T4")))
    assert(done3.collect().map(_.getAs[String]("trace_id")).toSeq == Seq("T4"))
    assert(doneTxs3.count() == 1 && doneMsgs3.count() == 1)
    // batch 2's frames survive batch 3 too (rolling window, not one-off)
    assert(done2.count() == 1)
  }

  test("one steady-state micro-batch of the assembler stays within its job budget") {
    import org.apache.spark.GroupJobCount
    val inc = new IncrementalTraceAssembly(spark)
    // batch 1 leaves T1's trace open (m2 unconsumed), so batch 2 unions
    // a carried open set with new rows, the steady state of a stream
    inc.processBatchFull(
      txDf("T1" -> 10L),
      msgDf(("m1", "T1", "in", null, "0:T1"), ("m2", "T1", "out", "0:T1", "0:T2")))
    val txs2 = txDf("T2" -> 20L, "T3" -> 30L)
    val msgs2 = msgDf(("m2", "T2", "in", "0:T1", "0:T2"),
      ("m3", "T3", "in", null, "0:T3"), ("m4", "T3", "out", "0:T3", "0:T4"))
    val ((done, doneTxs, _), jobs) = GroupJobCount(spark.sparkContext) {
      inc.processBatchFull(txs2, msgs2)
    }
    // 31 measured on this fixture (five materializations per batch)
    assert(jobs <= 31,
      s"one micro-batch ran $jobs jobs: per-batch materializations are back")
    assert(done.collect().map(_.getAs[String]("trace_id")).toSeq == Seq("T1"))
    assert(doneTxs.collect().map(_.getAs[String]("hash")).toSet == Set("T1", "T2"))
    assert(inc.openTraces().collect().map(_.getAs[String]("trace_id")).toSeq ==
      Seq("T3"))
  }

  test("incremental assembly snapshots and restores its open set") {
    val dir = java.nio.file.Files.createTempDirectory("tastate").toString
    new IncrementalTraceAssembly(spark, Some(dir)).processBatchFull(
      txDf("T1" -> 10L),
      msgDf(("m1", "T1", "in", null, "0:T1"), ("m2", "T1", "out", "0:T1", "0:T2")),
      batchId = 0L)
    // a fresh assembler holds no state: batch 1 must load batch 0's
    // snapshot to resolve T1's pending m2
    val restored = new IncrementalTraceAssembly(spark, Some(dir))
    val (done, _, _) = restored.processBatchFull(
      txDf("T2" -> 20L), msgDf(("m2", "T2", "in", "0:T1", "0:T2")),
      batchId = 1L)
    assert(done.collect().map(_.getAs[String]("trace_id")).toSeq == Seq("T1"))
  }

  test("silver-maintaining sink: stream-built latest-states table equals " +
      "the batch recompute, survives restart, prunes old versions") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("silver-sink").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    val schema = StructType(Seq(StructField("account", StringType),
      StructField("lt", LongType), StructField("hash", StringType)))
    def write(part: Int, rows: Seq[(String, Long, String)]): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*),
        schema).coalesce(1).write.mode("append").parquet(srcDir)
    write(0, Seq(("A", 5L, "T5"), ("B", 1L, "T1"), ("A", 9L, "T9")))
    write(1, Seq(("A", 7L, "T7"), ("C", 2L, "T2"))) // A stale: must lose
    // first run: two batches (a 1-byte budget → one file per batch)
    val stream = StreamOps.fileStream(spark, srcDir, schema, 1L)
    val q = StreamOps.latestStateSilverSink(stream, outDir, ckDir, keep = 2)
    q.awaitTermination()
    val afterTwo = StreamOps.latestStateSilver(spark, outDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(afterTwo == Set(("A", 9L, "T9"), ("B", 1L, "T1"), ("C", 2L, "T2")))
    // restart with new data: state comes from the silver files
    write(2, Seq(("B", 8L, "T8"), ("D", 3L, "T3")))
    val q2 = StreamOps.latestStateSilverSink(
      StreamOps.fileStream(spark, srcDir, schema, 1L), outDir, ckDir, keep = 2)
    q2.awaitTermination()
    val fin = StreamOps.latestStateSilver(spark, outDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val batchRecompute = graft.plans.IncrementalSilver.latestStates(
      spark.read.schema(schema).parquet(srcDir))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(fin == batchRecompute, "stream silver diverges from batch")
    assert(fin == Set(("A", 9L, "T9"), ("B", 8L, "T8"),
      ("C", 2L, "T2"), ("D", 3L, "T3")))
    // pruning: only `keep` most recent versions remain
    val versions = new java.io.File(outDir).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(versions.size <= 2, s"pruning failed: $versions")
  }

  test("streaming latest-state upsert keeps max-lt row per account") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.StateUpdate]
    val q = StreamOps.latestState(input.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    input.addData(
      StreamOps.StateUpdate("A", 5L, 100L), StreamOps.StateUpdate("A", 9L, 200L),
      StreamOps.StateUpdate("B", 1L, 50L))
    q.processAllAvailable()
    input.addData(StreamOps.StateUpdate("A", 7L, 999L)) // stale: must be ignored
    input.addData(StreamOps.StateUpdate("B", 2L, 60L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("latest").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // final winning state per account
    val last = rows.groupBy(_._1).map { case (k, v) => k -> v.maxBy(_._2) }
    assert(last("A") == ("A", 9L, 200L))
    assert(last("B") == ("B", 2L, 60L))
    assert(!rows.contains(("A", 7L, 999L)), "stale update must not be emitted")
  }

  test("finality federation and subscription filtering") {
    import spark.implicits._
    val finalized = Seq(("T1", "0:A"), ("T2", "0:B")).toDF("hash", "account")
    val pending = Seq(("T3", "0:A")).toDF("hash", "account")
    val fed = StreamOps.federate(finalized, pending)
    assert(fed.count() == 3)
    val sub = StreamOps.subscription(fed, "confirmed", Seq("0:A"))
    assert(sub.collect().map(_.getAs[String]("hash")).toSeq == Seq("T1"))
    val subPending = StreamOps.subscription(fed, "pending", Seq("0:A"))
    assert(subPending.collect().map(_.getAs[String]("hash")).toSet == Set("T1", "T3"))
  }

  test("pending context merge precedence: complete traces drop, confirmed " +
      "in-msgs win, the emulated tail survives (crud/pending.go:200-243)") {
    import spark.implicits._
    // trace xA: confirmed T1,T2; emulated re-plays T2 and extends T3
    // trace xB: fully complete — its emulated rows must all drop
    val confirmed = Seq(
      ("T1", "m1", "xA"), ("T2", "m2", "xA"),
      ("T10", "m10", "xB"), ("T11", "m11", "xB")
    ).toDF("hash", "in_msg_hash", "trace_external_hash")
    val emulated = Seq(
      ("T2", "m2", "xA"),  // already confirmed -> drops (rule 2)
      ("T3", "m3", "xA"),  // genuine tail -> survives as pending
      ("T11", "m11", "xB"), ("T12", "m12", "xB") // complete trace (rule 1)
    ).toDF("hash", "in_msg_hash", "trace_external_hash")
    val completed = Seq("xB").toDF("trace_external_hash")
    val merged = StreamOps.mergePending(confirmed, emulated, completed)
      .select("hash", "finality").as[(String, String)].collect().toSet
    assert(merged == Set(
      ("T1", "confirmed"), ("T2", "confirmed"),
      ("T10", "confirmed"), ("T11", "confirmed"),
      ("T3", "pending")), s"got $merged")
  }

  test("S9 live subscription fan-out: one stream, per-subscriber sinks") {
    import StreamOps.Subscriber
    val tmp = java.nio.file.Files.createTempDirectory("graft-s9").toString
    val inDir = s"$tmp/in"; new java.io.File(inDir).mkdirs()

    val schema = StructType(Seq(
      StructField("hash", StringType), StructField("account", StringType),
      StructField("finality", StringType)))
    // two arrival waves -> two micro-batches (one file per batch)
    val wave1 = Seq(
      Row("T1", "0:A", "finalized"), Row("T2", "0:B", "finalized"),
      Row("T3", "0:A", "pending"))
    val wave2 = Seq(
      Row("T4", "0:A", "confirmed"), Row("T5", "0:C", "finalized"))
    Seq(wave1, wave2).zipWithIndex.foreach { case (rows, i) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$inDir/wave=$i")
    }

    val subs = Seq(
      Subscriber("all_finalized", "finalized"),
      Subscriber("a_pending", "pending", Seq("0:A")),
      Subscriber("a_confirmed", "confirmed", Seq("0:A")))
    val q = StreamOps.subscriptionFanout(
      StreamOps.fileStream(spark, inDir, schema, 1L),
      subs, s"$tmp/ck", s"$tmp/out")
    q.awaitTermination()

    def sink(name: String): Set[String] =
      spark.read.parquet(s"$tmp/out/$name").collect()
        .map(_.getAs[String]("hash")).toSet
    assert(sink("all_finalized") == Set("T1", "T2", "T5"))
    assert(sink("a_pending") == Set("T1", "T3", "T4"))
    assert(sink("a_confirmed") == Set("T1", "T4"))

    // a restarted query re-reads nothing (offsets committed) and the
    // sinks stay stable — the idempotence contract of the batch-keyed dirs
    val q2 = StreamOps.subscriptionFanout(
      StreamOps.fileStream(spark, inDir, schema, 1L),
      subs, s"$tmp/ck", s"$tmp/out")
    q2.awaitTermination()
    assert(sink("all_finalized") == Set("T1", "T2", "T5"))
  }

  test("windowed streaming aggregation over the events file stream") {
    val events = Tables.events(spark, sf)
    // batch-mode check of the same plan shape (memory-sink smoke)
    val agg = StreamOps.windowedCounts(events, "ts")
    val n = agg.agg(sum("n")).collect().head.getLong(0)
    assert(n == events.count())
  }

  test("end-to-end pipeline: stream -> assemble -> classify, restart-safe") {
    import graft.plans.ChainSim
    import graft.streaming.StreamPipeline
    import graft.classifier.ClassifyJob

    val tmp = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val inDir = s"$tmp/in"; val ckDir = s"$tmp/ck"; val outDir = s"$tmp/out"
    new java.io.File(inDir).mkdirs()

    val (txs, msgs) = ChainSim.simulate(spark, sf)
    val rows = StreamPipeline.toInputRows(txs, msgs).localCheckpoint()
    // split by the PRODUCING tx's lt: out-messages ship with their tx
    val cuts = Seq(0L, 250L, 500L, 750L, Long.MaxValue)
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
    // phase 1: first two chunks, then "crash" (process exits the run loop)
    shipChunk(0); shipChunk(1)
    run()
    // phase 2: restart with the remaining chunks
    shipChunk(2); shipChunk(3)
    run()

    val streamed = spark.read.parquet(s"$outDir/actions")
      .select("trace_id", "action_id", "type", "start_lt")
      .collect().map(_.toSeq).toSet

    val (_, _, txsWithTrace) = ChainSim.assembled(spark, sf)
    val batch = ClassifyJob.run(spark, txsWithTrace, msgs).toDF()
      .select("trace_id", "action_id", "type", "start_lt")
      .collect().map(_.toSeq).toSet

    assert(streamed == batch,
      s"streamed ${streamed.size} actions != batch ${batch.size}")
  }

  test("a backlog under the byte budget runs as one micro-batch; a tiny " +
      "budget splits it; both equal batch classify") {
    import graft.plans.ChainSim
    import graft.streaming.StreamPipeline
    import graft.classifier.ClassifyJob

    val tmp = java.nio.file.Files.createTempDirectory("graft-backlog").toString
    val (txs, msgs) = ChainSim.simulate(spark, sf)
    val rows = StreamPipeline.toInputRows(txs, msgs).localCheckpoint()
    // two block files, cut by the PRODUCING tx's lt
    val mid = rows.stat.approxQuantile("lt", Array(0.5), 0.0).head.toLong
    val blocks = Seq(col("lt") < mid, col("lt") >= mid).zipWithIndex.map {
      case (cut, i) =>
        rows.filter(cut).coalesce(1).write.parquet(s"$tmp/stage$i")
        new java.io.File(s"$tmp/stage$i").listFiles()
          .find(_.getName.endsWith(".parquet")).get
    }
    assert(blocks.map(_.length).sum <= StreamPipeline.MaxBatchBytes)

    val key = Seq("trace_id", "action_id", "type", "start_lt")
    val (_, _, txsWithTrace) = ChainSim.assembled(spark, sf)
    val batch = ClassifyJob.run(spark, txsWithTrace, msgs).toDF()
      .select(key.head, key.tail: _*).collect().map(_.toSeq).toSet

    // (name, budget) → micro-batches that read input, streamed actions
    def run(name: String, budget: Option[Long]): (Int, Set[Seq[Any]]) = {
      val (in, ck, out) = (s"$tmp/$name/in", s"$tmp/$name/ck", s"$tmp/$name/out")
      new java.io.File(in).mkdirs()
      blocks.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$in/block$i.parquet"))
      }
      val q = budget.fold(StreamPipeline.runAvailable(spark, in, ck, out))(
        StreamPipeline.runAvailable(spark, in, ck, out, _))
      val streamed = spark.read.parquet(s"$out/actions")
        .select(key.head, key.tail: _*).collect().map(_.toSeq).toSet
      (q.recentProgress.count(_.numInputRows > 0), streamed)
    }

    val (oneBatch, streamedOne) = run("budget", None)
    assert(oneBatch == 1, s"a two-block backlog ran as $oneBatch micro-batches")
    assert(streamedOne == batch,
      s"streamed ${streamedOne.size} actions != batch ${batch.size}")
    val (split, streamedSplit) = run("tiny", Some(1L))
    assert(split >= 2, s"a 1-byte budget ran the backlog as $split micro-batch")
    assert(streamedSplit == batch,
      s"streamed ${streamedSplit.size} actions != batch ${batch.size}")
  }

  test("T6 lifecycle: pending actions replaced on finalization (federate + reclassify)") {
    import graft.classifier.{Classifier, ClassifyJob, TxLite, MsgLite}
    import graft.streaming.StreamOps
    import spark.implicits._

    def tx(h: String, a: String, lt: Long) =
      TxLite(h, a, lt, lt.toInt, "active", "active", false, None, None, 0L, "ord")
    def m(h: String, d: String, src: Option[String], dst: String, op: Option[Long]) =
      MsgLite(h, d, src, Some(dst), 100, op, bounce = false, bounced = false,
        Some(1L), None)

    // pending (emulated) view of the trace: only the first hop arrived →
    // classified as a bare call (speculative actions)
    val pendingActions = Classifier.classify("trX",
      Seq(tx("T1", "0:WA", 10)),
      Map("T1" -> Seq(m("m1", "in", Some("0:U"), "0:WA",
        Some(graft.classifier.Opcodes.JettonTransfer))))).toDF()

    // finalized view: the full jetton-transfer chain → one typed action
    val finalActions = Classifier.classify("trX",
      Seq(tx("T1", "0:WA", 10), tx("T2", "0:WB", 20)),
      Map(
        "T1" -> Seq(m("m1", "in", Some("0:U"), "0:WA",
          Some(graft.classifier.Opcodes.JettonTransfer)),
          m("m2", "out", Some("0:WA"), "0:WB",
            Some(graft.classifier.Opcodes.JettonInternalTransfer))),
        "T2" -> Seq(m("m2", "in", Some("0:WA"), "0:WB",
          Some(graft.classifier.Opcodes.JettonInternalTransfer))))).toDF()

    // S10 federation: both visible, distinguished by finality
    val federated = StreamOps.federate(finalActions, pendingActions)
    assert(federated.filter(col("finality") === "pending").count() == 1)

    // T6: finalization replaces the pending rows for the trace wholesale
    val store = ClassifyJob.reclassify(
      existingActions = pendingActions, newActions = finalActions)
    val rows = store.collect()
    assert(rows.map(_.getAs[String]("type")).toSeq == Seq("jetton_transfer"))
    assert(store.filter(col("trace_id") === "trX").count() == 1)
  }

  test("streaming T6: pending classification through the incremental " +
      "assembler, reclassified on finalize, equals batch; fan-out routes") {
    import graft.classifier.ClassifyJob
    import graft.plans.{ChainSim, TraceAssembly}
    import graft.streaming.{IncrementalTraceAssembly, StreamOps}

    val (txs, msgs) = ChainSim.simulate(spark, sf)
    // split mid-chain: batch 1 = first half of each user's events by lt,
    // so every multi-event trace is OPEN (dangling out-edge) after batch 1
    val cut = txs.agg(expr("percentile_approx(lt, 0.5)")).head.getLong(0)
    val txs1 = txs.filter(col("lt") <= cut).localCheckpoint()
    val msgs1 = msgs.join(txs1.select(col("hash").as("tx_hash")),
      Seq("tx_hash"), "left_semi").localCheckpoint()
    val txs2 = txs.filter(col("lt") > cut).localCheckpoint()
    val msgs2 = msgs.join(txs2.select(col("hash").as("tx_hash")),
      Seq("tx_hash"), "left_semi").localCheckpoint()

    val ita = new IncrementalTraceAssembly(spark, None)
    val (_, doneTxs1, doneMsgs1) = ita.processBatchFull(txs1, msgs1)
    val store1 = ClassifyJob.run(spark, doneTxs1, doneMsgs1).toDF()
      .localCheckpoint()
    val pending1 = ita.pendingActions().localCheckpoint()
    assert(pending1.count() > 0, "mid-chain cut must leave open traces")

    // S10 federation: finalized + pending visible together, distinguished
    val federated = StreamOps.federate(store1, pending1)
    assert(federated.filter(col("finality") === "pending").count() ==
      pending1.count())

    // live subscriptions over the federated view: a pending-tolerant
    // subscriber scoped to one account vs a finalized-only subscriber
    val acct = pending1.select("destination").filter(col("destination").isNotNull)
      .head.getString(0)
    val subPending = StreamOps.subscription(federated, "pending",
      Seq(acct), accountCol = "destination")
    val subFinal = StreamOps.subscription(federated, "finalized",
      Seq(acct), accountCol = "destination")
    assert(subPending.count() >=
      pending1.filter(col("destination") === acct).count())
    assert(subFinal.filter(col("finality") === "pending").count() == 0)

    // batch 2 arrives: open traces complete; reclassify replaces their
    // speculative actions wholesale (same trace_id — root tx is stable)
    val (_, doneTxs2, doneMsgs2) = ita.processBatchFull(txs2, msgs2)
    val final2 = ClassifyJob.run(spark, doneTxs2, doneMsgs2).toDF()
    val store = ClassifyJob.reclassify(
      existingActions = store1.unionByName(pending1), newActions = final2)

    // equivalence: the reclassified store == one-shot batch classification
    val (_, _, txwAll) = TraceAssembly.assemble(txs, msgs)
    val batch = ClassifyJob.run(spark, txwAll, msgs).toDF()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("trace_id", "action_id", "type", "start_lt", "end_lt")
      .collect().map(_.toSeq).toSet
    assert(key(store) == key(batch),
      s"reclassified store ${store.count()} != batch ${batch.count()}")
  }
}
