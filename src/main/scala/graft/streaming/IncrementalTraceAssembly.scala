package graft.streaming

import graft.plans.TraceAssembly
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftFreshStats.{checkpointFresh, unpersistCheckpoints}
import org.apache.spark.sql.functions._

/** Incremental (micro-batch) trace assembly — the streaming form of
  * TraceAssembly, mirroring the reference's stateful builder + snapshot
  * lifecycle (TraceAssembler.cpp:53-128 state persistence;
  * IndexScheduler.cpp:173-208 restore-with-backtrack).
  *
  * State = the open working set: transactions/messages of traces that are
  * not yet complete (pending out-messages or broken edges that newer
  * blocks might still resolve). Each micro-batch unions the new rows with
  * the open set, re-assembles that closed universe with the batch
  * assembler (identical semantics by construction — T5's exactly-once
  * equivalence), emits traces that completed, and carries the rest.
  *
  * One micro-batch materializes five frames: the unioned txs and msgs,
  * the traces, and the txs and msgs tagged with their trace's `complete`
  * flag. The completed traces, their txs and msgs, and the carried open
  * set are filters over those five, so a batch pays five materializations
  * however its output is split.
  *
  * The open set is bounded by in-flight trace size, not by history —
  * the reference bounds the same state with its 50-block backtrack.
  * With a `checkpointDir`, each batch's carried state is snapshotted as
  * parquet under its batch id (the .tastate analogue); an assembler
  * started over the same dir resumes batch N from batch N-1's snapshot.
  */
class IncrementalTraceAssembly(spark: SparkSession,
    checkpointDir: Option[String] = None) {

  import TraceAssembly.assemble

  private var openTxs: Option[DataFrame] = None
  private var openMsgs: Option[DataFrame] = None
  private var lastBatchId: Option[Long] = None

  // the traces and tagged checkpoints of the last two batches, newest
  // first. Batch N's three back both the open set carried into batch N+1
  // and the frames returned to batch N's caller, so they are released
  // only once batch N+2's inputs are materialized. The rest of a batch's
  // working set is released as soon as the batch ends. Without this
  // rotation a long-running stream pins every batch's working set in the
  // block store for the life of the session.
  private var live: List[Seq[DataFrame]] = Nil

  private def unionOpt(a: Option[DataFrame], b: DataFrame): DataFrame =
    a.map(_.unionByName(b)).getOrElse(b)

  /** Process one micro-batch; returns the traces that COMPLETED in this
    * batch (with their final metadata). */
  def processBatch(txs: DataFrame, msgs: DataFrame): DataFrame =
    processBatchFull(txs, msgs)._1

  /** Position state for processing batch `batchId`: state must be the
    * post-state of `batchId - 1`. In-memory state is already correct when
    * the previous call processed batchId-1; otherwise (restart, or a
    * REPLAYED batch whose offsets never committed) load the batch-keyed
    * snapshot, so reprocessing starts from the exact pre-batch state and
    * produces byte-identical output — the idempotence contract of the
    * streaming sink. */
  private def seekTo(batchId: Long): Unit = checkpointDir.foreach { dir =>
    if (lastBatchId.contains(batchId - 1)) return
    if (batchId == 0L) { openTxs = None; openMsgs = None }
    else {
      openTxs = Some(spark.read.parquet(s"$dir/batches/${batchId - 1}/open_txs"))
      openMsgs = Some(spark.read.parquet(s"$dir/batches/${batchId - 1}/open_msgs"))
    }
  }

  /** As processBatch, but also returns the completed traces' transaction
    * rows (with trace_id) and messages — the classification feed of the
    * end-to-end pipeline (StreamPipeline). Pass the streaming `batchId`
    * to get batch-keyed snapshots (replay-safe); batchId = -1 runs the
    * batch on the in-memory state alone and snapshots nothing.
    *
    * Lifetime contract: the returned frames are filters over this batch's
    * local checkpoints (no lineage into earlier batches or into the input
    * frames). They remain readable while the NEXT batch is processed and
    * are released when the batch after that starts (batch N's frames die
    * once batch N+2's inputs are materialized). Persist them (write or
    * your own checkpoint) if you need them beyond that window. */
  def processBatchFull(txs: DataFrame, msgs: DataFrame, batchId: Long = -1L)
      : (DataFrame, DataFrame, DataFrame) = {
    if (batchId >= 0L) seekTo(batchId)
    // checkpointFresh throughout: open-trace state carries across
    // BATCHES, so plain checkpoints would compound plan stats batch
    // over batch (see GraftFreshStats) — a thousand-batch stream would
    // hit the same driver-side BigInt blowup as an iterative loop.
    val allTxs = checkpointFresh(unionOpt(openTxs, txs)
      .dropDuplicates("hash"))
    val allMsgs = checkpointFresh(unionOpt(openMsgs, msgs)
      .dropDuplicates("msg_hash", "tx_hash", "direction"))
    // this batch's inputs are materialized: the batch before the previous
    // one is now dead, both its carried state and its returned frames
    live.drop(1).foreach(_.foreach(unpersistCheckpoints))
    live = live.take(1)

    val (traces, _, txsWithTrace) = assemble(allTxs, allMsgs)
    val tracesC = checkpointFresh(traces)
    val complete = col("complete")
    // every tx has exactly one trace, so the inner joins keep every tx and
    // every message of a tx (a message with no tx is neither done nor open)
    val taggedTxs = checkpointFresh(txsWithTrace
      .join(tracesC.select(col("trace_id"),
        (col("state") === "complete").as("complete")), Seq("trace_id"))
      .select((txsWithTrace.columns.map(col) :+ complete): _*))
    val taggedMsgs = checkpointFresh(allMsgs
      .join(taggedTxs.select(col("hash").as("tx_hash"), complete),
        Seq("tx_hash"))
      .select((allMsgs.columns.map(col) :+ complete): _*))

    val done = tracesC.filter(col("state") === "complete")
    val doneTxs = taggedTxs.filter(complete).drop("complete")
    val doneMsgs = taggedMsgs.filter(complete).drop("complete")
    // carry only rows belonging to still-open traces
    val carryTxs = taggedTxs.filter(!complete).drop("complete", "trace_id")
    val carryMsgs = taggedMsgs.filter(!complete).drop("complete")
    openTxs = Some(carryTxs)
    openMsgs = Some(carryMsgs)

    if (batchId >= 0L) {
      checkpointDir.foreach { dir =>
        snapshot(s"$dir/batches/$batchId", carryTxs, carryMsgs)
        prune(dir, batchId)
      }
      lastBatchId = Some(batchId)
    }
    // nothing reads the unioned inputs or the assembler's frames once the
    // tagged checkpoints exist; releasing traces/txsWithTrace also frees
    // the assembler's internal fixpoint checkpoints (if any)
    Seq(allTxs, allMsgs, traces, txsWithTrace).foreach(unpersistCheckpoints)
    live = Seq(tracesC, taggedTxs, taggedMsgs) :: live
    (done, doneTxs, doneMsgs)
  }

  /** Persist the open working set (the .tastate analogue). Batch-keyed
    * dirs mirror the reference's per-seqno state files
    * (TraceAssembler.cpp:53-128, keep-last-100 GC). */
  private def snapshot(dir: String, txs: DataFrame, msgs: DataFrame): Unit = {
    txs.write.mode("overwrite").parquet(s"$dir/open_txs")
    msgs.write.mode("overwrite").parquet(s"$dir/open_msgs")
  }

  /** Keep the last 100 batch snapshots (the reference's GC policy). */
  private def prune(dir: String, batchId: Long): Unit = {
    val victim = batchId - 100
    if (victim >= 0) {
      val path = new org.apache.hadoop.fs.Path(s"$dir/batches/$victim")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
  }

  /** Traces still open (pending/broken) at the current point. */
  def openTraces(): DataFrame = (openTxs, openMsgs) match {
    case (Some(t), Some(m)) => TraceAssembly.assemble(t, m)._1
    case _ =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.Schemas.traces)
  }

  /** Classify the open working set — the reference's pending/emulated
    * trace classification (S10): speculative actions over traces that
    * have not completed, served alongside finalized actions via
    * StreamOps.federate and replaced wholesale by ClassifyJob.reclassify
    * when the trace finalizes (T6). The trace root is stable as a trace
    * completes, so pending and final actions share trace_id and the
    * replacement is a per-trace anti-join. */
  def pendingActions(): DataFrame = (openTxs, openMsgs) match {
    case (Some(t), Some(m)) =>
      val (_, _, txw) = TraceAssembly.assemble(t, m)
      graft.classifier.ClassifyJob.run(spark, txw, m).toDF()
    case _ =>
      spark.emptyDataset(org.apache.spark.sql.Encoders.product[
        graft.classifier.ActionRow]).toDF()
  }
}
