package graft.streaming

import graft.classifier.ClassifyJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** End-to-end streaming ingest (SURVEY §3.2 as one streaming program):
  * file-source micro-batches of parsed (tx × msg) rows → incremental
  * trace assembly (stateful G1) → classification of traces that COMPLETED
  * in the batch → append-only actions sink. Restart-safe: the file
  * source's offsets live in the Spark checkpoint, the assembler's open
  * working set in its .tastate-analogue snapshot (TraceAssembler.cpp:
  * 53-128; IndexScheduler.cpp:173-208 restore-with-backtrack).
  *
  * The input contract mirrors the worker's parse fan-out (S2): each row
  * is one transaction × message pairing, and a transaction's OUT-messages
  * ship with the transaction that produced them — exactly the reference's
  * parse order, and what makes "complete" monotone (a trace can only be
  * extended through a pending out-edge, never by a tx appearing out of
  * nowhere).
  */
object StreamPipeline {

  /** Parsed-row stream schema (tx attributes + one message). */
  val inputSchema: StructType = StructType(Seq(
    StructField("hash", StringType), StructField("account", StringType),
    StructField("lt", LongType), StructField("now", IntegerType),
    StructField("mc_block_seqno", IntegerType),
    StructField("orig_status", StringType), StructField("end_status", StringType),
    StructField("aborted", BooleanType),
    StructField("compute_exit_code", IntegerType),
    StructField("action_result_code", IntegerType),
    StructField("total_fees", LongType), StructField("descr", StringType),
    StructField("msg_hash", StringType), StructField("direction", StringType),
    StructField("source", StringType), StructField("destination", StringType),
    StructField("value", LongType), StructField("opcode", LongType),
    StructField("bounce", BooleanType), StructField("bounced", BooleanType),
    StructField("created_lt", LongType), StructField("body", StringType)))

  private val txCols = Seq("hash", "account", "lt", "now", "mc_block_seqno",
    "orig_status", "end_status", "aborted", "compute_exit_code",
    "action_result_code", "total_fees", "descr")
  private val msgCols = Seq("msg_hash", "direction", "source", "destination",
    "value", "opcode", "bounce", "bounced", "created_lt", "body")

  /** Join txs×msgs into the stream-input row shape (fixture writer). */
  def toInputRows(txs: DataFrame, msgs: DataFrame): DataFrame =
    txs.join(msgs.withColumnRenamed("tx_hash", "hash")
        .withColumn("body", lit(null).cast("string")),
      Seq("hash"), "left")
      .select((txCols ++ msgCols).map(col): _*)

  /** Byte budget of one micro-batch: the reference's insert-queue cap of
    * 100,000 transactions (SURVEY T4, ton-index-postgres main.cpp:50)
    * times the parquet bytes per transaction of stream-input rows, about
    * 53 B (ChainSim.simulate over sf0.1 written as one file: 5.29 MB for
    * 100,000 transactions in 198,500 tx × message rows, null bodies; 50 to
    * 80 B at 25,000 down to 250 transactions per file), so about 5.3 MB.
    * Bytes, not files: a file's size tracks its transaction count, the
    * quantity the reference caps, while a file count admits one small
    * block or one huge block alike. */
  val MaxBatchBytes: Long = 100000L * 53

  /** Drain all available input files (Trigger.AvailableNow), assembling
    * and classifying incrementally; writes completed traces' actions to
    * `outDir/actions/batch_id=N` as parquet. Call again after a restart —
    * offsets and assembler state both resume.
    *
    * Admission (T4 backpressure): each micro-batch takes input files, in
    * arrival order, while their total size stays within `MaxBatchBytes`
    * (the file source's `maxBytesPerTrigger`); the first file always
    * runs, so a file over the budget is a micro-batch of its own. A
    * catch-up of a few blocks therefore runs as ONE micro-batch and pays
    * the assembler's fixed per-batch cost once, while a backlog after a
    * long outage is cut into batches of about 100k transactions, as the
    * reference bounds its insert queue.
    *
    * Restart-safe END TO END: a batch whose offsets never committed is
    * re-delivered with the SAME batch id; the assembler seeks to its
    * batch-keyed pre-batch snapshot and the sink overwrites the same
    * `batch_id=N` partition, so the replay is byte-idempotent — no
    * duplicated actions, no traces assembled from partial state.
    *
    * Returns the terminated query; its `recentProgress` holds one entry
    * per micro-batch. */
  def runAvailable(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String): StreamingQuery =
    runAvailable(spark, inputDir, checkpointDir, outDir, MaxBatchBytes)

  /** As runAvailable, with the byte budget of one micro-batch given —
    * for specs that cut a backlog into several micro-batches. */
  private[graft] def runAvailable(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String, maxBatchBytes: Long)
      : StreamingQuery = {
    val ita = new IncrementalTraceAssembly(spark, Some(s"$checkpointDir/tastate"))
    val q = StreamOps.fileStream(spark, inputDir, inputSchema, maxBatchBytes)
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val txs = batch.select(txCols.map(col): _*).dropDuplicates("hash")
        val msgs = batch.filter(col("msg_hash").isNotNull)
          .select((Seq("hash") ++ msgCols).map(col): _*)
          .withColumnRenamed("hash", "tx_hash")
        val (done, doneTxs, doneMsgs) = ita.processBatchFull(txs, msgs, batchId)
        if (!done.isEmpty) {
          ClassifyJob.run(spark, doneTxs, doneMsgs).toDF()
            .write.mode("overwrite").parquet(s"$outDir/actions/batch_id=$batchId")
        }
        ()
      }
      .start()
    q.awaitTermination()
    q
  }
}
