package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.10, M5):
  *  - append-log ingestion from a file source (S1/S7 analogue)
  *  - latest-state upsert via flatMapGroupsWithState (S4 streaming form)
  *  - finality-ladder annotation + subscription predicate routing (S9/T7)
  */
object StreamOps {

  /** Account-state update (subset of latest_account_states). */
  case class StateUpdate(account: String, last_trans_lt: Long, balance: Long)

  /** readStream over a parquet directory with an explicit schema —
    * streaming never infers schemas (§1.3).
    *
    * Admission is by bytes: each micro-batch takes input files, in arrival
    * order, while their total size stays within `maxBytesPerTrigger`, and
    * always takes at least one file. A 1-byte budget therefore runs one
    * file per micro-batch, which specs use to pin batch boundaries; the
    * chain ingest passes StreamPipeline.MaxBatchBytes (the T4 mapping). */
  def fileStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxBytesPerTrigger: Long): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxBytesPerTrigger", maxBytesPerTrigger)
      .parquet(dir)

  /** S4 in STORAGE: a silver-maintaining sink that keeps an on-disk
    * latest-states table current through the incremental delta merge
    * (IncrementalSilver.mergeLatestStates) — the reference's actual
    * write path (`ON CONFLICT ... WHERE last_trans_lt <`), with the
    * state living in the SILVER FILES rather than the streaming state
    * store. Each micro-batch writes version dir `v{batchId}` computed
    * from `v{batchId-1}` + the batch delta, so a REPLAYED batch reads
    * the same predecessor and rewrites its version byte-identically —
    * the same batch-keyed idempotence contract as the trace-assembly
    * snapshots. `latest` readers take the max-numbered version; old
    * versions beyond `keep` are pruned. */
  def latestStateSilverSink(txs: DataFrame, dir: String,
      checkpointDir: String, keep: Int = 10,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    txs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prevPath = new org.apache.hadoop.fs.Path(s"$dir/v${batchId - 1}")
        val merged =
          if (batchId == 0L)
            graft.plans.IncrementalSilver.latestStates(batch)
          else if (fs.exists(prevPath))
            graft.plans.IncrementalSilver.mergeLatestStates(
              spark.read.parquet(prevPath.toString), batch)
          else
            // a replay OLDER than the keep window has no predecessor to
            // merge against — failing loudly beats silently rebuilding
            // the silver from one batch's worth of history
            throw new IllegalStateException(
              s"latest-states silver: predecessor v${batchId - 1} pruned; " +
                s"raise `keep` or reset the checkpoint to reprocess")
        merged.write.mode("overwrite").parquet(s"$dir/v$batchId")
        val victim = new org.apache.hadoop.fs.Path(s"$dir/v${batchId - keep}")
        if (batchId >= keep && fs.exists(victim)) { fs.delete(victim, true); () }
      }
      .start()

  /** Read the newest version of a [[latestStateSilverSink]] table. */
  def latestStateSilver(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    require(vs.nonEmpty, s"no silver versions under $dir")
    spark.read.parquet(s"$dir/v${vs.max}")
  }

  /** S4 streaming upsert: keep the max-lt state per account across
    * micro-batches (ON CONFLICT ... WHERE last_trans_lt < EXCLUDED
    * semantics, InsertManagerPostgres.cpp:2423-2431). Emits the winning
    * row per account per batch it changes. */
  def latestState(updates: Dataset[StateUpdate]): Dataset[StateUpdate] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.account)
      .flatMapGroupsWithState[StateUpdate, StateUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[StateUpdate], state: GroupState[StateUpdate]) =>
          val newest = rows.foldLeft(state.getOption.orNull) { (best, r) =>
            if (best == null || r.last_trans_lt > best.last_trans_lt) r else best
          }
          if (newest == null) Iterator.empty
          else {
            val changed = state.getOption.forall(_.last_trans_lt < newest.last_trans_lt)
            if (changed) { state.update(newest); Iterator.single(newest) }
            else Iterator.empty
          }
      }
  }

  /** T7 finality ladder: annotate rows with a finality level and filter by
    * a subscriber's minimum (pending=0 < confirmed=1 < signed=2 <
    * finalized=3; ton-streaming-go/v2/server.go:108-124). */
  val finalityLevels = Map(
    "pending" -> 0, "confirmed" -> 1, "signed" -> 2, "finalized" -> 3)

  def withFinality(df: DataFrame, finalityCol: String): DataFrame = {
    val m = map(finalityLevels.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }.toSeq: _*)
    df.withColumn("finality_level", element_at(m, col(finalityCol)))
  }

  def subscription(df: DataFrame, minFinality: String,
      accounts: Seq[String] = Nil, accountCol: String = "account"): DataFrame = {
    val base = withFinality(df, "finality")
      .filter(col("finality_level") >= finalityLevels(minFinality))
    if (accounts.isEmpty) base
    else base.filter(col(accountCol).isin(accounts: _*))
  }

  /** One fan-out subscriber: a named sink with a minimum finality and an
    * optional account filter — the reference's per-connection subscription
    * state (ton-streaming-go/v2/server.go:108-124). */
  case class Subscriber(name: String, minFinality: String,
      accounts: Seq[String] = Nil, accountCol: String = "account")

  /** S9 LIVE fan-out: one writeStream over the annotated stream, each
    * micro-batch persisted once and routed through every subscriber's
    * predicate to its own sink directory (the WebSocket analogue — each
    * sink is one connection's outbound queue). Single source read per
    * batch regardless of subscriber count; subscriber filters are
    * narrow-column predicates over the cached batch, so fan-out cost
    * scales with matched rows, not with subscribers × input.
    *
    * Runs with Trigger.AvailableNow by default (drain-and-stop — tests
    * and backfills); pass a processing-time trigger for an indefinitely
    * live query. Restart-safe: source offsets live in the checkpoint and
    * per-subscriber appends are idempotent per batch via
    * foreachBatch(batchId) dedup directories. */
  def subscriptionFanout(stream: DataFrame, subscribers: Seq[Subscriber],
      checkpointDir: String, outDir: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try subscribers.foreach { s =>
          subscription(cached, s.minFinality, s.accounts, s.accountCol)
            // batch-keyed subdir: a replayed batch overwrites its own
            // output instead of appending duplicates (exactly-once sink)
            .write.mode("overwrite")
            .parquet(s"$outDir/${s.name}/batch_id=$batchId")
        } finally { cached.unpersist(); () }
      }
      .start()

  /** S10: federate a pending/emulated source with finalized tables —
    * same schema, `finality` column distinguishes; union is by name. */
  def federate(finalized: DataFrame, pending: DataFrame): DataFrame =
    finalized.withColumn("finality", lit("finalized"))
      .unionByName(pending.withColumn("finality", lit("pending")))

  /** S10 full form — the pending/emulated CONTEXT MERGE precedence of
    * the reference (crud/pending.go:200-243 QueryPendingTransactionsImpl):
    *
    *  1. an emulated trace whose external hash is already COMPLETE in
    *     the confirmed store drops entirely (RemoveTraces);
    *  2. an emulated transaction whose in-message hash is already
    *     confirmed drops row-wise — the confirmed row wins
    *     (RemoveTransactions), while the trace's un-confirmed tail
    *     survives and extends the confirmed prefix;
    *  3. result = confirmed rows ∪ surviving emulated rows, tagged by a
    *     `finality` column.
    *
    * Join shapes for scale: both precedence checks are anti-joins with
    * the (small) emulated batch on the probe side — the confirmed store
    * is only ever semi-probed by message hash, never scanned wide.
    *
    * `confirmedTxs` and `emulatedTxs` share a schema containing at least
    * (hash, in_msg_hash, trace_external_hash); `completedExternals` is
    * one column `trace_external_hash` of complete confirmed traces. */
  def mergePending(confirmedTxs: DataFrame, emulatedTxs: DataFrame,
      completedExternals: DataFrame): DataFrame = {
    val liveTraces = emulatedTxs.join(completedExternals,
      Seq("trace_external_hash"), "left_anti")
    val confirmedIn = confirmedTxs
      .filter(col("in_msg_hash").isNotNull)
      .select("in_msg_hash").distinct()
    val tail = liveTraces.join(confirmedIn, Seq("in_msg_hash"), "left_anti")
    confirmedTxs.withColumn("finality", lit("confirmed"))
      .unionByName(tail.withColumn("finality", lit("pending")))
  }

  /** Windowed streaming aggregation with a watermark (engine capability
    * beyond the reference's no-window semantics, T3). */
  def windowedCounts(events: DataFrame, tsCol: String,
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    events
      .withColumn("ts_ts", timestamp_micros(expr(s"$tsCol div 1000")))
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // integer cents: exact and order-independent (a parallel double
        // sum is neither)
        sum((col("value") * 100).cast("long")).as("total_cents"))
}
