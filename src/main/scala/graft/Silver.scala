package graft

import graft.plans.{ChainSim, Layout}
import org.apache.spark.sql.SparkSession

/** Silver-layer materialization — writes the LAYOUT.md catalog: every big
  * fact of the pipeline as a bucketed, in-bucket-sorted managed table, so
  * account-scoped reads prune to one bucket and the recorded sort IS the
  * pagination order (the Spark form of the reference's ~40 covering
  * indexes, scripts/create_indexes.sql).
  *
  * Bucket/sort keys per LAYOUT.md:
  *  - transactions: bucket `account`, sort (account, lt) — the
  *    /transactions?account= path reads one bucket in output order.
  *  - messages: bucket `msg_hash`, sort (msg_hash) — J1/J2 tx-by-message
  *    and adjacency joins become bucket joins.
  *  - traces: bucket `trace_id`, sort (end_lt).
  *  - actions: bucket `trace_id`, sort O4 (trace_id, end_lt, end_utime).
  *  - action_accounts: bucket `account`, sort = the exact pagination PK
  *    (account, trace_end_lt, trace_id, action_end_lt, action_id).
  *
  * At 100 TB each table additionally carries the mc_seqno_bucket
  * partition key for time pruning (partitionBy before bucketBy); the
  * simulated chain is single-epoch so the partition level is omitted
  * here — the bucket/sort contract is what the specs assert.
  */
object Silver {

  val Tables = Seq("silver_transactions", "silver_messages", "silver_traces",
    "silver_actions", "silver_action_accounts")

  /** Materialize all silver tables from the simulated chain at `dir`.
    * Returns table → row count. */
  def materialize(spark: SparkSession, dir: String,
      buckets: Int = 32): Map[String, Long] = {
    import spark.implicits._
    val (_, msgs) = ChainSim.simulate(spark, dir)
    val (traces, _, txw) = ChainSim.assembled(spark, dir)
    val acts = ChainSim.classified(spark, dir)
    val actAccounts = graft.classifier.ClassifyJob.actionAccounts(spark, acts)

    Layout.writeBucketed(txw, "silver_transactions",
      "account", Seq("account", "lt"), buckets)
    Layout.writeBucketed(msgs, "silver_messages",
      "msg_hash", Seq("msg_hash"), buckets)
    Layout.writeBucketed(traces, "silver_traces",
      "trace_id", Seq("end_lt"), buckets)
    Layout.writeBucketed(acts, "silver_actions",
      "trace_id", Seq("trace_id", "end_lt", "end_utime"), buckets)
    Layout.writeBucketed(actAccounts, "silver_action_accounts",
      "account",
      Seq("account", "trace_end_lt", "trace_id", "action_end_lt", "action_id"),
      buckets)

    Tables.map(t => t -> spark.table(t).count()).toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    val t0 = System.nanoTime()
    val counts = materialize(spark, dir)
    println(s"SILVER ${counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString(" ")} sec=${(System.nanoTime() - t0) / 1e9}")
    spark.stop()
  }
}
