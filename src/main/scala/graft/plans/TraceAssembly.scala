package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch trace assembly over the blockchain schema — the Spark-first
  * re-expression of the reference's stateful connected-component builder
  * (ton-index-worker/tondb-scanner/src/TraceAssembler.cpp:285-412).
  *
  * Because every transaction consumes exactly one in-message, the message
  * graph is a forest; the incremental pending-edge map of the reference
  * collapses, in batch, into: (1) one FULL OUTER msg_hash equi-join of
  * in- against out-messages, which classifies every edge at once (a
  * matched or in-only row is a consumed in-message, an out-only row is a
  * dangling out-message), (2) forest root resolution
  * (GraphOps.forestRoots) over the resolved ord edges, (3) one roots
  * join per edge, on its owner tx (the consumer of an in-edge, the
  * producer of a pending edge), (4) two aggregations and one join for
  * trace metadata. Edge semantics preserved:
  *  - null source            → 'ext'  edge, starts a trace (root tx)
  *  - system address source  → 'sys'  edge, starts a trace
  *    (TraceAssembler.cpp:305 short-circuit)
  *  - internal, producer found   → 'ord' edge inside the trace (one row
  *    per consumer: an out-message consumed twice gives two edges)
  *  - internal, producer missing → broken edge: trace state 'broken'
  *    (TraceAssembler.cpp:316-325 — the closed-input batch analogue of
  *    "pending past the backtrack window"); a null msg_hash never
  *    matches, so such an in-message is broken too
  *  - out-message never consumed (non-null destination) → pending edge:
  *    state 'pending' unless already broken; a null destination (log
  *    message) makes no edge
  *  - tx with no in-message → its own trace root (TraceAssembler.cpp:381-387)
  *
  * Scale: the joins shuffle on msg_hash / tx hash (uniform 256-bit keys,
  * no skew). Forests up to GraphOps.DriverResolveLimit (3,000,000)
  * transactions resolve their roots in one driver pass over the collected
  * (id, parent) table; larger ones use the shuffle fixpoint, O(log depth)
  * rounds with nothing collected. At 100 TB the input would be
  * mc_seqno-bucketed and assembly run per closed bucket range.
  */
object TraceAssembly {

  val SystemAddress =
    "-1:0000000000000000000000000000000000000000000000000000000000000000"

  /** Returns (traces, trace_edges, transactions + trace_id).
    *
    * `precomputedRoots` (hash, trace_id — one row per transaction) skips
    * the forest fixpoint: the silver-layer shape, where trace_id is
    * materialized once at ingest and every downstream job (classification,
    * reclassification, per-protocol pipelines) reuses the stored column
    * instead of re-running connected components over the same topology.
    * The metadata joins/aggregations still run in full. */
  def assemble(transactions: DataFrame, messages: DataFrame,
      precomputedRoots: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val txs = transactions
    val inMsgs = messages.filter(col("direction") === "in")
      .select(col("msg_hash"), col("tx_hash").as("child_tx"), col("source"))
    val outMsgs = messages.filter(col("direction") === "out")
      .select(col("msg_hash"), col("tx_hash").as("parent_tx"),
        col("destination"))

    // every edge from one full outer join on msg_hash: a row with an
    // in-side is a consumed in-message (its producer, if any, alongside);
    // a row without one is an out-message nobody consumed, a pending edge
    // unless it has no destination (a log message, no edge). The edge's
    // owner is the tx whose trace it belongs to: the consumer of an
    // in-edge, the producer of a pending edge. Every message belongs to a
    // tx, so a non-null child_tx marks the rows with an in-side.
    val isIn = col("child_tx").isNotNull
    val edgeType = when(!isIn, "ord").when(col("source").isNull, "ext")
      .when(col("source") === SystemAddress, "sys").otherwise("ord")
    val classified = inMsgs.join(outMsgs, Seq("msg_hash"), "full_outer")
      .filter(isIn || col("destination").isNotNull)
      .select(col("msg_hash"), col("parent_tx").as("left_tx"),
        col("child_tx").as("right_tx"), edgeType.as("edge_type"),
        (!isIn).as("incomplete"),
        (isIn && edgeType === "ord" && col("parent_tx").isNull).as("broken"),
        when(isIn, col("child_tx")).otherwise(col("parent_tx")).as("owner_tx"))

    // forest: parent pointer only along resolved ord in-edges
    val roots = precomputedRoots.getOrElse {
      val nodes = txs.select(col("hash").as("id"))
        .join(classified
          .filter(col("edge_type") === "ord" && !col("incomplete") &&
            !col("broken"))
          .select(col("right_tx").as("id"), col("left_tx").as("parent")),
          Seq("id"), "left")
      GraphOps.forestRoots(nodes)
        .select(col("id").as("hash"), col("root").as("trace_id"))
    }

    val txsWithTrace = txs.join(roots, Seq("hash"))

    // each edge joins roots once, on its owner tx
    val traceEdges = classified
      .join(roots.select(col("hash").as("owner_tx"), col("trace_id")),
        Seq("owner_tx"), "left")
      .select(col("trace_id"), col("msg_hash"), col("left_tx"),
        col("right_tx"), col("edge_type"), col("incomplete"), col("broken"))

    val traces = traceSummaries(txsWithTrace, traceEdges)

    (traces, traceEdges, txsWithTrace)
  }

  /** Trace summary rows from an (already materialized) txsWithTrace and
    * the edge set — split out so a silver-layer caller can derive the
    * traces table from the PERSISTED txsWithTrace instead of re-executing
    * the assembly joins a second time. Two aggregates (tx bounds; edge
    * counts with the root's external in-message hash folded in) and one
    * join. */
  def traceSummaries(txsWithTrace: DataFrame, traceEdges: DataFrame): DataFrame = {
    val edgeStats = traceEdges.groupBy("trace_id").agg(
      sum(when(!col("incomplete") && !col("broken"), 1L).otherwise(0L)).as("edges_"),
      sum(when(col("incomplete"), 1L).otherwise(0L)).as("pending_edges_"),
      max(when(col("broken"), 1).otherwise(0)).as("any_broken"),
      min(when(col("edge_type") === "ext" && col("right_tx") === col("trace_id"),
        col("msg_hash"))).as("external_hash"))
    txsWithTrace.groupBy("trace_id").agg(
        count(lit(1)).as("nodes_"),
        min("lt").as("start_lt"), max("lt").as("end_lt"),
        min("now").as("start_utime"), max("now").as("end_utime"),
        min("mc_block_seqno").as("mc_seqno_start"),
        max("mc_block_seqno").as("mc_seqno_end"))
      .join(edgeStats, Seq("trace_id"), "left")
      .withColumn("edges_", coalesce(col("edges_"), lit(0L)))
      .withColumn("pending_edges_", coalesce(col("pending_edges_"), lit(0L)))
      .withColumn("state",
        when(coalesce(col("any_broken"), lit(0)) === 1, "broken")
          .when(col("pending_edges_") > 0, "pending")
          .otherwise("complete"))
      .withColumn("classification_state", lit("unclassified"))
      .drop("any_broken")
  }

  /** Post-classify writeback (event_classifier.py:334-343 semantics —
    * traces.classification_state moves unclassified → ok/failed/broken
    * once the classifier has answered): join the per-trace states the
    * classify sweep emitted (runProjected's `classification_state`
    * column, distinct per trace_id) over the traces frame. Traces the
    * classify pass never touched keep their current state. Both sides
    * key on trace_id — a co-partitioned shuffle join, never broadcast
    * (states is trace-cardinality). */
  def withClassificationState(traces: DataFrame, states: DataFrame): DataFrame =
    traces.drop("classification_state")
      .join(states.select(col("trace_id"),
          col("classification_state").as("cls_state_")).distinct(),
        Seq("trace_id"), "left")
      .withColumn("classification_state",
        coalesce(col("cls_state_"), lit("unclassified")))
      .drop("cls_state_")
}
