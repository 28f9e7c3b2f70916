package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** Plan-statistics firewall for ITERATIVE DataFrame algorithms.
  *
  * `Dataset.localCheckpoint` truncates the logical plan to a
  * `LogicalRDD`, but deliberately forwards the original plan's COMPUTED
  * statistics (`LogicalRDD.originStats`) so downstream join planning
  * keeps its size estimates. For a driver loop that feeds each round's
  * checkpoint into the next round's joins this is a trap:
  * `SizeInBytesOnlyStatsPlanVisitor.visitJoin` MULTIPLIES child sizes,
  * so the carried `sizeInBytes` compounds round over round — a k-hop
  * self-join round raises the bit-width ×(k+1), and with nested loops
  * (the `GraphOps.components` contraction calling forestRoots per
  * round, which dupClusters reaches only above the driver limit) the
  * estimate reaches millions of digits within ~10 rounds. Planning then
  * pins the driver in `BigInteger.multiplyToomCook3` for HOURS before a
  * single task launches (observed live: d14 at sf1, main thread 15+
  * CPU-minutes into one stats visit). Eager checkpointing does NOT help — the stats
  * still ride along.
  *
  * `checkpointFresh` materializes like `localCheckpoint` and then
  * rebuilds the Dataset around the SAME checkpointed row RDD with
  * `originStats = None`, so every round's planning restarts from the
  * session default size. Partitioning and ordering metadata are kept —
  * only the poisoned estimate is dropped. Join-strategy quality is
  * unaffected where this is used: those loops either hint
  * `broadcast(...)` explicitly or run under AQE, which re-plans from
  * runtime shuffle sizes rather than compile-time stats.
  *
  * Lives in `org.apache.spark.sql` only to reach the `private[sql]`
  * `LogicalRDD` internals; no Spark behavior is modified.
  */
object GraftFreshStats {

  /** Rebuild a (checkpointed) Dataset with default-size statistics. */
  def freshStats(df: Dataset[Row]): DataFrame = {
    val cd = df.asInstanceOf[classic.Dataset[Row]]
    cd.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        classic.Dataset.ofRows(cd.sparkSession,
          LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            cd.sparkSession, originStats = None, originConstraints = None))
      case _ => // not a bare checkpoint plan: re-wrap the internal rows
        cd.sparkSession.internalCreateDataFrame(
          cd.queryExecution.toRdd, cd.schema)
    }
  }

  /** `localCheckpoint` + stats firewall — use inside driver loops. */
  def checkpointFresh(df: Dataset[Row]): DataFrame =
    freshStats(df.localCheckpoint())

  /** Drop the block-store blocks behind every checkpoint leaf in `df`'s
    * plan. Loop-carried checkpoints otherwise accumulate for the whole
    * session — a bench run measured later small queries 3-8× slower
    * purely from the pinned blocks of earlier iterative operators'
    * rounds (GC pressure in a 48 GB heap at sf1). Call ONLY on frames
    * that are provably dead: a local checkpoint has no lineage to
    * recompute from, so any later read of `df` (or of a plan sharing
    * its checkpoint) fails. Superseded round state in a driver loop is
    * the intended target — round N+1 is materialized before round N is
    * released, exactly like rotating a double buffer. */
  def unpersistCheckpoints(df: Dataset[Row]): Unit = {
    val cd = df.asInstanceOf[classic.Dataset[Row]]
    cd.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
