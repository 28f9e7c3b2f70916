package graft.plans

import graft.{Q, Tables => T}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.GraftFreshStats.{checkpointFresh, unpersistCheckpoints}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq

/** Forest root resolution — the batch form of the reference's
  * incremental trace assembly (connected components over the message
  * graph, ton-index-worker/tondb-scanner/src/TraceAssembler.cpp:285-412).
  *
  * Because every transaction has exactly one in-edge, the message graph is
  * a forest: connected component id == root id. Forests up to
  * [[DriverResolveLimit]] nodes resolve in ONE driver pass: the (id,
  * parent) table is collected once — the same rows a broadcast jump table
  * would pull through the driver in every round — and every root is found
  * by an iterative walk with path compression, O(nodes) in total. Larger
  * forests use the shuffle fixpoint: pointer doubling over (id, anc)
  * self-joins, O(log depth) rounds, each hash-partitioned on the join key
  * under AQE, with `checkpointFresh` truncating lineage between rounds.
  */
object GraphOps {

  // event-chain roots: g01/g02 run forestRoots over the same edge set —
  // one Parquet silver table per (session, dir), the silver-table
  // analogue of the materialized trace_id column.
  private def eventChainRoots(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // the fixpoint's final checkpoint is dead once the silver table is
    // written — release it (only set when the build lambda actually ran)
    var fixpoint: DataFrame = null
    val out = SilverStore.table(s, dir, "event_chain_roots") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val edges = T.events(s, dir)
        .withColumn("parent", lag(col("event_id"), 1).over(w))
        .select(col("event_id").as("id"), col("parent"), col("ts"))
      fixpoint = forestRoots(edges.select("id", "parent"))
      fixpoint.join(edges.select(col("id"), col("ts")), Seq("id"))
    }
    if (fixpoint != null) unpersistCheckpoints(fixpoint)
    out
  }

  /** Forests up to this many nodes resolve on the driver; larger ones
    * take the shuffle fixpoint. */
  val DriverResolveLimit = 3000000

  /** nodes: (id, parent). A null or self parent makes the node a root; a
    * parent that is not an id is itself the root. Returns (id, root).
    * Fails on a cycle and on a duplicate id. `maxIters` bounds the
    * shuffle fixpoint's rounds. */
  def forestRoots(nodes: DataFrame, maxIters: Int = 30): DataFrame =
    forestRoots(nodes, maxIters, DriverResolveLimit)

  /** `driverLimit` only moves the branch boundary, so specs can drive
    * small forests through the shuffle fixpoint. */
  private[graft] def forestRoots(nodes: DataFrame, maxIters: Int,
      driverLimit: Int): DataFrame = {
    // anc = current known ancestor (self for roots)
    val pairs = nodes
      .select(col("id"), coalesce(col("parent"), col("id")).as("anc"))
    val local = pairs.limit(driverLimit + 1).collect()
    if (local.length <= driverLimit) resolveOnDriver(pairs, local)
    else shuffleRoots(pairs, maxIters)
  }

  /** One pass over the collected (id, anc) rows: walk each unresolved
    * node up to a resolved node or a root, then give every node on the
    * walk that root, so each node is walked once. The result is spread
    * over the shuffle parallelism for the joins that consume it. */
  private def resolveOnDriver(pairs: DataFrame, rows: Array[Row]): DataFrame = {
    val n = rows.length
    val index = new java.util.HashMap[Any, Integer](math.max(16, n * 2))
    for (i <- 0 until n) {
      val id = rows(i).get(0)
      require(index.put(id, i) == null, s"forestRoots: duplicate id $id")
    }
    // up(i): the node that i's anc names, or -1 when i is a root (anc is
    // i itself, or not an id at all — then anc is the root)
    val up = Array.tabulate(n) { i =>
      val p = index.get(rows(i).get(1))
      if (p == null || p.intValue == i) -1 else p.intValue
    }
    val root = new Array[Any](n)
    // walk stamp: 0 unvisited, s + 1 on the walk from s, -1 resolved
    val stamp = new Array[Int](n)
    val path = new Array[Int](n)
    for (s <- 0 until n if stamp(s) == 0) {
      var len = 0
      var x = s
      var r: Any = null
      var walking = true
      while (walking) {
        if (stamp(x) == -1) { r = root(x); walking = false }
        else {
          require(stamp(x) != s + 1,
            s"forestRoots did not converge: id ${rows(x).get(0)} is on a cycle")
          stamp(x) = s + 1
          path(len) = x
          len += 1
          if (up(x) < 0) { r = rows(x).get(1); walking = false }
          else x = up(x)
        }
      }
      while (len > 0) {
        len -= 1
        root(path(len)) = r
        stamp(path(len)) = -1
      }
    }
    val out = Array.tabulate(n)(i => Row(rows(i).get(0), root(i)))
    val spark = pairs.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(ArraySeq.unsafeWrapArray(out),
        spark.sessionState.conf.numShufflePartitions),
      pairs.withColumnRenamed("anc", "root").schema)
  }

  /** Pointer doubling over (id, anc) self-joins, for forests past the
    * driver limit. Physical shape per round: TWO pointer hops through the
    * round-start jump table, so ancestor distance grows ×3 per round; each
    * hop is a shuffle join, and fewer, cheaper rounds dominate here. */
  private def shuffleRoots(pairs: DataFrame, maxIters: Int): DataFrame = {
    val isRoot = col("anc") === col("id")
    var cur = checkpointFresh(pairs)
    // one pass for the duplicate-id check and the count of roots
    val start = cur.groupBy("id")
      .agg(count(lit(1)).as("n"), count(when(isRoot, 1)).as("roots"))
      .agg(count(when(col("n") > 1, 1)),
        min(when(col("n") > 1, col("id"))).cast("string"),
        coalesce(sum("roots"), lit(0L)))
      .head()
    require(start.getLong(0) == 0, s"forestRoots: duplicate id " +
      s"${start.getString(1)} (${start.getLong(0)} ids are duplicated)")
    val hops = 2
    var selfRooted = 0L
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val jt = cur.select(col("id").as("anc"), col("anc").as("anc2"))
      // anc0 tracks the value BEFORE THE FINAL HOP, not the round start:
      // the final hop moves nothing ⟺ every anc was already a root when
      // it ran (jt(x) = x only for roots), which is the fixpoint — so
      // convergence is detected IN the round that finishes the work
      // instead of costing one extra full no-op round.
      var hopped = cur.select(col("id"), col("anc").as("anc0"), col("anc"))
      for (i <- 1 to hops)
        hopped = hopped
          .join(jt, Seq("anc"), "left")
          .select(col("id"),
            (if (i == hops) col("anc") else col("anc0")).as("anc0"),
            coalesce(col("anc2"), col("anc")).as("anc"))
      // checkpointFresh, not plain localCheckpoint: a checkpoint
      // truncates the plan but FORWARDS the computed stats
      // (LogicalRDD.originStats), and Catalyst's size-only stats visitor
      // multiplies join children's sizeInBytes — so the estimate
      // compounds round over round, and with an outer loop nesting
      // forestRoots calls (d14 dupClusters) the driver ends up in
      // Toom-Cook multiplications on million-digit numbers for HOURS
      // before any task runs (observed live at sf1). The firewall drops
      // originStats so each round plans from the default size, and AQE
      // re-plans shuffles from runtime sizes.
      val stepped = checkpointFresh(hopped
        .withColumn("moved", col("anc") =!= col("anc0")))
      val counts = stepped
        .agg(count(when(col("moved"), 1)), count(when(isRoot, 1))).head()
      val changed = counts.getLong(0)
      selfRooted = counts.getLong(1)
      // release the superseded round's blocks: stepped is already
      // materialized, so cur's checkpoint can never be read again.
      // Without this every round of every fixpoint in a session stays
      // pinned in the block store — measured as a 3-8× slowdown of
      // LATER unrelated queries from GC pressure alone.
      unpersistCheckpoints(cur)
      cur = stepped.drop("anc0", "moved")
      iter += 1
      converged = changed == 0
    }
    require(converged, s"forestRoots did not converge in $maxIters iterations")
    // a cycle whose length divides 3^rounds passes the fixpoint test with
    // its nodes rooted at themselves; in a forest only the roots are
    require(selfRooted == start.getLong(2),
      "forestRoots did not converge: the parent pointers have a cycle")
    cur.select(col("id"), col("anc").as("root"))
  }

  /** G1-analog query on the events table: each user's events form a chain
    * (edge to the previous event of the same user); the trace id of an
    * event is its chain root. The oracle states the same semantics
    * directly (first event per user) — the fixpoint must agree. */
  val g01 = Q("g01_forest_trace_ids",
    """SELECT event_id, min(event_id) OVER (PARTITION BY user_id) AS trace_id
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    eventChainRoots(s, dir)
      .select(col("id").as("event_id"), col("root").as("trace_id"))
      .orderBy("event_id")
  }

  /** Trace metadata aggregation over assembled components (A4-A6:
    * nodes_, start/end bounds — TraceAssembler.cpp:329-391). */
  val g02 = Q("g02_trace_meta",
    """SELECT min(event_id) AS trace_id, count(*) AS nodes,
      |  min(event_id) AS start_id, max(event_id) AS end_id,
      |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
      |FROM events GROUP BY user_id ORDER BY trace_id""".stripMargin) { (s, dir) =>
    eventChainRoots(s, dir)
      .groupBy(col("root").as("trace_id"))
      .agg(count(lit(1)).as("nodes"), min("id").as("start_id"),
        max("id").as("end_id"),
        // µs, not raw ns: DuckDB truncates TIMESTAMP_NS to µs on read
        min(expr("ts div 1000")).as("start_us"),
        max(expr("ts div 1000")).as("end_us"))
      .orderBy("trace_id")
  }

  val all: Seq[Q] = Seq(g01, g02)
}
