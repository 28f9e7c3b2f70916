package graft.plans

import graft.{Q, Tables => T}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftFreshStats.{checkpointFresh, unpersistCheckpoints}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

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
  *
  * [[components]] (duplicate clusters) has the same two branches: a
  * union-find over the collected edges up to the same limit, a min-label
  * contraction that nests forestRoots per round above it.
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
      // forestRoots calls (the `components` contraction, which d14's
      // dupClusters reaches only above the driver limit) the driver ends
      // up in Toom-Cook multiplications on million-digit numbers for HOURS
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

  /** edges: bigint (u, v). Connected components rooted at the
    * component's minimum id: one (id, root) row per id in any edge, a
    * self edge included; a null end is the row (null, null) and joins
    * nothing. Up to `driverLimit` edges resolve in ONE driver
    * pass — one job packs each partition's edges into two long arrays,
    * caches them and sends them to the driver, where a union-find keeps
    * the smaller id as the root. Larger edge sets take the min-label
    * contraction over that cache, which nests [[forestRoots]] per round;
    * either way the edge plan runs once. `maxRounds` bounds the
    * contraction's rounds; `driverLimit` is the branch boundary here and
    * in the nested forestRoots, `DriverResolveLimit` but in specs. */
  private[graft] def components(edges: DataFrame, maxRounds: Int,
      driverLimit: Int): DataFrame = {
    val uv = edges.select("u", "v")
    for (f <- uv.schema.fields) require(f.dataType == LongType,
      s"components: ${f.name} must be bigint, got ${f.dataType.sql}")
    // The cache keeps the edge plan (for dupClusters the pair
    // generation, the costly part) from running again in the
    // contraction's checkpoint. Edges already on the driver (a local
    // relation) are packed there: packing them in a job would cost one.
    val qe = uv.queryExecution
    val blocks = qe.executedPlan match {
      case l: LocalTableScanExec => Left(edgeBlock(l.executeCollect().iterator))
      case _ => Right(qe.toRdd.mapPartitions(it => Iterator(edgeBlock(it)))
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
    val spark = uv.sparkSession
    val local = try blocks.fold(
        b => if (b.u.length <= driverLimit) Some(Seq(b)) else None,
        collectUpTo(_, driverLimit)) match {
      case Some(bs) => Left(bs)
      case None => Right(checkpointFresh(blocks.fold(_ => uv, rdd =>
        spark.createDataFrame(rdd.flatMap(_.rows), edgeSchema))))
    } finally blocks.foreach(_.unpersist(blocking = false))
    local.fold(componentsOnDriver(spark, _),
      contractComponents(_, maxRounds, driverLimit))
  }

  /** One partition's edges as two id columns. A null end adds nothing to
    * the components but the row (null, null), so it is kept as a self
    * edge of the other end and a `sawNull` mark. */
  private final case class EdgeBlock(u: Array[Long], v: Array[Long],
      sawNull: Boolean) {
    def rows: Iterator[Row] = u.indices.iterator.map(i => Row(u(i), v(i))) ++
      (if (sawNull) Iterator(Row(null, null)) else Iterator.empty)
  }

  private val edgeSchema = StructType(Seq(
    StructField("u", LongType), StructField("v", LongType)))

  private def edgeBlock(rows: Iterator[InternalRow]): EdgeBlock = {
    val (u, v) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    var sawNull = false
    for (r <- rows) {
      val nu = r.isNullAt(0)
      val nv = r.isNullAt(1)
      sawNull ||= nu || nv
      if (!(nu && nv)) {
        u += r.getLong(if (nu) 1 else 0)
        v += r.getLong(if (nv) 0 else 1)
      }
    }
    EdgeBlock(u.result(), v.result(), sawNull)
  }

  /** The blocks of a persisted `rdd` when they hold at most `limit`
    * edges, else None, from one job over every partition. A partition
    * sends its block only when it holds at most its share of `limit`, so
    * about `limit` edges at most reach the driver; when the total is
    * under the limit but a partition held more than its share, a second
    * job reads those partitions back from the cache. */
  private def collectUpTo(rdd: RDD[EdgeBlock],
      limit: Int): Option[Seq[EdgeBlock]] = {
    val p = math.max(1, rdd.getNumPartitions)
    val share = (limit.toLong + p) / p
    val sc = rdd.sparkContext
    val sent = sc.runJob(rdd, (it: Iterator[EdgeBlock]) => {
      val b = it.next()
      (b.u.length, if (b.u.length <= share) b else null)
    })
    if (sent.map(_._1.toLong).sum > limit) None
    else {
      val over = sent.indices.filter(sent(_)._2 == null)
      val reread = if (over.isEmpty) Map.empty[Int, EdgeBlock]
        else over.zip(sc.runJob(rdd, (it: Iterator[EdgeBlock]) => it.next(),
          over)).toMap
      Some(sent.indices.map(i => reread.getOrElse(i, sent(i)._2)))
    }
  }

  /** Union-find over the collected edges with path halving; a union
    * hangs the larger root under the smaller, so every root is its
    * component's minimum id. The result is spread over the shuffle
    * parallelism, as [[resolveOnDriver]]'s is. */
  private def componentsOnDriver(spark: SparkSession,
      blocks: Seq[EdgeBlock]): DataFrame = {
    val index = new java.util.HashMap[Long, Integer](
      math.max(16, blocks.map(_.u.length).sum * 2))
    val ids = ArrayBuffer.empty[Long]
    val parent = ArrayBuffer.empty[Int]
    def node(id: Long): Int = {
      val known = index.get(id)
      if (known != null) known.intValue
      else {
        index.put(id, ids.length)
        parent += ids.length
        ids += id
        ids.length - 1
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (b <- blocks; i <- b.u.indices) {
      val (ra, rb) = (find(node(b.u(i))), find(node(b.v(i))))
      if (ids(ra) < ids(rb)) parent(rb) = ra
      else if (ids(rb) < ids(ra)) parent(ra) = rb
    }
    val out = Array.tabulate(ids.length)(i => Row(ids(i), ids(find(i)))) ++
      (if (blocks.exists(_.sawNull)) Seq(Row(null, null)) else Nil)
    spark.createDataFrame(
      spark.sparkContext.parallelize(ArraySeq.unsafeWrapArray(out),
        spark.sessionState.conf.numShufflePartitions),
      StructType(Seq(StructField("id", LongType), StructField("root", LongType))))
  }

  /** Iterative min-label contraction, for edge sets past the driver
    * limit: each round relabels the edges, derives the min-neighbor
    * parent forest (strictly decreasing, so acyclic) and FULLY compresses
    * it with [[forestRoots]], so label chains collapse in one round
    * instead of one hop per round. Only (label, label) pairs shuffle.
    * `edges` is the checkpointed (u, v) frame; it is released at the
    * end. */
  private def contractComponents(edges: DataFrame, maxRounds: Int,
      driverLimit: Int): DataFrame = {
    // checkpointFresh (stats firewall) everywhere in this loop: labels
    // round N feeds round N+1's joins, and a plain localCheckpoint
    // forwards computed stats whose sizeInBytes compounds
    // multiplicatively across rounds — see GraftFreshStats.
    var labels = checkpointFresh(edges.select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .distinct().withColumn("label", col("id")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val lu = labels.select(col("id").as("u"), col("label").as("lu"))
      val lv = labels.select(col("id").as("v"), col("label").as("lv"))
      val e2 = checkpointFresh(edges.join(lu, "u").join(lv, "v")
        .select(col("lu"), col("lv")).filter(col("lu") =!= col("lv")))
      if (e2.isEmpty) converged = true
      else {
        val sym = e2.unionByName(
          e2.select(col("lv").as("lu"), col("lu").as("lv")))
        val parents = sym.groupBy("lu").agg(min("lv").as("m"))
          .filter(col("m") < col("lu"))
          .select(col("lu").as("id"), col("m").as("parent"))
        val compressed = forestRoots(parents, 30, driverLimit)
        val prev = labels
        labels = checkpointFresh(labels
          .join(compressed.select(col("id").as("label"), col("root")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("root"), col("label")).as("label")))
        // the new labels table is materialized: release the superseded
        // round's labels and this round's relabeled-edge / fixpoint
        // checkpoints instead of pinning them for the session
        unpersistCheckpoints(prev)
        unpersistCheckpoints(compressed)
      }
      unpersistCheckpoints(e2)
      round += 1
    }
    require(converged, s"components did not converge in $maxRounds rounds")
    unpersistCheckpoints(edges)
    labels.select(col("id"), col("label").as("root"))
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
