package graft

import graft.plans.TraceAssembly
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Fixture per FIXTURES.md §B: multi-trace forest, in/out duplicate
  * messages, null source (external), null destination (log), system
  * address, broken edge (missing producer). */
class TraceAssemblySpec extends SparkSpec {

  private def tx(hash: String, lt: Long): Row =
    Row(hash, lt, lt.toInt, 100, s"0:${hash.toUpperCase}PAD")

  private def msg(msgHash: String, txHash: String, dir: String,
      source: String, dest: String): Row =
    Row(msgHash, txHash, dir, source, dest)

  private lazy val txSchema = StructType(Seq(
    StructField("hash", StringType), StructField("lt", LongType),
    StructField("now", IntegerType), StructField("mc_block_seqno", IntegerType),
    StructField("account", StringType)))

  private lazy val msgSchema = StructType(Seq(
    StructField("msg_hash", StringType), StructField("tx_hash", StringType),
    StructField("direction", StringType), StructField("source", StringType),
    StructField("destination", StringType)))

  private lazy val result = {
    val sys = TraceAssembly.SystemAddress
    val txs = spark.createDataFrame(
      java.util.Arrays.asList(
        tx("T1", 10), tx("T2", 20), tx("T3", 30), // trace A chain
        tx("T4", 40),                             // trace B broken
        tx("T5", 50),                             // trace C pending
        tx("T6", 60),                             // trace D sys-started
        tx("T7", 70)),                            // trace E no in-msg
      txSchema)
    val msgs = spark.createDataFrame(
      java.util.Arrays.asList(
        msg("m1", "T1", "in", null, "0:A"),        // external in
        msg("m2", "T1", "out", "0:A", "0:B"),      // T1 -> T2 (dup rows:
        msg("m2", "T2", "in", "0:A", "0:B"),       //  out of T1, in of T2)
        msg("m3", "T2", "out", "0:B", "0:C"),
        msg("m3", "T3", "in", "0:B", "0:C"),
        msg("m4", "T4", "in", "0:NOBODY", "0:D"),  // producer never seen
        msg("m5", "T5", "in", null, "0:E"),
        msg("m6", "T5", "out", "0:E", "0:F"),      // never consumed → pending
        msg("m7", "T5", "out", "0:E", null),       // log msg → NOT pending
        msg("m8", "T6", "in", sys, "0:G")),        // system-address start
      msgSchema)
    val (traces, edges, txsWithTrace) = TraceAssembly.assemble(txs, msgs)
    (traces.collect().map(r => r.getAs[String]("trace_id") -> r).toMap,
      edges.collect(),
      txsWithTrace.collect()
        .map(r => r.getAs[String]("hash") -> r.getAs[String]("trace_id")).toMap)
  }

  test("trace ids propagate to the chain root") {
    val (_, _, byTx) = result
    assert(byTx == Map("T1" -> "T1", "T2" -> "T1", "T3" -> "T1",
      "T4" -> "T4", "T5" -> "T5", "T6" -> "T6", "T7" -> "T7"))
  }

  test("trace metadata: nodes, edges, pending, state, bounds") {
    val (traces, _, _) = result
    val a = traces("T1")
    assert(a.getAs[Long]("nodes_") == 3 && a.getAs[Long]("edges_") == 3
      && a.getAs[Long]("pending_edges_") == 0
      && a.getAs[String]("state") == "complete"
      && a.getAs[Long]("start_lt") == 10 && a.getAs[Long]("end_lt") == 30
      && a.getAs[String]("external_hash") == "m1")
    val b = traces("T4")
    assert(b.getAs[String]("state") == "broken"
      && b.getAs[Long]("edges_") == 0 && b.getAs[Long]("nodes_") == 1)
    val c = traces("T5")
    assert(c.getAs[String]("state") == "pending"
      && c.getAs[Long]("pending_edges_") == 1
      && c.getAs[Long]("edges_") == 1)
    val d = traces("T6")
    assert(d.getAs[String]("state") == "complete"
      && d.getAs[Long]("edges_") == 1)
    val e = traces("T7")
    assert(e.getAs[String]("state") == "complete"
      && e.getAs[Long]("edges_") == 0 && e.getAs[Long]("nodes_") == 1)
  }

  test("edge rows carry the reference edge taxonomy") {
    val (_, edges, _) = result
    val byMsg = edges.groupBy(_.getAs[String]("msg_hash"))
      .map { case (k, v) => k -> v.head }
    assert(byMsg("m1").getAs[String]("edge_type") == "ext")
    assert(byMsg("m2").getAs[String]("edge_type") == "ord"
      && byMsg("m2").getAs[String]("left_tx") == "T1"
      && byMsg("m2").getAs[String]("right_tx") == "T2")
    assert(byMsg("m4").getAs[Boolean]("broken"))
    assert(byMsg("m6").getAs[Boolean]("incomplete"))
    assert(byMsg("m8").getAs[String]("edge_type") == "sys")
    assert(!byMsg.contains("m7"), "log message must not create an edge")
  }

  test("every edge and trace row of the join edge cases is pinned") {
    // an out-message consumed twice (d1 by T2 and T3), an unconsumed
    // out-message with no destination (lg: no edge), an in-message with a
    // null msg_hash (T4: never matches a producer, so broken), and two
    // external in-edges on one root (T1: external_hash = min)
    val txs = spark.createDataFrame(java.util.Arrays.asList(
      tx("T1", 10), tx("T2", 20), tx("T3", 30), tx("T4", 40)), txSchema)
    val msgs = spark.createDataFrame(java.util.Arrays.asList(
      msg("x9", "T1", "in", null, "0:P"),
      msg("x3", "T1", "in", null, "0:P"),
      msg("d1", "T1", "out", "0:P", "0:Q"),
      msg("lg", "T1", "out", "0:P", null),
      msg("d1", "T2", "in", "0:P", "0:Q"),
      msg("d1", "T3", "in", "0:P", "0:Q"),
      msg(null, "T4", "in", "0:R", "0:S")), msgSchema)
    val (traces, edges, _) = TraceAssembly.assemble(txs, msgs)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(edges.columns.toSeq == Seq("trace_id", "msg_hash", "left_tx",
      "right_tx", "edge_type", "incomplete", "broken"))
    assert(rows(edges) == Seq(
      "T1|d1|T1|T2|ord|false|false",
      "T1|d1|T1|T3|ord|false|false",
      "T1|x3|null|T1|ext|false|false",
      "T1|x9|null|T1|ext|false|false",
      "T4|null|null|T4|ord|false|true"))
    assert(traces.columns.toSeq == Seq("trace_id", "nodes_", "start_lt",
      "end_lt", "start_utime", "end_utime", "mc_seqno_start", "mc_seqno_end",
      "edges_", "pending_edges_", "external_hash", "state",
      "classification_state"))
    assert(rows(traces) == Seq(
      "T1|3|10|30|10|30|100|100|4|0|x3|complete|unclassified",
      "T4|1|40|40|40|40|100|100|0|0|null|broken|unclassified"))
  }
}
