package graft

import graft.classifier._
import graft.plans.ChainSim
import org.apache.spark.sql.functions.{col, lit, when}

/** The narrow chain classify row (ClassifyJob.Chain) must emit EXACTLY
  * what the wide row (ClassifyJob.Wide) emits whenever the input frames
  * hold the chain constants — the narrow encoder drops only columns
  * whose values the group function re-injects — and must fail loudly,
  * naming the column, on a frame that does not. */
class ChainShapeSpec extends SparkSpec {

  private val nftOp = Opcodes.NftTransfer
  private val jtOp = Opcodes.JettonTransfer
  private val jtiOp = Opcodes.JettonInternalTransfer

  private def txDf = {
    import spark.implicits._
    Seq(
      ("trA", "TA1", "0:I1", 10L, 10),
      ("trB", "TB1", "0:I2", 20L, 20),
      ("trC", "TC1", "0:W1", 30L, 30),
      ("trC", "TC2", "0:W2", 31L, 31))
      .map { case (tr, h, a, lt, now) =>
        (tr, h, a, lt, now, 1, "active", "active", false,
          Option.empty[Int], Option.empty[Int], 0L, "ord") }
      .toDF("trace_id", "hash", "account", "lt", "now", "mc_block_seqno",
        "orig_status", "end_status", "aborted", "compute_exit_code",
        "action_result_code", "total_fees", "descr")
  }

  private def msgDf = {
    import spark.implicits._
    Seq(
      ("ma1", "TA1", "in", Some("0:U1"), Some("0:I1"), 100L, Some(nftOp), 1L),
      ("mb1", "TB1", "in", Some("0:U2"), Some("0:I2"), 100L, Some(nftOp), 2L),
      ("mc1", "TC1", "in", Some("0:U3"), Some("0:W1"), 100L, Some(jtOp), 3L),
      ("mc2", "TC1", "out", Some("0:W1"), Some("0:W2"), 50L, Some(jtiOp), 4L),
      ("mc2", "TC2", "in", Some("0:W1"), Some("0:W2"), 50L, Some(jtiOp), 4L))
      .toDF("msg_hash", "tx_hash", "direction", "source",
        "destination", "value", "opcode", "created_lt")
      .withColumn("bounce", lit(false))
      .withColumn("bounced", lit(false))
      .withColumn("body", lit(null).cast("string"))
  }

  private val cols = Seq("trace_id", "type", "start_lt", "end_lt",
    "source", "destination", "success", "classification_state")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("chain-shape classify equals the wide path (no dims)") {
    val wide = ClassifyJob.runProjected(spark, txDf, msgDf,
      ClassifyDims(), cols)
    val narrow = ClassifyJob.runProjected(spark, txDf, msgDf,
      ClassifyDims(), cols, ClassifyJob.Chain)
    val (w, n) = (rowsOf(wide), rowsOf(narrow))
    assert(w.nonEmpty, "fixture must classify at least one action")
    assert(n == w, s"narrow path diverged:\nwide=$w\nnarrow=$n")
  }

  test("chain-shape classify equals the wide path (dims cogroup arm)") {
    import spark.implicits._
    val jw = Seq(("0:W1", "0:MA", "0:U3"), ("0:W2", "0:MA", "0:U3"))
      .toDF("account", "master", "owner")
    val dims = ClassifyDims(jettonWallets = Some(jw))
    val wide = ClassifyJob.runProjected(spark, txDf, msgDf, dims, cols)
    val narrow = ClassifyJob.runProjected(spark, txDf, msgDf, dims, cols,
      ClassifyJob.Chain)
    val (w, n) = (rowsOf(wide), rowsOf(narrow))
    assert(w.nonEmpty, "fixture must classify at least one action")
    assert(n == w, s"narrow dims path diverged:\nwide=$w\nnarrow=$n")
  }

  /** `df` written to parquet and read back, as every ChainSim silver
    * is: no literal is left in the plan for the optimizer to fold. */
  private def reread(df: org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("chain-shape-")
      .resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every message along the cause chain of what `run` throws. */
  private def failureOf(run: => Any): String = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  test("a message with bounce = true fails the chain classify, " +
      "naming the column") {
    val msgs = reread(msgDf.withColumn("bounce", col("msg_hash") === "mc1"))
    val msg = failureOf(ClassifyJob.runProjected(spark, txDf, msgs,
      ClassifyDims(), cols, ClassifyJob.Chain).collect())
    assert(msg.contains("column 'bounce'"), msg)
  }

  test("a transaction with aborted = true fails the chain classify, " +
      "naming the column") {
    val txs = reread(txDf.withColumn("aborted",
      when(col("hash") === "TB1", true).otherwise(false)))
    val msg = failureOf(ClassifyJob.runProjected(spark, txs, msgDf,
      ClassifyDims(), cols, ClassifyJob.Chain).collect())
    assert(msg.contains("column 'aborted'"), msg)
  }

  test("a messages frame carrying init_state is rejected when the " +
      "chain classify is built") {
    val msgs = msgDf.withColumn("init_state", lit("te6cc"))
    val e = intercept[IllegalArgumentException](
      ClassifyJob.runProjected(spark, txDf, msgs, ClassifyDims(), cols,
        ClassifyJob.Chain))
    assert(e.getMessage.contains("'init_state'"), e.getMessage)
  }

  test("ChainSim.classified equals the wide classify over the same " +
      "simulate/assembled silvers") {
    val chain = ChainSim.classified(spark, sf)
    val (_, msgs) = ChainSim.simulate(spark, sf)
    val (_, _, txsWithTrace) = ChainSim.assembled(spark, sf)
    val projected = chain.columns.filterNot(_ == "trace_end_utime").toSeq
    val wide = ClassifyJob.runProjected(spark, txsWithTrace, msgs,
      ClassifyDims(), projected)
    val (w, n) = (rowsOf(wide), rowsOf(chain.select(projected.map(col): _*)))
    assert(w.nonEmpty, "sf0.001 must classify at least one action")
    assert(n == w, s"ChainSim.classified diverged from the wide path:\n" +
      s"only wide=${w -- n}\nonly chain=${n -- w}")
  }
}
