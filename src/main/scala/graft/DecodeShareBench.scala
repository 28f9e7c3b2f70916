package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark for the classify path's DOUBLE body decode
  * (VERDICT r9 task 8): `ClassifyJob.traceDims` decodes every message
  * body once to harvest resolver address keys, and the classify branch
  * decodes the same bodies again inside the matchers. Both are map-side
  * by design — the alternative is shuffling bodies — so the question is
  * CPU share, not plan shape: what fraction of b15's wall time is one
  * full decode pass over its message bodies?
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.DecodeShareBench <sfDir>"
  * Prints one JSON line; the number lands in SCALING.md either way
  * (>20% would justify persisting a (msg hash → keys) silver column).
  */
object DecodeShareBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()

    val (_, msgs) = graft.plans.ChainSim.b15Corpus(spark, sfDir)
    val decodeKeys = udf { (opcode: java.lang.Long, body: String) =>
      if (opcode == null || body == null) Seq.empty[String]
      else graft.functions.TlbDecoders.resolverAddressKeys(opcode, body)
    }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // warm the scan/codegen paths once so the decode pass measures
    // decode CPU, not first-touch costs
    msgs.count()

    val (nKeys, tDecode) = time {
      msgs.select(explode(decodeKeys(col("opcode"), col("body"))).as("k"))
        .filter(col("k").isNotNull).count()
    }
    val (nActions, tB15) = time {
      graft.plans.ChainSim.b15.fn(spark, sfDir).count()
    }
    println(s"""{"metric":"decode_share_b15","sf_dir":"$sfDir",""" +
      s""""decode_pass_sec":$tDecode,"b15_total_sec":$tB15,""" +
      s""""share":${tDecode / tB15},""" +
      s""""keys":$nKeys,"actions":$nActions}""")
    spark.stop()
  }
}
