package graft

import org.apache.spark.sql.functions._

/** Incremental-refresh cost evidence (SCALING.md): time the full b03
  * latest-states recompute vs an incremental refresh whose delta is the
  * top ~1% of transactions by lt, at SPARK_GRAFT_SF_DIR. The claim under
  * test: refresh cost scales with the delta, not the corpus. */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local(cpus)

    val (txs, _) = graft.plans.ChainSim.simulate(spark, sfDir)
    val cut = txs.stat.approxQuantile("lt", Array(0.99), 0.0)(0)
    val hist = txs.filter(col("lt") <= cut).localCheckpoint()
    val delta = txs.filter(col("lt") > cut).localCheckpoint()
    val nHist = hist.count(); val nDelta = delta.count()

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warm-up: one full pass outside timing (codegen, footers)
    graft.plans.IncrementalSilver.latestStates(hist).count()

    val prev = graft.operators.GlobalIndex.globalRowNumber(
        graft.plans.IncrementalSilver.latestStates(hist),
        "id", col("last_trans_lt"), col("account"))
      .withColumn("id", col("id").cast("int")).localCheckpoint()

    val (fullSec, fullRows) = time {
      graft.operators.GlobalIndex.globalRowNumber(
          graft.plans.IncrementalSilver.latestStates(
            hist.unionByName(delta)),
          "id", col("last_trans_lt"), col("account"))
        .withColumn("id", col("id").cast("int")).count()
    }
    val (incSec, incRows) = time {
      graft.plans.IncrementalSilver.refreshLatestStates(prev, delta).count()
    }
    // the merge alone (no surrogate-id re-rank): what a deployment whose
    // silver has no corpus-wide rank column would pay
    val (mergeSec, _) = time {
      graft.plans.IncrementalSilver.mergeLatestStates(prev, delta).count()
    }
    require(fullRows == incRows, s"row mismatch: $fullRows vs $incRows")
    println(s"""{"metric":"incremental_refresh","sf":"$sfDir","n_hist":$nHist,"n_delta":$nDelta,"full_sec":$fullSec,"incremental_sec":$incSec,"merge_only_sec":$mergeSec,"rows":$fullRows,"cpus":$cpus}""")
    spark.stop()
  }
}
