package graft

import org.apache.spark.sql.functions._

/** Counterfactual for the contracted near-dup reports (r13 verdict item
  * 1): the driver fixtures are RECOMBINED (deliberately no verbatim
  * dups — tools/make_sf.py), so the exact-dup-first contraction is a
  * structural no-op there and the registered d11/d12/d13 scale ratios
  * measure genuine near-pair output, not the contraction. This main
  * measures the shape the reports target — a web-crawl-like corpus
  * where every document appears K times verbatim — and times the
  * contracted report against the full pair listing on identical input.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_DUP_K=<K> runMain
  * graft.DupBench. Prints one JSON line.
  */
object DupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_DUP_K", "10").toInt
    val spark = GraftSession.local()
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val union = (0 until k).map(i =>
        docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
    // the shingle/token silver both sides read (one-time, untimed)
    val sh = union
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .localCheckpoint()
    val toks = union
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .localCheckpoint()
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (repSec, repRows) = timed {
      Dedup.jaccardNearDupReportFrom(sh,
        reps => Dedup.exactJaccardPairs(spark, reps, 0.3, dfCapEpsilon = 0))
        .count()
    }
    val (fullSec, fullRows) = timed {
      Dedup.exactJaccardPairs(spark, sh, 0.3).count()
    }
    val (simRepSec, simRepRows) = timed {
      Dedup.simhashNearDupReportFrom(Dedup.simsOf(toks), 6).count()
    }
    val (simFullSec, simFullRows) = timed {
      Dedup.simhashPairsFromToks(toks, 6).count()
    }
    // d36 arm (r14 verdict item 2): span report vs span listing on the
    // same dup-heavy corpus — both sides of the (corpus, bench) pair
    // space carry K verbatim copies, so the listing pays K_c·K_b rows
    // per contaminated pair while the report pays one + membership
    val spanBase = union
      .select(col("doc_id"), trim(col("text")).as("tt"),
        split(trim(col("text")), "\\s+").as("toks"),
        graft.operators.Dedup.shingles(col("text")).as("sh"))
      .localCheckpoint()
    val corpus = spanBase.filter(col("doc_id") % 17 =!= 0)
    val bench = spanBase.filter(col("doc_id") % 17 === 0)
    val (spanRepSec, spanRepRows) = timed {
      graft.operators.Curation.contaminationSpanReport(corpus, bench)
        .count()
    }
    val (spanFullSec, spanFullRows) = timed {
      graft.operators.Curation.contaminationSpans(corpus, bench).count()
    }
    def r3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val json = s"""{"metric":"dup_counterfactual","k":$k,"sf":"$sfDir",""" +
      s""""docs":${k * docs.count()},""" +
      s""""jaccard_report_sec":${r3(repSec)},"jaccard_report_rows":$repRows,""" +
      s""""jaccard_full_sec":${r3(fullSec)},"jaccard_full_rows":$fullRows,""" +
      s""""simhash_report_sec":${r3(simRepSec)},"simhash_report_rows":$simRepRows,""" +
      s""""simhash_full_sec":${r3(simFullSec)},"simhash_full_rows":$simFullRows,""" +
      s""""span_report_sec":${r3(spanRepSec)},"span_report_rows":$spanRepRows,""" +
      s""""span_full_sec":${r3(spanFullSec)},"span_full_rows":$spanFullRows}"""
    spark.stop()
    println(json)
  }
}
