package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named registered queries to files —
  * the plan evidence the optimization rounds commit under plans/rNN/.
  * Usage: runMain graft.ExplainDump <outDir> <suffix> <query...>
  * (suffix = "before" | "after"). Not part of the driver contract. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // silver-BUILDER plans (the registered query reads the materialized
    // table, so its own plan is just a scan — the optimization target
    // is the build): addressable under synthetic names.
    val builders: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "semdedup_build" -> ((s, d) =>
        graft.operators.Similarity.semanticDedupProbed(
          Tables.embeddings(s, d),
          graft.operators.Similarity.probeAssign(Tables.embeddings(s, d),
            graft.operators.Similarity.kmeansAssign(
              Tables.embeddings(s, d), 8, 3), 3), 0.45)))
    for (name <- names) {
      val df = builders.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"dumped $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
