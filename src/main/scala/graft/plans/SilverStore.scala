package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped silver-table store: materialize a derived table ONCE as
  * Parquet and hand every consumer the re-read DataFrame.
  *
  * This replaces the earlier `localCheckpoint` memos. A local checkpoint
  * pins executor block-store memory and dies with the executors; a
  * written-and-reread Parquet table is what a cluster deployment would
  * actually do (materialize the silver layer once at ingest, serve every
  * query from the columnar files) — and it means bench timings include
  * the real silver read path: columnar scan, column pruning and filter
  * pushdown apply to every downstream query instead of an in-memory
  * block scan that hides them.
  *
  * Local runs write under a per-session temp directory; a cluster
  * deployment points `graft.silver.dir` at shared storage. The driver-
  * side state is only the path registry — bounded by the table count,
  * never by data size.
  */
object SilverStore {

  private val tables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val bases =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  private def base(spark: SparkSession): String =
    bases.getOrElseUpdate(spark,
      spark.conf.getOption("graft.silver.dir").getOrElse {
        val dir = java.nio.file.Files.createTempDirectory("graft-silver-")
        // temp stores die with the JVM; a configured graft.silver.dir
        // (the cluster deployment) is never cleaned up here
        sys.addShutdownHook {
          def rm(p: java.io.File): Unit = {
            Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
          }
          rm(dir.toFile)
        }
        dir.toString
      })

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The silver table `name` derived from source `srcDir`: built and
    * written exactly once per session, re-read thereafter. */
  def table(spark: SparkSession, srcDir: String, name: String)(
      build: => DataFrame): DataFrame =
    tables.getOrElseUpdate((spark, s"${sanitize(srcDir)}/$name"), {
      val path = s"${base(spark)}/${sanitize(srcDir)}/$name"
      build.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    })
}
