package graft

import org.apache.spark.sql.functions._

/** Pins the fixture cache's staleness contract (r14 advisor): a corpus
  * dir regenerated IN PLACE with a different doc_id set must invalidate
  * the cached payload table without a manual version bump, and a cache
  * hit against an unchanged corpus must serve the stored bytes. */
class MediaFixturesSpec extends SparkSpec {

  private def writeDocs(dir: java.io.File, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("doc_id").withColumn("text", concat(lit("doc "), col("doc_id")))
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").toString)
  }

  test("cache hit serves stored payloads; in-place corpus regeneration " +
      "with a different doc_id set triggers a rebuild") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mf-spec").toFile
    writeDocs(dir, 1L to 10L)
    var builds = 0
    def gen(): org.apache.spark.sql.DataFrame = {
      builds += 1
      spark.read.parquet(new java.io.File(dir, "documents.parquet").toString)
        .select(col("doc_id").as("media_id"))
        .withColumn("payload", col("media_id") * lit(builds))
    }
    // unique generator name per test run: the cache is cross-session
    val name = s"spec-${System.nanoTime()}"
    val first = graft.plans.MediaFixtures
      .table(spark, dir.toString, name, 1)(gen())
      .as[(Long, Long)].collect().sorted
    assert(builds == 1 && first.map(_._1).toSeq == (1L to 10L))
    // second call: same corpus → served from cache, generator NOT run
    val second = graft.plans.MediaFixtures
      .table(spark, dir.toString, name, 1)(gen())
      .as[(Long, Long)].collect().sorted
    assert(builds == 1, "cache hit must not re-run the generator")
    assert(second.toSeq == first.toSeq)
    // regenerate the corpus in place with a shifted id set: the stale
    // payloads must NOT be served (payload column proves a fresh build)
    writeDocs(dir, 11L to 25L)
    val third = graft.plans.MediaFixtures
      .table(spark, dir.toString, name, 1)(gen())
      .as[(Long, Long)].collect().sorted
    assert(builds == 2, "changed doc_id set must invalidate the cache")
    assert(third.map(_._1).toSeq == (11L to 25L))
    assert(third.forall { case (id, p) => p == id * 2 })
  }

  test("warm cross-session hit re-validates from the on-disk stamp with " +
      "ZERO Spark jobs; a corrupted stamp falls back to the probes and " +
      "is rewritten (r15 verdict item 4)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mf-stamp").toFile
    writeDocs(dir, 1L to 8L)
    val name = s"stamp-${System.nanoTime()}"
    def gen(): org.apache.spark.sql.DataFrame =
      spark.read.parquet(new java.io.File(dir, "documents.parquet").toString)
        .select(col("doc_id").as("media_id"))
        .withColumn("payload", col("media_id") * 7)
    graft.plans.MediaFixtures.table(spark, dir.toString, name, 1)(gen())
    // locate the published target and its stamp
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir", "/tmp"), "graft-media-fixtures")
    val target = base.listFiles
      .find(f => f.getName.startsWith(s"$name-v1-")).get
    val stamp = new java.io.File(target, "_GRAFT_VALIDATED")
    assert(stamp.exists(), "publication must write the validation stamp")
    val stamped = new String(
      java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")

    // simulate a fresh session: drop the in-process memo; the warm hit
    // must validate from the stamp alone — no generator, no Spark jobs
    graft.plans.MediaFixtures.clearValidationMemo()
    val (_, jobs) = org.apache.spark.GroupJobCount(spark.sparkContext) {
      graft.plans.MediaFixtures.table(spark, dir.toString, name, 1)(
        sys.error("warm stamped hit must not invoke the generator"))
    }
    // the single allowed job is the returned table's own parquet
    // footer/schema read — paid by EVERY table() call regardless of
    // validation; the probe path would add two aggregate jobs on top
    assert(jobs <= 1,
      s"stamped warm hit must run zero validation jobs (ran $jobs)")

    // corrupt the stamp: the probe path must engage (Spark jobs), pass
    // (the payload still matches), and rewrite the stamp
    java.nio.file.Files.write(stamp.toPath, "garbage".getBytes("UTF-8"))
    graft.plans.MediaFixtures.clearValidationMemo()
    val probed = graft.plans.MediaFixtures
      .table(spark, dir.toString, name, 1)(
        sys.error("probe-validated hit must not invoke the generator"))
      .as[(Long, Long)].collect().sorted
    assert(probed.map(_._1).toSeq == (1L to 8L))
    val rewritten = new String(
      java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
    assert(rewritten == stamped,
      "a passing probe must restore the stamp fingerprint")
  }
}
