package graft

import org.apache.spark.sql.{DataFrame, GraftFreshStats}
import org.apache.spark.sql.functions._

/** Pins the plan-stats firewall (GraftFreshStats): `localCheckpoint`
  * forwards the checkpointed plan's COMPUTED statistics, so loop-carried
  * checkpoints compound sizeInBytes multiplicatively round over round —
  * at sf1 the d14 driver sat in million-digit BigInteger multiplication
  * for 20+ minutes of pure planning, back when dupClusters always ran
  * the contraction (it now nests forestRoots per round only above
  * `GraphOps.DriverResolveLimit` pairs). These tests assert the mechanism
  * itself (stats growth with plain checkpoints, constant-size stats
  * through checkpointFresh) so a refactor that silently drops the
  * firewall shows up as a red spec, not a stuck cluster.
  */
class FreshStatsSpec extends SparkSpec {

  private def sizeOf(df: DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  private def pairs: DataFrame = {
    import spark.implicits._
    (1 to 64).map(i => (i.toLong, (i / 2).toLong)).toDF("id", "anc")
  }

  test("plain localCheckpoint forwards computed stats into the next round " +
      "(the compounding hazard this repo must not reintroduce)") {
    var cur = pairs.localCheckpoint()
    val s0 = sizeOf(cur)
    // one self-join round, checkpointed the hazardous way
    val jt = cur.select(col("id").as("anc"), col("anc").as("anc2"))
    cur = cur.join(jt, Seq("anc"), "left").select(col("id"), col("anc"))
      .localCheckpoint()
    val s1 = sizeOf(cur)
    // the join's size estimate (~product of children) rides through the
    // checkpoint: next round starts from a strictly inflated base
    assert(s1 > s0,
      s"localCheckpoint no longer forwards stats ($s0 -> $s1): if Spark " +
        "changed this, GraftFreshStats can be retired")
  }

  test("checkpointFresh resets stats to the session default every round") {
    val default = sizeOf(GraftFreshStats.checkpointFresh(pairs))
    var cur = GraftFreshStats.checkpointFresh(pairs)
    for (round <- 1 to 6) {
      val jt = cur.select(col("id").as("anc"), col("anc").as("anc2"))
      var hopped = cur
      for (_ <- 1 to 3)
        hopped = hopped.join(jt, Seq("anc"), "left")
          .select(col("id"), coalesce(col("anc2"), col("anc")).as("anc"))
      cur = GraftFreshStats.checkpointFresh(hopped)
      assert(sizeOf(cur) == default,
        s"round $round: stats ${sizeOf(cur)} escaped the firewall")
    }
  }

  test("checkpointFresh preserves rows and schema") {
    val df = pairs.withColumn("s", concat(lit("x"), col("id")))
    val fresh = GraftFreshStats.checkpointFresh(df)
    assert(fresh.schema == df.schema)
    assert(fresh.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("forestRoots output plan carries firewalled stats even after many " +
      "rounds (deep chain forces several iterations)") {
    import spark.implicits._
    // one 4096-deep chain: pointer doubling needs multiple rounds
    val chain = (1 to 4096).map(i =>
      (s"N$i", if (i == 1) null else s"N${i - 1}")).toDF("id", "parent")
    val defaultSize = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    // both branches: the one-pass resolve and (driver limit 0) the
    // shuffle fixpoint
    for (limit <- Seq(graft.plans.GraphOps.DriverResolveLimit, 0)) {
      val roots = graft.plans.GraphOps.forestRoots(chain, 30, limit)
      assert(roots.filter(col("root") =!= "N1").count() == 0)
      // the returned plan must not embed compounded estimates: it stays
      // within one default-size factor
      assert(sizeOf(roots) <= defaultSize,
        s"forestRoots (driver limit $limit) returned a plan with " +
          s"compounded stats: ${sizeOf(roots)}")
    }
  }
}
