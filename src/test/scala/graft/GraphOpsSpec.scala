package graft

import graft.plans.GraphOps
import org.apache.spark.GroupJobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {

  // a driver limit of 0 sends every forest through the shuffle fixpoint
  private val branches =
    Seq("one-pass" -> GraphOps.DriverResolveLimit, "shuffle" -> 0)

  private def roots(nodes: DataFrame, driverLimit: Int,
      maxIters: Int = 30): Seq[(Long, Long)] =
    GraphOps.forestRoots(nodes, maxIters, driverLimit).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** 1 <- 2 <- ... <- n */
  private def chain(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, if (i == 1) None else Some(i - 1L)))
      .toDF("id", "parent")
  }

  test("forestRoots resolves a hand-built multi-level forest") {
    import spark.implicits._
    // forest: 1 -> 2 -> 3 -> 4 (root 1), 10 -> 11 (root 10), 20 isolated
    val nodes = Seq(
      (1L, None), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)),
      (10L, None), (11L, Some(10L)), (20L, None))
      .toDF("id", "parent")
    for ((branch, limit) <- branches)
      assert(roots(nodes, limit) == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L), branch)
  }

  test("forestRoots handles a deep chain in O(log n) iterations") {
    val n = 200
    for ((branch, limit) <- branches)
      assert(roots(chain(n), limit, maxIters = 12) ==
        (1 to n).map(i => i.toLong -> 1L), branch)
  }

  test("forestRoots converges at round-boundary depths (r16 " +
      "finishing-round detection: the final hop of a round moving " +
      "nothing IS the fixpoint)") {
    // shuffle branch, two hops (×3) per round: round r starts with every
    // anc 3^r steps up, so its final hop moves nothing iff 2·3^r ≥ depth
    // - 1. maxIters is exactly that round count: stopping a round early
    // gives wrong roots, needing one more fails the maxIters require
    for (n <- Seq(2, 3, 4, 7, 8, 9, 10, 19, 20, 27, 28)) {
      val rounds = Iterator.iterate(0)(_ + 1)
        .find(r => 2 * math.pow(3, r) >= n - 1).get + 1
      assert(roots(chain(n), 0, maxIters = rounds) ==
        (1 to n).map(i => i.toLong -> 1L), s"depth $n in $rounds rounds")
    }
  }

  for ((branch, limit) <- branches) {
    test(s"forestRoots: a parent that is not an id is the root ($branch)") {
      import spark.implicits._
      // 1 and 5 point at 100 and 200, which are not ids
      val nodes = Seq((1L, Some(100L)), (2L, Some(1L)), (3L, Some(2L)),
        (5L, Some(200L)), (6L, None)).toDF("id", "parent")
      assert(roots(nodes, limit) ==
        Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 5L -> 200L, 6L -> 6L))
    }

    test(s"forestRoots: a self parent is a root ($branch)") {
      import spark.implicits._
      val nodes = Seq((1L, Some(1L)), (2L, Some(1L)), (3L, Some(3L)),
        (4L, Some(2L))).toDF("id", "parent")
      assert(roots(nodes, limit) ==
        Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L))
    }

    test(s"forestRoots resolves a 10^4-deep chain ($branch)") {
      val n = 10000
      assert(roots(chain(n), limit) == (1 to n).map(i => i.toLong -> 1L))
    }

    test(s"forestRoots fails loudly on a 3-cycle and on a duplicate id " +
        s"($branch)") {
      import spark.implicits._
      // 1 -> 2 -> 3 -> 1, with a tail 4 -> 1 and an unrelated root 5
      val cycle = Seq((1L, Some(3L)), (2L, Some(1L)), (3L, Some(2L)),
        (4L, Some(1L)), (5L, None)).toDF("id", "parent")
      val c = intercept[IllegalArgumentException](
        roots(cycle, limit, maxIters = 4))
      assert(c.getMessage.contains("forestRoots did not converge"))
      val dup = Seq((1L, None), (2L, Some(1L)), (2L, None), (3L, Some(2L)))
        .toDF("id", "parent")
      val d = intercept[IllegalArgumentException](roots(dup, limit))
      assert(d.getMessage.contains("duplicate id"))
    }
  }

  test("forestRoots returns the same schema on both branches") {
    import spark.implicits._
    val nodes = Seq(("a", null), ("b", "a"), ("c", "b")).toDF("id", "parent")
    val schemas = branches.map { case (_, limit) =>
      GraphOps.forestRoots(nodes, 30, limit).schema }
    assert(schemas.distinct.size == 1)
    assert(schemas.head.fieldNames.toSeq == Seq("id", "root"))
  }

  test("forestRoots resolves a 10^4-deep chain below the limit in at " +
      "most 2 jobs") {
    val n = 10000
    // a distributed input over 4 partitions, not a local relation
    val nodes = spark.range(1, n + 1, 1, 4).select(col("id"),
      when(col("id") > 1, col("id") - 1).as("parent"))
    val (resolved, jobs) = GroupJobCount(spark.sparkContext) {
      GraphOps.forestRoots(nodes)
    }
    assert(jobs <= 2,
      s"resolving one forest ran $jobs jobs: per-round jobs are back")
    assert(resolved.filter(col("root") =!= 1L).count() == 0)
    assert(resolved.count() == n)
  }

  test("g01 trace ids agree with per-user first-event semantics") {
    val got = GraphOps.g01.fn(spark, sf)
    val events = Tables.events(spark, sf)
    val expected = events.select(col("event_id"),
      min("event_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id"))
        .as("trace_id"))
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }
}
