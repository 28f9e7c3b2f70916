package graft

/** Registry change gate: every entry in SparkEntry.queries must at least
  * ANALYZE and EXECUTE against the sf0.001 fixture without throwing.
  *
  * Round 9 shipped a query that selected a column absent from every
  * fixture; `graft.Verify` caught-and-logged the AnalysisException, the
  * driver omitted the missing output, and the query silently had no
  * correctness entry at all. This spec makes that failure mode turn
  * `sbt test` red in the same commit that registers the query.
  */
class RegistryGateSpec extends SparkSpec {

  test("every registered query runs against the sf0.001 fixture") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          // limit(1) bounds the result, not the work — fine at sf0.001,
          // and still executes the physical plan (codegen, exchanges),
          // which analysis alone would not.
          fn(spark, sf).limit(1).collect()
          None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
        }
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("a query name registered twice fails the registry") {
    val fn: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(Q("a01", "SELECT 1")(fn),
        Q("b02", "SELECT 2")(fn), Q("a01", "SELECT 3")(fn)))
    }
    assert(e.getMessage.contains("a01") && !e.getMessage.contains("b02"),
      e.getMessage)
  }
}
