package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the query subset Verify and Bench take. */
class QuerySelectSpec extends AnyFunSuite {

  test("an unknown query name fails, naming every unknown name") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("nope,q12_multiway_star,nope2"))
    }
    assert(e.getMessage.contains("nope, nope2"), e.getMessage)
    assert(!e.getMessage.contains("q12"), e.getMessage)
  }

  test("a subset selects those queries once each, sorted by name; " +
      "no subset selects them all") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (a, b) = (names.head, names.last)
    assert(SparkEntry.select(Some(s"$b, $a,$b")).map(_._1) == Seq(a, b))
    assert(SparkEntry.select(None).map(_._1) == names)
  }
}
