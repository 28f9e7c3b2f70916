package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchRecordSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("a failed entry reads null, is named in failed, and counts in no sum") {
    val (full, line) = Bench.records(
      ingestParts = Seq("chain" -> Some(2.0), "phash" -> None),
      results = Seq("a01_good" -> Some(1.5), "b02_bad" -> None),
      sfDir = "sf", cpus = 4, loadStart = 0.5, loadMax = 1.0,
      loadEnd = 0.75, artifact = "BENCH_LAST.json")
    for (json <- Seq(full, line)) {
      val r = mapper.readTree(json)
      assert(r.get("value").asDouble == 3.5, json)
      assert(r.get("failed").toString == """["b02_bad","phash"]""")
      val qs = r.get("queries")
      assert(qs.get("ingest_silver").asDouble == 2.0)
      assert(qs.get("a01_good").asDouble == 1.5)
      assert(qs.get("b02_bad").isNull)
    }
    val detail = mapper.readTree(full).get("ingest_detail")
    assert(detail.get("chain").asDouble == 2.0)
    assert(detail.get("phash").isNull)
    assert(mapper.readTree(line).get("queries_elided").asInt == 0)
  }

  test("the stdout line keeps its size budget by eliding the fastest entries") {
    val results = (1 to 200).map(i => f"q$i%03d_query_with_a_long_name" -> Some(i.toDouble))
    val (full, line) = Bench.records(Seq("chain" -> Some(1.0)), results,
      "sf", 4, 0.0, 0.0, 0.0, "BENCH_LAST.json")
    assert(line.length <= 1900)
    val r = mapper.readTree(line)
    val kept = r.get("queries").fieldNames()
    assert(kept.next() == "ingest_silver")
    assert(kept.next() == "q200_query_with_a_long_name")
    assert(r.get("queries").size + r.get("queries_elided").asInt == 201)
    assert(mapper.readTree(full).get("queries").size == 201)
  }
}
