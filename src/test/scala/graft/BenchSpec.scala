package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for Bench's dependency-free detail-file parsing (the
  * regression baseline must come ONLY from the "queries" object, never
  * from metadata keys that happen to hold numbers) and for its
  * emission: the headline is this run's measured total, and each
  * query's codegen compile time rides beside it in the detail.
  */
class BenchSpec extends AnyFunSuite {

  test("parseFlatNumbers reads only the queries object") {
    val detail =
      """{"metric":"total","value":101.714,"unit":"sec","n_queries":117,""" +
        """"sf":"/root/testdata/sf0.1",""" +
        """"regressions_vs_prior":{"dedup_minhash":{"prior":2.171,"now":3.4}},""" +
        """"queries":{"q1_agg":0.63,"dedup_minhash":2.171,"text_bm25":0.844}}"""
    val m = Bench.parseFlatNumbers(detail)
    assert(m === Map("q1_agg" -> 0.63, "dedup_minhash" -> 2.171, "text_bm25" -> 0.844))
    assert(!m.contains("value") && !m.contains("n_queries") &&
      !m.contains("prior") && !m.contains("now"))
  }

  test("parseFlatNumbers is empty on files without a queries object") {
    assert(Bench.parseFlatNumbers("""{"value":1.0}""") === Map.empty)
    assert(Bench.parseFlatNumbers("") === Map.empty)
  }

  test("parseFlatNumbers tolerates whitespace after colons (externally rewritten detail)") {
    // the r10 round-close detail was rewritten by an external JSON
    // serializer that emits `"queries": {` — the parse must not depend
    // on the exact byte layout Bench itself writes
    val detail =
      """{"metric": "total", "value": 777.3, "n_queries": 2, """ +
        """"regressions_vs_frozen": {"q1_agg": {"prior": 0.5, "now": 0.9}}, """ +
        """"queries": {"q1_agg": 0.72, "q7_topk": 0.148}}"""
    assert(Bench.parseFlatNumbers(detail) === Map("q1_agg" -> 0.72, "q7_topk" -> 0.148))
  }

  private val results = Seq("q1_agg" -> 0.7, "dedup_minhash" -> 4.0, "text_bm25" -> 0.3)
  private val frozen = Map("q1_agg" -> 0.5, "dedup_minhash" -> 2.0, "text_bm25" -> 0.1)
  private val codegen = Seq("q1_agg" -> 12.5, "dedup_minhash" -> 0.0, "text_bm25" -> 3.25)
  private val (detail, line) =
    Bench.emit(results, codegen, Seq("q7_topk"), frozen, Some("BENCH_DETAIL_r15.json"), "sf")

  private def value(json: String): Double =
    "\"value\":([0-9.]+)".r.findFirstMatchIn(json).get.group(1).toDouble

  test("emit: value is the sum of this run's times, on both records") {
    assert(value(detail) === 5.0)
    assert(value(line) === 5.0)
    assert(line.contains("\"detail\":\"target/bench-detail.json\""))
  }

  test("emit: a lower frozen floor never replaces a measured time") {
    assert(Bench.parseFlatNumbers(detail) ===
      Map("q1_agg" -> 0.7, "dedup_minhash" -> 4.0, "text_bm25" -> 0.3))
  }

  test("emit: codegen_ms carries each query's compile time, outside the queries baseline") {
    assert(detail.contains(
      "\"codegen_ms\":{\"q1_agg\":12.500,\"dedup_minhash\":0.000,\"text_bm25\":3.250}"))
    assert(!line.contains("codegen_ms"))
    assert(Bench.parseFlatNumbers(detail).keySet === results.map(_._1).toSet)
  }

  test("emit: a failed query is absent from queries and listed under failed") {
    assert(!Bench.parseFlatNumbers(detail).contains("q7_topk"))
    assert(detail.contains("\"failed\":[\"q7_topk\"]"))
    assert(line.contains("\"failed\":1,"))
  }

  test("emit: a >1.5x regression of a >0.2s floor is reported, noise is not") {
    // dedup_minhash 2.0 -> 4.0 regressed; q1_agg is 1.4x; text_bm25's
    // 0.1s floor is below the 0.2s eligibility line
    assert(detail.contains(
      "\"regressions_vs_frozen\":{\"dedup_minhash\":{\"prior\":2.000,\"now\":4.000}}"))
    assert(line.contains("\"regressions_vs_frozen\":1,"))
  }
}
