package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files

/** The bench protocol: reference-cost parsing, and one run of the fixed
  * two-pass protocol over an injected registry. */
class BenchPlanSpec extends SparkSpec {

  private val refJson =
    """{"ref_round":"r15","mode":"per_query_min_over_three_interleaved_runs",
      |"sf":"/root/testdata/sf0.1",
      |"queries":{"q01_count":0.136,"q259_cc_distributed":14.54,
      |"q84_ann_pq":2.5,"q110_ann_ivfpq":3.25}}""".stripMargin

  test("parseRefCosts: q-named numeric entries only — metadata keys never parse as queries") {
    val ref = Bench.parseRefCosts(refJson)
    assert(ref == Map("q01_count" -> 0.136, "q259_cc_distributed" -> 14.54,
      "q84_ann_pq" -> 2.5, "q110_ann_ivfpq" -> 3.25))
    // "queries"/"ref_round"/"mode" must not match (q not followed by a digit)
    assert(!ref.contains("queries"))
    assert(Bench.parseRefRound(refJson).contains("r15"))
    assert(Bench.parseRefCosts("").isEmpty && Bench.parseRefRound("").isEmpty)
  }

  test("two passes: a failing query is null and out of the total, the other is timed twice, and both outputs parse") {
    var okRuns = 0
    val registry: Seq[(String, Bench.Query)] = Seq(
      "q01_count" -> ((s, _) => { okRuns += 1; s.range(1000).toDF() }),
      "q84_ann_pq" -> ((_, _) => throw new IllegalStateException("boom")))
    val out = Files.createTempFile("bench_out", ".json")
    // a quote and a backslash in the fixture path must not break either JSON
    val sf = "/data/sf\"0.1\\x"
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout)(Bench.run(spark, sf, registry, refJson, out))

    assert(okRuns == 2)
    val json = new ObjectMapper()
    val last = json.readTree(stdout.toString("UTF-8").linesIterator.toSeq.last)
    val file = json.readTree(Files.readString(out))
    val queries = file.get("queries")
    assert(queries.get("q84_ann_pq").isNull)
    val okTime = queries.get("q01_count").asDouble
    assert(okTime > 0)
    for (node <- Seq(last, file)) {
      assert(node.get("value").asDouble == okTime, "the failure's time must stay out of the total")
      assert(node.get("n_timed").asInt == 1 && node.get("n_queries").asInt == 2)
      assert(node.get("failed").size == 1 && node.get("failed").get(0).asText == "q84_ann_pq")
      assert(node.get("sf").asText == sf)
      assert(node.get("ref_round").asText == "r15" && node.get("ref_sum").asDouble == 0.1)
    }
    assert(last.get("queries") == null, "the per-query map goes to the file, not the summary line")
  }
}
