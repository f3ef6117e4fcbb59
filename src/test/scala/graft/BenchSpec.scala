package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench's JSON-line contract stays well-formed on partial failures
  * and odd fixture paths: every line parses, failed reps never enter the
  * totals, and the total-only last line keeps its fields. */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  test("bench lines parse with a failed rep, an all-failed query and a " +
    "quote and backslash in sf") {
    val sf = "/data/sf \"0.1\"\\x"
    val stats = Bench.StageStats(jobs = 2, stages = 3, tasks = 7,
      execRunMs = 1500, shuffleRead = 10, shuffleWrite = 20)
    val results = Seq(
      Bench.Result("q_ok", Seq(1.0, 2.0, 3.0), stats),
      Bench.Result("q_one_failed", Seq(0.5, -1.0, 0.25), stats),
      Bench.Result("q_all_failed", Seq(-1.0, -1.0, -1.0), Bench.StageStats()))
    val parsed = Bench.lines(results, 3, sf).map(mapper.readTree)
    assert(parsed.size === 3)
    parsed.foreach { j =>
      assert(j.get("sf").asText === sf)
      // medians 2.0 and 0.375 (the failed rep left out); the all-failed
      // query's −1 sentinel is not summed
      assert(j.get("value").asDouble === 2.375)
      assert(j.get("total_min").asDouble === 1.25)
    }
    val last = parsed.last
    assert(last.fieldNames.asScala.toSeq === Seq("metric", "value", "unit",
      "reps", "total_min", "n_queries", "n_failed", "per_query_in", "sf"))
    assert(last.get("n_queries").asInt === 3)
    assert(last.get("n_failed").asInt === 2)
    val detail = parsed.head.get("queries_detail")
    assert(detail.get("q_one_failed").get("median").asDouble === 0.375)
    assert(detail.get("q_all_failed").get("median").asDouble === -1.0)
    val ok = detail.get("q_ok")
    assert(ok.get("jobs").asInt === 2 && ok.get("stages").asInt === 3 &&
      ok.get("tasks").asInt === 7)
    assert(ok.get("executor_s").asDouble === 1.5)
    assert(ok.get("shuffle_read_bytes").asLong === 10L &&
      ok.get("shuffle_write_bytes").asLong === 20L)
    assert(parsed(1).get("queries").get("q_all_failed").asDouble === -1.0)
  }

  test("SPARK_GRAFT_ONLY: names trimmed, empty segments dropped, unknown names fail") {
    val a = "q01_pricing_summary"
    val b = "q30_exact_dedup"
    assert(Bench.select(Some(s"$a, $b")).map(_._1) === Seq(a, b))
    assert(Bench.select(Some(s"$b,,$a,")).map(_._1) === Seq(a, b))
    assert(Bench.select(None).size === SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](
      Bench.select(Some(s"$a,q01_pricing_sumary, nope")))
    // every unknown name is reported; the known one is not
    assert(e.getMessage.contains("nope") &&
      e.getMessage.contains("q01_pricing_sumary") && !e.getMessage.contains(a),
      e.getMessage)
  }
}
