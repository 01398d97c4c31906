package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The driver parses the LAST JSON line of Bench's stdout; round 10's
  * comparison was nulled because a run with >=1 flagged host-adjusted
  * regression emitted `"k":v` entries inside `[...]` — invalid JSON that
  * no test exercised, and round 11's because the last line carried no
  * query names. This spec round-trips BOTH emitted lines through a strict
  * Jackson parse for every output posture, including the flagged-
  * regression one, and checks the last line names every query. */
class BenchOutputSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private def parse(line: String): JsonNode = mapper.readTree(line)

  /** (wall sec, shuffle bytes, gc ms, cpu sec) */
  private def res(sec: Double): (Double, Long, Long, Double) =
    (sec, 1024L, 5L, sec / 2)

  private val sf = "/root/testdata/sf0.1"

  /** Anchors that make q01_agg a flagged regression (>=1.5x adjusted and
    * >=1.0 s wall) under results where q01 runs 10x its anchor. */
  private val anchors =
    """{"sf":"/root/testdata/sf0.1","total_q01_q44":1.0,"total":2.0,
      |"n_queries":2,"max_ratio":1.5,"queries_host_factor":1.0,
      |"queries":{"q01_agg":0.2,"q02_filter_project":0.2}}""".stripMargin

  test("flagged-regression run emits two strictly parseable JSON lines") {
    val results = Map("q01_agg" -> res(2.0), "q02_filter_project" -> res(0.2))
    val Seq(detail, summary) = Bench.renderLines(
      results, runsPerQuery = 2, failed = Nil, subsetRun = false,
      sfDir = sf, anchorsText = Some(anchors))
    val d = parse(detail)
    val s = parse(summary)
    // the regression must actually be flagged (host factor here is
    // 2.2/1.0 = 2.2x, q01 adjusted = (2.0/0.2)/2.2 = 4.5x >= 1.5, wall
    // 2.0 >= 1.0) — otherwise this test would not cover the r10 bug path
    val regs = s.get("host_adj_regressions")
    assert(regs != null && regs.isObject, s"expected object, got $regs")
    assert(regs.has("q01_agg"), s"q01_agg not flagged: $summary")
    assert(d.get("anchor_adj_ratio").isObject)
    assert(s.get("gate").get("status").asText() == "fail")
  }

  test("no-anchors run emits two strictly parseable JSON lines") {
    val results = Map("q01_agg" -> res(1.0))
    val Seq(detail, summary) = Bench.renderLines(
      results, 2, Nil, subsetRun = false, sfDir = sf, anchorsText = None)
    parse(detail)
    val s = parse(summary)
    assert(s.get("gate").get("status").asText() == "skipped")
    assert(s.get("host_adj_regressions").isObject)
  }

  test("subset run and failed queries emit strictly parseable JSON lines") {
    val results = Map("q01_agg" -> res(1.0), "q03_join_broadcast" -> (-1.0, 0L, 0L, 0.0))
    val Seq(detail, summary) = Bench.renderLines(
      results, 1, failed = List("q03_join_broadcast"), subsetRun = true,
      sfDir = sf, anchorsText = Some(anchors))
    parse(detail)
    val s = parse(summary)
    assert(s.get("gate").get("status").asText() == "skipped")
    assert(s.get("failed").get(0).asText() == "q03_join_broadcast")
    // the failed query keeps its name, with the -1 failure marker
    assert(s.get("queries").get("q03_join_broadcast").asDouble() == -1.0)
  }

  test("the last line printed parses strictly and names every query") {
    // every query of the real inventory, with distinct walls
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex
      .map { case (n, i) => n -> res(0.001 * (i + 1)) }.toMap
    val lines = Bench.renderLines(
      results, 2, Nil, subsetRun = false, sfDir = sf, anchorsText = None)
    val last = parse(lines.last)
    assert(last.get("metric").asText() == "total")
    val queries = last.get("queries")
    assert(queries.isObject, s"queries must be a name -> sec map: $queries")
    import scala.jdk.CollectionConverters._
    assert(queries.fieldNames.asScala.toSet === names.toSet)
    results.foreach { case (n, r) =>
      assert(queries.get(n).decimalValue.compareTo(Json.dec(r._1, 3)) == 0, n)
    }
  }

  test("both lines are byte-identical to the pre-Jackson renderer's") {
    // captured from the string-assembly renderLines this codec replaced,
    // except that `queries` is now the summary line's name -> sec map;
    // round records and scripts/ladder_report.py parse these exact lines
    val Seq(flagged1, flagged2) = Bench.renderLines(
      Map("q01_agg" -> res(2.0), "q02_filter_project" -> res(0.2)),
      runsPerQuery = 2, failed = Nil, subsetRun = false,
      sfDir = sf, anchorsText = Some(anchors))
    assert(flagged1 === s"""{"detail":"per_query","cpu_sec":{"q01_agg":1.000,"q02_filter_project":0.100},"shuffle_write_bytes":{"q01_agg":1024,"q02_filter_project":1024},"gc_ms":{"q01_agg":5,"q02_filter_project":5},"anchor_adj_ratio":{"q01_agg":4.545,"q02_filter_project":0.455}}""")
    assert(flagged2 === s"""{"metric":"total","value":2.200,"unit":"sec","n_queries":2,"runs_per_query":2,"total_q01_q44":2.200,"host_factor":2.200,"queries":{"q01_agg":2.000,"q02_filter_project":0.200},"slowest":{"q01_agg":2.000,"q02_filter_project":0.200},"host_adj_regressions":{"q01_agg":4.545},"failed":[],"gate":{"status":"fail","max_ratio":1.500,"anchor_q01_q44":1.000,"ratio_q01_q44":2.200,"anchor_total":2.000,"ratio_total":1.100},"sf":"$sf"}""")
    val Seq(subset1, subset2) = Bench.renderLines(
      Map("q01_agg" -> res(1.0), "q03_join_broadcast" -> (-1.0, 0L, 0L, 0.0)),
      runsPerQuery = 1, failed = List("q03_join_broadcast"), subsetRun = true,
      sfDir = sf, anchorsText = Some(anchors))
    assert(subset1 === s"""{"detail":"per_query","cpu_sec":{"q01_agg":0.500,"q03_join_broadcast":0.000},"shuffle_write_bytes":{"q01_agg":1024,"q03_join_broadcast":0},"gc_ms":{"q01_agg":5,"q03_join_broadcast":0},"anchor_adj_ratio":{}}""")
    assert(subset2 === s"""{"metric":"total","value":1.000,"unit":"sec","n_queries":2,"runs_per_query":1,"total_q01_q44":1.000,"queries":{"q01_agg":1.000,"q03_join_broadcast":-1.000},"slowest":{"q01_agg":1.000},"host_adj_regressions":{},"failed":["q03_join_broadcast"],"gate":{"status":"skipped","reason":"subset run or no anchors file"},"sf":"$sf"}""")
  }
}
