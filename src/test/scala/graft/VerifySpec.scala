package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Verify's inputs and output outside Spark: the SPARK_GRAFT_ONLY filter it
  * shares with Bench, and the oracle_sql.json scripts/check_oracle.py loads. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json round-trips control characters, quotes and backslashes") {
    val sql = Map(
      "q01_agg" -> "SELECT 1",
      "q02_filter_project" -> "SELECT\t'a\"b'\r\nFROM t WHERE c = '\\x' OR d = '\u0001'")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(c => c < ' '), s"raw control character in $json")
    val back = Json.mapper.readTree(json).properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    assert(back === sql)
  }

  test("SPARK_GRAFT_ONLY names are trimmed and must all be queries") {
    assert(SparkEntry.onlyQueries(" q01_agg,, q02_filter_project ") ===
      Set("q01_agg", "q02_filter_project"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.onlyQueries("q01_agg,q01_typo"))
    assert(e.getMessage.contains("q01_typo"))
  }
}
