package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json is what tools/compare.py gates against: a
  * filtered run must carry exactly the filtered keys (compare.py fails
  * every oracled key without a dump), an unfiltered run every oracled
  * key, and any SQL text must survive as valid JSON.
  */
class VerifySpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(json: String): com.fasterxml.jackson.databind.JsonNode = {
    val n = mapper.readTree(json)
    assert(n != null && n.isObject, s"not a JSON object: $json")
    n
  }

  test("a key filter yields exactly the filtered keys") {
    val some = Set("sql_tpch_q1", "q29_replay", "pipe_avro_quarantine")
    assert(some.subsetOf(SparkEntry.oracleSql.keySet))
    assert(parse(Verify.oracleJson(Some(some))).fieldNames().asScala.toSet
      == some)
  }

  test("no filter yields every oracled key with its SQL") {
    val n = parse(Verify.oracleJson(None))
    assert(n.fieldNames().asScala.toSet == SparkEntry.oracleSql.keySet)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(n.get(k).asText == v, k)
    }
  }

  test("quotes, backslashes and control characters escape to valid JSON") {
    val sql = "SELECT \"a\", 'b\\c'\tFROM t\r\nWHERE x = '\u0001'"
    val n = parse(s"{${Verify.jsonString("k")}: ${Verify.jsonString(sql)}}")
    assert(n.get("k").asText == sql)
  }
}
