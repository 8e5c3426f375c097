package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The driver surface (`SparkEntry.queries` / `oracleSql`) derived from
  * the per-family query registries; no query runs here. */
class QueryRegistrySpec extends AnyFunSuite {

  test("103 distinct query names and 89 oracles, each naming a query") {
    assert(SparkEntry.queries.size == 103)
    assert(SparkEntry.oracleSql.size == 89)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keys.forall(_.matches("q_[a-z0-9_]+")))
  }

  test("a registry refuses a query name declared twice") {
    val a = Query("q_a", (s, _) => s.emptyDataFrame)
    val b = Query("q_b", a.build, Some("SELECT 1"))
    assert(Query.registry(Seq(a, b)).keySet == Set("q_a", "q_b"))
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(a, b, a.copy(oracle = Some("SELECT 2")))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("oracle_sql.json is byte-identical to the two-map suite's rendering") {
    // SHA-256 of the oracle_sql.json that graft.Verify wrote when the
    // names, builders and oracles were still two hand-kept maps: same
    // 89 names, same SQL bytes, same key order
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(Verify.oracleJson(SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    assert(sha == "e110771e914c39933705a4db14c841689c6818cf9ff73a07372513de580b396e")
  }

  test("Bench.json escapes strings, so a hostile sf path still parses") {
    val hostile = "a\"b\\c\nd"
    val line = Bench.json(Seq("sf" -> hostile, "value" -> 1.5))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("sf").asText() == hostile)
    assert(node.get("value").asDouble() == 1.5)
  }
}
