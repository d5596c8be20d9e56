package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the driver and dev entry points that need no Spark job:
  * the JSON string escaper behind Bench's record and Verify's
  * oracle_sql.json, and DevTime's argument handling. */
class ToolsSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("Bench.jstr output parses back unchanged through Jackson") {
    val samples = Seq("", "plain", "a \"quoted\" word", "back\\slash \\n",
      "tab\there", "cr\rlf\n", "ctl\u0001x", "\u0000\u001f\u007f", "é ✓ 😀",
      "SELECT '\t' AS \"c\\\"\"\r\n")
    samples.foreach { s =>
      assert(mapper.readValue(Bench.jstr(s), classOf[String]) == s, s"round trip of ${s.toSeq.map(_.toInt)}")
    }
  }

  test("every oracle SQL survives Verify's oracle_sql.json encoding") {
    val back = mapper.readTree(Verify.oracleJson(SparkEntry.oracleSql))
    assert(back.size == SparkEntry.oracleSql.size)
    SparkEntry.oracleSql.foreach { case (k, v) => assert(back.get(k).asText == v, k) }
  }

  test("DevTime rejects unknown query names before any Spark session starts") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](
      DevTime.main(Array("/nonexistent", "q_join_agg,q_no_such_query,q_typo")))
    assert(e.getMessage.contains("q_no_such_query, q_typo"))
    assert(!e.getMessage.contains("q_join_agg"))
    assert(SparkSession.getDefaultSession == before, "DevTime started a session before failing")
  }

  test("DevTime 'all' expands to Queries.all in sorted order; a list keeps its order") {
    val all = DevTime.parse(Array("/d", "all"))
    assert(all.names == Queries.all.keys.toSeq.sorted)
    assert(all.names.size == Queries.all.size)
    assert(all == DevTime.Args("/d", all.names, 3))
    assert(DevTime.parse(Array("/d", "q_join_agg,q_agg_pricing", "2")) ==
      DevTime.Args("/d", Seq("q_join_agg", "q_agg_pricing"), 2))
  }

  test("DevTime rejects a bad pass count or argument count") {
    Seq(Array("/d", "all", "0"), Array("/d", "all", "two"), Array("/d"),
        Array("/d", "all", "2", "extra")).foreach { args =>
      intercept[IllegalArgumentException](DevTime.parse(args))
    }
  }
}
