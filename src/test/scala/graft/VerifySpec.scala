package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The oracle JSON Verify writes parses back to exactly the SQL it
  * came from (the oracle checker reads it with a strict JSON parser). */
class VerifySpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  test("jsonString round-trips quotes, backslashes and control chars") {
    for (s <- Seq("", "plain", "say \"hi\"", "a\\b", "l1\nl2", "cr\r",
        "tab\there", "bell\u0001", "mix \"\\\n\r\t\u0001\u001f end"))
      assert(mapper.readValue(Verify.jsonString(s), classOf[String]) == s)
  }

  test("oracleJson round-trips the selected oracle SQL") {
    val names = SparkEntry.queries.keys.toSeq
    val parsed = mapper.readValue(Verify.oracleJson(names),
      classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap == SparkEntry.oracleSql)
    val one = SparkEntry.oracleSql.keys.min
    assert(mapper.readValue(Verify.oracleJson(Seq(one)),
      classOf[java.util.Map[String, String]]).asScala.keySet == Set(one))
  }
}
