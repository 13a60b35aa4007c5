package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The measuring mains' shared JSON writer: oracle_sql.json and the
  * bench lines are read back with a strict JSON parser.
  */
class SessionsSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash and every control char exactly") {
    assert(Sessions.jsonString("a\"b\\c\nd\re\tf\u0001g\u001fh é") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh é\"")
    // and a strict parser reads every char below 0x20 back unchanged
    val all = (0 until 0x20).map(_.toChar).mkString + "\"\\/"
    assert(new ObjectMapper().readValue(Sessions.jsonString(all), classOf[String]) == all)
  }

  test("json renders objects in field order, arrays and numbers") {
    assert(Sessions.json(ListMap("metric" -> "total", "value" -> 1.5, "n" -> 2,
      "errors" -> Seq("q\t"), "queries" -> ListMap("a" -> -1.0))) ==
      """{"metric":"total","value":1.5,"n":2,"errors":["q\t"],"queries":{"a":-1.0}}""")
    assert(Sessions.json(Seq.empty[String]) == "[]")
    // Verify's oracle_sql.json layout
    assert(Sessions.json(ListMap("q1" -> "SELECT 1", "q2" -> "x\ny"), ": ") ==
      "{\"q1\": \"SELECT 1\",\"q2\": \"x\\ny\"}")
  }

  test("json renders null as JSON null (the bench lines' git_sha without git)") {
    val line = Sessions.json(ListMap("cpus" -> 4, "git_sha" -> null))
    assert(line == """{"cpus":4,"git_sha":null}""")
    assert(new ObjectMapper().readTree(line).get("git_sha").isNull)
  }
}
