package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is read by the driver's json.load and by the
  * repo's Python checkers; it must stay valid JSON whatever the SQL holds. */
class OracleSqlJsonSpec extends AnyFunSuite {

  private def decode(js: String): Map[String, String] = parse(js) match {
    case JObject(fs) => fs.map { case (k, JString(v)) => k -> v
      case (k, v) => fail(s"$k holds $v, not a string") }.toMap
    case other => fail(s"not an object: $other")
  }

  test("SQL with tab, CR, quote, backslash and control chars round-trips") {
    val sql = Map(
      "q_tab" -> "select\t1 as \"x\"\r\nfrom t",
      "q_ctl" -> "select '\\' || '\u0001' as c",
      "q_\"odd\"" -> "")
    val js = Verify.oracleSqlJson(sql)
    assert(!js.exists(_ < ' '), "raw control characters in the output")
    assert(decode(js) === sql)
  }

  test("the registry's own SQL round-trips") {
    val sql = SparkEntry.oracleSql
    assert(sql.nonEmpty)
    assert(decode(Verify.oracleSqlJson(sql)) === sql)
  }
}
