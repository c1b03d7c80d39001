package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is read back by a JSON parser: every string the
  * engine writes into it must survive the round trip unchanged. */
class OracleJsonSpec extends AnyFunSuite {
  test("jsonString round-trips quotes, backslashes and every control character") {
    val raw = "select '\"a\\b' as x\n\tfrom t\r -- " + (0 until 0x20).map(_.toChar).mkString
    assert(new ObjectMapper().readValue(Verify.jsonString(raw), classOf[String]) == raw)
  }
}
