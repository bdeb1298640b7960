package graft.util

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("quote, backslash and control characters escape to valid JSON") {
    assert(Json.str("a\"b\\c\nd\re\tf\u0001g") === "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Json.str("plain é") === "\"plain é\"")
  }

  test("every escaped string parses back to itself") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("", "\"", "\\", "\n\r\t", "\u0001\u001f", "x140: a\tb\nc").foreach { s =>
      assert(m.readValue(Json.str(s), classOf[String]) === s)
    }
  }
}
