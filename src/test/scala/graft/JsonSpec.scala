package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("str escapes the quote, the backslash and every control char") {
    assert(Json.str("a\"b\\c\nd\re\tf\u0001g") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Json.str("data/sf1 é") == "\"data/sf1 é\"")
  }
}
