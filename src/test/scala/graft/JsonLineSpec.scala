package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The one JSON-lines codec: what each value type renders as, and how a
  * line reads back. */
class JsonLineSpec extends AnyFunSuite {

  test("render: keys in order, escaped strings, literals, null and nested Seq") {
    val line = JsonLine("mode" -> "gen", "path" -> "C:\\a \"b\"\n\u0001", "rows" -> 5L,
      "buckets" -> 6, "pass" -> true, "avg" -> null,
      "files" -> Seq("x", Seq(1L, -1L), Nil), "empty" -> Seq.empty[String])
    assert(line === """{"mode":"gen","path":"C:\\a \"b\"\n""" + "\\u0001" + """","rows":5,"buckets":6,""" +
      """"pass":true,"avg":null,"files":["x",[1,-1],[]],"empty":[]}""")
    assert(JsonLine() === "{}")
    // keys go through the same escaper as values
    assert(JsonLine("a\"b" -> 1L) === """{"a\"b":1}""")
  }

  test("render: numbers, Double at 6 decimals and Num as given, under any default locale") {
    val before = Locale.getDefault
    def numbers = JsonLine("d" -> 0.1234567, "neg" -> -2.5, "q" -> JsonLine.fixed(0.12345, 4),
      "z" -> JsonLine.fixed(3.0, 3), "lo" -> JsonLine.Num(12.5.toString), "n" -> 1234567L)
    val expected = """{"d":0.123457,"neg":-2.500000,"q":0.1235,"z":3.000,"lo":12.5,"n":1234567}"""
    try {
      assert(numbers === expected)
      Locale.setDefault(Locale.GERMANY)
      assert(String.format("%.1f", Double.box(0.5)) === "0,5") // the locale does bite f""
      assert(numbers === expected)
    } finally Locale.setDefault(before)
  }

  test("render: a value with no JSON form throws, never falls back to toString") {
    for (v <- Seq[Any](java.sql.Date.valueOf("2024-01-02"), 1.5f, Some(1L), Map("a" -> 1), 'c',
        BigDecimal(1), Array(1, 2), Seq(Some(1))))
      intercept[IllegalArgumentException](JsonLine("k" -> v))
  }

  test("read: every escape and lone surrogates come back unchanged") {
    val hostile = Seq("plain", "", "\"", "\\", "\n\r\t\u0000\u001f\u007f", "é日本",
      "\ud83d\ude00", "\ud800", "x\udfffy", "\\u0041", "],\":\"{}")
    for (s <- hostile) {
      val f = JsonLine.read(JsonLine("s" -> s, "xs" -> Seq(s, s)))
      assert(f.string("s") === s && f.strings("xs") === Seq(s, s), s)
    }
    // the escaper's \uXXXX form of a lone surrogate decodes unchanged
    assert(JsonLine.esc("\ud800") === "\\ud800")
    assert(JsonLine.read("{\"s\":\"\\ud800\"}").string("s") === "\ud800")
  }

  test("read: missing keys read empty, unknown and nested keys are ignored") {
    val f = JsonLine.read("""{"n":7,"other":{"a":[1,{"b":null}]},"more":[[1],[2]]}""")
    assert(f.long("n") === 7L)
    assert(f.string("s") === "" && f.long("m") === 0L && !f.boolean("b") && f.strings("xs") === Nil)
  }

  test("read: a value of the wrong JSON type throws") {
    val f = JsonLine.read(
      """{"s":3,"n":"3","d":1.5,"big":123456789012345678901,"b":"true","xs":[1],"o":{},"z":null}""")
    intercept[IllegalArgumentException](f.string("s"))
    intercept[IllegalArgumentException](f.long("n"))
    intercept[IllegalArgumentException](f.long("d"))
    intercept[IllegalArgumentException](f.long("big"))
    intercept[IllegalArgumentException](f.boolean("b"))
    intercept[IllegalArgumentException](f.strings("xs"))
    intercept[IllegalArgumentException](f.strings("o"))
    intercept[IllegalArgumentException](f.string("z"))
  }

  test("read: truncated, malformed, trailing junk and non-object lines throw") {
    for (bad <- Seq("""{"a":1""", """{"a":tru}""", """{"a":1} junk""", """{"a":1}{"b":2}""",
        """{"a":1},""", "not json", "[1,2]", "\"s\"", "", """{"a":"unterminated}"""))
      intercept[IllegalArgumentException](JsonLine.read(bad))
    // surrounding whitespace, a CR of a CRLF line included, is not junk
    assert(JsonLine.read(" {\"a\":1} \r").long("a") === 1L)
  }
}
