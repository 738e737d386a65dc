package graft

import graft.json.{JsonRepair, PyJson}
import graft.json.PyJson._
import org.scalatest.funsuite.AnyFunSuite

/** JSON-repair cascade ported from reference tests/unit/test_json_repair.py
  * + conftest.py:257-280 fixtures.
  */
class JsonRepairSpec extends AnyFunSuite {

  private def parseOk(s: String): JVal = PyJson.parse(s).toOption.get

  test("valid JSON passes through unrepaired") {
    val r = JsonRepair.safeJsonParse("""{"key": "value", "n": 1.5, "b": true}""")
    assert(r == Right((JObj(Map("key" -> JStr("value"), "n" -> JNum(1.5), "b" -> JBool(true))), false)))
  }

  test("valid nested JSON and arrays pass through") {
    val r = JsonRepair.safeJsonParse("""{"a": {"b": [1, 2, {"c": null}]}}""")
    assert(r.toOption.get._2 == false)
  }

  test("parser mirrors Python error message + position") {
    val broken = "{\n  \"a\": 1\n  \"b\": 2\n}"
    val Left(e) = PyJson.parse(broken): @unchecked
    assert(e.getMessage.startsWith("Expecting ',' delimiter"))
    assert(e.lineno == 3)
    // Python: json.loads → line 3 column 3 (char 13)
    assert(e.colno == 3)
    assert(e.pos == 13)
  }

  test("quote escapes what JSON requires and parse round-trips it") {
    val cases = Seq("plain", "a\"b", "back\\slash", "tab\there", "cr\rlf\n",
      "ctl\u0001x", "caf\u00e9 \u6f22\u5b57 \u00fc", "", "\"\\\t\r\u0001\u001f")
    cases.foreach { s =>
      val q = PyJson.quote(s)
      assert(q.forall(_ >= ' '), q)
      assert(PyJson.parse(q) == Right(JStr(s)), q)
    }
    assert(PyJson.quote("a\"b\\c\td\u0001") == "\"a\\\"b\\\\c\\td\\u0001\"")
  }

  test("missing comma after brace repaired (conftest sample_broken_json)") {
    val broken =
      """{
        |    "supplier": {
        |        "name": "Test Corp"
        |    }
        |    "amounts": {
        |        "total": 100.0
        |    }
        |}""".stripMargin
    val Right((v, repaired)) = JsonRepair.safeJsonParse(broken): @unchecked
    assert(repaired)
    val JObj(m) = v: @unchecked
    assert(m.contains("supplier") && m.contains("amounts"))
  }

  test("missing comma after bracket repaired") {
    val broken = "{\n  \"xs\": [1, 2]\n  \"b\": 2\n}"
    val Right((_, repaired)) = JsonRepair.safeJsonParse(broken): @unchecked
    assert(repaired)
  }

  test("missing comma after string value repaired") {
    val broken = "{\n  \"a\": \"val\"\n  \"b\": 2\n}"
    assert(JsonRepair.safeJsonParse(broken).toOption.get._2)
  }

  test("missing comma after number repaired") {
    val broken = "{\n  \"a\": 123\n  \"b\": 2\n}"
    assert(JsonRepair.safeJsonParse(broken).toOption.get._2)
  }

  test("missing comma after boolean repaired") {
    val broken = "{\n  \"a\": true\n  \"b\": false\n}"
    assert(JsonRepair.safeJsonParse(broken).toOption.get._2)
  }

  test("trailing commas removed (brace, bracket, multiple, whitespace)") {
    assert(JsonRepair.removeTrailingCommas("""{"a": 1,}""") == """{"a": 1}""")
    assert(JsonRepair.removeTrailingCommas("""[1, 2,]""") == """[1, 2]""")
    assert(JsonRepair.removeTrailingCommas("{\"a\": [1,\n],\n}") == "{\"a\": [1]}")
    assert(JsonRepair.safeJsonParse("""{"a": 1, "b": [2, 3,],}""").toOption.get._2)
  }

  test("unfixable JSON returns the ORIGINAL error (json_repair.py:240)") {
    val broken = """{"a": ¤¤¤}"""
    val Left(e) = JsonRepair.safeJsonParse(broken): @unchecked
    assert(e.getMessage.startsWith("Expecting value"))
  }

  test("repair disabled raises immediately") {
    assert(JsonRepair.safeJsonParse("""{"a": 1,}""", attemptRepair = false).isLeft)
  }

  test("invoice structure validation (json_repair.py:243-270)") {
    val valid = parseOk(
      """{"supplier": {"name": "Test GmbH"},
        | "amounts": {"net": 100.0, "tax": 19.0, "total": 119.0},
        | "document_flags": {"is_invoice": true},
        | "line_items": [{"description": "Item 1", "quantity": 1}]}""".stripMargin)
    assert(JsonRepair.validateInvoiceJsonStructure(valid))
    // Missing each required key fails.
    for (missing <- Seq("supplier", "amounts", "document_flags", "line_items")) {
      val m = valid.asInstanceOf[JObj].v - missing
      assert(!JsonRepair.validateInvoiceJsonStructure(JObj(m)))
    }
    // line_items must be a list.
    val badItems = valid.asInstanceOf[JObj].v + ("line_items" -> JStr("no"))
    assert(!JsonRepair.validateInvoiceJsonStructure(JObj(badItems)))
    // Empty line_items passes.
    val emptyItems = valid.asInstanceOf[JObj].v + ("line_items" -> JArr(Vector()))
    assert(JsonRepair.validateInvoiceJsonStructure(JObj(emptyItems)))
  }

  test("unicode + german umlauts preserved through repair") {
    val broken = "{\n  \"name\": \"Müller\"\n  \"straße\": \"Hauptstraße\"\n}"
    val Right((JObj(m), repaired)) = JsonRepair.safeJsonParse(broken): @unchecked
    assert(repaired)
    assert(m("name") == JStr("Müller"))
    assert(m.contains("straße"))
  }

  test("deeply nested and large payloads parse") {
    val deep = (1 to 50).map(i => s"""{"k$i": """).mkString + "1" + "}" * 50
    assert(PyJson.isValid(deep))
    val large = "[" + (1 to 1000).mkString(",") + "]"
    assert(PyJson.isValid(large))
  }

  test("NaN/Infinity accepted like Python json.loads") {
    assert(PyJson.isValid("""{"a": NaN, "b": Infinity, "c": -Infinity}"""))
  }

  test("control characters in strings rejected like Python") {
    assert(!PyJson.isValid("{\"a\": \"x\ny\"}"))
  }

  test("empty object / array / null / numeric types") {
    assert(parseOk("{}") == JObj(Map.empty))
    assert(parseOk("[]") == JArr(Vector()))
    assert(parseOk("""{"a": null}""") == JObj(Map("a" -> JNull)))
    assert(parseOk("""[0, -1, 2.5, 1e3, 1E-2]""") ==
      JArr(Vector(JNum(0), JNum(-1), JNum(2.5), JNum(1000), JNum(0.01))))
  }

  test("repairStatus SQL-surface helper") {
    assert(JsonRepair.repairStatus("""{"a":1}""") == ((true, false)))
    assert(JsonRepair.repairStatus("""{"a":1,}""") == ((true, true)))
    assert(JsonRepair.repairStatus("""not json""") == ((false, false)))
  }

  test("adversarial nesting is depth-capped as a catchable JsonError") {
    // CPython's json.loads dies with RecursionError (~1000 nesting, a
    // non-JSONDecodeError the reference's repair cascade doesn't catch);
    // this twin converts the same condition to a JsonError so the kernel
    // error-record path absorbs it — and a JVM StackOverflowError (not
    // an Exception) can never escape the parser.
    val deep = ("[" * 100000) + ("]" * 100000)
    val Left(e) = PyJson.parse(deep): @unchecked
    assert(e.getMessage.startsWith("Nesting too deep"))
    val deepObj = ("""{"k":""" * 100000) + "1" + ("}" * 100000)
    assert(PyJson.parse(deepObj).isLeft)
    // Within the cap: 999-deep parses fine (Python parity: loads copes
    // just under the recursion limit).
    val ok = ("[" * 999) + ("]" * 999)
    assert(PyJson.parse(ok).isRight)
    // The repair cascade surfaces the depth error, doesn't loop or die.
    assert(JsonRepair.repairStatus(deep) == ((false, false)))
  }
}
