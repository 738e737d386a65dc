package graft

import graft.text.PyText
import org.scalatest.funsuite.AnyFunSuite

/** Python string-semantics parity (SURVEY.md §7.5 risk 1). */
class PyTextSpec extends AnyFunSuite {

  test("pySplit matches Python str.split() on whitespace runs") {
    assert(PyText.pySplit("  hello   world \n") == Vector("hello", "world"))
    assert(PyText.pySplit("") == Vector())
    assert(PyText.pySplit("   ") == Vector())
    assert(PyText.pySplit("one") == Vector("one"))
    assert(PyText.pySplit("a\tb\nc\rd\fe") == Vector("a", "b", "c", "d", "e"))
  }

  test("isPySpace equals Python's str.isspace() on every code point") {
    // Python 3.11: [c for c in range(0x110000) if chr(c).isspace()]
    val python = (0x09 to 0x0D) ++ (0x1C to 0x20) ++ Seq(0x85, 0xA0, 0x1680) ++
      (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
    assert(python.length == 29)
    assert((0 to 0x10FFFF).filter(PyText.isPySpace) == python)
  }

  test("NBSP (U+00A0) is Python whitespace (unlike Java's \\s)") {
    assert(PyText.pySplit("a b") == Vector("a", "b"))
    assert(PyText.pyStrip(" x ") == "x")
    assert(PyText.wordCount("a b") == 2)
  }

  test("unicode separators split (U+2003 em space, U+2028, U+0085)") {
    assert(PyText.pySplit("a b cd") == Vector("a", "b", "c", "d"))
  }

  test("zero-width space U+200B is NOT Python whitespace") {
    assert(PyText.pySplit("a​b") == Vector("a​b"))
    assert(PyText.wordCount("a​b") == 1)
  }

  test("file/group/record/unit separators \\x1c-\\x1f split like Python") {
    assert(PyText.pySplit("abcde") ==
      Vector("a", "b", "c", "d", "e"))
  }

  test("pyStrip strips both ends only") {
    assert(PyText.pyStrip(" \t a b \n ") == "a b")
    assert(PyText.pyStrip("") == "")
    assert(PyText.pyStrip(" \n\t ") == "")
  }

  test("isBlank mirrors `not text.strip()`") {
    assert(PyText.isBlank(""))
    assert(PyText.isBlank(" \n \t"))
    assert(!PyText.isBlank(" . "))
  }

  test("property: wordCount == pySplit length; tokens have no whitespace") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab XY\t\n  .,ß€​\r\f"
    (1 to 500).foreach { _ =>
      val s = Vector.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val toks = PyText.pySplit(s)
      assert(PyText.wordCount(s) == toks.length, s"for ${s.map(_.toInt)}")
      toks.foreach(t => assert(t.nonEmpty && !t.exists(c => PyText.isPySpace(c.toInt))))
      // strip is idempotent and blank-consistent
      assert(PyText.pyStrip(PyText.pyStrip(s)) == PyText.pyStrip(s))
      assert(PyText.isBlank(s) == PyText.pyStrip(s).isEmpty)
    }
  }

  test("F14 unwrapTextFence: fenced / unterminated / absent / multi-fence") {
    // Well-formed fence: inner slice returned UN-stripped.
    assert(PyText.unwrapTextFence("prefix ```text\n  hello world \n``` suffix")
      == "  hello world ")
    // The fence marker must be exactly "```text\n" — "```text" without the
    // newline falls back to strip (reference find('```text\n')).
    assert(PyText.unwrapTextFence("  ```text no-newline ```  ") == "```text no-newline ```")
    // Unterminated fence → strip fallback of the WHOLE text.
    assert(PyText.unwrapTextFence(" ```text\nno closing fence ") == "```text\nno closing fence")
    // No fence at all → plain Python strip.
    assert(PyText.unwrapTextFence("  plain response \t") == "plain response")
    // First fence wins; closing fence is the first "\n```" after it.
    assert(PyText.unwrapTextFence("```text\nA\n```\n```text\nB\n```") == "A")
    // Empty fence body.
    assert(PyText.unwrapTextFence("```text\n\n```") == "")
  }

  test("normalizeSpaces/normalizedLength == pySplit-join (seeded fuzz)") {
    val rng = new scala.util.Random(0xA11CE)
    val pool = "ab c\td\ne\u00a0f\u2029g\u0085\u1680 xyz  "
    (1 to 2000).foreach { _ =>
      val s = Seq.fill(rng.nextInt(30))(pool(rng.nextInt(pool.length))).mkString
      val ref = PyText.pySplit(s).mkString(" ")
      assert(PyText.normalizeSpaces(s) == ref, s"input=${s.map(_.toInt)}")
      assert(PyText.normalizedLength(s) == ref.length)
    }
    // Surrogate pairs (astral code points) round-trip.
    val astral = "a \uD83D\uDE00  b \uD83D\uDE00"
    assert(PyText.normalizeSpaces(astral) == PyText.pySplit(astral).mkString(" "))
    assert(PyText.normalizedLength(astral) == PyText.normalizeSpaces(astral).length)
  }

  test("property: normalizeSpaces == pySplit-join and normalizedLength == its length") {
    import org.scalacheck.{Gen, Prop, Test}
    // Every code point Python's str.isspace() accepts.
    val pySpaces = (0x09 to 0x0D) ++ (0x1C to 0x20) ++ Seq(0x85, 0xA0, 0x1680) ++
      (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
    val nonSpaces = Seq(0x200B, 0xFEFF, 'a'.toInt, 'Z'.toInt, 0xDF, 0x1F600)
    assert(pySpaces.forall(PyText.isPySpace) && !nonSpaces.exists(PyText.isPySpace))
    // Lone high and low surrogates beside the pieces above.
    val pieces = (pySpaces ++ nonSpaces).map(cp => new String(Character.toChars(cp))) ++
      Seq("\uD83D", "\uDE00")
    val prop = Prop.forAllNoShrink(Gen.listOf(Gen.oneOf(pieces)).map(_.mkString)) { s =>
      val ref = PyText.pySplit(s).mkString(" ")
      PyText.normalizeSpaces(s) == ref && PyText.normalizedLength(s) == ref.length
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20000).withInitialSeed(0x5EEDL), prop)
    assert(res.passed, res.status)
  }
}
