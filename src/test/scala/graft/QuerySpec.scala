package graft

import graft.extract.Processor
import graft.model.Page
import graft.synth.Fixtures
import graft.tools.Query
import org.scalatest.funsuite.AnyFunSuite

/** The diagnostics main (tools.Query): its command line is checked
  * before any session starts, and its `kernel` mode starts none.
  */
class QuerySpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](
      Query.run(args.toArray, fail("a session was started for a bad command line"))
    ).getMessage

  test("an unknown query name is rejected before any session starts, listing near matches") {
    for (mode <- Seq("time", "plan", "explain")) {
      val m = rejected(mode, "--sf", "/nonexistent", "q24_minhash_lhs")
      assert(m.contains("q24_minhash_lhs") && m.contains("q24_minhash_lsh"), m)
    }
    // One known name does not let an unknown one through.
    val m = rejected("time", "q01_pricing_summary", "x40_extract_balance")
    assert(m.contains("'x40_extract_balance'") && m.contains("x40_extract_balanced"), m)
    assert(!m.contains("'q01_pricing_summary'"), m)
  }

  test("a bad mode, a missing --sf value or a stray flag is rejected before any session starts") {
    for (args <- Seq(Seq(), Seq("tiem", "q01_pricing_summary"), Seq("time", "--sf"),
        Seq("plan", "--sf", "--x"), Seq("explain", "q01_pricing_summary", "--sf", "d"))) {
      val m = rejected(args: _*)
      assert(m.contains("usage: Query time|plan|explain"), s"$args: $m")
    }
  }

  test("every headline query is a SparkEntry query") {
    assert(Query.lookup(Query.headline) == Query.headline)
    assert(Query.headline.distinct.size == 56)
  }

  /** A `kernel` report's fields by name and its text. */
  private def parsed(report: String): (Map[String, String], String) = {
    val (head, body) = report.splitAt(report.indexOf("---- text ----\n"))
    assert(body.endsWith("\n---- end ----\n"), report)
    val fields = head.linesIterator.flatMap(_.split("""\s{2,}(?=\w+: )""")).map { f =>
      val (k, v) = f.splitAt(f.indexOf(':'))
      k -> v.drop(1).trim
    }.toMap
    (fields, body.stripPrefix("---- text ----\n").stripSuffix("\n---- end ----\n"))
  }

  test("kernel prints the kernel's record for every family and quality") {
    for ((family, payload) <- Fixtures.families; q <- Seq("fast", "balanced", "accurate")) {
      val r = Processor.default.extract(
        Page(s"https://fixtures.example/$family", new java.sql.Timestamp(0L), payload, "", "en"), q)
      val (fields, text) = parsed(Query.kernel(Seq(family, q)))
      assert(fields == Map(
        "url" -> r.url, "success" -> r.success.toString, "pdf_type" -> r.pdf_type,
        "total_pages" -> r.total_pages.toString, "quality" -> q,
        "extraction_method" -> r.extraction_method, "confidence" -> r.confidence.toString,
        "word_count" -> r.word_count.toString, "text_pages" -> r.text_pages.mkString(","),
        "image_pages" -> r.image_pages.mkString(","), "hybrid_pages" -> r.hybrid_pages.mkString(","),
        "page_errors" -> r.page_errors.toString, "error" -> r.error.getOrElse("-")), s"$family $q")
      assert(text == r.text, s"$family $q")
    }
  }

  test("kernel reports an invalid quality as balanced, the quality ExtractJob writes") {
    val report = Query.kernel(Seq("text_simple", "draft"))
    assert(parsed(report)._1("quality") == "balanced")
    assert(report == Query.kernel(Seq("text_simple", "balanced")))
  }

  test("kernel rejects a missing or unknown family listing the families, with no session") {
    for (args <- Seq(Seq("kernel"), Seq("kernel", "text_simpel"), Seq("kernel", "a", "b", "c"))) {
      val m = rejected(args: _*)
      assert(Fixtures.families.forall { case (f, _) => m.contains(f) }, s"$args: $m")
    }
    assert(rejected("kernel", "text_simpel").contains("'text_simpel'"))
  }
}
