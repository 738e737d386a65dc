package graft

import graft.tools.Query
import org.scalatest.funsuite.AnyFunSuite

/** The query diagnostics main (tools.Query): its command line is
  * checked before any session starts.
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
}
