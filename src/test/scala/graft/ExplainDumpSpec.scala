package graft

import graft.tools.Query
import org.scalatest.funsuite.AnyFunSuite

class ExplainDumpSpec extends AnyFunSuite {

  test("might_contain bloom literals shrink to a prefix plus byte length") {
    val hex = "00000002" + "AB" * 1000
    val plan = s"Condition : (isnotnull(x#1L) AND might_contain(0x$hex, xxhash64(x#1L, 42)))"
    assert(Query.shortenBloomLiterals(plan) ==
      s"Condition : (isnotnull(x#1L) AND might_contain(0x${hex.take(32)}…[${hex.length / 2} bytes], xxhash64(x#1L, 42)))")
    val short = "might_contain(0x00AB, y#2L)"
    assert(Query.shortenBloomLiterals(short) == short)
  }
}
