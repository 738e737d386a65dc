package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump main (graft.Verify): a wrong argument count fails
  * with its usage before any session starts.
  */
class VerifySpec extends AnyFunSuite {

  test("Verify rejects a wrong argument count with its usage") {
    for (args <- Seq(Array.empty[String], Array("sf", "out", "extra"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage == "usage: Verify SF_DIR OUT_DIR", args.mkString(" "))
    }
  }
}
