package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s argument contract: a wrong argument count fails with
  * the usage line, before any session starts. */
class VerifySpec extends AnyFunSuite {

  test("one argument fails with the usage line, not a MatchError") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("/nonexistent-sf")))
    assert(e.getMessage.contains("usage: graft.Verify <sfDir> <outDir>"))
  }
}
