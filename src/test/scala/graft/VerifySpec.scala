package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Verify`'s optional name filter. A name that matches no registered
  * query fails before a session is built or anything is written, so a
  * typo cannot pass as a run that verified nothing. No Spark session is
  * started or stopped here. */
class VerifySpec extends AnyFunSuite {

  test("Verify rejects unregistered query names and lists them") {
    val out = Files.createTempDirectory("verify-spec").resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("no-such-fixture", out.toString,
        "fill_avg", "typo_name", "fill_avgg"))
    }
    assert(e.getMessage.contains("fill_avgg, typo_name"), e.getMessage)
    assert(!e.getMessage.contains("fill_avg,"), e.getMessage)
    assert(!Files.exists(out), "Verify wrote output for a rejected filter")
  }
}
