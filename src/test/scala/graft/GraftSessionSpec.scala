package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session-factory knobs that must fail fast instead of leaking a bad
  * value into the master string or an artifact name.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses positive integers and rejects '*', 0 and non-numbers") {
    assert(GraftSession.parseCpus("4") === 4)
    assert(GraftSession.parseCpus(GraftSession.defaultCpus.toString) === GraftSession.defaultCpus)
    for (bad <- Seq("*", "0", "abc", "-2", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
