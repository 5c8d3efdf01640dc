package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset falls back to the default core count") {
    assert(GraftSession.cpus(None) === GraftSession.DefaultCpus)
  }

  test("SPARK_GRAFT_CPUS: a positive integer is taken as is") {
    assert(GraftSession.cpus(Some("4")) === 4)
    assert(GraftSession.cpus(Some("32")) === 32)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer is refused by name") {
    Seq("", "0", "-2", "four", "4 ", "*", "2.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
