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

  test("memo: builds once per application; a new application evicts the old one's entries") {
    var builds = 0
    def build(): Int = { builds += 1; builds }
    assert(GraftSession.memo("memo-spec-old", ("k", 1))(build()) === 1)
    assert(GraftSession.memo("memo-spec-old", ("k", 1))(build()) === 1)
    assert(GraftSession.memo("memo-spec-old", ("k", 2))(build()) === 2)
    GraftSession.retainedIds.add(("memo-spec-old", 7))
    GraftSession.retainedIds.add(("memo-spec-old", 8))
    assert(GraftSession.memo("memo-spec-new", ("k", 1))(build()) === 3)
    assert(!GraftSession.retainedIds.contains(("memo-spec-old", 7)))
    assert(!GraftSession.retainedIds.contains(("memo-spec-old", 8)))
    // The new application's own retained ids and entries stay.
    GraftSession.retainedIds.add(("memo-spec-new", 9))
    assert(GraftSession.memo("memo-spec-new", ("k", 1))(build()) === 3)
    assert(GraftSession.retainedIds.contains(("memo-spec-new", 9)))
    // The old application's entry is gone: asking for it again rebuilds.
    assert(GraftSession.memo("memo-spec-old", ("k", 1))(build()) === 4)
    assert(!GraftSession.retainedIds.contains(("memo-spec-new", 9)))
  }
}
