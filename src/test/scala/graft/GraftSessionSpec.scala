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

  test("SPARK_GRAFT_SHUFFLE_PARTITIONS: unset is the default, a positive integer is taken, anything else is refused by name") {
    assert(GraftSession.shufflePartitions(None) === GraftSession.DefaultShufflePartitions)
    assert(GraftSession.shufflePartitions(Some("128")) === 128)
    Seq("", "0", "-8", "many", "64 ", "2.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.shufflePartitions(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("RunOne and Verify refuse an unknown key or a bad reps count by name, before a session") {
    // Each throws from its argument check; a session would be started
    // only after it.
    val e1 = intercept[IllegalArgumentException](RunOne.main(Array("no_such_key", "/nowhere")))
    assert(e1.getMessage.contains("RunOne has unknown keys: no_such_key"), e1.getMessage)
    Seq("0", "-1", "two", "1.5").foreach { v =>
      val e = intercept[IllegalArgumentException](RunOne.main(Array("q1_pricing_agg", "/nowhere", v)))
      assert(e.getMessage.contains("reps") && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    val e2 = intercept[IllegalArgumentException](
      Verify.main(Array("/nowhere", "/nowhere", "q1_pricing_agg,no_such_key,zz")))
    assert(e2.getMessage.contains("unknown keys: no_such_key,zz"), e2.getMessage)
    SparkEntry.requireKnown(Seq("q1_pricing_agg", "s1_cosine_topk"), "known")
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

  test("no System.gc( in src/main/scala") {
    // releaseCaches frees storage by id; collection is left to the JVM.
    val offenders = MainSources.lines.filter(l => l.isCode && l.text.contains("System.gc("))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
