package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.gates]]: the one name lookup Bench, Verify, JobCount and
  * ExplainAll share. */
class SparkEntrySpec extends AnyFunSuite {

  test("gates returns the named gates in the order given") {
    val names = Seq("stream_cms_replay", "q01_pricing_summary", "stream_cms_replay")
    assert(SparkEntry.gates(names).map(_.name) === names)
  }

  test("gates names every unknown gate and fails") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.gates(Seq("q01_pricing_summary", "q0l", "no_such_gate", "q0l", ""))
    }
    assert(e.getMessage === "unknown gate name(s): 'q0l', 'no_such_gate', ''")
  }
}
