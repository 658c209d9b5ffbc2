package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` filter that `Bench` and `Verify` share. */
class QuerySelectSpec extends AnyFunSuite {

  test("a mistyped SPARK_GRAFT_ONLY name throws instead of shrinking the run") {
    assert(SparkEntry.selectOnly(None).isEmpty)
    assert(SparkEntry.selectOnly(Some(" q1_pricing_summary, ,q_incremental_agg ")) ==
      Some(Set("q1_pricing_summary", "q_incremental_agg")))
    // the TPC-H face is q1_pricing_summary: a bare "q1" is a typo
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectOnly(Some("q1_pricing_summary,q1"))
    }
    assert(e.getMessage.endsWith(": q1"), e.getMessage)
  }
}
