package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.faces.{Face, Family}

/** The face registry (`SparkEntry.queries`/`oracleSql`/`familyOf`, all
  * derived from the family objects' face lists) and the
  * `SPARK_GRAFT_ONLY` filter that `Bench` and `Verify` share.
  */
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

  test("queries, oracleSql and familyOf are keyed by the same 406 face names") {
    assert(SparkEntry.queries.size == 406)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.familyOf.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.familyOf.values.toSet == Set("core", "sql", "store", "streaming",
      "text", "dedup", "similarity", "multimodal"))
  }

  test("a fuzz face's oracle is its Spark text; a dual-text face's is its DuckDB text") {
    SqlFuzz.cases.foreach { case (n, sql) =>
      assert(SparkEntry.oracleSql(n) == sql, n)
      assert(SparkEntry.familyOf(n) == "sql", n)
    }
    SqlFuzz.dualCases.foreach { case (n, sparkSql, duckSql) =>
      assert(duckSql != sparkSql, n)
      assert(SparkEntry.oracleSql(n) == duckSql, n)
      assert(SparkEntry.familyOf(n) == "sql", n)
    }
  }

  test("a face name declared twice throws and names the duplicate") {
    val plan: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    def family(tag: String, names: String*): Family = new Family(tag) {
      val faces: Seq[Face] = names.map(Face(_, plan, "SELECT 1"))
    }
    val across = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(family("a", "q_x", "q_y"), family("b", "q_y")))
    }
    assert(across.getMessage.endsWith(": q_y"), across.getMessage)
    val within = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(family("a", "q_x", "q_x", "q_z")))
    }
    assert(within.getMessage.endsWith(": q_x"), within.getMessage)
    val ok = SparkEntry.byName(Seq(family("a", "q_x"), family("b", "q_y")))
    assert(ok.map { case (n, (fam, _)) => n -> fam } == Map("q_x" -> "a", "q_y" -> "b"))
  }
}
