package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Builds its OWN session (spark.sql.extensions needs to be set at
  * session construction), separate from the shared SparkSpec one.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions-configured session exposes all graft SQL functions") {
    // The shared SparkSpec session may already be active in this JVM and
    // getOrCreate would silently return it (ignoring the extensions conf):
    // clear active/default, build a FRESH SparkSession (the SparkContext is
    // reused), and restore afterwards — never stop(), that would kill the
    // context under the other suites.
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions (programmatic form) rather than the
    // spark.sql.extensions conf: the conf is STATIC — read when the
    // SparkContext's first session is built — so in a shared-JVM test run
    // where another suite won the race it would be silently ignored.
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val sim = spark.sql("SELECT simhash(array('a', 'b')) AS s")
        .collect().head.getString(0)
      assert(sim.length == 64 && sim.forall(c => c == '0' || c == '1'))
      // the grouped form: one fingerprint over a group's token rows
      val grouped = spark.sql(
        "SELECT simhash(collect_list(t)) AS s FROM VALUES ('a'), ('b') AS v(t)")
        .collect().head.getString(0)
      assert(grouped == sim)
      // null elements are skipped; no token at all → no fingerprint
      assert(spark.sql("SELECT simhash(array('a', NULL, 'b')) AS s")
        .collect().head.getString(0) == sim)
      assert(spark.sql("SELECT simhash(CAST(array() AS array<string>)) AS s")
        .collect().head.isNullAt(0))

      val dot = spark.sql(
        "SELECT CAST(dot_fixed_point(array(1000000000L, 2000000000L), array(1000000000L, 1000000000L)) AS DOUBLE) AS d")
        .collect().head.getDouble(0)
      assert(dot == 3.0)

      val sh = spark.sql(
        "SELECT size(shingle_hash64(array('a', 'b', 'c', 'd'), 3)) AS n").collect().head.getInt(0)
      assert(sh == 2) // 'a b c', 'b c d'

      assert(spark.sql(
        "SELECT contains_ignoring_separators('하얼빈: 완전판', '하얼빈완전판') AS c")
        .collect().head.getBoolean(0))

      // bit 0 of an all-positive vector: Σ ±v with the md5 sign matrix;
      // an exact-length 4-plane bucket over dim 2
      val lsh = spark.sql(
        "SELECT lsh_bucket_bits(array(1000000000L, 1000000000L), 4, 2) AS b")
        .collect().head.getString(0)
      assert(lsh.length == 4 && lsh.forall(c => c == '0' || c == '1'))

      // bloom sketch pair: inserted values always probe true (scalar
      // subquery bloom argument — the in-plan prefilter shape)
      spark.sql("SELECT CAST(id AS BIGINT) AS v FROM range(100)")
        .createOrReplaceTempView("ext_bloom_in")
      val bloomMisses = spark.sql(
        """SELECT count(1) AS n FROM ext_bloom_in
          |WHERE NOT might_contain(
          |  (SELECT bloom_filter_agg(v, 1000L, 8000L) FROM ext_bloom_in), v)
          |""".stripMargin).collect().head.getLong(0)
      assert(bloomMisses == 0L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
