package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.faces._

/** Driver contract — see SURVEY.md §7.
  *
  * Every face pairs a Spark DataFrame program with a DuckDB oracle SQL
  * over the same parquet tables, declared once as a [[faces.Face]] in the
  * family object under `faces/`; `queries`, `oracleSql` and `familyOf`
  * are views derived from that one list. Conventions that make the
  * hash-compare exact (not just approximately right):
  *   - doubles that get aggregated are cast to DECIMAL(38,6) first in BOTH
  *     engines — decimal addition is order-independent, so Spark's partial
  *     aggregation and DuckDB's single-threaded fold agree bitwise;
  *   - no decimal-typed OUTPUT columns, ever: the harness hashes decimal
  *     columns differently per engine (round 1: all 14 hash mismatches had a
  *     decimal output; all 30 matches had none). Every exported aggregate is
  *     CAST(.. AS DOUBLE) — exact decimal → double is correctly rounded and
  *     bit-identical in both engines;
  *   - averages are exact-decimal-sum → double → one IEEE division;
  *   - every query ends in a total ORDER BY (unique tiebreaker);
  *   - `events.ts` is a Long of epoch-nanos on the Spark side regardless
  *     of the file's physical type (nanos Long or micros timestamp — see
  *     [[Tables.normalizeEventTs]]) and `epoch_us(ts)` in oracles, which
  *     DuckDB computes identically for both physical types.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * W1 latest-per-key — the reference's one true window function
    * (dashboard.py:104-119).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_w1_latest_per_key")(spark, "/root/testdata/sf0.001")

  /** The query names a comma-separated `SPARK_GRAFT_ONLY` value selects
    * (`None` = unset: every query), for `Bench` and `Verify` alike. A
    * name that is not a query throws: a typo must never shrink a run to
    * a partial map or dump that reads as complete.
    */
  def selectOnly(spec: Option[String]): Option[Set[String]] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).map { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
      names
    }

  private val families: Seq[Family] = Seq(CoreFaces, SqlFaces, StoreFaces,
    StreamingFaces, TextFaces, DedupFaces, SimilarityFaces, MultimodalFaces)

  /** Each face by name, with the family that declares it. A name declared
    * twice throws, naming it: two faces must never share one key.
    */
  private[graft] def byName(families: Seq[Family]): Map[String, (String, Face)] = {
    val all = for (fam <- families; f <- fam.faces) yield f.name -> (fam.family, f)
    val dups = all.groupBy(_._1).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty,
      s"face names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  private lazy val index = byName(families)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    index.map { case (n, (_, f)) => n -> f.plan }

  /** For each query, the DuckDB SQL its result must equal. */
  lazy val oracleSql: Map[String, String] = index.map { case (n, (_, f)) => n -> f.oracle }

  /** For each query, the family that declares it. */
  lazy val familyOf: Map[String, String] = index.map { case (n, (fam, _)) => n -> fam }
}
