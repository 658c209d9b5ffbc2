package graft
package faces

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY §2.11, the open SQL surface: the text-to-SQL agent's texts, each
  * run verbatim by both engines, the schema-introspection relation, and
  * the differential fuzz family generated into [[SqlFuzz]].
  */
private[graft] object SqlFaces extends Family("sql") {

  /** One SQL text, executed verbatim by BOTH engines (§2.11: the engine
    * requirement behind the AI agent is "run arbitrary SELECTs").
    *
    * The decimal→double exports are VARCHAR-mediated (valid in both
    * dialects as VARCHAR(48)): DuckDB's native DECIMAL(38,6)→DOUBLE
    * double-rounds once the scaled value exceeds 2^53 — sf1's ~1.7e11
    * running total is 1 ULP off without the hop (round-11 sf1-gate
    * find); Spark's decimal→varchar→double is identical to its direct
    * cast, so the shared text stays semantics-preserving there.
    */
  private val AgentWindowSql =
    """SELECT mo, CAST(CAST(total AS VARCHAR(48)) AS DOUBLE) AS total,
              CAST(CAST(SUM(total) OVER (ORDER BY mo
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR(48)) AS DOUBLE) AS cum_total
       FROM (SELECT date_trunc('month', o_orderdate) AS mo,
                    SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS total
             FROM orders GROUP BY 1) m
       ORDER BY mo"""

  private val AgentExistsSql =
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey AND o2.o_orderpriority = '5-LOW')
       ORDER BY c_custkey"""

  private val AgentSql =
    """SELECT c_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
         AND REPLACE(c_name, '#', '') LIKE '%Customer00000012%'
       GROUP BY c_name ORDER BY total_spent DESC, c_name LIMIT 5"""

  /** §2.11 differential fuzz family (round-7 verdict #1): every generated
    * case is ONE SQL text run verbatim by spark.sql here and by DuckDB as
    * its oracle — see [[SqlFuzz]] and tools/sqlfuzz.py for the grammar and
    * the dialect-portability rules it enforces. Block H (nested/array/JSON)
    * is dual-text: the oracle is the same query re-spelled in DuckDB's
    * array dialect (see SqlFuzz.dualCases).
    */
  private def fuzzPlan(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      Tables.registerAll(s, dir); s.sql(sql)
    }

  private val fuzzFaces: Seq[Face] =
    SqlFuzz.cases.map { case (n, sql) => Face(n, fuzzPlan(sql), sql) } ++
      SqlFuzz.dualCases.map { case (n, sparkSql, duckSql) =>
        Face(n, fuzzPlan(sparkSql), duckSql)
      }

  val faces: Seq[Face] = Seq(

    // §2.11 — open SQL surface: the text-to-SQL agent's fuzzy LIKE idiom
    Face("q_sql_fuzzy_like", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT p_partkey, p_name, p_retailprice FROM part
               WHERE REPLACE(p_name, ' ', '') LIKE '%redwidget%'
               ORDER BY p_partkey""")
    },
      """SELECT p_partkey, p_name, p_retailprice FROM part
         WHERE REPLACE(p_name, ' ', '') LIKE '%redwidget%'
         ORDER BY p_partkey"""),

    // §2.11 — representative text-to-SQL agent output (ai_agent.py:95-97
    // idioms: date range, REPLACE+LIKE fuzzy match, top-k)
    Face("q_sql_agent_topk", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(AgentSql)
    },
      """SELECT c_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
           AND REPLACE(c_name, '#', '') LIKE '%Customer00000012%'
         GROUP BY c_name ORDER BY total_spent DESC, c_name LIMIT 5"""),

    // §2.11 — windowed agent SQL, same text in both engines (CTE + window)
    Face("q_sql_agent_window", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(AgentWindowSql)
    },
      // identical text to AgentWindowSql (the §2.11 shared-text contract);
      // the VARCHAR(48) hops sidestep DuckDB's double-rounding
      // DECIMAL(38,6)→DOUBLE above 2^53 (round-11 sf1-gate find)
      """SELECT mo, CAST(CAST(total AS VARCHAR(48)) AS DOUBLE) AS total,
              CAST(CAST(SUM(total) OVER (ORDER BY mo
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR(48)) AS DOUBLE) AS cum_total
       FROM (SELECT date_trunc('month', o_orderdate) AS mo,
                    SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS total
             FROM orders GROUP BY 1) m
       ORDER BY mo"""),

    // §2.11 — correlated EXISTS / NOT EXISTS agent SQL (same text both
    // engines); Spark plans these as semi/anti joins
    Face("q_sql_exists", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(AgentExistsSql)
    }, AgentExistsSql),

    // S15 — schema introspection as a relation (ai_agent.py:26-38;
    // round-7 verdict #2 promotes the last spec-only §2 id to the oracle
    // tier). Spark side describes the ENGINE-facing schemas (Tables.load:
    // events.ts is the epoch-nanos Long contract whatever the physical
    // layout); the oracle maps DuckDB's information_schema type names to
    // the same dialect-neutral categories, with events.ts pinned 'long'
    // explicitly — asserting the engine contract, not the footer type.
    Face("q_s15_describe_store", (s, dir) => {
      pipelines.BoxOfficePipeline
        .describeTables(s, Tables.all.map(n => n -> Tables.load(s, dir, n)))
        .orderBy("tbl", "ord")
    },
      """SELECT table_name AS tbl, column_name AS col,
                CAST(ordinal_position AS BIGINT) AS ord,
                CASE WHEN table_name = 'events' AND column_name = 'ts'
                       THEN 'long' -- engine contract: epoch-nanos Long
                     WHEN data_type = 'BIGINT'    THEN 'long'
                     WHEN data_type = 'INTEGER'   THEN 'int'
                     WHEN data_type = 'DOUBLE'    THEN 'double'
                     WHEN data_type = 'FLOAT'     THEN 'float'
                     WHEN data_type = 'VARCHAR'   THEN 'string'
                     WHEN data_type = 'DATE'      THEN 'date'
                     WHEN data_type IN ('TIMESTAMP', 'TIMESTAMP_NS')
                       THEN 'timestamp'
                     WHEN data_type = 'FLOAT[]'   THEN 'array<float>'
                     ELSE lower(data_type) END AS dtype
         FROM information_schema.columns
         WHERE table_name IN ('region','nation','customer','supplier','part',
                              'orders','lineitem','events','documents',
                              'embeddings')
         ORDER BY tbl, ord""")
  ) ++ fuzzFaces
}
