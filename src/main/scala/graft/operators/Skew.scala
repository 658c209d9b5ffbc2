package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling patterns for 100 TB shuffles. AQE's skew split covers
  * sort-merge joins automatically; these are the explicit forms for the
  * case AQE doesn't reach, an aggregation with a hot key.
  */
object Skew {

  /** DETERMINISTIC salt in [0, n): xxhash64 over the row's hashable
    * columns, so rows of a hot key spread uniformly across buckets while
    * the assignment is a pure function of row CONTENT. The obvious
    * alternative — spark_partition_id()+monotonically_increasing_id() —
    * marks the stage INDETERMINATE: on a fetch failure Spark must roll
    * back and recompute the WHOLE stage (every task, not just the lost
    * one), which at 100 TB turns one lost executor into a full-stage
    * redo. Content hashing keeps retries idempotent. (Fully duplicate
    * rows share a bucket — harmless for aggregation/join semantics, and
    * a duplicate-dominated hot key is a dedup problem, not a salt one.)
    *
    * Map-typed values are EXCLUDED from the hash: xxhash64 rejects
    * MapType at analysis time (map element order is undefined, so its
    * hash would be too). Structs that CONTAIN a map still contribute
    * their map-free subfields (recursed as `a.b` paths) — only the map
    * itself, and arrays with maps inside (no per-element projection),
    * drop out. The widest deterministic column set keeps near-duplicate
    * rows (same key, low-cardinality values) spreading across buckets.
    */
  private def contentSalt(df: DataFrame, saltBuckets: Int): Column = {
    import org.apache.spark.sql.types._
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    def leaves(path: String, dt: DataType): Seq[Column] = dt match {
      case s: StructType if hasMap(s) =>
        s.fields.toIndexedSeq.flatMap(f => leaves(s"$path.`${f.name}`", f.dataType))
      case t if hasMap(t) => Nil // map, or array with a map inside
      case _ => Seq(col(path))
    }
    val hashable = df.schema.fields.toIndexedSeq
      .flatMap(f => leaves(s"`${f.name}`", f.dataType))
    require(hashable.nonEmpty,
      "contentSalt: no map-free column content — no deterministic hash input")
    pmod(xxhash64(hashable: _*), lit(saltBuckets.toLong))
  }

  /** Two-stage (salted) aggregation: a hot group key no longer lands on
    * one reducer — stage 1 aggregates (key, salt) across `saltBuckets`
    * partitions, stage 2 combines the partials per key. Result is
    * identical to a direct groupBy for any commutative-associative
    * aggregate (decimal sums here, so bit-identical).
    */
  def saltedGroupSum(df: DataFrame, keyCol: String, valueCol: String,
                     saltBuckets: Int): DataFrame =
    df.withColumn("__salt", contentSalt(df, saltBuckets))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(graft.Tables.dec(col(valueCol))).as("__partial"),
           count(lit(1)).as("__pn"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as("total"), sum(col("__pn")).as("n"))
}
