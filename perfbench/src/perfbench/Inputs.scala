package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The benchmark's fixed input tables: sf0.1-sized (600 k lineitem,
  * 150 k orders, 100 k events, 5 k documents, 2 k embeddings; ~17 MB of
  * parquet), generated in the checkout by the engine's own deterministic
  * generator [[graft.GenData]] at multiplier 1. The generator draws every
  * value from `xxhash64(id, salt)`, so the tables are the same on every
  * host and the expected result digests committed beside the benchmark
  * hold everywhere. The workload seed never changes these tables; it
  * changes only the request order and the ingest batches.
  */
object Inputs {

  /** Region/nation dimensions in the TPC-H shape the generator copies. */
  private def writeDims(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
  }

  /** Generate the tables into `dir` unless its completion marker exists. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val done = new File(dir, "_COMPLETE")
    if (!done.exists()) {
      val dims = s"$dir.dims"
      writeDims(spark, dims)
      graft.GenData.generate(spark, dir, 1, dims)
      Util.deleteRecursively(new File(dims))
      done.createNewFile()
    }
  }
}
