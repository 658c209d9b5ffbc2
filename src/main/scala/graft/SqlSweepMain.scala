package graft

/** Executes a JSONL file of {"name":…,"sql":…} cases verbatim over the
  * registered testdata views and dumps one parquet dir per case — the
  * Spark half of `tools/sqlfuzz.py --sweep SEED`, which differential-
  * tests a FRESH (uncommitted) fuzz batch each round: the committed
  * `SqlFuzz.cases` are frozen evidence, the sweep is where NEW dialect
  * divergences get found (round-8 verdict #7 — both existing pinned
  * divergences were discovered during generation, so new seeds have
  * expected yield).
  */
object SqlSweepMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, casesPath, outDir) = args
    val spark = Sessions.forRun("graft-sqlsweep")
    new java.io.File(outDir).mkdirs()
    Tables.registerAll(spark, sfDir)
    val cases = spark.read.json(casesPath)
      .select("name", "sql").collect()
      .map(r => (r.getString(0), r.getString(1)))
    cases.foreach { case (name, sql) =>
      try {
        spark.sql(sql).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(s"[sweep] ok   $name")
      } catch { case e: Throwable =>
        // a Spark-side parse/execution failure IS a divergence (the text
        // passed DuckDB's screen) — record it for the python report
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.ERROR"),
          String.valueOf(e.getMessage))
        System.err.println(s"[sweep] ERR  $name: ${e.getMessage}")
      }
    }
    println(s"SWEEP_DONE=${cases.length}")
    spark.stop()
  }
}
