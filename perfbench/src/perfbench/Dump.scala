package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Runs every dashboard_adhoc request and corpus_batch job once and writes
  * its full result as parquet under `out/<name>/`, plus `manifest.json`
  * (workload, rows, digest, DuckDB oracle SQL per face) for
  * perfbench/crosscheck.py.
  *
  * {{{ Dump <data dir> <out dir> }}}
  */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val spark = SparkSession.builder().master(s"local[${Main.Cores}]").appName("perfbench-dump")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = Dashboard.Requests.map(_ -> "dashboard_adhoc") ++ Corpus.Jobs.map(_ -> "corpus_batch")
    val entries = names.map { case (name, workload) =>
      val df = graft.SparkEntry.queries(name)(spark, data)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$out/$name")
      graft.operators.OpCache.clear()
      name -> Map("workload" -> workload, "rows" -> rows.length, "digest" -> Digest.ofRows(rows),
        "oracle_sql" -> graft.SparkEntry.oracleSql(name))
    }
    val w = new PrintWriter(new File(out, "manifest.json"), "UTF-8")
    try w.println(Util.json(entries.toMap)) finally w.close()
    spark.stop()
  }
}
