package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for every main: `local[n]` with n shuffle
  * partitions, where n is `SPARK_GRAFT_CPUS` if set and the JVM's
  * available processors if not; UTC session time zone (the oracle's
  * timestamp arithmetic is UTC); no UI; ERROR logging. AQE and its
  * partition coalescing are Spark defaults and need no setting here.
  */
object Sessions {
  def forRun(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
