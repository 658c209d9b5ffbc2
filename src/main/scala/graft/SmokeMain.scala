package graft
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.forRun("graft-smoke")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
