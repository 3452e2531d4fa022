package graft

/** Replicates the driver's smoke check: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.local()
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
