package graft

/** t1 smoke: drive SparkEntry.entry exactly as the driver does. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
