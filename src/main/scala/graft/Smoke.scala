package graft

/** Local replica of the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and assert rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    val n = df.count()
    println(s"SMOKE rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
