package graft

/** Manual smoke: the flagship entry() on sf0.001, mirroring the driver's
  * t1 rows>0 check. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
