package graft

/** Ad-hoc formatted-plan dump for one declared query (driver-only, no
  * job execution): `runMain graft.QExplain <query>`.
  */
object QExplain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { name =>
      println(s"==== PLAN $name ====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
