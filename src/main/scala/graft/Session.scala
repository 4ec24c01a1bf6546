package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains and specs build a session. */
object Session {

  /** A local session on `cpus` cores: [[Tables.sessionDefaults]], one
    * shuffle partition per core, UTC session time, no UI, Spark logs at
    * WARN. A caller that needs another setting sets it with
    * `spark.conf.set` on the returned session.
    */
  def local(cpus: Int): SparkSession = {
    val spark = Tables.sessionDefaults.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
