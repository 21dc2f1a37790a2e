package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: every main and the test
  * suite get theirs here. */
object Session {

  /** Worker threads for the local master: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * zone, no UI and WARN logging. Returns the active session if one was
    * already built in this JVM. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
