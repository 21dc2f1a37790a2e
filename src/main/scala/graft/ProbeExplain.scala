package graft

/** Prints the formatted physical plan of named driver queries — the
  * per-round plan-audit tool (exchanges, broadcasts, pushed filters). */
object ProbeExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = core.Session.local(core.Session.cpus)
    args.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
