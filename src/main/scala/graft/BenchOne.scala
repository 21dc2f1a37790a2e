package graft

/** Dev tool: time ONE SparkEntry query with the Bench harness's noop-write
  * action, 3 passes (pass 1 carries codegen compile; 2–3 are the steady
  * state), so a single query's cost can be attributed without the full
  * suite:
  * {{{ sbt "runMain graft.BenchOne q_dsir_select_docs /root/testdata/sf0.1" }}} */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val sfDir = args(1)
    val spark = core.Session.local(core.Session.cpus)
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
