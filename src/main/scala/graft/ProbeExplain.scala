package graft

import org.apache.spark.sql.execution.ExplainMode

/** Prints the formatted physical plan of named driver queries — the
  * per-round plan-audit tool (exchanges, broadcasts, pushed filters).
  * Expression ids, plan ids and RDD ids are replaced by fixed
  * placeholders, so dumps of the same plan from two commits diff clean. */
object ProbeExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = core.Session.local(core.Session.cpus)
    // print every field of wide projections (a 64-slot array literal),
    // so no difference hides behind "... N more fields"
    spark.conf.set("spark.sql.debug.maxToStringFields", Int.MaxValue.toString)
    args.foreach { name =>
      println(s"==== $name ====")
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      println(normalize(qe.explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }

  /** Session-specific ids → placeholders: `#123` expression ids,
    * `plan_id=7` exchange/subquery ids, `SomeRDD[42]` RDD ids, the `_5`
    * counter suffix of lambda variable names, the `$$Lambda$5711/0x…`
    * suffix of closure classes (the owning class stays) and the
    * `@7d8c264` identity hash of objects such as an aggregator. */
  def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda \\w+)_\\d+", "$1_N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda\\$N")
      .replaceAll("(?<=[\\w$])@[0-9a-f]+\\b", "@N")
}
