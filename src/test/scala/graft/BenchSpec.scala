package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's failure accounting: a query that throws, at build time or while
  * it runs, is named as failed and never timed into the total. */
class BenchSpec extends SparkSpec {

  private val queries = Map[String, (SparkSession, String) => DataFrame](
    "q_ok" -> ((s, _) => s.range(1000).selectExpr("id * 2 AS x")),
    "q_build_throws" -> ((_, dir) => throw new IllegalStateException(s"no table in $dir")),
    "q_run_throws" -> ((s, _) => s.range(10).selectExpr("assert_true(id < 5) AS ok"))
  )

  test("a throwing query lands in failed, never in the times or the total") {
    val passes = Seq.fill(2)(Bench.runPass(spark, queries, "/nonexistent"))
    passes.foreach { p =>
      assert(p.times.map(_._1) == Seq("q_ok"), s"got ${p.times}")
      assert(p.failed == Seq("q_build_throws", "q_run_throws"), s"got ${p.failed}")
    }
    val failed = passes.flatMap(_.failed).toSet
    val results = Bench.minOverPasses(passes.map(_.times), failed)
    assert(results.map(_._1) == Seq("q_ok"))
    assert(results.head._2 == passes.map(_.times.head._2).min)
  }

  test("a query that throws in only one pass is left out of the min") {
    var calls = 0
    val flaky = queries.filter(_._1 == "q_ok") + ("q_flaky" ->
      ((s: SparkSession, _: String) => {
        calls += 1
        if (calls == 2) throw new IllegalStateException("second pass")
        s.range(3).toDF()
      }))
    val passes = Seq.fill(2)(Bench.runPass(spark, flaky, ""))
    assert(passes.map(_.failed) == Seq(Nil, Seq("q_flaky")))
    val results = Bench.minOverPasses(passes.map(_.times), passes.flatMap(_.failed).toSet)
    assert(results.map(_._1) == Seq("q_ok"))
  }
}
